"""Driver-side cost of building the benchmark's geo queries.

Building a plan (no action) should be a handful of driver→JVM calls per
operator: the geo formulas are SQL text parsed once per expression, not
Column trees built one py4j round trip per node.
"""

import gc

import py4j.clientserver as cs
import pytest

from batch_geocode_spark import entry_queries as EQ

# py4j round trips to build each query once at sf0.001 when the geo
# expressions were Column-API trees (minimum of repeated builds)
COLUMN_TREE_ROUND_TRIPS = {"g05_admin_pip": 3397, "g12_spatial_knn": 3942}

OUTPUT_SCHEMAS = {
    "g05_admin_pip": "struct<pt_id:string,admin_id:bigint,iso2:string,name:string>",
    "g12_spatial_knn": (
        "struct<query_id:string,nbr_id:bigint,nbr_lat:double,nbr_lng:double,"
        "dist_km:double,knn_rank:int>"
    ),
}


def _last_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


@pytest.mark.parametrize("name", sorted(COLUMN_TREE_ROUND_TRIPS))
def test_geo_build_round_trips(spark, sf_dir, monkeypatch, name):
    """At most half the round trips of the Column-tree build (minimum of
    3 builds), and building starts no Spark job. Cyclic GC is off while
    counting: py4j's object-release commands otherwise move the count by
    about a quarter."""
    EQ._views(spark, sf_dir)
    EQ.QUERIES[name](spark, sf_dir)  # first build: imports, view lookups
    calls = [0]
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        calls[0] += 1
        return send(self, command)

    last_job = _last_job_id(spark)
    counts = []
    gc.collect()
    gc.disable()
    try:
        monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
        for _ in range(3):
            calls[0] = 0
            df = EQ.QUERIES[name](spark, sf_dir)
            counts.append(calls[0])
        monkeypatch.undo()
    finally:
        gc.enable()
    assert min(counts) <= COLUMN_TREE_ROUND_TRIPS[name] // 2, counts
    assert _last_job_id(spark) == last_job
    assert df.schema.simpleString() == OUTPUT_SCHEMAS[name]

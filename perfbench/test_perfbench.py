"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from batch_geocode_spark.session import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark(master="local[2]", app_name="perfbench-selftest", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": f"file://{log_dir}",
    })
    yield spark, str(log_dir)
    spark.stop()


def test_eventlog_span_task_time_sums_to_total(traced_spark):
    from pyspark.sql import functions as F

    spark, log_dir = traced_spark
    sc = spark.sparkContext
    sc.setJobDescription("selftest/agg")
    spark.range(20_000, numPartitions=4).groupBy((F.col("id") % 7).alias("k")).count() \
        .write.format("noop").mode("overwrite").save()
    sc.setJobDescription("selftest/py")
    spark.range(1_000, numPartitions=2).mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()
    sc.setJobDescription(None)
    spark.stop()

    spans, total = eventlog.parse(layers.find_log(log_dir))
    agg, py = spans["selftest/agg"], spans["selftest/py"]
    assert agg.jobs >= 1 and agg.tasks >= 4 and agg.shuffle_write_bytes > 0
    assert py.py_rows == 1_000 and py.py_bytes > 0
    assert sum(s.tasks for s in spans.values()) == total.tasks
    assert sum(s.run_s for s in spans.values()) == pytest.approx(total.run_s)
    assert sum(s.cpu_s for s in spans.values()) == pytest.approx(total.cpu_s)


def test_generator_is_deterministic_per_seed(tmp_path):
    a, meta_a = gen.generate("geo_hotcell", 3, str(tmp_path / "a"))
    b, meta_b = gen.generate("geo_hotcell", 3, str(tmp_path / "b"))
    c, _ = gen.generate("geo_hotcell", 4, str(tmp_path / "c"))
    assert meta_a == meta_b
    for t in ("orders", "supplier", "nation"):
        pd.testing.assert_frame_equal(pd.read_parquet(f"{a}/{t}.parquet"),
                                      pd.read_parquet(f"{b}/{t}.parquet"))
    assert not pd.read_parquet(f"{a}/orders.parquet").equals(
        pd.read_parquet(f"{c}/orders.parquet"))
    docs_a, emb_a = gen.corpus(5)
    docs_b, emb_b = gen.corpus(5)
    pd.testing.assert_frame_equal(docs_a, docs_b)
    assert (pd.DataFrame(emb_a["embedding"].tolist())
            .equals(pd.DataFrame(emb_b["embedding"].tolist())))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_hot_share_within_tolerance(tmp_path, seed):
    _, hot = gen.generate("geo_hotcell", seed, str(tmp_path))
    _, uni = gen.generate("geo_uniform", seed, str(tmp_path))
    assert hot["hot_place"] == gen.HOT_PLACE
    assert abs(hot["hot_image_share"] - gen.HOT_SHARE) <= gen.HOT_TOL
    assert abs(hot["hot_gazetteer_share"] - gen.HOT_SHARE) <= gen.HOT_TOL
    # the uniform workload has no hot place: its largest is near the mean
    assert uni["hot_image_share"] < 2 * uni["mean_place_image_share"]
    assert hot["hot_image_share"] >= 6 * hot["mean_place_image_share"]


def test_harness_materializes_every_column():
    from batch_geocode_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(master="local[2]", app_name="perfbench-selftest")
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def touched(x):
        calls.add(1)
        return x

    df = spark.range(500, numPartitions=2).withColumn("t", touched("id"))
    df.count()  # Catalyst prunes the unused column: the UDF never runs
    assert calls.value == 0
    h = layers.Harness(spark, "selftest")
    h.timed("probe", lambda: df)
    assert calls.value == 500
    assert h.times["probe"] > 0


def _knn(rows):
    return pd.DataFrame(rows, columns=["query_id", "nbr_id", "nbr_lat", "nbr_lng",
                                       "dist_km", "knn_rank"])


# unrounded oracle distances and coordinates of query "q"'s candidates:
# 1 and 2 tie exactly; 4 is 1e-13 km from 3, which a few ulps of the
# query's coordinates (45, 90) can move by 2e-11 km; 5 is 1e-9 km from 3
POINTS = {1: (0.5, 10.0, 1.0), 2: (0.5, 11.0, 1.0), 3: (0.7, 12.0, 1.0),
          4: (0.7 + 1e-13, 13.0, 1.0), 5: (0.7 + 1e-9, 14.0, 1.0)}


def _exact(pairs):
    return pd.DataFrame([POINTS[n] + (45.0, 90.0) for n in pairs["nbr_id"]],
                        columns=["dist", "nbr_lat", "nbr_lng", "q_lat", "q_lng"])


def _row(nbr, rank):
    dist, lat, lng = POINTS[nbr]
    return ("q", nbr, lat, lng, round(dist, 6), rank)


def test_knn_tie_check_accepts_only_proven_ties():
    normalize = run._load_normalize()
    want = _knn([_row(1, 1), _row(2, 2), _row(3, 3)])
    check = lambda got: run.knn_tie_check(got, want, _exact, normalize)  # noqa: E731
    # ranks 1-2 swap inside an exact tie; at the cut-off 4 ties with 3
    assert check(_knn([_row(2, 1), _row(1, 2), _row(4, 3)])) == (None, 3)
    assert check(want) == (None, 0)
    # 5 rounds to 3's distance but is not a tie in the oracle's arithmetic
    why, n = check(_knn([_row(1, 1), _row(2, 2), _row(5, 3)]))
    assert why is not None and "not at a distance tie" in why and n == 1
    # a swapped row must carry its own neighbour's coordinates
    bad = _knn([_row(2, 1), _row(1, 2), _row(3, 3)])
    bad.loc[0, "nbr_lat"] = POINTS[1][1]
    assert run.knn_tie_check(bad, want, _exact, normalize)[0] is not None
    # a neighbour may not repeat, and ranks and distances must match exactly
    assert check(_knn([_row(1, 1), _row(1, 2), _row(3, 3)]))[0] is not None
    assert check(_knn([_row(1, 1), _row(3, 2), _row(2, 3)]))[0] is not None


def test_summary_reports_median_quartiles_and_n():
    s = run.summary([4.0, 1.0, 3.0, 2.0, 5.0])
    assert (s["median"], s["q1"], s["q3"], s["n"]) == (3.0, 2.0, 4.0, 5)



CHILD = """
import json, sys
sys.path[:0] = sys.argv[1:]
import run
from batch_geocode_spark.session import get_spark
spark = get_spark(master="local[1]", app_name="perfbench-selftest")
spark.range(4, numPartitions=1).mapInPandas(lambda it: it, "id long") \\
    .write.format("noop").mode("overwrite").save()
print(json.dumps(sorted(run._started_here())))
run.stop_spark()
"""


def test_stop_spark_leaves_no_process_behind():
    out = subprocess.run([sys.executable, "-c", CHILD, os.path.dirname(HERE), HERE],
                         capture_output=True, text=True, check=True)
    started = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(started) >= 2  # the gateway JVM and the Python worker daemon
    assert not [p for p in started if run._alive(*p)]

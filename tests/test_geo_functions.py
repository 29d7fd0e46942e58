import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from batch_geocode_spark.functions.geo import (
    EARTH_RADIUS_KM,
    haversine_km,
    haversine_sql,
    norm_iso2,
    norm_name,
    np_haversine_km,
)

lat_st = st.floats(min_value=-89.0, max_value=89.0, allow_nan=False)
lng_st = st.floats(min_value=-179.0, max_value=179.0, allow_nan=False)


def test_known_distance():
    # Paris → London ≈ 343.5 km (published haversine figure)
    d = float(np_haversine_km(48.8566, 2.3522, 51.5074, -0.1278))
    assert abs(d - 343.5) < 1.5


@settings(max_examples=200, deadline=None)
@given(lat_st, lng_st, lat_st, lng_st)
def test_haversine_properties(lat1, lng1, lat2, lng2):
    d = float(np_haversine_km(lat1, lng1, lat2, lng2))
    assert d >= 0
    assert d <= np.pi * EARTH_RADIUS_KM + 1e-6
    d_rev = float(np_haversine_km(lat2, lng2, lat1, lng1))
    assert abs(d - d_rev) < 1e-9
    assert float(np_haversine_km(lat1, lng1, lat1, lng1)) == 0.0


def test_column_matches_numpy_and_sql(spark):
    rows = [(48.8566, 2.3522, 51.5074, -0.1278), (0.0, 0.0, 0.0, 90.0), (10.0, 10.0, 10.0, 10.0)]
    df = spark.createDataFrame(rows, "lat1 double, lng1 double, lat2 double, lng2 double")
    got = df.select(
        haversine_km(F.col("lat1"), F.col("lng1"), F.col("lat2"), F.col("lng2")).alias("d"),
        F.expr(haversine_sql("lat1", "lng1", "lat2", "lng2")).alias("d_sql"),
    ).collect()
    import duckdb

    for (lat1, lng1, lat2, lng2), r in zip(rows, got):
        want = float(np_haversine_km(lat1, lng1, lat2, lng2))
        assert r["d"] == pytest.approx(want, abs=1e-9)
        assert r["d_sql"] == pytest.approx(want, abs=1e-9)
        duck = duckdb.sql(
            f"SELECT {haversine_sql(str(lat1), str(lng1), str(lat2), str(lng2))} AS d"
        ).fetchone()[0]
        assert duck == pytest.approx(want, abs=1e-9)


def test_norms(spark):
    df = spark.createDataFrame(
        [("  Foo   BAR ", "US"), ("x", "USA"), ("y", None)], "name string, iso string"
    )
    got = df.select(norm_name(F.col("name")).alias("n"), norm_iso2(F.col("iso")).alias("i")).collect()
    assert got[0]["n"] == "foo bar"
    assert got[0]["i"] == "us"
    assert got[1]["i"] is None
    assert got[2]["i"] is None



def _column_api_haversine(lat1, lng1, lat2, lng2):
    """The node-by-node Column-API form that haversine_sql replaced: the
    reference the SQL text must equal bit for bit."""
    dlat = F.radians(lat2 - lat1) / 2.0
    dlng = F.radians(lng2 - lng1) / 2.0
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlng) * F.sin(dlng)
    )
    return 2.0 * EARTH_RADIUS_KM * F.asin(F.sqrt(a))


def test_haversine_sql_matches_column_api_bitwise(spark):
    """haversine_km and bbox_diag_km are haversine_sql: double-typed, also
    for DECIMAL inputs, and bit-identical to the Column-API form."""
    from pyspark.sql import types as T

    from batch_geocode_spark.functions.geo import bbox_diag_km

    rng = np.random.default_rng(3)
    rows = [tuple(float(v) for v in r) for r in np.round(rng.uniform(-60, 60, (200, 4)), 6)]
    df = spark.createDataFrame(rows, "lat1 double, lng1 double, lat2 double, lng2 double")
    dec = df.selectExpr(*(f"CAST({c} AS DECIMAL(30,6)) AS {c}" for c in df.columns))
    for frame in (df, dec):
        out = frame.select(
            haversine_km("lat1", "lng1", "lat2", "lng2").alias("d"),
            bbox_diag_km(F.col("lng1"), F.col("lat1"), F.col("lng2"), F.col("lat2")).alias("b"),
            _column_api_haversine(
                F.col("lat1"), F.col("lng1"), F.col("lat2"), F.col("lng2")
            ).alias("ref"),
        )
        assert [f.dataType for f in out.schema.fields] == [T.DoubleType()] * 3
        got = out.collect()
        assert [r["d"] for r in got] == [r["ref"] for r in got]
        assert [r["b"] for r in got] == [r["ref"] for r in got]

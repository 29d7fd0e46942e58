import duckdb
import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from batch_geocode_spark.functions import cells

lat_st = st.floats(min_value=-90.0, max_value=89.999, allow_nan=False)
lng_st = st.floats(min_value=-180.0, max_value=179.999, allow_nan=False)
res_st = st.integers(min_value=0, max_value=29)


@settings(max_examples=200, deadline=None)
@given(lat_st, lng_st, res_st)
def test_roundtrip_containment(lat, lng, res):
    cid = int(cells.np_cell_encode(lat, lng, res))
    w, s, e, n = (float(v) for v in cells.np_cell_bounds(cid))
    # containment up to float rounding at cell edges: (lng+180)/360*2^r can
    # round exactly onto a boundary, putting the point one cell over
    assert (w <= lng < e) or np.isclose(lng, w, atol=1e-7) or np.isclose(lng, e, atol=1e-7)
    assert (s <= lat < n) or np.isclose(lat, s, atol=1e-7) or np.isclose(lat, n, atol=1e-7)
    r, x, y = cells.np_cell_decode(cid)
    assert int(r) == res


@settings(max_examples=100, deadline=None)
@given(lat_st, lng_st, res_st, res_st)
def test_parent_consistency(lat, lng, r1, r2):
    res, parent_res = max(r1, r2), min(r1, r2)
    fine = cells.np_cell_encode(lat, lng, res)
    coarse = cells.np_cell_encode(lat, lng, parent_res)
    assert int(cells.np_cell_parent(fine, parent_res)) == int(coarse)


def test_children_and_neighbors():
    cid = int(cells.np_cell_encode(10.0, 20.0, 5))
    kids = cells.np_cell_children(cid)
    assert len(kids) == 4
    assert all(int(cells.np_cell_parent(k, 5)) == cid for k in kids)
    nbrs = cells.np_cell_neighbors(cid)
    assert len(nbrs) == 8 and cid not in nbrs


def test_polyfill_bbox_covers_points():
    cover = set(cells.np_polyfill_bbox(-10.0, -5.0, 12.0, 7.0, 6).tolist())
    rng = np.random.default_rng(0)
    lats = rng.uniform(-5.0, 7.0, 200)
    lngs = rng.uniform(-10.0, 12.0, 200)
    pts = cells.np_cell_encode(lats, lngs, 6)
    assert set(pts.tolist()) <= cover


def test_polyfill_bbox_column_matches_numpy(spark):
    """The Column cover equals np_polyfill_bbox cell for cell, in order:
    random bboxes at res 2-9, bboxes clamped at ±180/±90, and inverted
    bboxes, whose cover is empty (Spark's ``sequence`` counts down)."""
    rng = np.random.default_rng(7)
    boxes = []
    for _ in range(40):
        res = int(rng.integers(2, 10))
        lng = np.sort(rng.uniform(-180.0, 180.0, 2))
        lat = np.sort(rng.uniform(-90.0, 90.0, 2))
        # shrink most boxes so fine resolutions stay a few thousand cells
        scale = 1.0 if res <= 4 else 2.0 ** (4 - res)
        w, s = float(lng[0]), float(lat[0])
        e, n = float(w + (lng[1] - lng[0]) * scale), float(s + (lat[1] - lat[0]) * scale)
        boxes.append((w, s, e, n, res))
    boxes += [
        (-180.0, -90.0, 180.0, 90.0, 5),  # whole world: max edges clamp to 2^r - 1
        (-200.0, -95.0, -170.0, -80.0, 6),  # beyond the south-west corner
        (170.0, 80.0, 190.0, 100.0, 6),  # beyond the north-east corner
        (10.0, 0.0, -10.0, 5.0, 6),  # inverted in lng
        (0.0, 5.0, 10.0, -5.0, 6),  # inverted in lat
        (3.0, 3.0, 3.0, 3.0, 9),  # a point
    ]
    df = spark.createDataFrame(
        [(i, *b) for i, b in enumerate(boxes)],
        "i int, w double, s double, e double, n double, res int",
    )
    got = {}
    for res in sorted({b[4] for b in boxes}):
        rows = df.where(F.col("res") == res).select(
            "i", cells.polyfill_bbox(F.col("w"), F.col("s"), F.col("e"), F.col("n"), res)
        ).collect()
        got.update({r[0]: r[1] for r in rows})
    for i, (w, s, e, n, res) in enumerate(boxes):
        assert got[i] == cells.np_polyfill_bbox(w, s, e, n, res).tolist(), boxes[i]
    assert got[len(boxes) - 3] == [] and got[len(boxes) - 2] == []


def test_column_and_sql_match_numpy(spark):
    rng = np.random.default_rng(1)
    lats = rng.uniform(-90, 90, 50)
    lngs = rng.uniform(-180, 180, 50)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lats, lngs)], "lat double, lng double"
    )
    for res in (0, 7, 12, 29):
        want = cells.np_cell_encode(lats, lngs, res)
        got = df.select(cells.cell_encode(F.col("lat"), F.col("lng"), res).alias("c")).collect()
        assert [r["c"] for r in got] == want.tolist()
        got_sql = df.select(
            F.expr(cells.cell_encode_sql("lat", "lng", res)).alias("c")
        ).collect()
        assert [r["c"] for r in got_sql] == want.tolist()
        duck = duckdb.sql(
            "SELECT "
            + cells.cell_encode_sql("lat", "lng", res)
            + " AS c FROM (SELECT unnest($lats) AS lat, unnest($lngs) AS lng)",
            params={"lats": lats.tolist(), "lngs": lngs.tolist()},
        ).df()
        assert duck["c"].tolist() == want.tolist()


def test_cell_parent_column(spark):
    rng = np.random.default_rng(2)
    lats = rng.uniform(-90, 90, 30)
    lngs = rng.uniform(-180, 180, 30)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lats, lngs)], "lat double, lng double"
    )
    got = df.select(
        cells.cell_parent(cells.cell_encode(F.col("lat"), F.col("lng"), 12), 12, 5).alias("p")
    ).collect()
    want = cells.np_cell_encode(lats, lngs, 5)
    assert [r["p"] for r in got] == want.tolist()


def test_cell_ring_batch_matches_scalar():
    """np_cell_ring_batch (round 4, vectorized kNN ring) must reproduce
    np_cell_neighbors + center for every cell — including poles (lat
    clamp drops rows) and the antimeridian (lng wrap)."""
    rng = np.random.default_rng(7)
    for res in (2, 5, 7, 12):
        lats = np.concatenate([rng.uniform(-90, 90, 40), [-89.99, 89.99, 0.0]])
        lngs = np.concatenate([rng.uniform(-180, 180, 40), [-179.99, 179.99, 0.0]])
        base = cells.np_cell_encode(lats, lngs, res)
        mat = cells.np_cell_ring_batch(base, res)
        assert mat.shape == (len(base), 9)
        for i, c in enumerate(base):
            want = sorted(set(cells.np_cell_neighbors(int(c)).tolist()) | {int(c)})
            got = sorted(v for v in mat[i].tolist() if v >= 0)
            assert got == want, f"res={res} cell={c}"


def test_cell_ring_batch_degenerate_grid():
    """res 0/1 grids: wrap collisions must be deduped, not duplicated."""
    for res in (0, 1):
        base = cells.np_cell_encode(np.array([10.0, -40.0]), np.array([5.0, 170.0]), res)
        mat = cells.np_cell_ring_batch(base, res)
        for i, c in enumerate(base):
            want = sorted(set(cells.np_cell_neighbors(int(c)).tolist()) | {int(c)})
            got = sorted(v for v in mat[i].tolist() if v >= 0)
            assert got == want


def test_quadkey_roundtrip_and_prefix(spark):
    """quadkey: decode(qk) inverts encode, and a parent cell's quadkey
    is the child's string prefix (the property hierarchical pruning
    relies on). Cross-checked Column expr vs SQL generator."""
    import duckdb

    from batch_geocode_spark.functions.cells import (
        cell_encode,
        cell_parent,
        np_cell_decode,
        np_quadkey_decode,
        quadkey,
        quadkey_sql,
    )

    pts = [(0, 51.5, -0.1), (1, -33.9, 151.2), (2, 89.9, 179.9),
           (3, -89.9, -179.9), (4, 0.0, 0.0)]
    df = spark.createDataFrame(pts, "pt long, lat double, lng double")
    res, pres = 9, 6
    out = df.select(
        "pt",
        cell_encode(F.col("lat"), F.col("lng"), res).alias("cell"),
        quadkey(cell_encode(F.col("lat"), F.col("lng"), res), res).alias("qk"),
        quadkey(
            cell_parent(cell_encode(F.col("lat"), F.col("lng"), res), res, pres),
            pres,
        ).alias("pqk"),
    ).toPandas()
    for r in out.itertuples():
        dres, dy, dx = np_quadkey_decode(r.qk)
        cres, cx, cy = np_cell_decode(r.cell)
        assert (dres, dy, dx) == (cres, cy, cx)
        assert r.qk.startswith(r.pqk) and len(r.pqk) == pres
    # SQL generator emits the identical strings
    con = duckdb.connect()
    for r in out.itertuples():
        got = con.execute(
            f"SELECT {quadkey_sql(str(r.cell), res)}"
        ).fetchone()[0]
        assert got == r.qk


def test_cell_ring_cells_column_matches_numpy(spark):
    """cell_ring_cells (r7: Column-expr ring on the kNN/DBSCAN candidate
    paths) must be element-identical to np_cell_ring_batch — same order,
    same -1 sentinels at the lat clamp, same lng wrap."""
    rng = np.random.default_rng(11)
    lats = np.concatenate([rng.uniform(-90, 90, 40), [-89.99, 89.99, 0.0]])
    lngs = np.concatenate([rng.uniform(-180, 180, 40), [-179.99, 179.99, 0.0]])
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lats, lngs)], "lat double, lng double"
    )
    for res in (2, 3, 7, 12):
        base = cells.np_cell_encode(lats, lngs, res)
        want = cells.np_cell_ring_batch(base, res).tolist()
        got = df.select(
            cells.cell_ring_cells(
                cells.cell_encode(F.col("lat"), F.col("lng"), res), res
            ).alias("ring")
        ).collect()
        assert [r["ring"] for r in got] == want


def test_cell_ring_cells_rejects_degenerate_res():
    import pytest

    with pytest.raises(ValueError):
        cells.cell_ring_cells(F.lit(0), 1)


def test_cell_ring_sql_matches_numpy_at_clamps_and_wrap(spark):
    """cell_ring_sql parsed by Spark is element-identical to
    np_cell_ring_batch at every res 2-9, for points on both poles
    (lat clamps: the out-of-grid row is -1) and on both sides of the
    antimeridian (lng wraps)."""
    rng = np.random.default_rng(13)
    lats = np.concatenate([rng.uniform(-90, 90, 30), [-90.0, 90.0, -89.999, 89.999, 0.0, 45.0]])
    lngs = np.concatenate([rng.uniform(-180, 180, 30), [-180.0, 180.0, -179.999, 179.999, 180.0, -180.0]])
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lats, lngs)], "lat double, lng double"
    )
    for res in range(2, 10):
        cell = cells.cell_encode_sql("lat", "lng", res)
        got = df.select(F.expr(cells.cell_ring_sql(cell, res)).alias("ring")).collect()
        want = cells.np_cell_ring_batch(cells.np_cell_encode(lats, lngs, res), res).tolist()
        assert [r["ring"] for r in got] == want, res


def test_helper_types_and_decimal_inputs(spark):
    """Cells are bigint, rings and covers array<bigint>, whatever the
    input type: DECIMAL coordinates are computed in double (as numpy
    computes them), never as exact decimals."""
    from pyspark.sql import types as T

    rng = np.random.default_rng(17)
    lats = np.round(rng.uniform(-90, 90, 40), 6)
    lngs = np.round(rng.uniform(-180, 180, 40), 6)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lats, lngs)], "lat double, lng double"
    ).selectExpr("CAST(lat AS DECIMAL(30,6)) AS lat", "CAST(lng AS DECIMAL(30,6)) AS lng")
    out = df.select(
        cells.cell_encode("lat", "lng", 11).alias("cell"),
        cells.cell_ring_cells(cells.cell_encode(F.col("lat"), F.col("lng"), 11), 11).alias("ring"),
        cells.polyfill_bbox("lng", "lat", "lng", "lat", 11).alias("cover"),
    )
    types = [f.dataType for f in out.schema.fields]
    assert types[0] == T.LongType()
    assert [t.elementType for t in types[1:]] == [T.LongType(), T.LongType()]
    want = cells.np_cell_encode(lats, lngs, 11)
    rows = out.collect()
    assert [r["cell"] for r in rows] == want.tolist()
    assert [r["ring"] for r in rows] == cells.np_cell_ring_batch(want, 11).tolist()
    assert [r["cover"] for r in rows] == [[int(c)] for c in want]


def test_helpers_render_names_references_and_outputs(spark):
    """A helper argument is a name, an F.col reference (quoted, so odd
    names work) or another helper's output; any other Column is refused
    rather than guessed at."""
    import pytest

    df = spark.createDataFrame([(10.0, 20.0)], "`my lat` double, `lng.x` double")
    got = df.select(
        cells.cell_encode(F.col("`my lat`"), F.col("`lng.x`"), 9).alias("a"),
        cells.cell_encode("my lat", "`lng.x`", 9).alias("b"),
        cells.cell_parent(cells.cell_encode(F.col("`my lat`"), "`lng.x`", 9), 9, 4).alias("c"),
    ).collect()[0]
    assert got["a"] == got["b"] == int(cells.np_cell_encode(10.0, 20.0, 9))
    assert got["c"] == int(cells.np_cell_encode(10.0, 20.0, 4))
    for bad in (F.col("lat") + 1, F.lit(1.0), F.col("lat").alias("x"), 1.0):
        with pytest.raises(TypeError):
            cells.cell_encode(bad, "lng", 9)

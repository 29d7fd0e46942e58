"""Point-in-polygon join (north_rule J5).

Reference analog: per-point country attribution (reference:
geocode/query_funcs.py:411-427 OSM country filter) and admin-level
result types (geocode/query_funcs.py:464). shapely/STRtree are
unavailable, so the exact test is even-odd ray casting written as
Spark higher-order functions; the STRtree role is played by a
geocell-cover prefilter:

    polygons --explode(polyfill_bbox)--> (cell, admin attrs, rings) at res R
    points   --cell_encode-------------> cell at res R
    points ⋈_broadcast cover on cell   -- candidate pairs only
    aggregate over ring edges          -- exact test per candidate

The whole join is lazy JVM Column expressions: the polygon side is
never collected to the driver, no Python worker runs, and the big side
never shuffles (the cover broadcasts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from batch_geocode_spark.functions.cells import cell_encode, polyfill_bbox


def _edges(rings: Column) -> Column:
    """The edges of all of a polygon's rings as one array of
    (x1, y1, y2, dx = x2 - x1, dy = y2 - y1): even-odd parity summed over
    every ring is the parity of the crossings of all their edges."""

    def ring_edges(ring: Column) -> Column:
        idx = F.when(F.size(ring) > 1, F.sequence(F.lit(1), F.size(ring) - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.struct(
                ring[i - 1]["x"].alias("x1"),
                ring[i - 1]["y"].alias("y1"),
                ring[i]["y"].alias("y2"),
                (ring[i]["x"] - ring[i - 1]["x"]).alias("dx"),
                (ring[i]["y"] - ring[i - 1]["y"]).alias("dy"),
            ),
        )

    return F.flatten(F.transform(rings, ring_edges))


def _inside(edges: Column, px: Column, py: Column) -> Column:
    """Even-odd ray cast from (px, py) toward +x over ``edges``.

    The crossing abscissa is ``(x2 - x1) * (py - y1) / (y2 - y1) + x1``,
    the float operations of the classic vectorized test in the same
    order (the two differences are point-independent, so precomputing
    them changes no bit). The division runs only when the edge straddles
    ``py``, so a horizontal edge never divides by zero (an error under
    ANSI mode)."""

    def flip(inside: Column, e: Column) -> Column:
        xint = e["dx"] * (py - e["y1"]) / e["dy"] + e["x1"]
        straddles = (e["y1"] > py) != (e["y2"] > py)
        return inside != F.when(straddles, px < xint).otherwise(F.lit(False))

    return F.aggregate(edges, F.lit(False), flip)


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 7,
    id_col: str = "image_id",
    lat_col: str = "best_lat",
    lng_col: str = "best_long",
) -> DataFrame:
    """Exact PIP join → (pt_id string, pt_lat double, pt_lng double,
    admin_id long, iso2 string, admin_level int, name string).

    ``polygons`` carries (admin_id, iso2, admin_level, name, bb_w, bb_s,
    bb_e, bb_n, rings); it is small by assumption, since its cover
    broadcasts. A point is inside when the crossings summed over all of
    a polygon's rings are odd, so inner rings are holes."""
    cover = polygons.select(
        F.explode(
            polyfill_bbox(F.col("bb_w"), F.col("bb_s"), F.col("bb_e"), F.col("bb_n"), res)
        ).alias("cell"),
        "admin_id", "iso2", "admin_level", "name", _edges(F.col("rings")).alias("edges"),
    )
    pts = points.select(
        F.col(id_col).alias("pt_id"),
        F.col(lat_col).alias("pt_lat"),
        F.col(lng_col).alias("pt_lng"),
        cell_encode(F.col(lat_col), F.col(lng_col), res).alias("cell"),
    )
    return (
        pts.join(F.broadcast(cover), "cell", "inner")
        .where(_inside(F.col("edges"), F.col("pt_lng"), F.col("pt_lat")))
        .select(
            F.col("pt_id").cast("string"),
            F.col("pt_lat").cast("double"),
            F.col("pt_lng").cast("double"),
            F.col("admin_id").cast("long"),
            F.col("iso2").cast("string"),
            F.col("admin_level").cast("int"),
            F.col("name").cast("string"),
        )
    )

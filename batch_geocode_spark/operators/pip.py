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

The whole join is lazy built-in expressions, written as SQL text so
each costs one driver→JVM call to build: the polygon side is never
collected to the driver, no Python worker runs, and the big side never
shuffles (the cover broadcasts). Lambda variables carry a leading
underscore so no column name shadows them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_geocode_spark.functions.cells import cell_encode_sql, polyfill_sql
from batch_geocode_spark.functions.sqlexpr import quote

# The edges of all of a polygon's rings as one array of
# (x1, y1, y2, dx = x2 - x1, dy = y2 - y1): even-odd parity summed over
# every ring is the parity of the crossings of all their edges.
_EDGES = (
    "flatten(transform(rings, _ring -> transform("
    "CASE WHEN size(_ring) > 1 THEN sequence(1, size(_ring) - 1) "
    "ELSE CAST(array() AS ARRAY<INT>) END, "
    "_i -> named_struct('x1', _ring[_i - 1].x, 'y1', _ring[_i - 1].y, 'y2', _ring[_i].y, "
    "'dx', _ring[_i].x - _ring[_i - 1].x, 'dy', _ring[_i].y - _ring[_i - 1].y))))"
)

# Even-odd ray cast from (pt_lng, pt_lat) toward +x over ``edges``. The
# crossing abscissa is ``(x2 - x1) * (py - y1) / (y2 - y1) + x1``, the
# float operations of the classic vectorized test in the same order (the
# two differences are point-independent, so precomputing them changes no
# bit). The division runs only when the edge straddles ``py``, so a
# horizontal edge never divides by zero (an error under ANSI mode).
_INSIDE = (
    "aggregate(edges, false, (_inside, _e) -> _inside != "
    "CASE WHEN (_e.y1 > pt_lat) != (_e.y2 > pt_lat) "
    "THEN pt_lng < _e.dx * (pt_lat - _e.y1) / _e.dy + _e.x1 ELSE false END)"
)


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
    cover = polygons.selectExpr(
        f"explode({polyfill_sql('bb_w', 'bb_s', 'bb_e', 'bb_n', res)}) AS cell",
        "admin_id", "iso2", "admin_level", "name", f"{_EDGES} AS edges",
    )
    pts = points.selectExpr(
        f"{quote(id_col)} AS pt_id",
        f"{quote(lat_col)} AS pt_lat",
        f"{quote(lng_col)} AS pt_lng",
        f"{cell_encode_sql(quote(lat_col), quote(lng_col), res)} AS cell",
    )
    return (
        pts.join(F.broadcast(cover), "cell", "inner")
        .where(_INSIDE)
        .selectExpr(
            "CAST(pt_id AS STRING) AS pt_id",
            "CAST(pt_lat AS DOUBLE) AS pt_lat",
            "CAST(pt_lng AS DOUBLE) AS pt_lng",
            "CAST(admin_id AS BIGINT) AS admin_id",
            "CAST(iso2 AS STRING) AS iso2",
            "CAST(admin_level AS INT) AS admin_level",
            "CAST(name AS STRING) AS name",
        )
    )

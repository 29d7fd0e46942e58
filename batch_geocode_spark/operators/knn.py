"""kNN candidate matching across gazetteer sources (north_rule J6).

Reference analog: vet() composites all sources' points per row and
accepts if mutually close (reference: geocode/query_funcs.py:193-219).
Two operators:

1. knn_within_image — per image, rank that image's multi-source
   candidates by haversine distance to the composite-best point and
   keep the k nearest. Pure window function over the candidates join
   output — no extra shuffle beyond the groupBy key already in place.

2. knn_spatial — approximate spatial kNN between two point sets via
   cell bucketing: points joined to neighbors through their cell at a
   chosen resolution plus the 8-neighbor ring, then window top-k. This
   is the scale path (equi-join on cell, never a cross join); exact
   within the ring radius.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from batch_geocode_spark.functions.cells import cell_encode_sql, cell_ring_sql
from batch_geocode_spark.functions.geo import haversine_sql
from batch_geocode_spark.functions.sqlexpr import quote


def knn_within_image(
    vetted: DataFrame, k: int = 3, max_buffer: float = 15.0
) -> DataFrame:
    """k nearest candidates (across sources) to each image's composite-best
    point.

    Single-pass plan: the best point is computed with window aggregates
    over the same image_id partitioning the rank window needs, so the
    whole operator costs ONE shuffle — no join back to a recomputed
    composite_best DAG.
    """
    w_img = "OVER (PARTITION BY image_id)"
    diag = haversine_sql(
        f"min(min_lat) {w_img}",
        f"min(min_lng) {w_img}",
        f"max(max_lat) {w_img}",
        f"max(max_lng) {w_img}",
    )
    with_best = (
        vetted.selectExpr(
            "*",
            f"sum(sum_lat) {w_img} / sum(n_pts) {w_img} AS best_lat",
            f"sum(sum_lng) {w_img} / sum(n_pts) {w_img} AS best_long",
            f"{diag} AS best_diag",
        )
        .where(f"best_diag <= {float(max_buffer)!r}D")
        .selectExpr(
            "*", f"{haversine_sql('cand_lat', 'cand_lng', 'best_lat', 'best_long')} AS dist_km"
        )
    )
    return (
        with_best.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY image_id ORDER BY dist_km, source, rank) AS knn_rank",
        )
        .where(f"knn_rank <= {int(k)}")
        .select("image_id", "source", "rank", "cand_lat", "cand_lng", "dist_km", "knn_rank")
    )


def knn_spatial(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    res: int = 7,
    q_id: str = "image_id",
    q_lat: str = "best_lat",
    q_lng: str = "best_long",
    p_id: str = "gaz_id",
    p_lat: str = "lat",
    p_lng: str = "lng",
) -> DataFrame:
    """Cell-bucketed kNN join: each query point meets only points in its
    cell + 8 neighbors at ``res`` (equi-join on cell → shuffle hash /
    broadcast per AQE), then per-query top-k by haversine distance.

    Exact for neighbors within one cell ring (~cell width); choose
    ``res`` so the expected kth-neighbor distance fits the ring.
    """
    if res < 2:
        raise ValueError("res must be >= 2 (ring cells collide below that)")
    pts = points.selectExpr(
        f"{quote(p_id)} AS nbr_id",
        f"{quote(p_lat)} AS nbr_lat",
        f"{quote(p_lng)} AS nbr_lng",
        f"{cell_encode_sql(quote(p_lat), quote(p_lng), res)} AS cell",
    )
    # encode + ring are built-in expressions (no Python UDF, no
    # ArrowEvalPython stage); invalid ring entries (lat clamp) are -1
    # and filtered after the explode
    ring = cell_ring_sql(cell_encode_sql(quote(q_lat), quote(q_lng), res), res)
    qry = queries.selectExpr(
        f"{quote(q_id)} AS query_id",
        f"{quote(q_lat)} AS query_lat",
        f"{quote(q_lng)} AS query_lng",
        f"explode({ring}) AS cell",
    ).where("cell >= 0")
    dist = haversine_sql("query_lat", "query_lng", "nbr_lat", "nbr_lng")
    return (
        qry.join(pts, "cell", "inner")
        .selectExpr("query_id", "nbr_id", "nbr_lat", "nbr_lng", f"{dist} AS dist_km")
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id ORDER BY dist_km, nbr_id) AS knn_rank",
        )
        .where(f"knn_rank <= {int(k)}")
    )

"""Core geodesic + normalization functions.

Each formula is defined once, as a SQL text builder (``*_sql``); the
Column helper of the same name parses that text with one ``F.expr``
(see ``sqlexpr``). ``haversine_sql`` is portable: the DuckDB oracles run
the same text, so both engines compute with the same operations in the
same order. The numpy forms are the test and pandas-oracle references.

Semantics mirror the reference:
- haversine with mean earth radius 6371.0088 km — the default of the
  ``haversine`` package the reference wraps (reference:
  geocode/query_funcs.py:247-252).
- "buffer" = haversine length in km of a bounding box's diagonal
  (reference: geocode/query_funcs.py:272-278).
- ISO2 normalization: keep only length-2 strings, lowercased
  (reference: geocode/query_funcs.py:26-33).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column

from batch_geocode_spark.functions.sqlexpr import expr, sql_of

EARTH_RADIUS_KM = 6371.0088


# ------------------------------------------------------------ SQL builders
def haversine_sql(lat1: str, lng1: str, lat2: str, lng2: str) -> str:
    """Great-circle distance in km (DOUBLE); the same text runs in Spark
    SQL and DuckDB."""
    dlat = f"sin(radians(({lat2}) - ({lat1})) / 2.0)"
    dlng = f"sin(radians(({lng2}) - ({lng1})) / 2.0)"
    a = f"{dlat} * {dlat} + cos(radians({lat1})) * cos(radians({lat2})) * {dlng} * {dlng}"
    return f"(asin(sqrt({a})) * CAST({2.0 * EARTH_RADIUS_KM!r} AS DOUBLE))"


def bbox_diag_sql(min_x: str, min_y: str, max_x: str, max_y: str) -> str:
    """The reference's "buffer": km diagonal of a lng/lat bbox
    (reference: geocode/query_funcs.py:272-278; x=lng, y=lat)."""
    return haversine_sql(min_y, min_x, max_y, max_x)


def norm_name_sql(c: str) -> str:
    """Canonical gazetteer join key: lowercase, trim, collapse whitespace."""
    return rf"regexp_replace(trim(lower({c})), '\\s+', ' ')"


def norm_iso2_sql(c: str) -> str:
    """reference: geocode/query_funcs.py:26-33 — len==2 → lower, else NULL."""
    return f"CASE WHEN length({c}) = 2 THEN lower({c}) END"


# ---------------------------------------------------------------- Column API
def haversine_km(
    lat1: Column | str, lng1: Column | str, lat2: Column | str, lng2: Column | str
) -> Column:
    """Great-circle distance in km (:func:`haversine_sql`)."""
    return expr(haversine_sql(sql_of(lat1), sql_of(lng1), sql_of(lat2), sql_of(lng2)))


def bbox_diag_km(
    min_x: Column | str, min_y: Column | str, max_x: Column | str, max_y: Column | str
) -> Column:
    """km diagonal of a lng/lat bbox (:func:`bbox_diag_sql`)."""
    return expr(bbox_diag_sql(sql_of(min_x), sql_of(min_y), sql_of(max_x), sql_of(max_y)))


def norm_name(c: Column | str) -> Column:
    """Canonical gazetteer join key (:func:`norm_name_sql`)."""
    return expr(norm_name_sql(sql_of(c)))


def norm_iso2(c: Column | str) -> Column:
    """ISO2 normalization (:func:`norm_iso2_sql`)."""
    return expr(norm_iso2_sql(sql_of(c)))


# ----------------------------------------------------------------- numpy API
def np_haversine_km(lat1, lng1, lat2, lng2):
    lat1, lng1, lat2, lng2 = (np.asarray(v, dtype=np.float64) for v in (lat1, lng1, lat2, lng2))
    dlat = np.radians(lat2 - lat1) / 2.0
    dlng = np.radians(lng2 - lng1) / 2.0
    a = np.sin(dlat) ** 2 + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(dlng) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))

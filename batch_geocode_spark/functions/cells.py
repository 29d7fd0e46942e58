"""geocell — a vendored hierarchical spatial cell index (pure arithmetic).

h3/s2 packages are unavailable in this environment, so the engine vendors
a quadtree cell index built only from published math (equirectangular
grid, Bing-quadkey-style hierarchy): at resolution ``r`` the world
(lng ∈ [-180,180), lat ∈ [-90,90)) is a 2^r × 2^r grid.

    x = floor((lng + 180) / 360 * 2^r)   clamped to [0, 2^r - 1]
    y = floor((lat +  90) / 180 * 2^r)   clamped to [0, 2^r - 1]
    cell_id = r * 2^58 + y * 2^29 + x    (fits int64 for r ≤ 29)

Key properties:
- encode/decode are pure integer arithmetic, defined once as SQL text
  (``*_sql``): the Column helpers parse it with one ``F.expr`` (built-in
  expressions, whole-stage codegen, no UDF), and the DuckDB oracles run
  ``cell_encode_sql``/``quadkey_sql`` verbatim, so both engines produce
  identical ids.
- parent/child relations are bit shifts of (x, y) → hierarchical
  rollups are cheap and partition-friendly (cell prefix = parent cell).
- the 9-cell ring and the bbox polyfill are Spark SQL array expressions,
  so the kNN/DBSCAN candidate joins and the PIP cover run on executors;
  ``np_cell_ring_batch`` and ``np_polyfill_bbox`` are their references.

This plays the role H3/S2 plays in the north_star: stable tile ids for
density maps and a spatial-locality partitioning key.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column

from batch_geocode_spark.functions.sqlexpr import expr, sql_of

MAX_RES = 29
_RES_SHIFT = 2**58
_Y_SHIFT = 2**29


# ------------------------------------------------------------ SQL builders
# Each builder takes SQL text for its inputs and returns SQL text; the
# Column helpers below parse that text once (``sqlexpr.expr``). Literals
# that meet a coordinate are written as DOUBLE so a DECIMAL input is
# computed in double, never as an exact decimal (``90.0`` alone is a
# DECIMAL in both Spark SQL and DuckDB). The encode, parent and quadkey
# builders are portable (the DuckDB oracles run encode and quadkey); the
# ring and polyfill builders use Spark's array functions.
def _double(v: float) -> str:
    return f"CAST({float(v)!r} AS DOUBLE)"


def _check_res(res: int, lo: int = 0) -> None:
    if not lo <= res <= MAX_RES:
        raise ValueError(f"res must be in [{lo}, {MAX_RES}]")


def _cell_x(cell: str) -> str:
    return f"(({cell}) % {_Y_SHIFT})"


def _cell_y(cell: str) -> str:
    # '/' divides in double (the integer parts stay exact below res 25)
    return f"CAST(floor((({cell}) % {_RES_SHIFT}) / {_Y_SHIFT}) AS BIGINT)"


def _grid_index(v: str, offset: float, span: float, res: int) -> str:
    """floor((v + offset) / span * 2^res) clipped to [0, 2^res - 1]."""
    return (
        f"least({2**res - 1}, greatest(0, CAST(floor((({v}) + {_double(offset)}) "
        f"/ {_double(span)} * {_double(2**res)}) AS BIGINT)))"
    )


def cell_encode_sql(lat: str, lng: str, res: int) -> str:
    """lat/lng → int64 cell id at resolution ``res``."""
    _check_res(res)
    x = _grid_index(lng, 180.0, 360.0, res)
    y = _grid_index(lat, 90.0, 180.0, res)
    return f"(CAST({res} AS BIGINT) * {_RES_SHIFT} + {y} * {_Y_SHIFT} + {x})"


def cell_parent_sql(cell: str, res: int, parent_res: int) -> str:
    """Coarsen a cell id from ``res`` to ``parent_res``."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    shift = 2 ** (res - parent_res)
    xp = f"CAST(floor({_cell_x(cell)} / {shift}) AS BIGINT)"
    yp = f"CAST(floor({_cell_y(cell)} / {shift}) AS BIGINT)"
    return f"(CAST({parent_res} AS BIGINT) * {_RES_SHIFT} + {yp} * {_Y_SHIFT} + {xp})"


def quadkey_sql(cell: str, res: int) -> str:
    """Cell id → quadkey string (Bing-maps-style tile addressing): one
    base-4 digit per level, MSB first, digit = 2·bit(y) + bit(x). A
    parent cell's quadkey is the child's PREFIX, so hierarchical pruning
    is a `startswith`, the interchange format map clients expect."""
    _check_res(res, 1)
    x, y = _cell_x(cell), _cell_y(cell)
    digits = " || ".join(
        f"CAST(CAST((floor({y} / {2**i}) % 2) * 2 + (floor({x} / {2**i}) % 2) AS INT) AS STRING)"
        for i in range(res - 1, -1, -1)
    )
    return f"({digits})"


def cell_ring_sql(cell: str, res: int) -> str:
    """9-cell neighborhood (8-ring + center) of a res-level cell id:
    array<bigint> of length 9 in the (dy-major) order of
    :func:`np_cell_ring_batch`, lng wraps, lat clamps — out-of-range
    entries are -1 (filter them after explode). ``res >= 2`` required:
    below that the lng wrap makes ring columns collide and the array is
    no longer a set (np_cell_ring_batch handles that case; every caller
    here already enforces res >= 2)."""
    _check_res(res, 2)
    n = 2**res
    x, y = _cell_x(cell), _cell_y(cell)
    entries = []
    for dy in (-1, 0, 1):
        yy = f"({y} + {dy})"
        for dx in (-1, 0, 1):
            entries.append(
                f"CASE WHEN {yy} >= 0 AND {yy} < {n} THEN CAST({res} AS BIGINT) * "
                f"{_RES_SHIFT} + {yy} * {_Y_SHIFT} + pmod({x} + {dx}, {n}) "
                "ELSE CAST(-1 AS BIGINT) END"
            )
    return f"array({', '.join(entries)})"


def polyfill_sql(w: str, s: str, e: str, n: str, res: int) -> str:
    """array<bigint> of every cell at ``res`` intersecting the bbox, as
    :func:`np_polyfill_bbox` computes it: the same clip/floor, rows
    south to north, cells west to east. An inverted bbox covers nothing
    (``sequence`` would count down where ``np.arange`` is empty). The
    lambda variables are named so no input column can shadow them."""
    _check_res(res)
    x0, x1 = _grid_index(w, 180.0, 360.0, res), _grid_index(e, 180.0, 360.0, res)
    y0, y1 = _grid_index(s, 90.0, 180.0, res), _grid_index(n, 90.0, 180.0, res)
    cells = (
        f"flatten(transform(sequence({y0}, {y1}), _fill_y -> transform(sequence({x0}, {x1}), "
        f"_fill_x -> {res * _RES_SHIFT} + _fill_y * {_Y_SHIFT} + _fill_x)))"
    )
    return (
        f"CASE WHEN {x0} <= {x1} AND {y0} <= {y1} THEN {cells} "
        "ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )


# ---------------------------------------------------------------- Column API
# One F.expr per call over the builders above; arguments are column
# names, F.col references or other helpers' outputs (``sqlexpr``).
def cell_encode(lat: Column | str, lng: Column | str, res: int) -> Column:
    """lat/lng → int64 cell id at resolution ``res`` (:func:`cell_encode_sql`)."""
    return expr(cell_encode_sql(sql_of(lat), sql_of(lng), res), f"cell_r{res}")


def cell_parent(cell: Column | str, res: int, parent_res: int) -> Column:
    """Coarsen a cell id from ``res`` to ``parent_res`` (:func:`cell_parent_sql`)."""
    return expr(cell_parent_sql(sql_of(cell), res, parent_res), f"cell_r{parent_res}")


def quadkey(cell: Column | str, res: int) -> Column:
    """Cell id → quadkey string (:func:`quadkey_sql`)."""
    return expr(quadkey_sql(sql_of(cell), res), f"quadkey_r{res}")


def cell_ring_cells(cell: Column | str, res: int) -> Column:
    """9-cell neighborhood of a cell id (:func:`cell_ring_sql`); a built-in
    expression, so the kNN/DBSCAN candidate paths cross no Python
    boundary."""
    _check_res(res, 2)  # before rendering: a bad res is a ValueError whatever the cell
    return expr(cell_ring_sql(sql_of(cell), res), f"ring_r{res}")


def polyfill_bbox(
    w: Column | str, s: Column | str, e: Column | str, n: Column | str, res: int
) -> Column:
    """Cell cover of a bbox as array<bigint> (:func:`polyfill_sql`)."""
    return expr(polyfill_sql(sql_of(w), sql_of(s), sql_of(e), sql_of(n), res))


def np_quadkey_decode(qk: str) -> tuple[int, int, int]:
    """Quadkey string → (res, y, x) — the inverse of :func:`quadkey`
    (tests + client-side tile math)."""
    res, x, y = len(qk), 0, 0
    for ch in qk:
        d = int(ch)
        x = x * 2 + (d & 1)
        y = y * 2 + (d >> 1)
    return res, y, x


# ----------------------------------------------------------------- numpy API
def np_cell_encode(lat, lng, res: int):
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    n = 2**res
    x = np.clip(np.floor((lng + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return res * _RES_SHIFT + y * _Y_SHIFT + x


def np_cell_decode(cell):
    """cell id → (res, x, y) arrays."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell // _RES_SHIFT
    rem = cell % _RES_SHIFT
    y = rem // _Y_SHIFT
    x = rem % _Y_SHIFT
    return res.astype(np.int64), x, y


def np_cell_bounds(cell):
    """cell id → (w, s, e, n) degree bounds arrays."""
    res, x, y = np_cell_decode(cell)
    n = np.power(2.0, res)
    w = x / n * 360.0 - 180.0
    e = (x + 1) / n * 360.0 - 180.0
    s = y / n * 180.0 - 90.0
    nn = (y + 1) / n * 180.0 - 90.0
    return w, s, e, nn


def np_cell_parent(cell, parent_res: int):
    res, x, y = np_cell_decode(cell)
    shift = np.power(2, (res - parent_res)).astype(np.int64)
    return parent_res * _RES_SHIFT + (y // shift) * _Y_SHIFT + (x // shift)


def np_cell_children(cell_id: int):
    """The 4 children one resolution finer."""
    res, x, y = np_cell_decode(np.asarray([cell_id]))
    r, x0, y0 = int(res[0]) + 1, int(x[0]) * 2, int(y[0]) * 2
    return np.asarray(
        [r * _RES_SHIFT + (y0 + dy) * _Y_SHIFT + (x0 + dx) for dy in (0, 1) for dx in (0, 1)],
        dtype=np.int64,
    )


def np_cell_neighbors(cell_id: int):
    """8-neighborhood at the same resolution (lng wraps, lat clamps)."""
    res, x, y = np_cell_decode(np.asarray([cell_id]))
    r, x0, y0 = int(res[0]), int(x[0]), int(y[0])
    n = 2**r
    out = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dx == 0 and dy == 0:
                continue
            yy = y0 + dy
            if not 0 <= yy < n:
                continue
            xx = (x0 + dx) % n
            out.append(r * _RES_SHIFT + yy * _Y_SHIFT + xx)
    return np.asarray(sorted(set(out)), dtype=np.int64)


def np_cell_ring_batch(cells, res: int) -> np.ndarray:
    """Vectorized 9-cell neighborhood (8-ring + center) for a WHOLE batch
    of same-resolution cell ids: returns an (n_cells, 9) int64 matrix,
    lng wraps, lat clamps — out-of-range entries are -1 (filter them
    after explode). The ring of a quadtree cell is pure arithmetic, so
    the batch version is 9 shifted copies of the (x, y) arrays — no
    Python-level per-cell work (this replaces a per-row
    ``np_cell_neighbors`` loop inside a pandas_udf, VERDICT r3)."""
    cells = np.asarray(cells, dtype=np.int64)
    _, x, y = np_cell_decode(cells)
    n = 2**res
    dy = np.array([-1, -1, -1, 0, 0, 0, 1, 1, 1], dtype=np.int64)
    dx = np.array([-1, 0, 1, -1, 0, 1, -1, 0, 1], dtype=np.int64)
    yy = y[:, None] + dy[None, :]
    xx = (x[:, None] + dx[None, :]) % n
    out = res * _RES_SHIFT + yy * _Y_SHIFT + xx
    out[(yy < 0) | (yy >= n)] = -1
    if n < 3:
        # degenerate grids (res < 2): lng wrap makes columns collide;
        # sort each row and blank exact repeats so explode stays a set
        out.sort(axis=1)
        out[:, 1:][out[:, 1:] == out[:, :-1]] = -1
    return out


def np_polyfill_bbox(w: float, s: float, e: float, n: float, res: int):
    """All cells at ``res`` intersecting the bbox (vectorized meshgrid);
    the reference for :func:`polyfill_bbox`."""
    w, s, e, n = float(w), float(s), float(e), float(n)
    grid = 2**res
    x0 = int(np.clip(np.floor((w + 180.0) / 360.0 * grid), 0, grid - 1))
    x1 = int(np.clip(np.floor((e + 180.0) / 360.0 * grid), 0, grid - 1))
    y0 = int(np.clip(np.floor((s + 90.0) / 180.0 * grid), 0, grid - 1))
    y1 = int(np.clip(np.floor((n + 90.0) / 180.0 * grid), 0, grid - 1))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    xx, yy = np.meshgrid(xs, ys)
    return (res * _RES_SHIFT + yy.ravel() * _Y_SHIFT + xx.ravel()).astype(np.int64)


def pick_cover_res(w: float, s: float, e: float, n: float, max_cells: int = 256) -> int:
    """Finest resolution whose bbox cover stays under ``max_cells``."""
    for res in range(MAX_RES, -1, -1):
        grid = 2**res
        nx = max(1, int((e - w) / 360.0 * grid) + 2)
        ny = max(1, int((n - s) / 180.0 * grid) + 2)
        if nx * ny <= max_cells:
            return res
    return 0

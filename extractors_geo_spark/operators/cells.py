"""Geocell index — the engine's replacement for GeoServer's spatial index.

A deterministic quadtree grid over lon/lat (plate carree). At resolution
``r`` (0..29) the world is a 2^r x 2^r grid; a cell id packs
(r, iy, ix) into one int64 (5 + 29 + 29 bits, max 29*2^58 < 2^63):

    cell = r * 2^58 + iy * 2^29 + ix

The packing is pure integer arithmetic so it is expressible BOTH as
Catalyst column expressions (JVM-side, codegen) and as ANSI SQL for the
DuckDB oracle — no UDF on the hot path at all. An H3/S2 library would slot
in behind the same API (encode/cover/neighbors) if available; the grid has
the same join-algebra properties (hierarchical, equal-area-enough at CONUS
latitudes for salting decisions).

Plays the role of the spatial containment the reference delegates to
GeoServer/pycsw (SURVEY.md J1/J2; preview.geotiff/gsclient.py:75-76,
pycsw.extractor/pycswutils.py:89-109).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RES_SHIFT = 1 << 58
Y_SHIFT = 1 << 29
MAX_RES = 29


def _grid_n(res: int) -> int:
    return 1 << res


# ---------------------------------------------------------------- Catalyst
def _n_col(res: int | Column) -> Column:
    """Grid side 2^res: a literal for a fixed level, an expression for a
    per-row level column."""
    if isinstance(res, Column):
        return F.pow(F.lit(2.0), res).cast("long")  # exact for res <= 29
    return F.lit(_grid_n(res))


def cell_ix(lon: Column, res: int | Column) -> Column:
    n = _n_col(res)
    raw = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n)
    return F.least(F.greatest(raw, F.lit(0)), n - 1).cast("long")


def cell_iy(lat: Column, res: int | Column) -> Column:
    n = _n_col(res)
    raw = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * n)
    return F.least(F.greatest(raw, F.lit(0)), n - 1).cast("long")


def cell_id(lon: Column, lat: Column, res: int) -> Column:
    """Encode a point to its geocell at resolution ``res`` (pure Catalyst)."""
    return (
        F.lit(res).cast("long") * F.lit(RES_SHIFT)
        + cell_iy(lat, res) * F.lit(Y_SHIFT)
        + cell_ix(lon, res)
    ).alias("cell")


def cell_id_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """The identical encoding as an ANSI-SQL snippet for the DuckDB oracle."""
    n = _grid_n(res)
    ix = f"LEAST(GREATEST(CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}) AS BIGINT), 0), {n - 1})"
    iy = f"LEAST(GREATEST(CAST(FLOOR((90.0 - ({lat_expr})) / 180.0 * {n}) AS BIGINT), 0), {n - 1})"
    return f"(CAST({res} AS BIGINT) * {RES_SHIFT} + {iy} * {Y_SHIFT} + {ix})"


def _cover_axes(minx: Column, miny: Column, maxx: Column, maxy: Column, res: int | Column):
    """(n, x0, nx, y0, y1) of a bbox cover: first column and column count
    (wrapping), first and last row."""
    n = _n_col(res)
    x0, x1 = cell_ix(minx, res), cell_ix(maxx, res)
    # lat decreases as iy increases -> maxy gives the smaller iy
    y0, y1 = cell_iy(maxy, res), cell_iy(miny, res)
    nx = F.when(x0 <= x1, x1 - x0 + 1).otherwise(n - x0 + x1 + 1).cast("long")
    return n, x0, nx, y0, y1


def cover_bbox(minx: Column, miny: Column, maxx: Column, maxy: Column, res: int | Column) -> Column:
    """All cells intersecting a bbox, as an array column (explode to join).
    Pure Catalyst: two sequences + a cartesian flatten. ``res`` is a fixed
    level or a per-row level column (the size-adaptive cover of
    operators.pip_join).

    Antimeridian: a box given as minx > maxx is treated as wrapping across
    the ±180 meridian and splits into two x-ranges ([x0, n-1] and [0, x1])
    instead of silently stepping a negative sequence."""
    n, x0, nx, y0, y1 = _cover_axes(minx, miny, maxx, maxy, res)
    # wrap via a MODULAR index sequence, never a when()-guarded array: a
    # conditional array as a higher-order-function input drops the whole
    # expression out of codegen (measured 12x on the ngram index)
    xs = F.transform(
        F.sequence(F.lit(0).cast("long"), nx - 1),
        lambda i: F.pmod(x0 + i, n.cast("long")),
    )
    base = (res if isinstance(res, Column) else F.lit(res)).cast("long") * F.lit(RES_SHIFT)
    return F.flatten(
        F.transform(
            F.sequence(y0, y1),
            lambda iy: F.transform(xs, lambda ix: base + iy * F.lit(Y_SHIFT) + ix),
        )
    )


def cover_count(minx: Column, miny: Column, maxx: Column, maxy: Column, res: int | Column) -> Column:
    """size(cover_bbox(...)) without building the array. A descending row
    range counts like sequence() steps it: |y1 - y0| + 1 rows."""
    _, _, nx, y0, y1 = _cover_axes(minx, miny, maxx, maxy, res)
    return nx * (F.abs(y1 - y0) + 1)


# A span narrower than FIT_CELLS cells of a level crosses at most
# FIT_CELLS + 1 of them: floor(b * n) - floor(a * n) <= floor((b - a) * n) + 1.
FIT_CELLS = 3


def _axis_level(span: Column, extent: float) -> Column:
    """Largest k <= MAX_RES with span * 2^k < FIT_CELLS * extent, in closed
    form: log2 gives k to within one, and two exact power-of-two products
    settle it, so the numpy twin (_axis_level_np) agrees bit for bit.
    A zero span fits every level; the log is never taken of it, so no
    ANSI error can arise."""
    lim = float(FIT_CELLS * extent)
    k = F.least(F.greatest(F.floor(F.log2(F.lit(lim)) - F.log2(span)), F.lit(-1)),
                F.lit(MAX_RES + 1))
    two = F.lit(2.0)
    k = (k - (span * F.pow(two, k) >= F.lit(lim)).cast("long")
         + (span * F.pow(two, k + 1) < F.lit(lim)).cast("long"))
    return F.when(span > 0, F.least(k, F.lit(MAX_RES))).otherwise(F.lit(MAX_RES))


def fit_level(minx: Column, miny: Column, maxx: Column, maxy: Column) -> Column:
    """The bbox's fit level: the finest level <= MAX_RES at which it is
    narrower than FIT_CELLS cells on both axes, so its cover_bbox is at
    most 4 x 4 cells. A box with minx > maxx wraps the antimeridian and
    is maxx - minx + 360 wide. Int column; fit_level_np is the numpy twin."""
    w = F.when(maxx >= minx, maxx - minx).otherwise(maxx - minx + F.lit(360.0))
    h = F.abs(maxy - miny)
    lvl = F.least(_axis_level(w, 360.0), _axis_level(h, 180.0))
    return F.greatest(lvl, F.lit(0)).cast("int")


def cell_children(cell: Column) -> Column:
    """The four children of a cell at the next finer resolution — the
    adaptive cell-splitting primitive (SURVEY.md §4.2 item 2)."""
    res = (cell / F.lit(RES_SHIFT)).cast("long")
    rem = cell % F.lit(RES_SHIFT)
    iy = (rem / F.lit(Y_SHIFT)).cast("long")
    ix = rem % F.lit(Y_SHIFT)
    nbase = (res + 1) * F.lit(RES_SHIFT)
    return F.array(
        *[
            nbase + (iy * 2 + dy) * F.lit(Y_SHIFT) + (ix * 2 + dx)
            for dy in (0, 1)
            for dx in (0, 1)
        ]
    )


def cell_ring(cell: Column, k: int = 1) -> Column:
    """The (2k+1)^2 block of cells centered on ``cell`` at the same
    resolution, clipped to the grid — candidate expansion for grid kNN
    (SURVEY.md J5)."""
    res = (cell / F.lit(RES_SHIFT)).cast("long")
    rem = cell % F.lit(RES_SHIFT)
    iy = (rem / F.lit(Y_SHIFT)).cast("long")
    ix = rem % F.lit(Y_SHIFT)
    n = F.pow(F.lit(2.0), res).cast("long")  # exact for res <= 29
    base = res * F.lit(RES_SHIFT)
    out = []
    for dy in range(-k, k + 1):
        for dx in range(-k, k + 1):
            ny, nx = iy + dy, ix + dx
            valid = (ny >= 0) & (ny < n) & (nx >= 0) & (nx < n)
            out.append(F.when(valid, base + ny * F.lit(Y_SHIFT) + nx))
    return F.filter(F.array(*out), lambda c: c.isNotNull())


# ------------------------------------------------------------------- numpy
def _ix_np(lon, n: int):
    return np.clip(np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)


def _iy_np(lat, n: int):
    return np.clip(np.floor((90.0 - np.asarray(lat, np.float64)) / 180.0 * n), 0, n - 1).astype(np.int64)


def cell_np(lon, lat, res: int):
    n = _grid_n(res)
    return res * RES_SHIFT + _iy_np(lat, n) * Y_SHIFT + _ix_np(lon, n)


def cover_count_np(minx, miny, maxx, maxy, res: int):
    """Numpy twin of cover_count: cover_bbox sizes, antimeridian wrap
    included."""
    n = _grid_n(res)
    x0, x1 = _ix_np(minx, n), _ix_np(maxx, n)
    y0, y1 = _iy_np(maxy, n), _iy_np(miny, n)
    nx = np.where(x0 <= x1, x1 - x0 + 1, n - x0 + x1 + 1)
    return nx * (np.abs(y1 - y0) + 1)


def _axis_level_np(span, extent: float):
    lim = float(FIT_CELLS * extent)
    with np.errstate(divide="ignore", invalid="ignore"):
        k = np.clip(np.floor(np.log2(lim) - np.log2(span)), -1, MAX_RES + 1).astype(np.int64)
    k = k - (np.ldexp(span, k) >= lim) + (np.ldexp(span, k + 1) < lim)
    return np.where(span > 0, np.minimum(k, MAX_RES), MAX_RES)


def fit_level_np(minx, miny, maxx, maxy):
    """Numpy twin of fit_level (same closed form, same int results)."""
    minx, miny, maxx, maxy = (np.asarray(v, np.float64) for v in (minx, miny, maxx, maxy))
    w = np.where(maxx >= minx, maxx - minx, maxx - minx + 360.0)
    lvl = np.minimum(_axis_level_np(w, 360.0), _axis_level_np(np.abs(maxy - miny), 180.0))
    return np.maximum(lvl, 0)


def cell_decode_np(cell):
    cell = np.asarray(cell, np.int64)
    res = cell // RES_SHIFT
    rem = cell % RES_SHIFT
    return res, rem // Y_SHIFT, rem % Y_SHIFT


def cell_bounds_np(cell):
    """(minx, miny, maxx, maxy) lon/lat bounds of a cell."""
    res, iy, ix = cell_decode_np(cell)
    n = (1 << res).astype(np.float64) if isinstance(res, np.ndarray) else float(1 << int(res))
    minx = ix / n * 360.0 - 180.0
    maxx = (ix + 1) / n * 360.0 - 180.0
    maxy = 90.0 - iy / n * 180.0
    miny = 90.0 - (iy + 1) / n * 180.0
    return minx, miny, maxx, maxy


# --------------------------------------------------------------- densities
def cell_density(df: DataFrame, cell_col: str = "cell") -> DataFrame:
    """Per-cell row counts — feeds the salting / adaptive-split planner
    (SURVEY.md A5). groupBy count = partial+final hash agg, no skew risk
    (the output is one row per cell)."""
    return df.groupBy(cell_col).agg(F.count(F.lit(1)).alias("n"))


# ------------------------------------------------------------ slippy tiles
def tile_xyz(lon: Column, lat: Column, z: int) -> tuple[Column, Column]:
    """Web-Mercator slippy-map tile (x, y) at zoom z (OSM convention) —
    the engine's z/x/y addressing for the tile pyramid (SURVEY.md T1)."""
    n = 1 << z
    tx = F.least(F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)), F.lit(0)), F.lit(n - 1)).cast("long")
    lat_r = F.radians(lat)
    merc = F.log(F.tan(lat_r) + F.lit(1.0) / F.cos(lat_r))
    ty = F.least(
        F.greatest(F.floor((F.lit(1.0) - merc / F.lit(np.pi)) / F.lit(2.0) * F.lit(n)), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")
    return tx, ty


def tile_xyz_sql(lon_expr: str, lat_expr: str, z: int) -> tuple[str, str]:
    n = 1 << z
    tx = f"LEAST(GREATEST(CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}) AS BIGINT), 0), {n - 1})"
    merc = f"LN(TAN(RADIANS({lat_expr})) + 1.0 / COS(RADIANS({lat_expr})))"
    ty = f"LEAST(GREATEST(CAST(FLOOR((1.0 - {merc} / PI()) / 2.0 * {n}) AS BIGINT), 0), {n - 1})"
    return tx, ty

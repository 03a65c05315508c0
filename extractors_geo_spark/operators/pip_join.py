"""Point-in-polygon join — the engine's core spatial join (SURVEY.md J1/J2).

Replaces the containment semantics the reference delegates to GeoServer's
WMS bbox rendering (preview.geotiff/gsclient.py:75-76) and pycsw's bbox
records (pycsw.extractor/pycswutils.py:89-109) with a native two-phase plan:

  coarse:  each polygon explodes to the cells covering its bbox at its
           own level; each point encodes to its cell at every level the
           layer uses;
           equi-join on `cell` (hash-partitionable, AQE-skew-splittable)
  refine:  bbox test, then exact even-odd ray cast, vectorized over the
           Arrow batch (flat-edge-array trick: all candidate pairs' edges
           in one numpy kernel — no per-row Python)

Size-adaptive cover: a polygon covers at the finest level <= `res` at which
its bbox spans at most 4 cells per axis (cells.fit_level), snapped to the
level set plans.planner.cover_plan chose. Every cover level is a level the
point side is tagged at, so each (point, polygon) pair meets in exactly
one cell; any level set gives the same pairs, the set only sets the cost.
A layer of 0.5-degree tracts joined at res 13 covers ~37k cells this way
instead of ~2.2M. The level set is [res] — the classic single-level
cover, points tagged once — when the caller forces the join strategy.

Hot cells: the size-adaptive cover is the one hot-cell design. A metro
cell packed with small polygons is split by the cover itself, because
those polygons fit at a fine level and the hot points meet only the few
polygons of their fine cell (BENCH/SKEW.md: 3,200 polygons in one res-6
cell join faster by default at res 14 than salted or cell-split at res
6). What remains is runtime skew on the partitioned path, which AQE's
skew-join splits; `salt=` is the one explicit knob there.

Physical strategy (plans.planner.should_broadcast on the cover-row count):
  * broadcast  — polygon cover small (the common dims-vs-facts shape; the
    states layer is 49 rows): the cover rows are broadcast, the point side
    never shuffles AT ALL.
  * partitioned — both sides large: shuffle on `cell` with AQE skew-join,
    plus optional salting (points add a salt hashed from `point_cols`,
    polygon cells duplicate per salt).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cells

DEFAULT_RES = 6  # 64x64 world grid ≈ 0.9 deg cells at CONUS; tune per layer

# cover_bbox/cell_id expand to large expression trees whose construction is
# hundreds of py4j round trips (~0.25 s per pip_join plan build, measured in
# the flagship pipeline's timed region) — memoized via exprcache (r8).
from ..exprcache import memo_col as _memo_col


_BOX = ("minx", "miny", "maxx", "maxy")


def _cover_level(levels: tuple[int, ...]):
    """Each polygon's cover level: its fit level snapped down to the
    nearest level in `levels` (the coarsest when it fits none), so the
    polygon covers at a level the point side is tagged at even where the
    planner's level set disagrees with cells.fit_level."""
    def build():
        fit = cells.fit_level(*[F.col(c) for c in _BOX])
        lvl = F.when(fit >= levels[-1], F.lit(levels[-1]))
        for lv in reversed(levels[1:-1]):
            lvl = lvl.when(fit >= lv, F.lit(lv))
        return lvl.otherwise(F.lit(levels[0]))

    return _memo_col(("cover_level", levels), build)


def _cover_cells(levels: tuple[int, ...]):
    """Exploded cover cells of each polygon row: at the one level, or at
    the per-row `_lvl` column (_cover_level) when there are several."""
    lvl = levels[0] if len(levels) == 1 else F.col("_lvl")
    return _memo_col(("poly_cells", levels),
                     lambda: F.explode(cells.cover_bbox(*[F.col(c) for c in _BOX], lvl)))


def _point_cells(lon: str, lat: str, levels: tuple[int, ...]):
    """A point's cell at each level: a scalar for one level, else exploded
    to one row per level."""
    def build():
        if len(levels) == 1:
            return cells.cell_id(F.col(lon), F.col(lat), levels[0])
        return F.explode(F.array(*[cells.cell_id(F.col(lon), F.col(lat), lv) for lv in levels]))

    return _memo_col(("point_cells", lon, lat, levels), build)


def _raycast_refine(joined: DataFrame, lon: str, lat: str) -> DataFrame:
    """Exact even-odd ray cast on candidate (point, polygon) pairs.

    Vectorized across the whole Arrow batch: ragged (multi-)rings are
    flattened to one edge array with per-row segment ids; crossings are
    counted with a single bincount — zero per-row Python.

    Multi-ring geometries (multipolygon parts and holes, shapefile
    convention) pass `ring_lens`: edges bridging two rings are masked out,
    and even-odd over all rings yields the standard polygon-with-holes
    semantics. Single-ring callers omit the column."""
    has_lens = "ring_lens" in joined.columns

    @F.pandas_udf(T.BooleanType())
    def inside(px: pd.Series, py: pd.Series, xs: pd.Series, ys: pd.Series,
               ring_lens: pd.Series) -> pd.Series:
        n = len(px)
        if n == 0:
            return pd.Series([], dtype=bool)
        lens = np.fromiter((len(v) for v in xs), dtype=np.int64, count=n)
        flat_x = np.concatenate([np.asarray(v, np.float64) for v in xs])
        flat_y = np.concatenate([np.asarray(v, np.float64) for v in ys])
        row = np.repeat(np.arange(n), lens)
        # an edge starts at every vertex except each ring's last
        edge_mask = np.ones(flat_x.size, dtype=bool)
        row_starts = np.cumsum(lens) - lens
        ring_ends = []
        for i, rl in enumerate(ring_lens):
            ends = np.cumsum(np.asarray(rl, np.int64)) if rl is not None and len(rl) else np.array([lens[i]])
            ring_ends.append(row_starts[i] + ends - 1)
        edge_mask[np.concatenate(ring_ends)] = False
        e1 = np.nonzero(edge_mask)[0]
        e2 = e1 + 1
        er = row[e1]
        x1, y1, x2, y2 = flat_x[e1], flat_y[e1], flat_x[e2], flat_y[e2]
        ppx = px.to_numpy(np.float64)[er]
        ppy = py.to_numpy(np.float64)[er]
        cond = (y1 > ppy) != (y2 > ppy)
        # over="ignore": near-horizontal edges overflow the division but a
        # huge xin still compares correctly — suppress the log flood
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xin = (x2 - x1) * (ppy - y1) / (y2 - y1) + x1
        crossing = cond & (ppx < xin)
        counts = np.bincount(er[crossing], minlength=n)
        return pd.Series(counts % 2 == 1)

    lens_col = F.col("ring_lens") if has_lens else F.array(F.size("xs"))
    return joined.filter(inside(F.col(lon), F.col(lat), F.col("xs"), F.col("ys"), lens_col))


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    res: int = DEFAULT_RES,
    broadcast_polys: bool | None = None,
    point_cols: tuple[str, ...] = ("image_id",),
    poly_cols: tuple[str, ...] = ("poly_id", "name"),
    exact: bool | str = "auto",
    salt: int | None = None,
    poly_stats: dict | None = None,
) -> DataFrame:
    """Return one row per (point, containing polygon).

    The planner reads one layer-stats table (plans.planner.layer_stats:
    polygons per fit level, their cover rows, all_rect) and derives every
    decision from it for THIS `res`: the cover level set, the broadcast
    decision from the exact cover-row count, and the refine. The table
    comes from `poly_stats` (plans.stats.stored_poly_stats), else from
    generation-time stats riding the DataFrame (datagen.polygons_df) — zero
    jobs either way — else from one aggregate over the polygon rows.

    broadcast_polys=None lets the planner decide; True/False forces it.
    exact='auto' (default) drops the ray-cast python stage when the layer
    is all axis-aligned rectangles (bbox refine is then already exact) —
    a plan rewrite, not an approximation. Pass True/False to force.
    `salt` (partitioned path only) spreads each hot cell over `salt`
    shuffle keys; the polygon side is duplicated per salt value, the point
    side picks pmod(xxhash64(point_cols), salt). Forcing broadcast_polys
    covers every polygon at `res`; with exact forced too, the plan builds
    with zero jobs."""
    from ..plans import planner

    stats = poly_stats
    if stats is None and (broadcast_polys is None or exact == "auto"):
        stats = planner.layer_stats(polygons)
    if exact == "auto":
        exact = not stats["all_rect"]
    if broadcast_polys is not None:
        levels = (res,)
    else:
        levels, n_cells = planner.cover_plan(stats, res)
        broadcast_polys = planner.should_broadcast(n_cells)
    # single select per side (r8): select-then-withColumn costs one extra
    # eagerly-analyzed Dataset op per side — fused into one projection
    # (~0.05 s/plan build; the flagship times plan construction)
    pts = points.select(*point_cols, lon, lat, _point_cells(lon, lat, levels).alias("cell"))
    geom_cols = ["xs", "ys", *_BOX]
    if "ring_lens" in polygons.columns:
        geom_cols.append("ring_lens")
    pcs = polygons
    if len(levels) > 1:
        # its own projection: cover_bbox reads the level ~20 times, and
        # Catalyst keeps a non-trivial column used that often computed once
        pcs = pcs.select(*poly_cols, *geom_cols, _cover_level(levels).alias("_lvl"))
    pcs = pcs.select(*poly_cols, *geom_cols, _cover_cells(levels).alias("cell"))

    if broadcast_polys:
        joined = pts.join(F.broadcast(pcs), "cell")
    elif salt and salt > 1:
        # shuffle_hash hint: the partitioned path exists for polygon sides
        # too big to broadcast; without the hint Catalyst would silently
        # re-broadcast small test layers and hide partitioned-path bugs
        salted_pts = pts.withColumn("salt", F.pmod(F.xxhash64(*point_cols), F.lit(salt)))
        salted_pcs = pcs.withColumn("salt", F.explode(F.array(*[F.lit(s) for s in range(salt)])))
        joined = salted_pts.join(salted_pcs.hint("shuffle_hash"), ["cell", "salt"]).drop("salt")
    else:
        joined = pts.join(pcs.hint("shuffle_hash"), "cell")

    # cheap bbox refine first (pure Catalyst, prunes before the UDF)
    joined = joined.filter(
        (F.col(lon) >= F.col("minx")) & (F.col(lon) <= F.col("maxx"))
        & (F.col(lat) >= F.col("miny")) & (F.col(lat) <= F.col("maxy"))
    )
    if exact:
        joined = _raycast_refine(joined, lon, lat)
    return joined.select(*point_cols, lon, lat, *poly_cols)

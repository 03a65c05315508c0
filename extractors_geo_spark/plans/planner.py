"""Planner functions — the engine's 'optimizer' choices that Catalyst
cannot make for us (SURVEY.md §4.2). PySpark cannot register Strategy
rules, so physical decisions are encoded as plan-emitting functions:

  * layer_stats / cover_plan — the polygon layer's size-adaptive cover:
                            which cell levels a pip_join at `res` uses and
                            how many cover rows that makes
  * should_broadcast      — broadcast-vs-partitioned spatial join
  * salt_factor           — salt hot cells from observed density (A5)
  * split_hot_cells       — adaptive cell-splitting: re-encode rows in hot
                            cells at finer resolution before joining

One density-driven table drives the polygon side. layer_stats returns,
per fit level (cells.fit_level: the finest level at which a polygon's
bbox spans at most 4 x 4 cells), the polygon count, their cover rows at
that level and the cover rows at that level of the polygons finer than
it, plus the row count and all_rect. The table does not depend on `res`,
so one copy serves a join at any resolution: cover_plan reads the level
set and the exact cover-row count off it with plain arithmetic. It
comes from one aggregate over the unexploded polygon rows, or with zero
jobs from generation-time stats (datagen.polygons_df, via
stats_from_bboxes) or stored stats (plans.stats).

Skew policy (measured, BENCH/SKEW.md): SALTING is the default hot-cell
mitigation — on polygon-sparse layers it beats adaptive splitting at
both measured scales (2.7x vs 1.3x at 2M, 3.7x vs 1.5x at 4M) and
costs no geometry re-encode. split_hot_cells owns a MEASURED niche:
hot cells densely packed with polygons (~1,000+ co-celled), where
finer cells REDUCE each point's candidate set instead of merely
spreading it — 6.2x vs salting's 3.3x at 3,200 polygons in one cell,
margin growing with density (r6 niche bench).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators import cells as _cells

BROADCAST_ROW_LIMIT = 2_000_000  # exploded polygon-cell rows; ~100 B/row → well under 32 MB


def should_broadcast(cover_rows: int, limit: int = BROADCAST_ROW_LIMIT) -> bool:
    """Is a polygon side of `cover_rows` exploded cover rows small enough
    to broadcast? Pure arithmetic: the count comes from cover_plan or a
    caller's hint (VERDICT r02 #10)."""
    return cover_rows <= limit


def _is_rect(polygons: DataFrame) -> Column:
    """True iff the row is an axis-aligned rectangle equal to its bbox —
    then the Catalyst bbox refine is already EXACT and the planner drops
    the ray-cast python stage from the PIP plan entirely.

    Rectangle test (no bowties): closed 5-point ring, xs/ys take exactly
    the two bbox values, each edge is axis-parallel (consecutive vertices
    differ in exactly one coordinate), and a single ring."""
    xs, ys = F.col("xs"), F.col("ys")
    axis_edges = None
    for i in range(1, 5):
        ex = F.element_at(xs, i) == F.element_at(xs, i + 1)
        ey = F.element_at(ys, i) == F.element_at(ys, i + 1)
        edge_ok = ex != ey  # exactly one coordinate changes... (xor)
        axis_edges = edge_ok if axis_edges is None else (axis_edges & edge_ok)
    is_rect = (
        (F.size(xs) == 5)
        & (F.element_at(xs, 1) == F.element_at(xs, 5))
        & (F.element_at(ys, 1) == F.element_at(ys, 5))
        & (F.array_min(xs) == F.col("minx")) & (F.array_max(xs) == F.col("maxx"))
        & (F.array_min(ys) == F.col("miny")) & (F.array_max(ys) == F.col("maxy"))
        & axis_edges
    )
    if "ring_lens" in polygons.columns:
        is_rect = is_rect & (F.col("ring_lens").isNull() | (F.size("ring_lens") <= 1))
    return is_rect


def layer_stats(polygons: DataFrame) -> dict:
    """The layer-stats table: generation-time stats riding the DataFrame
    (zero jobs), else ONE aggregate over the polygon rows, each repeated
    once per level up to its fit level (<= 30 small rows per polygon —
    the cover itself is never exploded). Returns {'by_level': 30 x
    [polygons fitting at L, their cover rows at L, cover rows at L of
    polygons fitting finer than L], 'rows', 'all_rect'}."""
    gen = getattr(polygons, "_egs_poly_stats", None)
    if gen is not None:
        return gen
    box = [F.col(c) for c in ("minx", "miny", "maxx", "maxy")]
    per = (polygons.select(*box, _is_rect(polygons).alias("rect"),
                           _cells.fit_level(*box).alias("fit"))
           .select("*", F.explode(F.sequence(F.lit(0), F.col("fit"))).alias("level")))
    own = F.col("level") == F.col("fit")
    n = _cells.cover_count(*box, F.col("level"))
    by = [[0, 0, 0] for _ in range(_cells.MAX_RES + 1)]
    all_rect = True
    for r in per.groupBy("level").agg(
            F.count(F.when(own, 1)).alias("n"), F.sum(F.when(own, n)).alias("fit_cells"),
            F.sum(F.when(~own, n)).alias("cap_cells"), F.min("rect").alias("rect")).collect():
        by[r["level"]] = [int(r["n"]), int(r["fit_cells"] or 0), int(r["cap_cells"] or 0)]
        all_rect = all_rect and r["rect"] is not False
    return {"by_level": by, "rows": sum(b[0] for b in by), "all_rect": all_rect}


def stats_from_bboxes(minx, miny, maxx, maxy, all_rect: bool) -> dict:
    """layer_stats' table computed in numpy from bbox arrays — the
    same numbers (cells.fit_level_np and cover_count_np are exact twins
    of the Catalyst expressions), zero jobs."""
    fit = _cells.fit_level_np(minx, miny, maxx, maxy)
    by = []
    for lvl in range(_cells.MAX_RES + 1):
        n = _cells.cover_count_np(minx, miny, maxx, maxy, lvl)
        own, finer = fit == lvl, fit > lvl
        by.append([int(own.sum()), int(n[own].sum()), int(n[finer].sum())])
    return {"by_level": by, "rows": int(fit.size), "all_rect": bool(all_rect)}


def cover_plan(stats: dict, res: int) -> tuple[tuple[int, ...], int]:
    """(levels, cover rows) of a pip_join at `res`: polygons fitting at a
    level below `res` cover there, the rest cover at `res`. The row count
    is exact, so the broadcast decision needs no probe. An empty layer
    plans the single level `res`."""
    by = stats["by_level"]
    levels = [lvl for lvl in range(res) if by[lvl][0]]
    if not levels or any(b[0] for b in by[res:]):
        levels.append(res)
    return tuple(levels), sum(b[1] for b in by[:res + 1]) + by[res][2]


def salt_factor(density: DataFrame | None,
                target_rows_per_task: int = 2_000_000,
                max_hint: int | None = None) -> int:
    """Pick a salt factor that caps the hottest cell at ~target rows per
    task. `max_hint` (the hottest-cell count, e.g. from
    plans.stats.stored_cell_stats) makes the decision pure arithmetic —
    ZERO Spark jobs; otherwise one aggregation over the per-cell density
    table (cells.cell_density output) probes it (r7, VERDICT r06 #5)."""
    if max_hint is None:
        row = density.agg(F.max("n").alias("mx")).collect()[0]
        max_hint = row["mx"] or 0
    return max(1, int((max_hint + target_rows_per_task - 1)
                      // target_rows_per_task))


def split_hot_cells(
    tagged: DataFrame,
    density: DataFrame,
    hot_threshold: int,
    lon: str = "lon",
    lat: str = "lat",
    levels: int = 1,
) -> DataFrame:
    """Adaptive cell-splitting (SURVEY.md §4.2 item 2): rows whose cell
    count exceeds `hot_threshold` are re-encoded `levels` resolutions
    finer (4^levels children — pick levels ~ log4(hot_count/target)).
    `density` must be keyed by `cell`. Returns the input with `cell`
    replaced for hot rows. Join with a polygon side that exploded its
    cover at BOTH resolutions (cells.cover_bbox at res and res+levels)."""
    hot = density.filter(F.col("n") > hot_threshold).select("cell", F.lit(True).alias("is_hot"))
    out = tagged.join(F.broadcast(hot), "cell", "left")
    res_plus = (F.col("cell") / F.lit(_cells.RES_SHIFT)).cast("int") + levels
    # cell_id needs a literal res; recompute from decoded res via expression:
    # new_cell = (res+levels)*SHIFT + iy2*YS + ix2 where ix2/iy2 derive from
    # lon/lat. Inlined to stay one Catalyst expression.
    n2 = F.pow(F.lit(2.0), res_plus).cast("long")  # exact for res <= 29
    ix2 = F.least(F.greatest(F.floor((F.col(lon) + F.lit(180.0)) / F.lit(360.0) * n2), F.lit(0)), n2 - 1).cast("long")
    iy2 = F.least(F.greatest(F.floor((F.lit(90.0) - F.col(lat)) / F.lit(180.0) * n2), F.lit(0)), n2 - 1).cast("long")
    finer = res_plus.cast("long") * F.lit(_cells.RES_SHIFT) + iy2 * F.lit(_cells.Y_SHIFT) + ix2
    return out.withColumn(
        "cell", F.when(F.col("is_hot"), finer).otherwise(F.col("cell"))
    ).drop("is_hot")

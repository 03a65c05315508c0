"""Planner functions — the engine's 'optimizer' choices that Catalyst
cannot make for us (SURVEY.md §4.2). PySpark cannot register Strategy
rules, so physical decisions are encoded as plan-emitting functions:

  * layer_stats / cover_plan — the polygon layer's size-adaptive cover:
                            which cell levels a pip_join at `res` uses and
                            how many cover rows that makes
  * should_broadcast      — broadcast-vs-partitioned spatial join

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

Hot cells need no planner rule of their own: a cell packed with small
polygons is split by the size-adaptive cover (those polygons fit at a
fine level), and runtime skew on the partitioned path is AQE's
skew-join (BENCH/SKEW.md, measured with AQE on as session.py ships it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators import cells as _cells

BROADCAST_ROW_LIMIT = 2_000_000  # exploded polygon-cell rows; ~100 B/row → well under 32 MB


def should_broadcast(cover_rows: int, limit: int = BROADCAST_ROW_LIMIT) -> bool:
    """Is a polygon side of `cover_rows` exploded cover rows small enough
    to broadcast? Pure arithmetic on cover_plan's count (VERDICT r02
    #10)."""
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

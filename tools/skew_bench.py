"""Skew-handling evidence: the default planner and the salted PIP join
on a pathologically hot cell vs the naive partitioned join.

Workload: N points with `hot_frac` of them inside ONE res-6 cell (a
"dense metro" x100), joined against a polygon layer. Three plans:

  naive       pip_join(broadcast_polys=False): shuffle on the res-6
              cell, AQE skew-join splits the hot reducer's partition
  salted      the same plus salt=16: hot cell spread over 16 shuffle keys
  planner     the default pip_join at res 14: the size-adaptive cover
              picks each polygon's level and the broadcast decision

The session is the engine's own (session.get_spark: AQE with skew-join
on, `SPARK_GRAFT_CPUS` threads). All three must return identical results
(asserted); wall times to BENCH/SKEW.md.

    SPARK_GRAFT_CPUS=4 python tools/skew_bench.py [N ...] [--niche-only]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from extractors_geo_spark import datagen  # noqa: E402
from extractors_geo_spark.operators import pip_join  # noqa: E402
from extractors_geo_spark.session import get_spark  # noqa: E402


def make_points(spark, n: int, hot_frac: float = 0.5):
    """hot points concentrated in one ~0.5deg square near Chicago."""
    base = spark.range(0, n, 1, 32)
    is_hot = F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100)) < int(hot_frac * 100)
    u1 = (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(10_000)) / 10_000.0)
    u2 = (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(10_000)) / 10_000.0)
    lon = F.when(is_hot, -87.9 + u1 * 0.5).otherwise(-124.0 + u1 * 57.0)
    lat = F.when(is_hot, 41.6 + u2 * 0.5).otherwise(25.0 + u2 * 24.0)
    return base.select(F.concat(F.lit("p"), F.col("id")).alias("image_id"),
                       lon.alias("lon"), lat.alias("lat"))


PLANNER_RES = 14
MODES = ("naive", "salted", "planner")


def run(spark, pts, polys, mode: str, res: int = 6) -> tuple[float, int]:
    t0 = time.time()
    if mode == "naive":
        out = pip_join.pip_join(pts, polys, broadcast_polys=False, res=res)
    elif mode == "salted":
        out = pip_join.pip_join(pts, polys, broadcast_polys=False, res=res, salt=16)
    elif mode == "planner":
        out = pip_join.pip_join(pts, polys, res=PLANNER_RES)
    n = out.count()
    return time.time() - t0, n


def make_dense_polys(spark, n_hot: int = 3200, n_cold: int = 50):
    """Small (~0.02 deg) square polygons: n_hot of them tiled inside the
    hot 0.5-deg metro square, n_cold scattered elsewhere. The regime
    where a res-6 cell holds THOUSANDS of polygons — candidate explosion
    that salting cannot reduce (it only spreads the same work)."""
    rng = np.random.default_rng(42)
    rows = []
    side = 0.02
    for i in range(n_hot):
        x0 = -87.9 + float(rng.uniform(0, 0.5 - side))
        y0 = 41.6 + float(rng.uniform(0, 0.5 - side))
        rows.append((f"h{i}", f"hot{i}",
                     [x0, x0 + side, x0 + side, x0, x0],
                     [y0, y0, y0 + side, y0 + side, y0],
                     x0, y0, x0 + side, y0 + side, {}))
    for i in range(n_cold):
        x0 = -120.0 + float(rng.uniform(0, 30.0))
        y0 = 28.0 + float(rng.uniform(0, 18.0))
        rows.append((f"c{i}", f"cold{i}",
                     [x0, x0 + side, x0 + side, x0, x0],
                     [y0, y0, y0 + side, y0 + side, y0],
                     x0, y0, x0 + side, y0 + side, {}))
    return spark.createDataFrame(rows, datagen.POLY_SCHEMA)


def bench(spark, n: int, polys) -> tuple[dict, dict]:
    """Min-of-2 wall seconds and row counts of every mode over `n` points."""
    pts = make_points(spark, n).cache()
    pts.count()
    polys = polys.cache()
    polys.count()
    run(spark, pts.limit(2000), polys, "naive")  # warm python pool
    results, counts = {}, {}
    for mode in MODES:
        best = 1e18
        for _ in range(2):
            sec, cnt = run(spark, pts, polys, mode)
            best = min(best, sec)
        results[mode], counts[mode] = best, cnt
    assert len(set(counts.values())) == 1, f"result mismatch: {counts}"
    pts.unpersist()
    polys.unpersist()
    return results, counts


def _table(results: dict, counts: dict) -> str:
    naive = results["naive"]
    return f"""
All three plans return identical row counts ({counts['naive']:,}).

| plan | wall s (min of 2) | speedup vs naive |
|---|---|---|
| naive partitioned join (res 6) | {naive:.2f} | 1.00x |
| salted (salt=16, res 6)        | {results['salted']:.2f} | {naive / results['salted']:.2f}x |
| planner (default, res {PLANNER_RES})     | {results['planner']:.2f} | {naive / results['planner']:.2f}x |
"""


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--niche-only"]
    niche_only = "--niche-only" in sys.argv[1:]
    scales = [int(a) for a in args] or [2_000_000, 4_000_000]
    spark = get_spark(app_name="skew_bench")
    cpus = spark.sparkContext.defaultParallelism
    niche = bench(spark, 1_000_000, make_dense_polys(spark))
    if niche_only:
        print(json.dumps({"niche": {"seconds": niche[0], "rows": niche[1]["naive"]}}))
        spark.stop()
        return
    out = {n: bench(spark, n, datagen.polygons_df(spark)) for n in scales}
    layer = "".join(f"\n## 50-polygon layer: {n:,} points\n{_table(*out[n])}" for n in scales)
    md = f"""# BENCH/SKEW — hot-cell evidence

Generated by `tools/skew_bench.py` on {cpus} local cores with the
engine's session settings (AQE on, skew-join and partition coalescing
enabled). 50% of the points sit inside ONE res-6 geocell (dense-metro
x100). `naive` and `salted` force the partitioned join at res 6, where
the hot cell is one shuffle key; `planner` is the default `pip_join` at
res {PLANNER_RES}, where the size-adaptive cover picks each polygon's
level and the broadcast decision.

## The hot cell dense with polygons: 1,000,000 points

3,200 small (~0.02 deg) polygons packed inside the hot res-6 cell, plus
50 elsewhere. At res 6 every hot point pairs with all ~3,200 co-celled
polygons; salting and AQE's skew split only spread that work over more
tasks. The planner covers each small polygon at its own fine level, so
a hot point meets only the few polygons of its fine cell.
{_table(*niche)}{layer}"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "SKEW.md"), "w") as f:
        f.write(md)
    print(md)
    print(json.dumps({"niche": {"seconds": niche[0], "rows": niche[1]["naive"]},
                      **{str(n): {"seconds": out[n][0], "rows": out[n][1]["naive"]}
                         for n in scales}}))
    spark.stop()


if __name__ == "__main__":
    main()

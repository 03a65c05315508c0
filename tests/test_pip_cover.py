"""Size-adaptive multi-level cover of pip_join: brute-force equivalence on
mixed-size layers, the planner's job budget, res-independent stored stats,
and the numpy twins of the Catalyst cover arithmetic."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from extractors_geo_spark import datagen
from extractors_geo_spark.operators import cells, pip_join
from extractors_geo_spark.plans import planner, stats
from extractors_geo_spark.sources.snapshot_table import SnapshotTable

BOX = ("minx", "miny", "maxx", "maxy")


def _ring(x0, y0, x1, y1, skew=0.0):
    """Closed 5-point quad; skew > 0 pulls one corner in (not a rectangle)."""
    return [x0, x1 - skew * (x1 - x0), x1, x0, x0], [y0, y0, y1, y1, y0]


def _mixed_layer(seed=4):
    """Quads from 0.001 to 40 degrees plus the edge cases: an
    antimeridian-wrapping bbox, zero-width and zero-height boxes, the
    whole world, and a polygon with a hole (ring_lens)."""
    rng = np.random.default_rng(seed)
    rows = []

    def add(xs, ys, lens=None, box=None):
        mnx, mny, mxx, mxy = box or (min(xs), min(ys), max(xs), max(ys))
        rows.append({"poly_id": len(rows), "xs": [float(v) for v in xs],
                     "ys": [float(v) for v in ys], "minx": float(mnx), "miny": float(mny),
                     "maxx": float(mxx), "maxy": float(mxy), "ring_lens": lens})

    for size in (0.001, 0.01, 0.05, 0.3, 1.0, 4.0, 15.0, 40.0):
        for _ in range(4):
            x0 = rng.uniform(-170, 170 - size)
            y0 = rng.uniform(-80, 80 - size)
            add(*_ring(x0, y0, x0 + size, y0 + size * rng.uniform(0.5, 1.5), skew=0.3))
    xs, ys = _ring(170.0, -5.0, 190.0, 5.0)
    add([x if x <= 180 else x - 360 for x in xs], ys, box=(170.0, -5.0, -170.0, 5.0))
    add([12.5] * 5, [1.0, 1.0, 3.0, 3.0, 1.0])  # zero width
    add([20.0, 24.0, 24.0, 20.0, 20.0], [-7.0] * 5)  # zero height
    add(*_ring(-180.0, -90.0, 180.0, 90.0))  # the world
    ox, oy = _ring(-60.0, -20.0, -50.0, -10.0)
    hx, hy = _ring(-57.0, -17.0, -53.0, -13.0)
    add(ox + hx, oy + hy, lens=[5, 5])
    return pd.DataFrame(rows)


def _niche_layer(seed=6):
    """The hot-cell niche: 400 squares of 0.02 degrees packed into a
    0.5-degree metro square inside ONE res-6 cell, next to large quads."""
    rng = np.random.default_rng(seed)
    rows = []
    for x0, y0 in zip(rng.uniform(-87.9, -87.42, 400), rng.uniform(41.6, 42.08, 400)):
        xs, ys = _ring(x0, y0, x0 + 0.02, y0 + 0.02)
        rows.append((xs, ys))
    for x0, y0, size in ((-95.0, 35.0, 10.0), (-89.0, 40.0, 4.0), (-120.0, 20.0, 30.0),
                         (10.0, -40.0, 60.0), (100.0, 10.0, 2.5)):
        rows.append(_ring(x0, y0, x0 + size, y0 + size * 0.8, skew=0.3))
    return pd.DataFrame([{"poly_id": i, "xs": [float(v) for v in xs], "ys": [float(v) for v in ys],
                          "minx": min(xs), "miny": min(ys), "maxx": max(xs), "maxy": max(ys),
                          "ring_lens": None} for i, (xs, ys) in enumerate(rows)])


def _mixed_points(layer, seed=5, n=1500):
    rng = np.random.default_rng(seed)
    lon = [rng.uniform(-180, 180, n // 3)]
    lat = [rng.uniform(-90, 90, n // 3)]
    for r in layer.itertuples():  # points in and around every bbox
        w = (r.maxx - r.minx) % 360 or 0.01
        h = (r.maxy - r.miny) or 0.01
        lon.append(r.minx + rng.uniform(-0.2, 1.2, 25) * w)
        lat.append(r.miny + rng.uniform(-0.2, 1.2, 25) * h)
    lon.append(np.array([12.5, 12.5, 22.0, 179.9, -179.9, 175.0]))
    lat.append(np.array([2.0, 0.5, -7.0, 0.0, 0.0, 1.0]))
    lon = ((np.concatenate(lon) + 180.0) % 360.0) - 180.0
    lat = np.clip(np.concatenate(lat), -90.0, 90.0)
    return pd.DataFrame({"image_id": np.arange(lon.size), "lon": lon, "lat": lat})


def _oracle(pts, layer):
    """pip_join's semantics in numpy: inside the bbox and an odd number of
    ray crossings over all rings (edges never bridge two rings)."""
    px, py = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    out = set()
    for r in layer.itertuples():
        xs, ys = np.asarray(r.xs), np.asarray(r.ys)
        lens = r.ring_lens if r.ring_lens is not None else [len(xs)]
        ends = np.cumsum(lens)
        e1 = np.array([i for s, e in zip(ends - np.asarray(lens), ends) for i in range(s, e - 1)])
        x1, y1, x2, y2 = xs[e1], ys[e1], xs[e1 + 1], ys[e1 + 1]
        cond = (y1[None] > py[:, None]) != (y2[None] > py[:, None])
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xin = (x2 - x1)[None] * (py[:, None] - y1[None]) / (y2 - y1)[None] + x1[None]
        inside = (cond & (px[:, None] < xin)).sum(axis=1) % 2 == 1
        inside &= (px >= r.minx) & (px <= r.maxx) & (py >= r.miny) & (py <= r.maxy)
        out |= {(int(i), int(r.poly_id)) for i in pts["image_id"].to_numpy()[inside]}
    return out


POLY_DDL = ("poly_id long, xs array<double>, ys array<double>, minx double, miny double, "
            "maxx double, maxy double, ring_lens array<int>")


def _layer_case(spark, layer):
    pts = _mixed_points(layer)
    polys = spark.createDataFrame(layer, POLY_DDL).cache()
    points = spark.createDataFrame(pts).cache()
    return layer, pts, polys, points, _oracle(pts, layer)


@pytest.fixture(scope="module")
def mixed(spark):
    return _layer_case(spark, _mixed_layer())


@pytest.fixture(scope="module")
def niche(spark):
    return _layer_case(spark, _niche_layer())


def _pairs(df):
    return {(r["image_id"], r["poly_id"]) for r in df.collect()}


@pytest.mark.parametrize("case,res", [
    pytest.param("mixed", 0, id="0"), pytest.param("mixed", 6, id="6"),
    pytest.param("mixed", 13, id="13"), pytest.param("mixed", 20, id="20"),
    pytest.param("niche", 6, id="niche-6"), pytest.param("niche", 14, id="niche-14")])
def test_multilevel_cover_matches_brute_force(request, case, res):
    layer, _, polys, points, want = request.getfixturevalue(case)
    assert want  # the layer is not vacuous
    got = _pairs(pip_join.pip_join(points, polys, res=res, poly_cols=("poly_id",)))
    assert got == want
    levels, _ = planner.cover_plan(planner.layer_stats(polys), res)
    if case == "mixed" and res >= 13:
        assert len(levels) > 2  # the mixed sizes really spread over levels
    if case == "niche":
        small = layer.iloc[:400]
        col6 = np.floor((small[["minx", "maxx"]].to_numpy() + 180.0) / 360.0 * 64)
        row6 = np.floor((90.0 - small[["miny", "maxy"]].to_numpy()) / 180.0 * 64)
        assert np.unique(col6).size == 1 and np.unique(row6).size == 1  # one hot res-6 cell
        if res == 14:
            # the small squares cover at res 14, the large quads coarser
            assert levels[-1] == 14 and levels[0] <= 6


def test_salted_partitioned_path_matches_brute_force(mixed):
    _, _, polys, points, want = mixed
    got = _pairs(pip_join.pip_join(points, polys, res=6, poly_cols=("poly_id",),
                                   broadcast_polys=False, salt=4))
    assert got == want


@pytest.mark.parametrize("forced", [(1,), (2, 13), (0, 5, 9, 11, 13), (7, 8, 13)])
def test_level_set_mismatch_keeps_every_pair(mixed, monkeypatch, forced):
    """Whatever level set the planner chooses, the JVM snaps each polygon
    onto one of its levels, so every polygon covers at a level the point
    side is tagged at and no pair is lost."""
    _, _, polys, points, want = mixed
    box = [F.col(c) for c in BOX]
    fits = {r[0] for r in polys.select(cells.fit_level(*box)).collect()}
    assert fits - set(forced)  # the JVM's fit levels really disagree
    monkeypatch.setattr(planner, "cover_plan", lambda st, res: (forced, 0))
    got = _pairs(pip_join.pip_join(points, polys, res=13, poly_cols=("poly_id",)))
    assert got == want
    cover = (polys.select(*BOX, pip_join._cover_level(forced).alias("_lvl"))
             .select(pip_join._cover_cells(forced).alias("cell")))
    used = {int(r[0]) // cells.RES_SHIFT for r in cover.distinct().collect()}
    assert used <= set(forced)


def _plan_jobs(spark, build):
    """Spark jobs started while `build()` constructs a plan, with the call
    sites of their stages."""
    sc = spark.sparkContext
    sc.setJobGroup("plan-build", "pip_join plan build")
    try:
        build()
    finally:
        sc.setJobGroup(None, None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("plan-build")
    sites = {st.getStageInfo(s).name for j in jobs for s in st.getJobInfo(j).stageIds}
    return jobs, sites


def test_plan_build_job_budget(spark, mixed, tmp_path):
    _, pts, polys, points, _ = mixed
    gen = datagen.polygons_df(spark)
    t = SnapshotTable(spark, str(tmp_path / "layer"))
    stats.ingest_with_stats(t, polys)
    stored = stats.stored_poly_stats(t)
    for build in (
        lambda: pip_join.pip_join(points, gen, res=13),
        lambda: pip_join.pip_join(points, polys, res=13, poly_cols=("poly_id",), poly_stats=stored),
        lambda: pip_join.pip_join(points, polys, res=13, poly_cols=("poly_id",),
                                  broadcast_polys=True, exact=True),
    ):
        jobs, _ = _plan_jobs(spark, build)
        assert len(jobs) == 0
    # no stats: exactly the one planner aggregate, never a cover count
    jobs, sites = _plan_jobs(spark, lambda: pip_join.pip_join(
        points, polys, res=13, poly_cols=("poly_id",)))
    assert jobs and len(sites) == 1
    (site,) = sites
    assert site.startswith("collect at") and "planner.py" in site


def _no_ids(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "", plan)


def test_stored_stats_plan_any_res_like_the_aggregate(spark, mixed, tmp_path):
    _, _, polys, points, _ = mixed
    t = SnapshotTable(spark, str(tmp_path / "layer7"))
    stats.ingest_with_stats(t, polys)
    stored = stats.stored_poly_stats(t)
    agg = planner.layer_stats(polys)
    for res in (3, 13):
        assert planner.cover_plan(stored, res) == planner.cover_plan(agg, res)
        a = pip_join.pip_join(points, polys, res=res, poly_cols=("poly_id",), poly_stats=stored)
        b = pip_join.pip_join(points, polys, res=res, poly_cols=("poly_id",))
        assert _no_ids(a) == _no_ids(b)
    # the exact cover-row count: what the multi-level cover explodes to
    levels, n = planner.cover_plan(stored, 13)
    cover = (polys.select(*BOX, pip_join._cover_level(levels).alias("_lvl"))
             .select(pip_join._cover_cells(levels)))
    assert cover.count() == n


def test_old_format_stored_stats_fall_back(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "old"))
    df = spark.createDataFrame(_mixed_layer(), POLY_DDL)
    t.append(df, summary_extra={stats.POLY_STATS_KEY:
                                {"res": 7, "poly_cells": 123, "all_rect": False}})
    assert stats.stored_poly_stats(t) is None


def test_gen_stats_equal_the_aggregate(spark):
    """datagen's generation-time stats are the planner aggregate's numbers."""
    layer = _mixed_layer()
    df = spark.createDataFrame(layer, POLY_DDL)
    assert datagen._poly_gen_stats(layer) == planner.layer_stats(df)


def test_cover_count_np_wraps_the_antimeridian(spark):
    boxes = [(170.0, -5.0, -170.0, 5.0), (179.0, 0.0, -179.0, 1.0), (10.1, 0.0, 10.0, 1.0)]
    df = spark.createDataFrame(boxes, ", ".join(f"{c} double" for c in BOX))
    arr = np.array(boxes).T
    for res in (1, 5, 9):
        want = [r[0] for r in df.select(F.size(cells.cover_bbox(*[F.col(c) for c in BOX], res))).collect()]
        assert list(cells.cover_count_np(*arr, res)) == want
    assert cells.cover_count_np(*arr, 5)[0] == 2 * 2  # two columns across ±180, two rows


def test_gen_stats_ring_lens_is_not_a_rectangle(spark):
    """A 5-point rectangular outer ring with a second ring is not a
    rectangle: the bbox refine would keep points in the hole."""
    xs, ys = _ring(0.0, 0.0, 1.0, 1.0)

    def layer(lens):
        return pd.DataFrame([{"poly_id": 0, "xs": xs, "ys": ys, "minx": 0.0, "miny": 0.0,
                              "maxx": 1.0, "maxy": 1.0, "ring_lens": lens}])

    assert datagen._poly_gen_stats(layer([5, 5]))["all_rect"] is False
    assert planner.layer_stats(spark.createDataFrame(layer([5, 5]), POLY_DDL))["all_rect"] is False
    assert datagen._poly_gen_stats(layer([5]))["all_rect"] is True


def test_fit_level_twins_agree_and_never_throw(spark):
    """fit_level and fit_level_np agree on every box, including zero
    spans, wraps and exact powers of two (ANSI mode is on)."""
    rng = np.random.default_rng(9)
    n = 2000
    minx = rng.uniform(-180, 180, n)
    miny = rng.uniform(-90, 90, n)
    maxx = minx + 10 ** rng.uniform(-6, 2.5, n)
    maxx = np.where(maxx > 180, maxx - 360, maxx)
    maxy = np.minimum(miny + 10 ** rng.uniform(-6, 2.2, n), 90)
    maxx[:4], maxy[4:12] = minx[:4], miny[4:12]
    minx[8:12] = -170.0
    maxx[8:12] = minx[8:12] + 1080.0 / 2.0 ** np.arange(3, 7)  # w * 2^k == 3 * 360, exactly
    arr = np.stack([minx, miny, maxx, maxy])
    df = spark.createDataFrame(pd.DataFrame(dict(zip(BOX, arr))))
    got = [r[0] for r in df.select(cells.fit_level(*[F.col(c) for c in BOX])).collect()]
    want = cells.fit_level_np(*arr)
    assert got == list(want)
    assert list(want[8:12]) == [2, 3, 4, 5]


def test_small_layer_at_its_fit_level_keeps_the_single_level_plan(spark):
    """The 50-quad datagen layer fits at level 6, so the default res-6 join
    is the classic single-level plan: points tagged once (no Generate on
    the point side) into one BroadcastHashJoin."""
    polys = datagen.polygons_df(spark)
    pts = spark.createDataFrame([("a", "c", 1, -100.0, 40.0)],
                                "image_id string, caption string, phash long, lon double, lat double")
    j = pip_join.pip_join(pts, polys, point_cols=("image_id", "caption", "phash"),
                          poly_cols=("poly_id", "name"))
    plan = j._jdf.queryExecution().sparkPlan()

    def walk(node):
        yield node
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    joins = [n for n in walk(plan) if n.nodeName() == "BroadcastHashJoin"]
    assert len(joins) == 1
    assert not [n for n in walk(joins[0].children().apply(0)) if n.nodeName() == "Generate"]

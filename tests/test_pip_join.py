"""PIP join vs brute-force double loop (SURVEY.md §5 item 4) across all
physical variants: broadcast, partitioned, salted."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from extractors_geo_spark.functions import geo
from extractors_geo_spark.operators import cells, extract_meta, pip_join
from extractors_geo_spark.plans import planner


@pytest.fixture(scope="module")
def points(spark, images_small):
    return (
        extract_meta.valid_meta(extract_meta.extract_meta(images_small, with_stats=False))
        .select("image_id", "lon", "lat")
        .cache()
    )


@pytest.fixture(scope="module")
def expected_pairs(points, polygons):
    pts = points.collect()
    pls = polygons.collect()
    exp = set()
    for p in pts:
        for q in pls:
            ring = np.array(list(zip(q["xs"], q["ys"])))
            if geo.point_in_ring_np(np.array([p["lon"]]), np.array([p["lat"]]), ring)[0]:
                exp.add((p["image_id"], q["poly_id"]))
    return exp


def _pairs(df):
    return {(r["image_id"], r["poly_id"]) for r in df.collect()}


def test_broadcast_variant(points, polygons, expected_pairs):
    got = _pairs(pip_join.pip_join(points, polygons, broadcast_polys=True))
    assert got == expected_pairs


def test_partitioned_variant(points, polygons, expected_pairs):
    got = _pairs(pip_join.pip_join(points, polygons, broadcast_polys=False))
    assert got == expected_pairs


def test_salted_variant(points, polygons, expected_pairs):
    got = _pairs(pip_join.pip_join(points, polygons, broadcast_polys=False, salt=4))
    assert got == expected_pairs


def test_every_point_in_exactly_one_polygon(points, polygons):
    out = pip_join.pip_join(points, polygons)
    counts = out.groupBy("image_id").count().select(F.collect_set("count").alias("s")).first()["s"]
    assert counts == [1]  # the jittered lattice partitions CONUS


def test_resolution_invariance(points, polygons, expected_pairs):
    for res in (4, 8):
        got = _pairs(pip_join.pip_join(points, polygons, res=res))
        assert got == expected_pairs


def test_planner_broadcast_decision(points, polygons):
    # the planner decides on the exact exploded cover-row count
    levels, n = planner.cover_plan(planner.layer_stats(polygons), pip_join.DEFAULT_RES)
    assert levels == (pip_join.DEFAULT_RES,)
    box = [F.col(c) for c in ("minx", "miny", "maxx", "maxy")]
    assert n == polygons.select(F.explode(cells.cover_bbox(*box, pip_join.DEFAULT_RES))).count()
    assert planner.should_broadcast(n) is True
    assert planner.should_broadcast(n, limit=3) is False

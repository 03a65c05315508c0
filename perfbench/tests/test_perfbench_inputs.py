"""Seeded inputs and the brute-force oracle (no Spark session needed)."""

import numpy as np
import pandas as pd
import pytest

from extractors_geo_spark import tiff
from perfbench import inputs, oracle


def _spatial(seed):
    layer, hot = inputs.tract_polygons(seed, 6)
    return layer, inputs.points(seed, 500, hot), inputs.queries(seed, 20, hot, 0.25)


def test_same_seed_gives_identical_inputs():
    a = inputs.image_rows(inputs.image_window(7, 40), 16)
    b = inputs.image_rows(inputs.image_window(7, 40), 16)
    assert inputs.frame_digest(a) == inputs.frame_digest(b)
    for x, y in zip(_spatial(7), _spatial(7)):
        assert inputs.frame_digest(x) == inputs.frame_digest(y)


def test_different_seed_gives_different_inputs():
    a = inputs.image_rows(inputs.image_window(7, 40), 16)
    b = inputs.image_rows(inputs.image_window(8, 40), 16)
    assert not set(a["image_id"]) & set(b["image_id"])
    assert inputs.frame_digest(a) != inputs.frame_digest(b)
    for x, y in zip(_spatial(7), _spatial(8)):
        assert inputs.frame_digest(x) != inputs.frame_digest(y)


def test_image_truth_matches_the_mix():
    df = inputs.image_rows(inputs.image_window(3, 400), 16)
    valid = df["valid"].mean()
    assert 0.85 < valid < 0.95  # ~90% georeferenced GeoTIFFs
    assert not df.loc[df["fmt"] != "tiff", "valid"].any()
    arr = np.zeros((4, 4))
    assert inputs.has_geokeys(tiff.write_geotiff(arr, epsg=4326))
    assert not inputs.has_geokeys(tiff.write_geotiff(arr, epsg=None))


def test_tract_layer_partitions_conus():
    layer, hot = inputs.tract_polygons(5, 8)
    assert len(layer) == inputs.COARSE_NX * inputs.COARSE_NY - 1 + 64
    pts = inputs.points(5, 400, hot)
    hits, near = oracle.containing(pts["lon"], pts["lat"], layer)
    assert all(len(h) == 1 for h, n in zip(hits, near) if not n)
    fine = layer["maxx"] - layer["minx"] < 0.1
    assert fine.sum() == 64


def test_oracle_containment_and_tiles():
    sq = pd.DataFrame({"xs": [[0.0, 1.0, 1.0, 0.0, 0.0]], "ys": [[0.0, 0.0, 1.0, 1.0, 0.0]],
                       "minx": [0.0], "miny": [0.0], "maxx": [1.0], "maxy": [1.0]})
    hits, near = oracle.containing([0.5, 2.0, 1.0], [0.5, 0.5, 0.5], sq)
    assert hits[:2] == [[0], []] and list(near) == [False, False, True]
    tiles, amb = oracle.footprint_tiles([0.1, 0.008], [0.005, 0.5], 0.008, (1,))
    assert tiles[0] == {(1, 1, 0), (1, 1, 1)}  # straddles the equator
    assert list(amb) == [False, True]  # the second box starts on the meridian


def test_oracle_knn_ranks_by_distance_then_id():
    tid = np.arange(5)
    tlon = np.array([0.0, 0.001, 0.001, 0.002, 0.5])
    tlat = np.zeros(5)
    (ids, d, n, covered, glob), = oracle.knn(np.array([0.0]), np.array([0.0]), tid, tlon, tlat,
                                              k=3, res=12, ring=1)
    assert ids == [0, 1, 2] and glob == [0, 1, 2] and covered and n == 4
    assert d[1] == d[2]


def test_any_seed_gives_ids_the_generator_accepts():
    # the generator packs an id into 32 bits; a large seed must not pass it
    w = inputs.image_window(2**40 + 7, 300)
    assert w.stop <= 2**32
    assert len(inputs.image_rows(w, 8)) == 300
    assert inputs.image_window(3, 10) != inputs.image_window(4, 10)


def test_seed_must_be_non_negative():
    with pytest.raises(ValueError):
        inputs.image_window(-1, 10)


@pytest.mark.parametrize("seed,fine", [(1, 16), (2, 16), (9, 6)])
def test_tract_layer_takes_the_partitioned_join_path(seed, fine):
    """spatial_skew's res is chosen so the layer's bbox cover exceeds the
    planner's broadcast limit at every seed and at both scales."""
    from extractors_geo_spark.plans import planner
    from perfbench.workloads import Sizes

    layer, _ = inputs.tract_polygons(seed, fine)
    n = 1 << Sizes().pip_res

    def ix(lon):
        return np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1)

    def iy(lat):
        return np.clip(np.floor((90.0 - lat) / 180.0 * n), 0, n - 1)

    cover = (ix(layer["maxx"]) - ix(layer["minx"]) + 1) * (iy(layer["miny"]) - iy(layer["maxy"]) + 1)
    assert cover.sum() > 1.05 * planner.BROADCAST_ROW_LIMIT

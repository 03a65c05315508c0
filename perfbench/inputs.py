"""Seeded benchmark inputs: every table is a pure function of (seed, size).

* Image+caption rows come from the package's own generator
  (``datagen.make_image_row``): ~90% GeoTIFF (82% EPSG:4326, 8% UTM), 4%
  non-geo TIFF rejects, 6% png/jpeg, 20% of centroids in three metros.
  The seed selects an id window; seeds that differ modulo ID_WINDOWS
  select disjoint windows, so they never share a row.
* The point table, the tract-like polygon layer and the kNN queries are
  drawn here from ``numpy.random.default_rng([seed, stream])``.

Ground truth for the output checks is taken from the generators, never
from the engine: validity from the TIFF's own GeoKey tag, the centroid
from the generator's centroid draw.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd

from extractors_geo_spark import datagen

ID_WINDOW = 10_000  # ids per seed; sizes stay below it
# The generator packs an image's id into 32 bits (the png rows' header),
# so every window lies below 2**32 and the seed picks one modulo their count.
ID_WINDOWS = 2**32 // ID_WINDOW
CONUS = datagen.CONUS

# One hot metro (Chicago) holds half the points of the spatial workload.
# Its location is fixed so every seed has the same skew shape; the seed
# moves the points, the polygon jitter and the queries.
HOT_CENTER = (-87.63, 41.88)
COARSE_NX, COARSE_NY = 116, 49  # ~0.5 degree tracts over CONUS

TRUTH_COLS = ("valid", "true_lon", "true_lat")


def image_window(seed: int, n: int) -> range:
    if seed < 0:
        raise ValueError("seed must be >= 0")
    if n > ID_WINDOW:
        raise ValueError(f"at most {ID_WINDOW} images per seed")
    start = seed % ID_WINDOWS * ID_WINDOW
    return range(start, start + n)


def has_geokeys(data: bytes) -> bool:
    """True iff `data` is a little-endian classic TIFF whose first IFD
    carries a GeoKeyDirectory (tag 34735) — what makes a raster
    georeferenced, read without the engine's decoder."""
    if len(data) < 8 or data[:4] != b"II*\x00":
        return False
    off = struct.unpack_from("<I", data, 4)[0]
    n = struct.unpack_from("<H", data, off)[0]
    return any(struct.unpack_from("<H", data, off + 2 + 12 * k)[0] == 34735
               for k in range(n))


def image_rows(ids, px: int) -> pd.DataFrame:
    """Image rows for `ids` plus the truth columns of TRUTH_COLS."""
    rows = [datagen.make_image_row(int(i), px) for i in ids]
    df = pd.DataFrame(rows, columns=datagen.IMAGE_SCHEMA.fieldNames())
    cents = [datagen._centroid(int(i)) for i in ids]
    df["valid"] = [f == "tiff" and has_geokeys(b) for f, b in zip(df["fmt"], df["bytes"])]
    df["true_lon"] = [c[0] for c in cents]
    df["true_lat"] = [c[1] for c in cents]
    return df


def image_table_schema():
    from pyspark.sql import types as T

    return T.StructType(
        datagen.IMAGE_SCHEMA.fields
        + [T.StructField("valid", T.BooleanType()),
           T.StructField("true_lon", T.DoubleType()),
           T.StructField("true_lat", T.DoubleType())])


def image_frame(spark, seed: int, n: int, px: int, parts: int):
    """Distributed `image_rows` over the seed's id window (with truth)."""
    w = image_window(seed, n)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield image_rows(b["id"].tolist(), px)

    return spark.range(w.start, w.stop, 1, parts).mapInPandas(gen, image_table_schema())


def removed_ids(seed: int, ids: list[str], frac: float = 0.05) -> list[str]:
    """The seeded ~`frac` share of image ids that get a 'removed' event."""
    rng = np.random.default_rng([seed, 3])
    pick = rng.random(len(ids)) < frac
    return [i for i, p in zip(ids, pick) if p]


# ----------------------------------------------------------------- spatial
def _hot_cell(gx: np.ndarray, gy: np.ndarray) -> tuple[int, int]:
    ix = int(np.searchsorted(gx, HOT_CENTER[0]) - 1)
    iy = int(np.searchsorted(gy, HOT_CENTER[1]) - 1)
    return ix, iy


def _quad(X, Y, iy, ix):
    xs = [X[iy, ix], X[iy, ix + 1], X[iy + 1, ix + 1], X[iy + 1, ix], X[iy, ix]]
    ys = [Y[iy, ix], Y[iy, ix + 1], Y[iy + 1, ix + 1], Y[iy + 1, ix], Y[iy, ix]]
    return [float(v) for v in xs], [float(v) for v in ys]


def _jittered_lattice(gx, gy, rng, frac, pinned=()):
    """Lattice nodes moved by up to `frac` of the pitch; the outer ring and
    the `pinned` (iy, ix) nodes stay put, so shared vertices keep the
    quads a gap-free, overlap-free tiling."""
    X, Y = np.meshgrid(gx, gy)
    jx = (rng.random(X.shape) - 0.5) * frac * (gx[1] - gx[0])
    jy = (rng.random(Y.shape) - 0.5) * frac * (gy[1] - gy[0])
    jx[:, 0] = jx[:, -1] = jx[0, :] = jx[-1, :] = 0.0
    jy[:, 0] = jy[:, -1] = jy[0, :] = jy[-1, :] = 0.0
    for iy, ix in pinned:
        jx[iy, ix] = jy[iy, ix] = 0.0
    return X + jx, Y + jy


def tract_polygons(seed: int, fine: int) -> tuple[pd.DataFrame, tuple[float, float, float, float]]:
    """A tract-like layer that partitions CONUS: a jittered ~0.5 degree
    lattice, with the lattice cell holding the hot metro replaced by a
    `fine` x `fine` jittered sub-lattice. The hot cell's corners are
    pinned, so its edges are axis-parallel and the sub-lattice's border
    nodes lie exactly on them. Returns (layer, hot cell bbox)."""
    rng = np.random.default_rng([seed, 1])
    minx, miny, maxx, maxy = CONUS
    gx = np.linspace(minx, maxx, COARSE_NX + 1)
    gy = np.linspace(miny, maxy, COARSE_NY + 1)
    hx, hy = _hot_cell(gx, gy)
    corners = [(hy, hx), (hy, hx + 1), (hy + 1, hx), (hy + 1, hx + 1)]
    X, Y = _jittered_lattice(gx, gy, rng, 0.5, pinned=corners)
    rings = [_quad(X, Y, iy, ix)
             for iy in range(COARSE_NY) for ix in range(COARSE_NX)
             if (iy, ix) != (hy, hx)]
    hot = (float(gx[hx]), float(gy[hy]), float(gx[hx + 1]), float(gy[hy + 1]))
    fx = np.linspace(hot[0], hot[2], fine + 1)
    fy = np.linspace(hot[1], hot[3], fine + 1)
    FX, FY = _jittered_lattice(fx, fy, rng, 0.5)
    rings += [_quad(FX, FY, iy, ix) for iy in range(fine) for ix in range(fine)]
    layer = pd.DataFrame({
        "poly_id": np.arange(len(rings), dtype=np.int64),
        "xs": [r[0] for r in rings],
        "ys": [r[1] for r in rings],
    })
    layer["minx"] = [min(v) for v in layer["xs"]]
    layer["miny"] = [min(v) for v in layer["ys"]]
    layer["maxx"] = [max(v) for v in layer["xs"]]
    layer["maxy"] = [max(v) for v in layer["ys"]]
    return layer, hot


def _uniform_with_hot(rng, n: int, hot_frac: float, hot) -> tuple[np.ndarray, np.ndarray]:
    is_hot = rng.random(n) < hot_frac
    lon = np.where(is_hot, rng.uniform(hot[0], hot[2], n), rng.uniform(CONUS[0], CONUS[2], n))
    lat = np.where(is_hot, rng.uniform(hot[1], hot[3], n), rng.uniform(CONUS[1], CONUS[3], n))
    return lon, lat


def points(seed: int, n: int, hot, hot_frac: float = 0.5) -> pd.DataFrame:
    """Decoded point table: `hot_frac` of the points inside the hot cell."""
    lon, lat = _uniform_with_hot(np.random.default_rng([seed, 2]), n, hot_frac, hot)
    return pd.DataFrame({"point_id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat})


def queries(seed: int, n: int, hot, hot_frac: float) -> pd.DataFrame:
    lon, lat = _uniform_with_hot(np.random.default_rng([seed, 4]), n, hot_frac, hot)
    return pd.DataFrame({"query_id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat})


def frame_digest(df: pd.DataFrame) -> str:
    """Order-sensitive content hash of a generated frame (bytes, ragged
    list and scalar columns alike)."""
    h = hashlib.sha256()
    for c in df.columns:
        h.update(c.encode())
        for v in df[c]:
            if isinstance(v, (bytes, bytearray)):
                h.update(v)
            elif isinstance(v, (list, np.ndarray)):
                h.update(np.asarray(v, np.float64).tobytes())
            else:
                h.update(repr(v).encode())
    return h.hexdigest()

"""Brute-force reference computations for the output checks (numpy only).

Nothing here calls the engine: containment is an even-odd ray cast over
every polygon whose bbox holds the point, tiles use the slippy-map
formula, and kNN ranks every target. Positions closer than EPS to a
polygon edge or a tile border are reported as ambiguous and left out of
exact comparisons, because the engine derives them through other float
paths (GeoTIFF decode, UTM round trip, JVM trigonometry).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EPS = 1e-7  # degrees (~1 cm)
KNN_LON_SCALE = 0.7547095802227721  # cos(40 deg), the engine's distance metric


def _edges(layer: pd.DataFrame):
    """Flat edge arrays of single-ring polygons: (poly row, x1, y1, x2, y2)."""
    lens = np.fromiter((len(v) for v in layer["xs"]), np.int64, len(layer))
    fx = np.concatenate([np.asarray(v, np.float64) for v in layer["xs"]])
    fy = np.concatenate([np.asarray(v, np.float64) for v in layer["ys"]])
    start = np.cumsum(lens) - lens
    e1 = np.concatenate([s + np.arange(n - 1) for s, n in zip(start, lens)])
    row = np.repeat(np.arange(len(layer)), lens - 1)
    return row, fx[e1], fy[e1], fx[e1 + 1], fy[e1 + 1]


def containing(px, py, layer: pd.DataFrame, chunk: int = 256):
    """For each point: the sorted row indices of `layer` polygons that
    contain it, and whether it lies within EPS of an edge of a polygon
    whose bbox holds it."""
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    mnx, mny = layer["minx"].to_numpy(), layer["miny"].to_numpy()
    mxx, mxy = layer["maxx"].to_numpy(), layer["maxy"].to_numpy()
    row, x1, y1, x2, y2 = _edges(layer)
    order = np.argsort(row, kind="stable")
    first = np.searchsorted(row[order], np.arange(len(layer)))
    last = np.searchsorted(row[order], np.arange(len(layer)), side="right")
    hits: list[list[int]] = [[] for _ in range(len(px))]
    near = np.zeros(len(px), bool)
    for c0 in range(0, len(px), chunk):
        cx, cy = px[c0:c0 + chunk, None], py[c0:c0 + chunk, None]
        inb = ((cx >= mnx - EPS) & (cx <= mxx + EPS) & (cy >= mny - EPS) & (cy <= mxy + EPS))
        for pi, poly in zip(*np.nonzero(inb)):
            i = c0 + pi
            e = order[first[poly]:last[poly]]
            ex1, ey1, ex2, ey2 = x1[e], y1[e], x2[e], y2[e]
            ppx, ppy = px[i], py[i]
            # the engine's refine formula, term for term
            cond = (ey1 > ppy) != (ey2 > ppy)
            with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
                xin = (ex2 - ex1) * (ppy - ey1) / (ey2 - ey1) + ex1
            if np.count_nonzero(cond & (ppx < xin)) % 2 == 1:
                hits[i].append(int(poly))
            # distance to each edge segment
            dx, dy = ex2 - ex1, ey2 - ey1
            ll = dx * dx + dy * dy
            t = np.clip(((ppx - ex1) * dx + (ppy - ey1) * dy) / np.where(ll > 0, ll, 1.0), 0.0, 1.0)
            d2 = (ex1 + t * dx - ppx) ** 2 + (ey1 + t * dy - ppy) ** 2
            if d2.min() < EPS * EPS:
                near[i] = True
    return [sorted(h) for h in hits], near


def slippy_frac(lon, lat, z: int):
    """Fractional web-mercator tile coordinates (OSM convention)."""
    n = float(1 << z)
    lon = np.asarray(lon, np.float64)
    lat_r = np.radians(np.asarray(lat, np.float64))
    fx = (lon + 180.0) / 360.0 * n
    fy = (1.0 - np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r)) / np.pi) / 2.0 * n
    return fx, fy


def _tile_index(f, n):
    return np.clip(np.floor(f), 0, n - 1).astype(np.int64)


def _on_border(f):
    return np.abs(f - np.round(f)) < 1e-6


def footprint_tiles(lon, lat, half: float, zooms) -> tuple[list[set], np.ndarray]:
    """Tiles of the lon/lat box [lon±half, lat±half] at each zoom, per
    point, as {(z, x, y)} sets; plus whether any box edge sits on a tile
    border (ambiguous)."""
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    out = [set() for _ in range(len(lon))]
    amb = np.zeros(len(lon), bool)
    for z in zooms:
        n = 1 << z
        fx0, fy0 = slippy_frac(lon - half, lat + half, z)
        fx1, fy1 = slippy_frac(lon + half, lat - half, z)
        amb |= _on_border(fx0) | _on_border(fx1) | _on_border(fy0) | _on_border(fy1)
        x0, x1 = _tile_index(fx0, n), _tile_index(fx1, n)
        y0, y1 = _tile_index(fy0, n), _tile_index(fy1, n)
        for i in range(len(lon)):
            out[i].update((z, x, y) for x in range(x0[i], x1[i] + 1)
                          for y in range(y0[i], y1[i] + 1))
    return out, amb


def knn_dist(qlon, qlat, tlon, tlat):
    dx = (qlon - tlon) * KNN_LON_SCALE
    dy = qlat - tlat
    return dx * dx + dy * dy


def _cell_xy(lon, lat, res: int):
    n = 1 << res
    ix = np.clip(np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * n), 0, n - 1)
    iy = np.clip(np.floor((90.0 - np.asarray(lat, np.float64)) / 180.0 * n), 0, n - 1)
    return ix.astype(np.int64), iy.astype(np.int64)


def knn(qlon, qlat, tid, tlon, tlat, k: int, res: int, ring: int):
    """Per query: (top-k ids within the ring block, their distances, the
    number of ring-block candidates, whether the block provably holds the
    global k nearest, the global top-k ids). Ties break by id, as in the
    engine."""
    tid = np.asarray(tid)
    tix, tiy = _cell_xy(tlon, tlat, res)
    qix, qiy = _cell_xy(qlon, qlat, res)
    cw, ch = 360.0 / (1 << res), 180.0 / (1 << res)
    out = []
    for j in range(len(qlon)):
        d = knn_dist(qlon[j], qlat[j], tlon, tlat)
        blk = (np.abs(tix - qix[j]) <= ring) & (np.abs(tiy - qiy[j]) <= ring)
        bi = np.nonzero(blk)[0]
        bo = bi[np.lexsort((tid[bi], d[bi]))][:k]
        go = np.lexsort((tid, d))[:k]
        # the block reaches at least `margin` degrees from the query in
        # every direction; the k-th neighbour is inside it if its scaled
        # distance is smaller than that margin in both axes
        x0 = (qix[j] - ring) * cw - 180.0
        x1 = (qix[j] + ring + 1) * cw - 180.0
        y1 = 90.0 - (qiy[j] - ring) * ch
        y0 = 90.0 - (qiy[j] + ring + 1) * ch
        mx = min(qlon[j] - x0, x1 - qlon[j]) * KNN_LON_SCALE
        my = min(qlat[j] - y0, y1 - qlat[j])
        covered = len(go) == k and np.sqrt(d[go[-1]]) < min(mx, my) - EPS
        out.append((tid[bo].tolist(), d[bo], int(len(bi)), bool(covered), tid[go].tolist()))
    return out

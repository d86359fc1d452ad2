"""Independent answers the benchmark checks outputs against.

None of this reuses the engine's kernels: region membership is floor
arithmetic, point-in-polygon is a plain even-odd ray cast, areas are
the shoelace formula over rings read by a minimal WKB reader.
"""

from __future__ import annotations

import struct
from collections import Counter

import numpy as np


def region_counts(doc_ids: np.ndarray, lat_mul: int, lon_mul: int, step: float = 10.0) -> Counter:
    """Pages per region name for the geo-tagged subset of `doc_ids`,
    from the page generator's arithmetic (doc_id % 8 == 0 has no
    mention) and floor division into step-degree rectangles."""
    d = doc_ids[doc_ids % 8 != 0].astype(np.int64)
    lat = ((d * lat_mul) % 18000 - 9000) / 100.0
    lon = ((d * lon_mul) % 36000 - 18000) / 100.0
    nx, ny = int(round(360 / step)), int(round(180 / step))
    gx = np.clip(np.floor((lon + 180.0) / step).astype(np.int64), 0, nx - 1)
    gy = np.clip(np.floor((lat + 90.0) / step).astype(np.int64), 0, ny - 1)
    keys, n = np.unique(gx * 1000 + gy, return_counts=True)
    return Counter({f"R_{k // 1000}_{k % 1000}": int(c) for k, c in zip(keys, n)})


def ray_cast(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd point-in-ring for a closed ring (first vertex repeated)."""
    inside = np.zeros(len(xs), dtype=bool)
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    for ax, ay, bx, by in zip(x0, y0, x1, y1):
        straddle = (ay > ys) != (by > ys)
        xcross = ax + (ys - ay) * (bx - ax) / np.where(by == ay, 1.0, by - ay)
        inside ^= straddle & (xs < xcross)
    return inside


def shoelace(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * abs(float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1])))


def wkb_polygons(buf: bytes) -> list[list[np.ndarray]]:
    """Polygon / MultiPolygon WKB (2D, either byte order) -> polygons,
    each a list of rings."""

    def read(pos):
        order = "<" if buf[pos] == 1 else ">"
        (kind,) = struct.unpack_from(order + "I", buf, pos + 1)
        pos += 5
        if kind == 3:
            (nrings,) = struct.unpack_from(order + "I", buf, pos)
            pos += 4
            rings = []
            for _ in range(nrings):
                (npts,) = struct.unpack_from(order + "I", buf, pos)
                pos += 4
                pts = np.frombuffer(buf, dtype=order + "f8", count=2 * npts, offset=pos)
                rings.append(pts.reshape(npts, 2))
                pos += 16 * npts
            return [rings], pos
        if kind == 6:
            (nparts,) = struct.unpack_from(order + "I", buf, pos)
            pos += 4
            polys = []
            for _ in range(nparts):
                part, pos = read(pos)
                polys.extend(part)
            return polys, pos
        raise ValueError(f"unexpected WKB geometry type {kind}")

    return read(0)[0]


def wkb_area(buf: bytes) -> float:
    return sum(
        shoelace(rings[0]) - sum(shoelace(h) for h in rings[1:])
        for rings in wkb_polygons(buf)
    )


def mercator_to_lonlat(x: np.ndarray, y: np.ndarray, a: float = 6378137.0):
    lon = np.degrees(x / a)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / a)) - np.pi / 2.0)
    return lon, lat


def lonlat_to_mercator(lon: np.ndarray, lat: np.ndarray, a: float = 6378137.0):
    return a * np.radians(lon), a * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))

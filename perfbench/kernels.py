"""In-process kernel rates, without Spark: each numpy kernel called
directly on seeded geometry, repeated for at least `min_s` seconds."""

from __future__ import annotations

import time

import numpy as np

from mundipy_spark.kernels import measure, overlay, predicates, proj, tiling, wkb

from perfbench.workloads import star_polygons


def _rate(fn, items: int, min_s: float) -> float:
    """Items per second of fn() (which handles `items` items per call)."""
    fn()  # first call pays imports and caches
    calls, t0 = 0, time.perf_counter()
    while True:
        fn()
        calls += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return calls * items / dt


def kernel_rates(seed: int, min_s: float = 0.2) -> dict:
    rng = np.random.default_rng(seed)
    lon0 = float(rng.uniform(-170.0, 150.0))
    lat0 = float(rng.uniform(-60.0, 50.0))
    rings = [r for _, _, r in star_polygons(rng, lon0, lat0, 4, 4, 1.0, 64)]
    geoms = [("Polygon", [r]) for r in rings]
    blobs = [wkb.dumps(g) for g in geoms]
    # overlapping pairs: each polygon against a shifted copy of itself
    shifted = [("Polygon", [r + np.array([0.3, 0.2])]) for r in rings]
    xs = lon0 + rng.uniform(0.0, 4.0, 20000)
    ys = lat0 + rng.uniform(0.0, 4.0, 20000)
    owner = rng.integers(0, len(geoms), len(xs))
    groups = [
        (np.nonzero(owner == k)[0], predicates.geom_segments(g)) for k, g in enumerate(geoms)
    ]
    cells = [tiling.cover_geometry_classified(g, 8) for g in geoms[:4]]
    bnd = [c[~full] for c, full in cells]
    _, inv = proj.crs_transforms("EPSG:3857")
    mx, my = rng.uniform(-2e7, 2e7, 100000), rng.uniform(-6e6, 6e6, 100000)
    pts = [("Point", np.array([x, y])) for x, y in zip(xs[:200], ys[:200])]

    return {
        "kernels.wkb.loads_per_s": _rate(lambda: [wkb.loads(b) for b in blobs], len(blobs), min_s),
        "kernels.wkb.dumps_per_s": _rate(lambda: [wkb.dumps(g) for g in geoms], len(geoms), min_s),
        "kernels.predicates.pip_points_per_s": _rate(
            lambda: predicates.points_in_polys_flat(xs, ys, groups), len(xs), min_s
        ),
        "kernels.overlay.area_pairs_per_s": _rate(
            lambda: [overlay.intersection_area_planar(a, b) for a, b in zip(geoms[:2], shifted[:2])],
            2, min_s,
        ),
        "kernels.overlay.union_pairs_per_s": _rate(
            lambda: [overlay.union(a, b) for a, b in zip(geoms[:4], shifted[:4])], 4, min_s
        ),
        "kernels.tiling.cover_polys_per_s": _rate(
            lambda: [tiling.cover_geometry_classified(g, 8) for g in geoms[:4]], 4, min_s
        ),
        "kernels.tiling.refine_cells_per_s": _rate(
            lambda: [tiling.cell_refine_segments(g, b) for g, b in zip(geoms[:4], bnd)],
            sum(len(b) for b in bnd), min_s,
        ),
        "kernels.proj.points_per_s": _rate(lambda: inv(mx, my), len(mx), min_s),
        "kernels.measure.distance_pairs_per_s": _rate(
            lambda: [measure.geom_distance_m(geoms[k % len(geoms)], p) for k, p in enumerate(pts)],
            len(pts), min_s,
        ),
    }

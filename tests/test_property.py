"""Property-based kernel tests (hypothesis) — the invariants the tile
join's correctness rests on, plus codec round-trips. Pure numpy, no
SparkSession."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from mundipy_spark.kernels import constructive, measure, overlay, predicates, tiling, wkb

settings.register_profile("kernels", max_examples=60, deadline=None)
settings.load_profile("kernels")

coord = st.floats(-179.0, 179.0, allow_nan=False, width=64)
lat = st.floats(-85.0, 85.0, allow_nan=False, width=64)


@st.composite
def star_polygon(draw):
    """A guaranteed-simple polygon: jittered angles around a center."""
    n = draw(st.integers(4, 10))
    cx = draw(st.floats(-150.0, 150.0))
    cy = draw(st.floats(-60.0, 60.0))
    jit = [draw(st.floats(0.1, 0.9)) for _ in range(n)]
    rad = [draw(st.floats(0.5, 8.0)) for _ in range(n)]
    ang = 2 * np.pi * (np.arange(n) + np.array(jit)) / n
    pts = np.c_[cx + np.array(rad) * np.cos(ang), cy + np.array(rad) * np.sin(ang)]
    return ("Polygon", [np.vstack([pts, pts[:1]])])


@st.composite
def linestring(draw):
    n = draw(st.integers(2, 12))
    xs = [draw(coord) for _ in range(n)]
    ys = [draw(lat) for _ in range(n)]
    return ("LineString", np.c_[xs, ys])


@given(star_polygon())
def test_wkb_roundtrip_polygon(g):
    g2 = wkb.loads(wkb.dumps(g))
    assert g2[0] == g[0]
    assert np.allclose(g2[1][0], g[1][0])


@given(linestring())
def test_wkb_wkt_roundtrip_linestring(g):
    g2 = wkb.loads(wkb.dumps(g))
    assert np.allclose(g2[1], g[1])
    g3 = wkb.from_wkt(wkb.to_wkt(g))
    assert np.allclose(g3[1], g[1], atol=1e-6)


@given(star_polygon(), st.integers(4, 9))
def test_cover_contains_all_interior_point_cells(poly, res):
    """THE join invariant: any point inside the polygon maps (via the
    pure-JVM cell arithmetic) to a cell present in the polygon's
    covering — otherwise the equi-join would silently drop matches."""
    minx, miny, maxx, maxy = wkb.bounds(poly)
    cells, full = tiling.cover_geometry_classified(poly, res)
    cellset = set(cells.tolist())
    rng = np.random.default_rng(42)
    xs = rng.uniform(minx, maxx, 200)
    ys = rng.uniform(miny, maxy, 200)
    inside = predicates.points_in_geom(xs, ys, poly)
    pcells = tiling.point_cell(xs, ys, res)
    for x, y, c, inn in zip(xs, ys, pcells, inside):
        if inn:
            assert int(c) in cellset, (x, y)
    # interior flag soundness: a point in a FULL cell is inside the poly
    fullset = set(cells[full].tolist())
    for x, y, c, inn in zip(xs, ys, pcells, inside):
        if int(c) in fullset:
            assert inn, (x, y)


@given(star_polygon(), star_polygon())
def test_intersects_symmetric_and_consistent(a, b):
    ab = predicates.intersects(a, b)
    ba = predicates.intersects(b, a)
    assert ab == ba
    ia = overlay.intersection_area_planar(a, b)
    if ia > 1e-9:
        assert ab


@given(star_polygon())
def test_buffer_grows_and_contains(poly):
    buf = constructive.buffer_planar(poly, 0.5)
    assert measure.geom_area_planar(buf) > measure.geom_area_planar(poly)
    v = predicates.geom_vertices(poly)
    assert predicates.points_in_geom(v[:, 0], v[:, 1], buf).all()


@given(star_polygon())
def test_convex_hull_contains_and_convex(poly):
    hull = constructive.convex_hull(poly)
    v = predicates.geom_vertices(poly)
    assert predicates.points_in_geom(v[:, 0], v[:, 1], hull).all()
    assert overlay.is_convex(hull[1][0])


def _ar(g):
    return measure.geom_area_planar(g) if g else 0.0


@given(star_polygon(), star_polygon())
def test_overlay_inclusion_exclusion(a, b):
    """|A∪B| + |A∩B| == |A| + |B|, |A\\B| + |A∩B| == |A|, and
    |AΔB| == |A∪B| - |A∩B| via the GEOMETRY outputs."""
    ua = _ar(overlay.overlay_op(a, b, "union"))
    ia = _ar(overlay.overlay_op(a, b, "intersection"))
    da = _ar(overlay.overlay_op(a, b, "difference"))
    sa = _ar(overlay.overlay_op(a, b, "symmetric_difference"))
    ra = measure.geom_area_planar(a)
    rhs = ra + measure.geom_area_planar(b)
    # tolerance covers the worst-case degeneracy-perturbation shift
    # (extent * 1e-9 * 3^4 * perimeter ≈ 1e-4 absolute on these sizes);
    # a traversal/marking bug would be O(component area), 1000x larger
    tol = 1e-3 * max(1.0, rhs)
    assert abs((ua + ia) - rhs) < tol
    assert abs((da + ia) - ra) < tol
    assert abs(sa - (ua - ia)) < tol


@given(star_polygon(), star_polygon(), star_polygon())
@example(
    a=('Polygon', [np.array([[ 2.95342712,  2.82842712],
             [-0.26518064,  1.96157056],
             [-0.58210678, -0.70710678],
             [ 1.97275907, -0.76536686],
             [ 2.95342712,  2.82842712]])]),
    b=('Polygon', [np.array([[ 0.70710678,  0.70710678],
             [-0.35355339,  0.35355339],
             [-0.35355339, -0.35355339],
             [ 0.70710678, -0.70710678],
             [ 0.70710678,  0.70710678]])]),
    c=('Polygon', [np.array([[ 2.95342712,  2.82842712],
             [-0.26518064,  1.96157056],
             [-0.58210678, -0.70710678],
             [ 1.97275907, -0.76536686],
             [ 2.95342712,  2.82842712]])]),
).via('discovered failure')
def test_overlay_multipart_composition(a, b, c):
    """(A\\B) is often a MULTI-polygon whose components share boundary
    chains with B — overlaying it with a third layer exercises the GH
    output-hygiene path (orientation normalization, perturbation-sliver
    culling, pinched-ring splitting: each historically broke this)."""
    h = overlay.overlay_op(a, b, "difference")
    if h is None:
        return
    ha, ca = _ar(h), measure.geom_area_planar(c)
    u = _ar(overlay.overlay_op(h, c, "union"))
    i = _ar(overlay.overlay_op(h, c, "intersection"))
    assert abs((u + i) - (ha + ca)) < 1e-3 * max(1.0, ha + ca)


@given(
    lats=st.lists(st.floats(min_value=55.0, max_value=89.5), min_size=2, max_size=12),
    lons=st.lists(st.floats(min_value=-179.0, max_value=179.0), min_size=12, max_size=12),
    plat=st.floats(min_value=55.0, max_value=89.5),
    plon=st.floats(min_value=-179.0, max_value=179.0),
)
@settings(max_examples=60, deadline=None)
def test_nearest_exact_at_high_latitude(lats, lons, plat, plon):
    """LocalIndex.nearest must equal the argmin of exact distances even
    at high latitude, where meters-per-degree-longitude collapses (the
    r01 85 km/deg pruning bound broke above ~40 deg)."""
    from mundipy_spark.feature import LocalIndex

    pts = [(lons[i], lats[i % len(lats)]) for i in range(len(lons))]
    rows = [
        (wkb.dumps(("Point", np.array([x, y]))), {"i": i})
        for i, (x, y) in enumerate(pts)
    ]
    ix = LocalIndex(rows)
    probe = ("Point", np.array([plon, plat]))
    got = ix.nearest(probe)
    dists = [measure.geom_distance_m(("Point", np.array([x, y])), probe) for x, y in pts]
    best = int(np.argmin(dists))
    assert got is not None
    # accept exact argmin or an equidistant twin (float ties)
    assert abs(dists[got["i"]] - dists[best]) <= 1e-6 * max(dists[best], 1.0)


# --- LocalIndex point probes vs the per-candidate loop ------------------------


def _ref_candidates(ix, minx, miny, maxx, maxy):
    return np.nonzero(
        (ix.maxx >= minx) & (ix.minx <= maxx) & (ix.maxy >= miny) & (ix.miny <= maxy)
    )[0]


def _ref_intersects(ix, g):
    """LocalIndex.intersects as a per-candidate predicate loop."""
    minx, miny, maxx, maxy = wkb.bounds(g)
    if g[0] == "Point":
        minx, miny, maxx, maxy = minx - 1e-3, miny - 1e-3, maxx + 1e-3, maxy + 1e-3
    idx = _ref_candidates(ix, minx, miny, maxx, maxy)
    return [int(i) for i in idx if predicates.intersects(ix.geoms[i], g)]


def _ref_within(ix, radius_m, g):
    """LocalIndex.within (uscale 1) as a per-candidate distance loop."""
    minx, miny, maxx, maxy = wkb.bounds(g)
    pad_lat = radius_m / 110_000.0 + 1e-9
    lat_hi = min(max(abs(miny), abs(maxy)) + pad_lat, 89.9)
    coslat = max(np.cos(np.radians(lat_hi)), 1e-6)
    pad_lon = radius_m / (110_000.0 * coslat) + 1e-9
    idx = _ref_candidates(ix, minx - pad_lon, miny - pad_lat, maxx + pad_lon, maxy + pad_lat)
    return [int(i) for i in idx if measure.geom_distance_m(ix.geoms[i], g) <= radius_m]


def _ref_nearest(ix, g):
    """LocalIndex.nearest as a best-first loop: candidates in
    argsort(lb_m) order, stop once the bound exceeds the best distance,
    replace the best only on a strictly smaller distance."""
    pminx, pminy, pmaxx, pmaxy = wkb.bounds(g)
    dx = np.maximum(np.maximum(ix.minx - pmaxx, pminx - ix.maxx), 0.0)
    hull = np.maximum(ix.maxx, pmaxx) - np.minimum(ix.minx, pminx)
    dx = np.minimum(dx, np.maximum(360.0 - hull, 0.0))
    dy = np.maximum(np.maximum(ix.miny - pmaxy, pminy - ix.maxy), 0.0)
    lat_hi = np.maximum(
        np.maximum(np.abs(ix.miny), np.abs(ix.maxy)), max(abs(pminy), abs(pmaxy))
    )
    coslat = np.cos(np.radians(np.minimum(lat_hi, 89.99)))
    lb_m = np.maximum(dy * 110_000.0, dx * 70_000.0 * coslat)
    best, best_d = None, np.inf
    for i in np.argsort(lb_m):
        if lb_m[i] > best_d:
            break
        d = measure.geom_distance_m(ix.geoms[int(i)], g)
        if d < best_d:
            best, best_d = int(i), d
    return best


def _star_ring(rng, cx, cy, r, n):
    """Closed ring with jittered, evenly spread angles: contains the
    disc of radius 0.5 * r about (cx, cy)."""
    th = 2 * np.pi * (np.arange(n) + rng.uniform(0.1, 0.9, n)) / n
    rad = r * (0.75 + 0.25 * rng.random(n))
    ring = np.c_[cx + rad * np.cos(th), cy + rad * np.sin(th)]
    return np.vstack([ring, ring[:1]])


def _rect(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


@given(
    zone=st.integers(1, 59),
    lat0=st.floats(-60.0, 60.0),
    seed=st.integers(0, 2**32 - 1),
    radius_m=st.floats(0.0, 80_000.0),
)
@settings(max_examples=25, deadline=None)
def test_local_index_point_probes_match_per_candidate_loop(zone, lat0, seed, radius_m):
    """LocalIndex's edge-table point probes return the same features in
    the same order, and the same nearest pick on ties, as the
    per-candidate predicate / distance loop. The layer has a holed
    polygon, a MultiPolygon with overlapping parts (global parity, so
    the overlap is outside), polygons on both sides of a UTM zone
    boundary, a polygon wider than 6 deg of longitude (AEQD pairs), and
    a point feature; the wide polygon overlaps two others, so nearest
    meets ties at distance 0. Probes include vertices and edge
    midpoints."""
    from mundipy_spark.feature import LocalIndex

    rng = np.random.default_rng(seed)
    b = -180.0 + 6.0 * zone  # UTM zone boundary
    geoms = [
        ("Polygon", [_star_ring(rng, b - 0.9, lat0, 0.7, 12),
                     _rect(b - 1.1, lat0 - 0.2, b - 0.7, lat0 + 0.2)[::-1]]),
        ("Polygon", [_star_ring(rng, b + 0.8, lat0 + 0.3, 0.6, 10)]),
        ("MultiPolygon", [[_rect(b - 0.4, lat0 - 1.6, b + 0.2, lat0 - 1.0)],
                          [_rect(b - 0.1, lat0 - 1.3, b + 0.5, lat0 - 0.7)]]),
        ("Polygon", [_rect(b - 4.5, lat0 + 0.6, b + 4.0, lat0 + 1.0)]),
        ("Point", np.array([b + 0.2, lat0 - 0.9])),
    ]
    ix = LocalIndex([(wkb.dumps(g), {"i": i}) for i, g in enumerate(geoms)])

    verts = np.concatenate([predicates.geom_vertices(g) for g in geoms[:4]])
    segs = np.concatenate([predicates.geom_segments(g) for g in geoms[:4]])
    mids = (segs[:, :2] + segs[:, 2:]) / 2.0
    rand = np.c_[rng.uniform(b - 5.0, b + 5.0, 8), rng.uniform(lat0 - 2.5, lat0 + 2.0, 8)]
    probes = np.concatenate(
        [verts[rng.choice(len(verts), 10)], mids[rng.choice(len(mids), 10)], rand,
         [[b - 0.05, lat0 - 1.05], [b + 0.001, lat0 + 0.3], [b + 0.8, lat0 + 0.65]]]
    )
    for x, y in probes:
        g = ("Point", np.array([x, y]))
        assert [f["i"] for f in ix.intersects(g)] == _ref_intersects(ix, g)
        assert [f["i"] for f in ix.within(radius_m, g)] == _ref_within(ix, radius_m, g)
        near = ix.nearest(g)
        assert (near["i"] if near is not None else None) == _ref_nearest(ix, g)
    # the overlap of the MultiPolygon's parts: global parity over all
    # ring edges is even there, so it is outside
    assert 2 not in [f["i"] for f in ix.intersects(("Point", np.array([b - 0.05, lat0 - 1.05])))]
    # probes near the boundary measured polygons in both zones
    assert len({z[-2:] for _, z in ix._zone_tables}) == 2

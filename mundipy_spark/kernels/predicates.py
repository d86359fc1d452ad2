"""Vectorized spatial predicates (no GEOS).

Implements the predicate surface of the reference's dispatch table
(mundipy/geometry.py:92-99: contains, covered_by, covers, crosses,
disjoint, intersects, overlaps, touches, within) over the internal
representation from :mod:`mundipy_spark.kernels.wkb`.

Vectorization contract: the hot call is *many points vs one polygon*
(`points_in_geom`) — O(edges) numpy passes over the whole point batch,
zero per-point Python. Pairwise geometry-vs-geometry predicates loop per
pair but vectorize over vertices/edges inside the pair.

Point-in-polygon rule. Every PIP path implements this one rule:
`points_in_geom`, LocalIndex's `edge_table` / `point_vs_edge_tables`,
the tile joins' Arrow refine (`points_in_polys_flat`) and their JVM
refine (`tiling.cell_refine_segments` + `functions.st.pip_refine_expr`).

- Polygon / MultiPolygon: a point is inside when its +x ray crosses an
  odd number of the geometry's ring edges, counting every ring of every
  part together, or when it lies within 1e-9 of the boundary. Holes,
  self-crossing rings and overlapping parts all follow from that one
  parity: where two parts overlap, the point is outside.
- GeometryCollection: covers a point when any member does (collection
  members may validly overlap).
- Ring edges come from `_ring_segments`: consecutive vertices plus the
  closing edge, which is dropped only when the first and last vertex
  are exactly equal. Edge (x1, y1)-(x2, y2) is crossed by the ray from
  (x, y) when (y1 > y) != (y2 > y) and
  x < (x2 - x1) * (y - y1) / (y2 - y1) + x1, the same arithmetic on
  every path.

Even-odd parity is tolerant of invalid (self-intersecting) rings by
construction — this stands in for the reference's lazy `make_valid`
repair-on-GEOSException path (mundipy/geometry.py:296-320).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from mundipy_spark.kernels import wkb

EPS = 1e-12


# ---------------------------------------------------------------------------
# structure helpers
# ---------------------------------------------------------------------------


def geom_vertices(geom) -> np.ndarray:
    """All vertices as (n, 2)."""
    arrs = list(wkb._coord_arrays(geom))
    if not arrs:
        return np.empty((0, 2), dtype=np.float64)
    return np.concatenate(arrs, axis=0)


def _ring_segments(ring: np.ndarray) -> np.ndarray:
    """Closed-ring edges as (m, 4) [x1, y1, x2, y2]: the ring edges of
    the module's PIP rule."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) < 2:
        return np.empty((0, 4), dtype=np.float64)
    nxt = np.roll(r, -1, axis=0)
    segs = np.concatenate([r, nxt], axis=1)
    # drop the closing wrap edge only if the ring is stored exactly
    # closed: a nearly closed ring keeps its short closing edge
    if (r[0] == r[-1]).all():
        segs = segs[:-1]
    return segs


def _line_segments(line: np.ndarray) -> np.ndarray:
    l = np.asarray(line, dtype=np.float64)
    if len(l) < 2:
        return np.empty((0, 4), dtype=np.float64)
    return np.concatenate([l[:-1], l[1:]], axis=1)


def geom_segments(geom) -> np.ndarray:
    """All boundary segments of a geometry as (m, 4)."""
    t, data = geom
    if t == "Point" or t == "MultiPoint":
        return np.empty((0, 4), dtype=np.float64)
    if t == "LineString":
        return _line_segments(data)
    if t == "MultiLineString":
        parts = [_line_segments(l) for l in data]
    elif t == "Polygon":
        parts = [_ring_segments(r) for r in data]
    elif t == "MultiPolygon":
        parts = [_ring_segments(r) for poly in data for r in poly]
    elif t == "GeometryCollection":
        parts = [geom_segments(g) for g in data]
    else:
        raise ValueError(t)
    parts = [p for p in parts if len(p)]
    if not parts:
        return np.empty((0, 4), dtype=np.float64)
    return np.concatenate(parts, axis=0)


def ring_line_segments(geom) -> tuple[np.ndarray, np.ndarray]:
    """Boundary segments split by role: (ring_segs, line_segs), each
    (m, 4).

    Ring segments (polygon boundaries) participate in BOTH the even-odd
    crossing parity and the on-edge epsilon test of `points_in_geom`;
    line segments (LineString members, incl. inside GeometryCollections)
    participate in the on-edge test only — the split the JVM-expression
    PIP refinement needs to reproduce `points_in_geom` exactly."""
    rings: list[np.ndarray] = []
    lines: list[np.ndarray] = []

    def walk(g):
        t, data = g
        if t in ("Point", "MultiPoint"):
            return
        if t == "LineString":
            lines.append(_line_segments(data))
        elif t == "MultiLineString":
            lines.extend(_line_segments(l) for l in data)
        elif t == "Polygon":
            rings.extend(_ring_segments(r) for r in data)
        elif t == "MultiPolygon":
            rings.extend(_ring_segments(r) for poly in data for r in poly)
        elif t == "GeometryCollection":
            for sub in data:
                walk(sub)
        else:
            raise ValueError(t)

    walk(geom)
    empty = np.empty((0, 4), dtype=np.float64)
    r = [p for p in rings if len(p)]
    l = [p for p in lines if len(p)]
    return (
        np.concatenate(r, axis=0) if r else empty,
        np.concatenate(l, axis=0) if l else empty,
    )


def _polygons_of(geom):
    """Yield ring-lists of every polygon in the geometry."""
    t, data = geom
    if t == "Polygon":
        yield data
    elif t == "MultiPolygon":
        yield from data
    elif t == "GeometryCollection":
        for g in data:
            yield from _polygons_of(g)


def has_area(geom) -> bool:
    return next(_polygons_of(geom), None) is not None


# ---------------------------------------------------------------------------
# point-in-polygon (even-odd), vectorized over points
# ---------------------------------------------------------------------------


def crossings_in_ring(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd parity of each point against one ring → bool inside."""
    return _crossings(xs, ys, _ring_segments(ring))


def _crossings(xs, ys, segs: np.ndarray) -> np.ndarray:
    """Odd number of +x ray crossings of each point over (m, 4) edges."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    inside = np.zeros(len(xs), dtype=bool)
    # edge-by-edge, vectorized over all points (edges << points in practice)
    for xi, yi, xj, yj in segs:
        if yi == yj:
            continue
        cond = (yi > ys) != (yj > ys)
        if not cond.any():
            continue
        xint = (xj - xi) * (ys - yi) / (yj - yi) + xi
        inside ^= cond & (xs < xint)
    return inside


def points_on_segments(xs, ys, segs: np.ndarray, eps: float = 1e-9) -> np.ndarray:
    """True where a point lies within eps of any segment."""
    d = point_segs_min_dist(xs, ys, segs)
    return d <= eps


def point_segs_min_dist(xs, ys, segs: np.ndarray) -> np.ndarray:
    """Min distance from each point to the nearest of m segments.

    Memory-bounded: chunks the (n_points x m_segs) matrix.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if len(segs) == 0:
        return np.full(len(xs), np.inf)
    out = np.full(len(xs), np.inf)
    sx1, sy1, sx2, sy2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dx, dy = sx2 - sx1, sy2 - sy1
    ln2 = dx * dx + dy * dy
    ln2 = np.where(ln2 == 0, 1.0, ln2)
    chunk = max(1, int(4_000_000 / max(len(segs), 1)))
    for s in range(0, len(xs), chunk):
        px = xs[s : s + chunk, None]
        py = ys[s : s + chunk, None]
        t = ((px - sx1) * dx + (py - sy1) * dy) / ln2
        t = np.clip(t, 0.0, 1.0)
        qx = sx1 + t * dx
        qy = sy1 + t * dy
        d2 = (px - qx) ** 2 + (py - qy) ** 2
        out[s : s + chunk] = np.sqrt(d2.min(axis=1))
    return out


def points_in_geom(xs, ys, geom, boundary: bool = True, eps: float = 1e-9) -> np.ndarray:
    """Vectorized point-in-polygon under the module's PIP rule.

    ``boundary=True`` counts points within eps of the boundary as inside
    ("covers" semantics); ``False`` gives strict interior ("contains"
    for points). A line covers only points on its segments and a point
    covers nothing. A GeometryCollection ORs its members.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    t, data = geom
    if t == "GeometryCollection":
        inside = np.zeros(len(xs), dtype=bool)
        for g in data:
            inside |= points_in_geom(xs, ys, g, boundary, eps)
        return inside
    segs = geom_segments(geom)
    if t in ("Polygon", "MultiPolygon"):
        inside = _crossings(xs, ys, segs)
    else:
        inside = np.zeros(len(xs), dtype=bool)
    if len(segs):
        on_edge = points_on_segments(xs, ys, segs, eps)
        if boundary:
            inside |= on_edge
        else:
            inside &= ~on_edge
    return inside


def members_or(geom) -> bool:
    """True for a GeometryCollection with two or more areal members
    (nested collections flattened): the one shape where the PIP rule
    ORs several parities, so one parity over all of its ring edges
    (`ring_line_segments`) does not answer it."""

    def areal(g):
        t, data = g
        if t == "GeometryCollection":
            return sum(areal(m) for m in data)
        return int(t in ("Polygon", "MultiPolygon"))

    return geom[0] == "GeometryCollection" and areal(geom) >= 2


class EdgeTable(NamedTuple):
    """What `points_in_geom` and `point_segs_min_dist` derive from a
    (Multi)Polygon on every call, built once by `edge_table`. Arrays are
    column-major so each operand is a contiguous row."""

    cross: np.ndarray  # (5, e) x1, y1, y2, x2 - x1, y2 - y1 of the parity edges
    segs: np.ndarray  # (5, s) x1, y1, dx, dy, squared length (0 -> 1) of the boundary
    bounds: tuple[float, float, float, float]


def edge_table(geom) -> EdgeTable | None:
    """Flat point-probe table of a Polygon / MultiPolygon under the
    module's PIP rule: its ring edges (`geom_segments`) serve as the
    boundary segments and, horizontal ones dropped (they never flip
    parity), as the parity edges of one parity over the whole table.
    Returns None for a geometry with no boundary segment."""
    segs = geom_segments(geom)
    if not len(segs):
        return None
    sx1, sy1, sx2, sy2 = segs.T
    dx, dy = sx2 - sx1, sy2 - sy1
    ln2 = dx * dx + dy * dy
    keep = sy1 != sy2
    return EdgeTable(
        np.stack([sx1[keep], sy1[keep], sy2[keep], dx[keep], dy[keep]]),
        np.stack([sx1, sy1, dx, dy, np.where(ln2 == 0, 1.0, ln2)]),
        wkb.bounds(geom),
    )


def point_vs_edge_tables(
    px: float, py: float, tables: list[EdgeTable], eps: float = 1e-9
) -> tuple[np.ndarray, np.ndarray]:
    """One point against many edge tables in one numpy pass.

    Returns (covered, dist) aligned with `tables`. `covered` is
    `intersects(geom, point)`: the eps-padded bbox gate of
    `bbox_disjoint`, then `points_in_geom` (the module's PIP rule: one
    even-odd parity per table, or within eps of the boundary). `dist`
    is `geom_distance_planar`: 0 where covered, else the distance to the
    nearest boundary segment. The arithmetic is that of `_crossings` and
    `point_segs_min_dist`, so the values are bit-identical to theirs."""
    n = len(tables)
    if n == 1:
        cross, segs = tables[0].cross, tables[0].segs
    else:
        cross = np.concatenate([t.cross for t in tables], axis=1)
        segs = np.concatenate([t.segs for t in tables], axis=1)
    gate = np.asarray(
        [
            not (maxx < px - eps or px < minx - eps or maxy < py - eps or py < miny - eps)
            for minx, miny, maxx, maxy in (t.bounds for t in tables)
        ]
    )
    inside = np.zeros(n, dtype=bool)
    if gate.any():
        x1, y1, y2, dxe, dye = cross
        flip = ((y1 > py) != (y2 > py)) & (px < dxe * (py - y1) / dye + x1)
        if n == 1:
            inside[0] = np.count_nonzero(flip) % 2 == 1
        else:
            # bincount, not reduceat: a table may have no parity edge
            table = np.repeat(np.arange(n), [t.cross.shape[1] for t in tables])
            inside = np.bincount(table[flip], minlength=n) % 2 == 1
        inside &= gate
        if inside.all():
            return inside, np.zeros(n)
    sx1, sy1, dx, dy, ln2 = segs
    # maximum/minimum is np.clip's arithmetic without its dispatch cost
    f = np.minimum(np.maximum(((px - sx1) * dx + (py - sy1) * dy) / ln2, 0.0), 1.0)
    d2 = (px - (sx1 + f * dx)) ** 2 + (py - (sy1 + f * dy)) ** 2
    starts = np.cumsum([0] + [t.segs.shape[1] for t in tables[:-1]])
    dist = np.sqrt(np.minimum.reduceat(d2, starts))
    covered = inside | (gate & (dist <= eps))
    return covered, np.where(covered, 0.0, dist)


def points_in_polys_flat(
    xs: np.ndarray,
    ys: np.ndarray,
    groups: list[tuple[np.ndarray, np.ndarray]],
    eps: float = 1e-9,
    max_pairs: int = 4_000_000,
) -> np.ndarray:
    """Batch PIP where each point has its OWN polygon: one vectorized
    pass over (point, edge) pairs across ALL groups at once.

    groups: [(row_indices, segs(e,4))] — rows grouped by their Polygon /
    MultiPolygon, segs = its ring edges (`geom_segments`), answered by
    the module's PIP rule: one parity over all of them, or within eps
    of one. Cost is O(sum m_g * e_g) numpy
    work with NO per-group overhead — the shape that wins when an Arrow
    batch touches hundreds of distinct small polygons (a world admin
    layer probed by shuffled points touches ~all of them per batch).

    Returns bool array aligned with xs (rows not covered by any group
    stay False).
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    out = np.zeros(len(xs), dtype=bool)

    # chunk rows so the pair table stays bounded
    work: list[tuple[np.ndarray, np.ndarray]] = []
    for idx, segs in groups:
        e = len(segs)
        if e == 0:
            continue
        step = max(1, max_pairs // e)
        for s in range(0, len(idx), step):
            work.append((idx[s : s + step], segs))

    for batch_start in range(0, len(work), 64):
        chunk = work[batch_start : batch_start + 64]
        rows = np.concatenate([np.repeat(i, len(s)) for i, s in chunk])
        segt = np.concatenate([np.tile(s, (len(i), 1)) for i, s in chunk])
        lens = np.concatenate(
            [np.full(len(i), len(s), dtype=np.int64) for i, s in chunk]
        )
        row_order = np.concatenate([i for i, _ in chunk])
        offsets = np.zeros(len(row_order), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])

        px, py = xs[rows], ys[rows]
        xi, yi, xj, yj = segt[:, 0], segt[:, 1], segt[:, 2], segt[:, 3]
        dy = yj - yi
        cond = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (xj - xi) * (py - yi) / np.where(dy == 0.0, 1.0, dy) + xi
        cross = cond & (px < xint)
        inside = (np.add.reduceat(cross.astype(np.int64), offsets) % 2) == 1

        # boundary-inclusive: point within eps of any of its edges
        dx = xj - xi
        ln2 = dx * dx + dy * dy
        ln2 = np.where(ln2 == 0.0, 1.0, ln2)
        t = np.clip(((px - xi) * dx + (py - yi) * dy) / ln2, 0.0, 1.0)
        qx, qy = xi + t * dx, yi + t * dy
        d2 = (px - qx) ** 2 + (py - qy) ** 2
        onseg = d2 <= eps * eps
        on_row = np.add.reduceat(onseg.astype(np.int64), offsets) > 0

        out[row_order] |= inside | on_row
    return out


# ---------------------------------------------------------------------------
# segment-segment intersection, vectorized pairwise
# ---------------------------------------------------------------------------


def _cross(ox, oy, ax, ay, bx, by):
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def segments_intersect_any(a: np.ndarray, b: np.ndarray) -> bool:
    """True if any segment of a (n,4) intersects any segment of b (m,4).

    Proper + improper (touching) intersections both count. Vectorized as
    an (n, m) orientation test with bbox pre-rejection.
    """
    if len(a) == 0 or len(b) == 0:
        return False
    ax1, ay1, ax2, ay2 = (a[:, i][:, None] for i in range(4))
    bx1, by1, bx2, by2 = (b[:, i][None, :] for i in range(4))
    # bbox reject
    ok = (
        (np.maximum(ax1, ax2) >= np.minimum(bx1, bx2) - EPS)
        & (np.minimum(ax1, ax2) <= np.maximum(bx1, bx2) + EPS)
        & (np.maximum(ay1, ay2) >= np.minimum(by1, by2) - EPS)
        & (np.minimum(ay1, ay2) <= np.maximum(by1, by2) + EPS)
    )
    if not ok.any():
        return False
    d1 = _cross(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = _cross(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = _cross(bx1, by1, bx2, by2, ax1, ay1)
    d4 = _cross(bx1, by1, bx2, by2, ax2, ay2)
    proper = ok & (d1 * d2 < 0) & (d3 * d4 < 0)
    if proper.any():
        return True
    col = ok & (
        ((np.abs(d1) <= EPS) | (np.abs(d2) <= EPS) | (np.abs(d3) <= EPS) | (np.abs(d4) <= EPS))
    )
    if not col.any():
        return False
    # touching / collinear-overlap: bbox overlap + some orientation zero
    return bool(
        (col & (d1 * d2 <= EPS) & (d3 * d4 <= EPS)).any()
    )


def segments_cross_properly(a: np.ndarray, b: np.ndarray) -> bool:
    """True only for proper (interior) crossings."""
    if len(a) == 0 or len(b) == 0:
        return False
    ax1, ay1, ax2, ay2 = (a[:, i][:, None] for i in range(4))
    bx1, by1, bx2, by2 = (b[:, i][None, :] for i in range(4))
    d1 = _cross(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = _cross(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = _cross(bx1, by1, bx2, by2, ax1, ay1)
    d4 = _cross(bx1, by1, bx2, by2, ax2, ay2)
    return bool(((d1 * d2 < -EPS) & (d3 * d4 < -EPS)).any())


# ---------------------------------------------------------------------------
# interval-splitting primitives for exact DE-9IM interior tests
#
# The key fact: along one segment, strictly-inside/strictly-outside status
# relative to another geometry can only change at a contact point with
# that geometry's segments. So splitting a segment at ALL contact
# parameters (proper crossings, endpoint touches, collinear-run
# endpoints) and classifying each sub-interval's MIDPOINT classifies the
# whole sub-interval — which is what boundary-contact configurations
# (corner-threading lines, collinear shared edges, hole-spanning
# polygons) need and what vertex- or proper-crossing-only tests miss.
# ---------------------------------------------------------------------------


def _contact_params(p: np.ndarray, q: np.ndarray, segs: np.ndarray, eps: float = 1e-9) -> np.ndarray:
    """Sorted unique parameters t in [0,1] (always incl. 0 and 1) where
    segment p->q contacts any of `segs` — proper crossings, touches, and
    both endpoints of every collinear overlap run."""
    ts = [np.array([0.0, 1.0])]
    if len(segs):
        d = q - p
        a = segs[:, :2]
        b = segs[:, 2:]
        e = b - a
        ap = a - p
        denom = d[0] * e[:, 1] - d[1] * e[:, 0]
        nz = np.abs(denom) > 1e-18
        if nz.any():
            t = (ap[nz, 0] * e[nz, 1] - ap[nz, 1] * e[nz, 0]) / denom[nz]
            u = (ap[nz, 0] * d[1] - ap[nz, 1] * d[0]) / denom[nz]
            ok = (t >= -eps) & (t <= 1 + eps) & (u >= -eps) & (u <= 1 + eps)
            if ok.any():
                ts.append(np.clip(t[ok], 0.0, 1.0))
        co = ~nz
        L2 = float(d[0] * d[0] + d[1] * d[1])
        if co.any() and L2 > 0:
            crossad = ap[co, 0] * d[1] - ap[co, 1] * d[0]
            col = np.abs(crossad) <= eps * np.sqrt(L2)  # offset <= eps
            if col.any():
                aa, bb = a[co][col], b[co][col]
                ta = ((aa[:, 0] - p[0]) * d[0] + (aa[:, 1] - p[1]) * d[1]) / L2
                tb = ((bb[:, 0] - p[0]) * d[0] + (bb[:, 1] - p[1]) * d[1]) / L2
                lo, hi = np.minimum(ta, tb), np.maximum(ta, tb)
                keep = (hi >= -eps) & (lo <= 1 + eps)
                if keep.any():
                    ts.append(np.clip(lo[keep], 0.0, 1.0))
                    ts.append(np.clip(hi[keep], 0.0, 1.0))
    return np.unique(np.round(np.concatenate(ts), 12))


def _split_midpoints(geom, other) -> np.ndarray:
    """Midpoints of every sub-interval of geom's segments after
    splitting at all contact points with other's segments, as (n,2).
    Each midpoint's strict-interior / strict-exterior classification
    w.r.t. `other` holds for its entire sub-interval."""
    osegs = geom_segments(other)
    mids = []
    for s in geom_segments(geom):
        p, q = s[:2], s[2:]
        if p[0] == q[0] and p[1] == q[1]:
            continue
        t = _contact_params(p, q, osegs)
        m = (t[:-1] + t[1:]) / 2.0
        m = m[(t[1:] - t[:-1]) > 1e-12]
        if len(m):
            mids.append(p[None, :] + m[:, None] * (q - p)[None, :])
    return np.vstack(mids) if mids else np.zeros((0, 2))


def _line_boundary_points(geom) -> np.ndarray:
    """Boundary of a (Multi)LineString: endpoints occurring an odd
    number of times (the mod-2 rule — a closed line has empty
    boundary), as (n,2)."""
    t, data = geom
    if t == "LineString":
        lines = [data]
    elif t == "MultiLineString":
        lines = list(data)
    elif t == "GeometryCollection":
        parts = [_line_boundary_points(g) for g in data]
        parts = [p for p in parts if len(p)]
        return np.vstack(parts) if parts else np.zeros((0, 2))
    else:
        return np.zeros((0, 2))
    # cluster endpoints by the kernel's 1e-9 Chebyshev tolerance (NOT by
    # decimal rounding: a seam closed to float noise can straddle a
    # rounding boundary and count as two phantom odd endpoints)
    reps: list[np.ndarray] = []
    counts: list[int] = []
    for l in lines:
        l = np.asarray(l, dtype=np.float64)
        if len(l) < 2:
            continue
        for pt in (l[0], l[-1]):
            for i, r in enumerate(reps):
                if abs(pt[0] - r[0]) <= 1e-9 and abs(pt[1] - r[1]) <= 1e-9:
                    counts[i] += 1
                    break
            else:
                reps.append(pt)
                counts.append(1)
    pts = [r for r, c in zip(reps, counts) if c % 2 == 1]
    return np.array(pts, dtype=np.float64) if pts else np.zeros((0, 2))


def _near_any(pts: np.ndarray, targets: np.ndarray, eps: float = 1e-9) -> np.ndarray:
    """For each point, True if within eps (Chebyshev) of any target."""
    if len(targets) == 0:
        return np.zeros(len(pts), dtype=bool)
    return (
        np.abs(pts[:, None, :] - targets[None, :, :]).max(axis=2) <= eps
    ).any(axis=1)


def _line_interior_enters(line, poly) -> bool:
    """I(line) ∩ I(poly) ≠ ∅ — exact via split midpoints (any open
    sub-interval inside the polygon's interior has its midpoint
    strictly inside)."""
    mids = _split_midpoints(line, poly)
    return bool(
        len(mids)
        and points_in_geom(mids[:, 0], mids[:, 1], poly, boundary=False).any()
    )


def _part_outside(geom, poly) -> bool:
    """Some sub-interval of geom's segments lies strictly outside
    closure(poly)."""
    mids = _split_midpoints(geom, poly)
    return bool(
        len(mids)
        and (~points_in_geom(mids[:, 0], mids[:, 1], poly, boundary=True)).any()
    )


def _has_collinear_run(p: np.ndarray, q: np.ndarray, segs: np.ndarray, eps: float = 1e-9) -> bool:
    """Does segment p->q share a positive-length collinear run (at the
    kernel's eps tolerance) with any of `segs`? A segment is an
    eps-run candidate iff BOTH its endpoints lie within eps
    perpendicular offset of the line through p->q — this catches exact
    collinearity AND eps-coincident near-parallels (directions differing
    by 1e-14), while rejecting shallow-angle proper crossings (their
    endpoints sit far off the line; a midpoint-proximity probe would
    misread the micro-interval at the crossing as a run)."""
    d = q - p
    L2 = float(d[0] * d[0] + d[1] * d[1])
    if L2 == 0 or len(segs) == 0:
        return False
    L = np.sqrt(L2)
    a, b = segs[:, :2], segs[:, 2:]
    offa = ((a[:, 0] - p[0]) * d[1] - (a[:, 1] - p[1]) * d[0]) / L
    offb = ((b[:, 0] - p[0]) * d[1] - (b[:, 1] - p[1]) * d[0]) / L
    col = (np.abs(offa) <= eps) & (np.abs(offb) <= eps)
    if not col.any():
        return False
    aa, bb = a[col], b[col]
    ta = ((aa[:, 0] - p[0]) * d[0] + (aa[:, 1] - p[1]) * d[1]) / L2
    tb = ((bb[:, 0] - p[0]) * d[0] + (bb[:, 1] - p[1]) * d[1]) / L2
    lo = np.clip(np.minimum(ta, tb), 0.0, 1.0)
    hi = np.clip(np.maximum(ta, tb), 0.0, 1.0)
    return bool(((hi - lo) * L > 10 * eps).any())


def _line_line_ii_kind(a, b) -> str | None:
    """How the INTERIORS of two (Multi)LineStrings meet: 'run'
    (collinear overlap, dim 1), 'point' (isolated contact, dim 0), or
    None (interiors disjoint). Boundary endpoints (mod-2) don't count —
    an endpoint-to-endpoint or endpoint-to-interior contact is a touch,
    not an interior intersection."""
    sa, sb = geom_segments(a), geom_segments(b)
    if len(sa) == 0 or len(sb) == 0:
        return None
    bnd_parts = [_line_boundary_points(a), _line_boundary_points(b)]
    bnd_parts = [p for p in bnd_parts if len(p)]
    bnd = np.vstack(bnd_parts) if bnd_parts else np.zeros((0, 2))
    kind = None
    for s in sa:
        p, q = s[:2], s[2:]
        if p[0] == q[0] and p[1] == q[1]:
            continue
        if _has_collinear_run(p, q, sb):
            return "run"  # collinear overlap: dim-1 interior meet
        t = _contact_params(p, q, sb)
        cpts = p[None, :] + t[:, None] * (q - p)[None, :]
        on = points_on_segments(cpts[:, 0], cpts[:, 1], sb)
        if on.any():
            interior = ~_near_any(cpts[on], bnd)
            if interior.any():
                kind = "point"
    if segments_cross_properly(sa, sb):
        kind = "point" if kind is None else kind
    return kind


def _poly_interiors_meet(a, b) -> bool:
    """I(a) ∩ I(b) ≠ ∅ for two area geometries. Fast positives (strict
    vertex containment, proper edge crossing) first; the remaining
    configurations are collinear-edge overlaps, decided exactly by the
    overlay kernel's intersection area (valid inputs)."""
    va, vb = geom_vertices(a), geom_vertices(b)
    if len(va) and points_in_geom(va[:, 0], va[:, 1], b, boundary=False).any():
        return True
    if len(vb) and points_in_geom(vb[:, 0], vb[:, 1], a, boundary=False).any():
        return True
    if segments_cross_properly(geom_segments(a), geom_segments(b)):
        return True
    from mundipy_spark.kernels import overlay

    area = overlay.intersection_area_planar(a, b)
    ba, bb = wkb.bounds(a), wkb.bounds(b)
    scale = max(1.0, *(abs(v) for v in (*ba, *bb)))
    return bool(area > 1e-9 * scale * scale)


# ---------------------------------------------------------------------------
# rect batches vs one geometry (tile-covering refinement)
# ---------------------------------------------------------------------------


def rects_intersect_geom(minx, miny, maxx, maxy, geom) -> np.ndarray:
    """Vectorized: which of n rects intersect the geometry.

    rect ∩ geom ≠ ∅ iff any geom vertex in rect, OR rect center in geom,
    OR any geom edge passes through the rect (Liang–Barsky clip test).
    """
    minx = np.asarray(minx, dtype=np.float64)
    miny = np.asarray(miny, dtype=np.float64)
    maxx = np.asarray(maxx, dtype=np.float64)
    maxy = np.asarray(maxy, dtype=np.float64)
    n = len(minx)
    hit = np.zeros(n, dtype=bool)

    verts = geom_vertices(geom)
    if len(verts):
        vx, vy = verts[:, 0], verts[:, 1]
        chunk = max(1, int(4_000_000 / max(len(verts), 1)))
        for s in range(0, n, chunk):
            sl = slice(s, s + chunk)
            inside = (
                (vx[None, :] >= minx[sl, None])
                & (vx[None, :] <= maxx[sl, None])
                & (vy[None, :] >= miny[sl, None])
                & (vy[None, :] <= maxy[sl, None])
            )
            hit[sl] |= inside.any(axis=1)

    if has_area(geom):
        cx, cy = (minx + maxx) / 2.0, (miny + maxy) / 2.0
        todo = ~hit
        if todo.any():
            hit[todo] |= points_in_geom(cx[todo], cy[todo], geom)

    segs = geom_segments(geom)
    if len(segs):
        todo = np.where(~hit)[0]
        if len(todo):
            hit[todo] |= _segs_cross_rects(segs, minx[todo], miny[todo], maxx[todo], maxy[todo])
    return hit


def _segs_cross_rects(segs: np.ndarray, minx, miny, maxx, maxy) -> np.ndarray:
    """Liang–Barsky: for each rect, does any segment intersect it."""
    x1, y1, x2, y2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dx, dy = x2 - x1, y2 - y1
    n = len(minx)
    out = np.zeros(n, dtype=bool)
    chunk = max(1, int(2_000_000 / max(len(segs), 1)))
    for s in range(0, n, chunk):
        sl = slice(s, min(s + chunk, n))
        rminx, rminy = minx[sl][:, None], miny[sl][:, None]
        rmaxx, rmaxy = maxx[sl][:, None], maxy[sl][:, None]
        p = np.stack([-dx, dx, -dy, dy])[None, :, :] * np.ones((sl.stop - sl.start, 1, 1))
        q = np.stack(
            [
                x1[None, :] - rminx,
                rmaxx - x1[None, :],
                y1[None, :] - rminy,
                rmaxy - y1[None, :],
            ],
            axis=1,
        )
        t0 = np.zeros(q.shape[::2])  # (rects, segs)
        t1 = np.ones_like(t0)
        ok = np.ones_like(t0, dtype=bool)
        for k in range(4):
            pk, qk = p[:, k, :], q[:, k, :]
            zero = np.abs(pk) < EPS
            ok &= ~(zero & (qk < 0))
            with np.errstate(divide="ignore", invalid="ignore"):
                t = np.where(zero, 0.0, qk / np.where(pk == 0, 1.0, pk))
            t0 = np.where(~zero & (pk < 0), np.maximum(t0, t), t0)
            t1 = np.where(~zero & (pk > 0), np.minimum(t1, t), t1)
        ok &= t0 <= t1
        out[sl] = ok.any(axis=1)
    return out


# ---------------------------------------------------------------------------
# pairwise geometry predicates
# ---------------------------------------------------------------------------


def bbox_disjoint(a, b) -> bool:
    """Padded by the kernel's 1e-9 'on' tolerance: geometries within
    eps of each other are touching for every distance-based predicate,
    so the bbox gate must not reject them."""
    a0, a1, a2, a3 = wkb.bounds(a)
    b0, b1, b2, b3 = wkb.bounds(b)
    eps = 1e-9
    return a2 < b0 - eps or b2 < a0 - eps or a3 < b1 - eps or b3 < a1 - eps


def _points_of(geom) -> np.ndarray | None:
    t, d = geom
    if t == "Point":
        return np.asarray(d, dtype=np.float64).reshape(1, 2)
    if t == "MultiPoint":
        return np.asarray(d, dtype=np.float64).reshape(-1, 2)
    return None


def _collapse_degenerate_lines(geom):
    """A (Multi)LineString whose EVERY component has zero extent is
    topologically a point set: GEOS labels a collapsed edge's point as
    line INTERIOR (the mod-2 boundary rule sees the coincident
    endpoints an even number of times, so the boundary is empty), so
    contains/relate treat it exactly like a Point. The segment-based
    primitives here would instead see no segments at all and report an
    empty interior — normalize before dispatch. Mixed lines (any
    component with real extent) keep line semantics unchanged."""
    t = geom[0]
    if t == "LineString":
        c = np.asarray(geom[1], dtype=np.float64).reshape(-1, 2)
        if len(c) and (c == c[0]).all():
            return ("Point", c[0].copy())
    elif t == "MultiLineString":
        parts = [
            np.asarray(p, dtype=np.float64).reshape(-1, 2) for p in geom[1]
        ]
        parts = [p for p in parts if len(p)]  # GEOS ignores empty parts
        if parts and all((p == p[0]).all() for p in parts):
            return ("MultiPoint", np.array([p[0] for p in parts]))
    return geom


def intersects(a, b) -> bool:
    """Boundary-inclusive intersects (GEOS semantics)."""
    if bbox_disjoint(a, b):
        return False
    a, b = _collapse_degenerate_lines(a), _collapse_degenerate_lines(b)
    for g in (a, b):
        if g[0] == "GeometryCollection":
            parts = g[1]
            other = b if g is a else a
            return any(intersects(p, other) for p in parts)
    pa, pb = _points_of(a), _points_of(b)
    if pa is not None and pb is not None:
        d = np.sqrt(
            ((pa[:, None, :] - pb[None, :, :]) ** 2).sum(axis=2)
        )
        return bool((d <= 1e-9).any())
    if pa is not None:
        return bool(_points_hit_geom(pa, b).any())
    if pb is not None:
        return bool(_points_hit_geom(pb, a).any())
    # both are lines/polygons
    sa, sb = geom_segments(a), geom_segments(b)
    if segments_intersect_any(sa, sb):
        return True
    # eps-coherence with the 1e-9 'on' tolerance every other predicate
    # uses (points_on_segments / points_in_geom): a vertex within eps of
    # the other's boundary intersects it — the exact orientation-sign
    # test above misses sub-tolerance near-contacts that covers/touches
    # accept, which would let covers(a,b) hold while intersects(a,b)
    # fails
    va, vb = geom_vertices(a), geom_vertices(b)
    if len(va) and len(sb) and points_on_segments(va[:, 0], va[:, 1], sb).any():
        return True
    if len(vb) and len(sa) and points_on_segments(vb[:, 0], vb[:, 1], sa).any():
        return True
    # containment without boundary touch
    if has_area(b):
        if len(va) and points_in_geom(va[:1, 0], va[:1, 1], b).any():
            return True
    if has_area(a):
        if len(vb) and points_in_geom(vb[:1, 0], vb[:1, 1], a).any():
            return True
    return False


def _points_hit_geom(pts: np.ndarray, g, eps: float = 1e-9) -> np.ndarray:
    """Which points intersect geometry g (area: PIP incl. boundary;
    lines: within eps of a segment; points: within eps of a point)."""
    hit = np.zeros(len(pts), dtype=bool)
    if has_area(g):
        hit |= points_in_geom(pts[:, 0], pts[:, 1], g)
    segs = geom_segments(g)
    if len(segs) and not has_area(g):
        hit |= points_on_segments(pts[:, 0], pts[:, 1], segs, eps)
    pg = _points_of(g)
    if pg is not None and len(pg):
        hit |= (np.abs(pts[:, None, :] - pg[None, :, :]).max(axis=2) <= eps).any(
            axis=1
        )
    return hit


def disjoint(a, b) -> bool:
    return not intersects(a, b)


def covers(a, b) -> bool:
    """Every point of b within a (boundary-inclusive).

    Exactness notes (valid inputs): b's boundary is split at every
    contact with a's boundary and the sub-interval midpoints must stay
    in closure(a) — a vertex-plus-proper-crossing test alone misses
    corner-threading exits. For area b, a's boundary must additionally
    stay out of b's INTERIOR (otherwise b spills over ∂a, e.g. b
    spanning a hole of a), and a representative interior point of b
    must land in a (coincident-ring degeneracies)."""
    a, b = _collapse_degenerate_lines(a), _collapse_degenerate_lines(b)
    if bbox_disjoint(a, b):
        return False
    a0, a1, a2, a3 = wkb.bounds(a)
    b0, b1, b2, b3 = wkb.bounds(b)
    eps = 1e-9  # match the 'on' tolerance, not the cross-product EPS
    if b0 < a0 - eps or b1 < a1 - eps or b2 > a2 + eps or b3 > a3 + eps:
        return False
    pb = _points_of(b)
    if pb is not None:
        return bool(_points_hit_geom(pb, a).all())
    if not has_area(a):
        if has_area(b):
            return False  # a line never covers area
        # line covers line: every vertex and every split-midpoint of b on a
        sa = geom_segments(a)
        if len(sa) == 0:
            return False
        vb = geom_vertices(b)
        if len(vb) and not points_on_segments(vb[:, 0], vb[:, 1], sa).all():
            return False
        mids = _split_midpoints(b, a)
        if len(mids) and not points_on_segments(mids[:, 0], mids[:, 1], sa).all():
            return False
        return True
    vb = geom_vertices(b)
    if not points_in_geom(vb[:, 0], vb[:, 1], a).all():
        return False
    # no part of b's boundary may leave closure(a)
    if _part_outside(b, a):
        return False
    if has_area(b):
        # a's boundary may not pass through b's interior (b would spill
        # across it: a hole of a inside b, or b engulfing a's edge)
        va = geom_vertices(a)
        if len(va) and points_in_geom(va[:, 0], va[:, 1], b, boundary=False).any():
            return False
        amids = _split_midpoints(a, b)
        if len(amids) and points_in_geom(
            amids[:, 0], amids[:, 1], b, boundary=False
        ).any():
            return False
        # coincident-ring degeneracy (b == a hole of a): boundary tests
        # all pass, but b's interior is outside a. Probe EVERY component
        # of b — one coincident member of a MultiPolygon must not hide
        # behind a sibling's representative point.
        from mundipy_spark.kernels import constructive

        t, data = b
        parts = [b] if t == "Polygon" else [("Polygon", rings) for rings in data]
        for part in parts:
            rp = constructive.representative_point(part)[1]
            if not points_in_geom(
                np.array([float(rp[0])]), np.array([float(rp[1])]), a, boundary=True
            )[0]:
                return False
    return True


def contains(a, b) -> bool:
    """covers ∧ interiors intersect: b must touch a's interior — a point
    (or line) lying solely on a's boundary is covered but not
    contained."""
    a, b = _collapse_degenerate_lines(a), _collapse_degenerate_lines(b)
    if not covers(a, b):
        return False
    pb = _points_of(b)
    if pb is not None:
        if has_area(a):
            strict = points_in_geom(pb[:, 0], pb[:, 1], a, boundary=False)
            return bool(strict.any())
        if _points_of(a) is not None:
            return True  # point set contains covered point set
        # a is a line: some point of b must be off a's boundary endpoints
        bnd = _line_boundary_points(a)
        return bool((~_near_any(pb, bnd)).any())
    if has_area(a) and not has_area(b):
        # line b inside polygon a, but possibly lying entirely ON ∂a
        return _line_interior_enters(b, a)
    return True


def within(a, b) -> bool:
    return contains(b, a)


def covered_by(a, b) -> bool:
    return covers(b, a)


def _point_interiors_meet(pt_geom, g) -> bool:
    """I(points) ∩ I(g) ≠ ∅: some point strictly inside an area, or on a
    line but off the line's boundary endpoints."""
    pts = _points_of(pt_geom)
    if pts is None or len(pts) == 0:
        return False
    if has_area(g):
        return bool(points_in_geom(pts[:, 0], pts[:, 1], g, boundary=False).any())
    segs = geom_segments(g)
    if len(segs) == 0:  # g is also points: interiors ARE the points
        pg = _points_of(g)
        d = np.abs(pts[:, None, :] - pg[None, :, :]).max(axis=2)
        return bool((d <= 1e-9).any())
    on = points_on_segments(pts[:, 0], pts[:, 1], segs)
    if not on.any():
        return False
    bnd = _line_boundary_points(g)
    return bool((~_near_any(pts[on], bnd)).any())


def _interiors_meet(a, b) -> bool:
    """I(a) ∩ I(b) ≠ ∅, exact per dimension pair (valid inputs)."""
    da, db = _dim(a), _dim(b)
    if da == 0:
        return _point_interiors_meet(a, b)
    if db == 0:
        return _point_interiors_meet(b, a)
    if da == 1 and db == 1:
        return _line_line_ii_kind(a, b) is not None
    if da == 1 and db == 2:
        return _line_interior_enters(a, b)
    if da == 2 and db == 1:
        return _line_interior_enters(b, a)
    return _poly_interiors_meet(a, b)


def touches(a, b) -> bool:
    """They intersect but their INTERIORS don't (GEOS semantics): shared
    boundary contact only. Notably False for: identical geometries,
    polygons whose interiors overlap across collinear shared edges, a
    point in a line's interior, collinear overlapping lines — each of
    which a crossing/vertex-only test misreports."""
    a, b = _collapse_degenerate_lines(a), _collapse_degenerate_lines(b)
    if not intersects(a, b):
        return False
    return not _interiors_meet(a, b)


def crosses(a, b) -> bool:
    """Interiors intersect in a LOWER dimension than max(dim a, dim b),
    and neither geometry is swallowed: line/line isolated interior
    contact, a line passing through a polygon's interior AND exiting,
    points split on/off a higher-dim geometry."""
    a, b = _collapse_degenerate_lines(a), _collapse_degenerate_lines(b)
    dim_a, dim_b = _dim(a), _dim(b)
    if dim_a == 1 and dim_b == 1:
        # dim(II) must be 0: an isolated interior contact (proper cross
        # or interior-vertex touch); a collinear run is overlaps
        return _line_line_ii_kind(a, b) == "point"
    if dim_a == 1 and dim_b == 2:
        return _line_interior_enters(a, b) and _part_outside(a, b)
    if dim_a == 2 and dim_b == 1:
        return crosses(b, a)
    if dim_a == 0 and dim_b >= 1:
        pa = _points_of(a)
        out = ~_points_hit_geom(pa, b)
        return _point_interiors_meet(a, b) and bool(out.any())
    if dim_b == 0 and dim_a >= 1:
        return crosses(b, a)
    return False


def overlaps(a, b) -> bool:
    """Same dimension, interiors intersect IN THAT DIMENSION, neither
    covers the other. (A point-crossing of two lines is crosses, not
    overlaps; edge-touching polygons are touches, not overlaps.)"""
    a, b = _collapse_degenerate_lines(a), _collapse_degenerate_lines(b)
    da, db = _dim(a), _dim(b)
    if da != db:
        return False
    if da == 1:
        if _line_line_ii_kind(a, b) != "run":
            return False
    elif not (intersects(a, b) and _interiors_meet(a, b)):
        return False
    return not covers(a, b) and not covers(b, a)


def _dim(geom) -> int:
    t = geom[0]
    if t in ("Point", "MultiPoint"):
        return 0
    if t in ("LineString", "MultiLineString"):
        return 1
    if t in ("Polygon", "MultiPolygon"):
        return 2
    return max((_dim(g) for g in geom[1]), default=0)


PREDICATES = {
    "intersects": intersects,
    "disjoint": disjoint,
    "contains": contains,
    "within": within,
    "covers": covers,
    "covered_by": covered_by,
    "touches": touches,
    "crosses": crosses,
    "overlaps": overlaps,
}


# ---------------------------------------------------------------------------
# DE-9IM relate matrix (reference geometry.py:141-142 — shapely's
# relate / relate_pattern are part of the per-geometry dispatch surface)
#
# Each entry is the dimension of one pairwise intersection between the
# interior / boundary / exterior decompositions:
#   point sets:   I = the points,      B = empty
#   line sets:    I = lines minus the mod-2 endpoints, B = those endpoints
#   area sets:    I = open area,       B = the rings (closed lines)
# computed with the same split-midpoint / interior-kind primitives the
# named predicates use, so relate() and the named predicates cannot drift.
# ---------------------------------------------------------------------------


def _close_ring(r: np.ndarray) -> np.ndarray:
    """Append the closing vertex when the ring is stored open (the
    polygon kernels accept both forms; as a LINE the closing edge must
    be explicit or mod-2 counts phantom boundary endpoints)."""
    r = np.asarray(r, dtype=np.float64)
    if len(r) >= 3 and (r[0] != r[-1]).any():
        return np.vstack([r, r[:1]])
    return r


def _rings_of(geom):
    """Polygon boundary as a MultiLineString of closed rings (whose own
    mod-2 boundary is empty), or None for non-area geometries."""
    t, data = geom
    if t == "Polygon":
        rings = [_close_ring(r) for r in data]
    elif t == "MultiPolygon":
        rings = [_close_ring(r) for poly in data for r in poly]
    else:
        return None
    return ("MultiLineString", rings) if rings else None


def _pts_near_pts(pa: np.ndarray, pb: np.ndarray, eps: float = 1e-9) -> bool:
    return len(pa) > 0 and bool(_near_any(pa, pb, eps).any())


def _part_off_lines(geom, other) -> bool:
    """Some sub-interval of geom's segments lies off other's segments
    (other treated as a closed line set)."""
    osegs = geom_segments(other)
    mids = _split_midpoints(geom, other)
    if len(mids) == 0:
        return False
    if len(osegs) == 0:
        return True
    return bool((~points_on_segments(mids[:, 0], mids[:, 1], osegs)).any())


_KIND_DIM = {"run": "1", "point": "0", None: "F"}


def relate(a, b) -> str:
    """DE-9IM matrix string, row-major [II IB IE; BI BB BE; EI EB EE]
    with rows = a's interior/boundary/exterior and entries in
    {'F','0','1','2'}. GEOS semantics on valid (Multi)Point/Line/Polygon
    inputs; GeometryCollections raise (as in JTS/GEOS relate)."""
    for g in (a, b):
        if g[0] == "GeometryCollection":
            raise ValueError("relate is not supported on GeometryCollection")
    a, b = _collapse_degenerate_lines(a), _collapse_degenerate_lines(b)
    da, db = _dim(a), _dim(b)

    def ii() -> str:
        if da == 0 or db == 0:
            return "0" if _interiors_meet(a, b) else "F"
        if da == 1 and db == 1:
            return _KIND_DIM[_line_line_ii_kind(a, b)]
        if da == 2 and db == 2:
            return "2" if _poly_interiors_meet(a, b) else "F"
        line, poly = (a, b) if da == 1 else (b, a)
        return "1" if _line_interior_enters(line, poly) else "F"

    def ib(x, dx, y, dy) -> str:
        """dim(I(x) ∩ B(y))."""
        if dy == 0:
            return "F"
        if dy == 1:
            bnd = _line_boundary_points(y)
            if len(bnd) == 0:
                return "F"
            if dx == 0:
                return "0" if _pts_near_pts(_points_of(x), bnd) else "F"
            if dx == 1:
                segs = geom_segments(x)
                if len(segs) == 0:
                    return "F"
                on = points_on_segments(bnd[:, 0], bnd[:, 1], segs)
                if on.any() and (~_near_any(bnd[on], _line_boundary_points(x))).any():
                    return "0"
                return "F"
            inside = points_in_geom(bnd[:, 0], bnd[:, 1], x, boundary=False)
            return "0" if inside.any() else "F"
        rings = _rings_of(y)
        if rings is None:
            return "F"
        if dx == 0:
            px = _points_of(x)
            segs = geom_segments(rings)
            hit = len(px) and points_on_segments(px[:, 0], px[:, 1], segs).any()
            return "0" if hit else "F"
        if dx == 1:
            # rings have empty boundary, so the interior-kind primitive
            # computes I(x) ∩ rings directly
            return _KIND_DIM[_line_line_ii_kind(x, rings)]
        return "1" if _line_interior_enters(rings, x) else "F"

    def ie(x, dx, y, dy) -> str:
        """dim(I(x) ∩ E(y)). E(y) is open, so a line interior meeting it
        meets it in dim 1 and an area interior in dim 2."""
        if dx == 0:
            px = _points_of(x)
            return "0" if (~_points_hit_geom(px, y)).any() else "F"
        if dx == 1:
            if dy == 0:
                return "1" if len(geom_segments(x)) else "F"
            if dy == 1:
                return "1" if _part_off_lines(x, y) else "F"
            return "1" if _part_outside(x, y) else "F"
        if dy == 2:
            return "F" if covers(y, x) else "2"
        return "2"  # an area never fits inside a line/point closure

    def be(x, y, dy) -> str:
        """dim(B(x) ∩ E(y))."""
        dx = _dim(x)
        if dx == 0:
            return "F"
        if dx == 1:
            bnd = _line_boundary_points(x)
            if len(bnd) == 0:
                return "F"
            return "0" if (~_points_hit_geom(bnd, y)).any() else "F"
        rings = _rings_of(x)
        if rings is None:
            return "F"
        if dy == 0:
            return "1"
        if dy == 1:
            return "1" if _part_off_lines(rings, y) else "F"
        return "1" if _part_outside(rings, y) else "F"

    def bb() -> str:
        if da == 0 or db == 0:
            return "F"
        if da == 1 and db == 1:
            return (
                "0"
                if _pts_near_pts(_line_boundary_points(a), _line_boundary_points(b))
                else "F"
            )
        if da == 1 or db == 1:
            ln, ar = (a, b) if da == 1 else (b, a)
            bnd = _line_boundary_points(ln)
            segs = geom_segments(_rings_of(ar))
            hit = len(bnd) and points_on_segments(bnd[:, 0], bnd[:, 1], segs).any()
            return "0" if hit else "F"
        return _KIND_DIM[_line_line_ii_kind(_rings_of(a), _rings_of(b))]

    return "".join(
        [
            ii(), ib(a, da, b, db), ie(a, da, b, db),
            ib(b, db, a, da), bb(), be(a, b, db),
            ie(b, db, a, da), be(b, a, da), "2",
        ]
    )


def relate_pattern(a, b, pattern: str) -> bool:
    """Does relate(a, b) match a DE-9IM pattern ('T' = any non-F,
    '*' = anything, 'F'/'0'/'1'/'2' exact; case-insensitive)."""
    pattern = pattern.strip().upper()
    if len(pattern) != 9 or any(c not in "TF012*" for c in pattern):
        raise ValueError(f"invalid DE-9IM pattern: {pattern!r}")
    for mc, pc in zip(relate(a, b), pattern):
        if pc == "*":
            continue
        if pc == "T":
            if mc == "F":
                return False
        elif pc != mc:
            return False
    return True


# ---------------------------------------------------------------------------
# unary predicates + equality (reference geometry.py:75,111-112,125-129)
# ---------------------------------------------------------------------------


def is_empty(geom) -> bool:
    return len(geom_vertices(geom)) == 0


def is_closed(geom) -> bool:
    t, data = geom
    if t == "LineString":
        l = np.asarray(data, dtype=np.float64)
        return len(l) > 2 and bool(np.allclose(l[0], l[-1]))
    if t == "MultiLineString":
        return all(is_closed(("LineString", l)) for l in data)
    return False


def is_simple(geom) -> bool:
    """No proper self-intersections between non-adjacent segments."""
    t, data = geom
    if t in ("Point", "MultiPoint"):
        return True
    segs = geom_segments(geom)
    n = len(segs)
    if n < 2:
        return True
    for i in range(n):
        a = segs[i : i + 1]
        b = segs[i + 2 :]
        if len(b) and segments_cross_properly(a, b):
            return False
    return True


def is_ring(geom) -> bool:
    return is_closed(geom) and is_simple(geom)


def equals_exact(a, b, tolerance: float = 0.0) -> bool:
    """Same structure and coordinates within tolerance (shapely
    equals_exact semantics: NO normalization)."""
    if a[0] != b[0]:
        return False
    va, vb = geom_vertices(a), geom_vertices(b)
    if va.shape != vb.shape:
        return False
    if len(va) == 0:
        return True
    return bool(np.abs(va - vb).max() <= max(tolerance, 0.0))


def almost_equals(a, b, decimal: int = 6) -> bool:
    return equals_exact(a, b, tolerance=0.5 * 10 ** (-decimal))


def equals(a, b) -> bool:
    """Topological equality: each covers the other (area geoms); exact
    vertex-set equality after normalization otherwise."""
    a, b = _collapse_degenerate_lines(a), _collapse_degenerate_lines(b)
    if has_area(a) and has_area(b):
        return covers(a, b) and covers(b, a)
    from mundipy_spark.kernels import constructive

    na, nb = constructive.normalize(a), constructive.normalize(b)
    return equals_exact(na, nb, tolerance=1e-12)

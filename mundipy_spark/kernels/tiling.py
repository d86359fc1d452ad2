"""From-scratch hierarchical tile index (H3/S2 role, quadtree on lon/lat).

This is the piece that turns every spatial predicate into a Catalyst
equi-join: polygons are exploded into the int64 cells they cover, points
are assigned their single containing cell with pure column arithmetic
(JVM-side, whole-stage-codegen — see ``functions.st.cell_expr``), and the
join runs on ``cell`` like any relational key (broadcast/AQE/salting all
apply). It plays the role GDAL's R-tree / PostGIS GiST probe plays in the
reference (mundipy/dataset.py:100,109): coarse filter, then exact refine.

Cell scheme (deliberately arithmetic so the DuckDB oracle can reproduce
cell ids in plain SQL):

    res r in [0, 20]
    nx = 2**(r+1) columns over lon in [-180, 180]
    ny = 2**r     rows    over lat in [-90, 90]
    x  = clamp(floor((lon+180)/360*nx), 0, nx-1)
    y  = clamp(floor((lat+90)/180*ny), 0, ny-1)
    cell_id = (r << 55) | (x << 27) | y        # positive int64

Parent/child relations are quadtree shifts; `k_ring` wraps in longitude
(the antimeridian) and clamps at the poles — the subtlety that makes the
expanding-ring kNN (reference mundipy/dataset.py:192-199) correct at
tile-grid boundaries.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 20
_RES_SHIFT = 55
_X_SHIFT = 27
_XY_MASK = (1 << 27) - 1  # field mask; x occupies bits 27..53, y bits 0..26


def nx_at(res: int) -> int:
    return 1 << (res + 1)


def ny_at(res: int) -> int:
    return max(1 << res, 1)


def cell_deg(res: int) -> float:
    """Cell edge length in degrees (square in degrees by construction)."""
    return 360.0 / nx_at(res)


def point_cell(lon, lat, res: int) -> np.ndarray:
    """Vectorized cell assignment for point arrays."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    nx, ny = nx_at(res), ny_at(res)
    x = np.clip(np.floor((lon + 180.0) / 360.0 * nx).astype(np.int64), 0, nx - 1)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * ny).astype(np.int64), 0, ny - 1)
    return (np.int64(res) << _RES_SHIFT) | (x << _X_SHIFT) | y


def cell_res_xy(cells) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    c = np.asarray(cells, dtype=np.int64)
    res = c >> _RES_SHIFT
    x = (c >> _X_SHIFT) & _XY_MASK
    y = c & _XY_MASK
    return res, x, y


def make_cells(res, x, y) -> np.ndarray:
    return (
        (np.asarray(res, dtype=np.int64) << _RES_SHIFT)
        | (np.asarray(x, dtype=np.int64) << _X_SHIFT)
        | np.asarray(y, dtype=np.int64)
    )


def cell_bounds(cells) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized (minx, miny, maxx, maxy) per cell."""
    res, x, y = cell_res_xy(cells)
    # all cells in one call usually share a res, but support mixed
    nx = (np.int64(1) << (res + 1)).astype(np.float64)
    ny = np.maximum(np.int64(1) << res, 1).astype(np.float64)
    w = 360.0 / nx
    h = 180.0 / ny
    minx = -180.0 + x * w
    miny = -90.0 + y * h
    return minx, miny, minx + w, miny + h


def cell_center(cells) -> tuple[np.ndarray, np.ndarray]:
    minx, miny, maxx, maxy = cell_bounds(cells)
    return (minx + maxx) / 2.0, (miny + maxy) / 2.0


def parent(cells, steps: int = 1) -> np.ndarray:
    res, x, y = cell_res_xy(cells)
    return make_cells(res - steps, x >> steps, y >> steps)


def children(cell: int) -> np.ndarray:
    res, x, y = cell_res_xy([cell])
    r, x, y = int(res[0]) + 1, int(x[0]) << 1, int(y[0]) << 1
    xs = np.array([x, x + 1, x, x + 1], dtype=np.int64)
    ys = np.array([y, y, y + 1, y + 1], dtype=np.int64)
    return make_cells(np.full(4, r, dtype=np.int64), xs, ys)


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the (2k+1)^2 disk), with
    longitude wraparound and pole clamping. Includes the center cell."""
    res, x, y = cell_res_xy([cell])
    r, cx, cy = int(res[0]), int(x[0]), int(y[0])
    nx, ny = nx_at(r), ny_at(r)
    dx = np.arange(-k, k + 1, dtype=np.int64)
    dy = np.arange(-k, k + 1, dtype=np.int64)
    gx, gy = np.meshgrid((cx + dx) % nx, cy + dy)
    keep = (gy >= 0) & (gy < ny)
    xs, ys = gx[keep], gy[keep]
    out = make_cells(np.full(len(xs), r, dtype=np.int64), xs, ys)
    return np.unique(out)


def ring_only(cell: int, k: int) -> np.ndarray:
    """The hollow ring at exactly Chebyshev distance k (k=0 → the cell)."""
    if k == 0:
        return np.asarray([cell], dtype=np.int64)
    disk_k = set(k_ring(cell, k).tolist())
    disk_km1 = set(k_ring(cell, k - 1).tolist())
    return np.asarray(sorted(disk_k - disk_km1), dtype=np.int64)


def cover_bbox(minx: float, miny: float, maxx: float, maxy: float, res: int) -> np.ndarray:
    """All cells whose rectangle intersects the bbox."""
    nx, ny = nx_at(res), ny_at(res)
    x0 = int(np.clip(np.floor((minx + 180.0) / 360.0 * nx), 0, nx - 1))
    x1 = int(np.clip(np.floor((maxx + 180.0) / 360.0 * nx), 0, nx - 1))
    y0 = int(np.clip(np.floor((miny + 90.0) / 180.0 * ny), 0, ny - 1))
    y1 = int(np.clip(np.floor((maxy + 90.0) / 180.0 * ny), 0, ny - 1))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return make_cells(
        np.full(gx.size, res, dtype=np.int64), gx.ravel(), gy.ravel()
    )


def pick_resolution(minx: float, miny: float, maxx: float, maxy: float, target_cells: int = 16) -> int:
    """Smallest res whose bbox covering stays under ~target_cells — the
    auto-resolution heuristic for polygon coverings (a polygon exploding
    into thousands of cells would bloat the broadcast index)."""
    for res in range(MAX_RES, -1, -1):
        w = cell_deg(res)
        n = (max(maxx - minx, 1e-12) / w + 1.0) * (max(maxy - miny, 1e-12) / w + 1.0)
        if n <= target_cells:
            return res
    return 0


def cover_geometry(geom, res: int) -> np.ndarray:
    """Conservative covering of a geometry: cells whose rectangle
    intersects the geometry (exact rect-vs-geom test, so interior cells
    of big polygons ARE included and pure bbox-corner cells of thin
    diagonal polygons are excluded)."""
    cells, _ = cover_geometry_classified(geom, res)
    return cells


def cover_geometry_classified(geom, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells plus an interior flag per cell.

    full[i] is True when the cell's whole rectangle lies inside the
    geometry — every point in such a cell intersects the polygon, so the
    tile join can accept those candidates from the cell id ALONE and the
    exact-PIP Arrow kernel only ever sees boundary-cell rows. This is
    the classic interior/boundary covering split (S2's "interior
    covering"); at web scale it keeps ~O(perimeter/area) of the probe
    stream out of Python entirely.

    Exactness: if no boundary segment of the geometry intersects the
    rectangle, the rectangle is uniformly inside or outside; the center
    point decides which.
    """
    from mundipy_spark.kernels import predicates, wkb

    minx, miny, maxx, maxy = wkb.bounds(geom)
    cand = cover_bbox(minx, miny, maxx, maxy, res)
    if geom[0] in ("Point", "MultiPoint"):
        pts = np.asarray(geom[1], dtype=np.float64).reshape(-1, 2)
        cells = np.unique(point_cell(pts[:, 0], pts[:, 1], res))
        return cells, np.zeros(len(cells), dtype=bool)
    cminx, cminy, cmaxx, cmaxy = cell_bounds(cand)
    keep = predicates.rects_intersect_geom(cminx, cminy, cmaxx, cmaxy, geom)
    cells = cand[keep]
    if not predicates.has_area(geom):
        return cells, np.zeros(len(cells), dtype=bool)
    segs = predicates.geom_segments(geom)
    kminx, kminy, kmaxx, kmaxy = cminx[keep], cminy[keep], cmaxx[keep], cmaxy[keep]
    crossed = predicates._segs_cross_rects(segs, kminx, kminy, kmaxx, kmaxy)
    full = ~crossed
    if full.any():
        cx = (kminx[full] + kmaxx[full]) / 2.0
        cy = (kminy[full] + kmaxy[full]) / 2.0
        inside = predicates.points_in_geom(cx, cy, geom)
        full[np.nonzero(full)[0][~inside]] = False
    return cells, full


def cell_refine_segments(
    geom, cells, pad_eps: float = 1e-6
) -> list[tuple[int, bool, list[float]]]:
    """Per-cell PIP refinement data for the JVM-expression refine path.

    For each (boundary) cell, the exact `points_in_geom` answer for any
    point assigned to that cell is reconstructible from a SMALL local
    subset of the geometry's segments plus one parity bit:

      - a segment whose x-range ends left of the (padded) cell can never
        host a +x ray crossing (xint <= its max x < any point x) nor an
        on-edge hit -> dropped;
      - a segment entirely right of the padded cell whose y-span strictly
        covers the padded strip crosses the +x ray of EVERY point in the
        cell exactly once -> folded into a constant base parity bit;
      - everything else whose y-range intersects the padded strip is kept
        verbatim and evaluated per point with the very same crossing /
        min-distance formulas `points_in_geom` uses.

    Pads are half a cell plus pad_eps, so probe points that sit exactly
    ON a cell border (possible: floor assignment puts a border point in
    the upper cell) are strictly interior to the window, and the 1e-9
    on-edge test can never reach a dropped segment.

    Returns a list aligned with `cells`: (nring, base_parity, flat segs)
    where the flat array is [x1,y1,x2,y2]*k with the first nring
    segments being polygon-ring segments (crossing + edge test) and the
    rest line segments (edge test only). Parity is one XOR over all ring
    edges (`predicates.ring_line_segments`): the PIP rule of
    `kernels.predicates` for any geometry with at most one areal member.
    A GeometryCollection with more (`predicates.members_or`) ORs its
    members, which one parity cannot express; it must use the Arrow
    refine path."""
    from mundipy_spark.kernels import predicates

    rs, ls = predicates.ring_line_segments(geom)
    cminx, cminy, cmaxx, cmaxy = cell_bounds(cells)
    padx = (cmaxx - cminx) * 0.5 + pad_eps
    pady = (cmaxy - cminy) * 0.5 + pad_eps
    if len(rs):
        r_minx = np.minimum(rs[:, 0], rs[:, 2])
        r_maxx = np.maximum(rs[:, 0], rs[:, 2])
        r_miny = np.minimum(rs[:, 1], rs[:, 3])
        r_maxy = np.maximum(rs[:, 1], rs[:, 3])
    if len(ls):
        l_minx = np.minimum(ls[:, 0], ls[:, 2])
        l_maxx = np.maximum(ls[:, 0], ls[:, 2])
        l_miny = np.minimum(ls[:, 1], ls[:, 3])
        l_maxy = np.maximum(ls[:, 1], ls[:, 3])
    out: list[tuple[int, bool, list[float]]] = []
    for k in range(len(cells)):
        x0, x1 = cminx[k] - padx[k], cmaxx[k] + padx[k]
        y0, y1 = cminy[k] - pady[k], cmaxy[k] + pady[k]
        bpar = False
        kept_r = np.empty((0, 4), dtype=np.float64)
        kept_l = np.empty((0, 4), dtype=np.float64)
        if len(rs):
            in_strip = (r_maxy >= y0) & (r_miny <= y1)
            cand = in_strip & (r_maxx >= x0)
            fold = cand & (r_minx > x1) & (r_miny < y0) & (r_maxy > y1)
            kept_r = rs[cand & ~fold]
            bpar = bool(int(fold.sum()) & 1)
        if len(ls):
            kept_l = ls[
                (l_maxy >= y0) & (l_miny <= y1) & (l_maxx >= x0) & (l_minx <= x1)
            ]
        flat = np.concatenate([kept_r, kept_l], axis=0).ravel()
        out.append((int(len(kept_r)), bpar, flat.tolist()))
    return out

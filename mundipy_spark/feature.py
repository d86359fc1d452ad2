"""Feature: a geometry + properties record (reference BaseGeometry,
mundipy/geometry.py:169-207) for the executor-local side of Mundi.q.

Inside the engine a "feature" is a DataFrame row; this object exists so
user code written against the reference API (`coffeeshop['name']`,
`shop.intersects(hood)`, `shop.buffer(100)`) runs unchanged inside the
mapInPandas UDF. Geometric methods delegate to the numpy kernels with
the reference's local-PCS TRANSFORM_INPUT semantics, and every
RETURN_GEO op propagates the input's properties onto the output
(geometry.py:264,315 — asserted in reference tests/test_geometry.py:28-34).
"""

from __future__ import annotations

import numpy as np

from mundipy_spark.kernels import constructive, measure, overlay, predicates, proj, wkb

_AREAL = ("Polygon", "MultiPolygon")


def _as_geom(other):
    if isinstance(other, Feature):
        return other.geom
    if isinstance(other, tuple):
        return other
    if isinstance(other, (bytes, bytearray)):
        return wkb.loads(bytes(other))
    raise TypeError(f"not a geometry: {type(other)}")


class Feature:
    __slots__ = ("geom", "features", "uscale", "zflag")

    def __init__(self, geom, features: dict | None = None, uscale: float = 1.0):
        """uscale: meters -> session measurement units (1.0 = meters,
        ~3.2808 = feet). The reference gets this by choosing a PCS whose
        axis unit matches Mundi(units=...) (mundipy/pcs/__init__.py:26-62);
        here measures compute in meters and scale on the way out."""
        if isinstance(geom, tuple):
            self.geom = geom
            self.zflag = False  # internal tuples are always 2D
        else:
            self.geom = wkb.loads(geom)
            # observe the Z flag before the codec drops the ordinates
            self.zflag = wkb.wkb_has_z(geom)
        self.features = dict(features or {})
        self.uscale = uscale

    # --- property dict surface (geometry.py:203-207) ---
    def __getitem__(self, key):
        return self.features[key]

    def __setitem__(self, key, value):
        self.features[key] = value

    def get(self, key, default=None):
        return self.features.get(key, default)

    # --- accessors ---
    @property
    def geom_type(self) -> str:
        return self.geom[0]

    @property
    def bounds(self):
        return wkb.bounds(self.geom)

    @property
    def wkt(self) -> str:
        return wkb.to_wkt(self.geom)

    @property
    def wkb(self) -> bytes:
        return wkb.dumps(self.geom)

    @property
    def wkb_hex(self) -> str:
        """Uppercase hex WKB (reference geometry.py:159 — shapely's
        `wkb_hex` passthrough, which emits uppercase digits)."""
        return wkb.dumps(self.geom).hex().upper()

    @property
    def has_z(self) -> bool:
        """Whether the SOURCE WKB declared a Z ordinate (reference
        geometry.py:115). The engine itself is strictly 2D — Z values
        are dropped at decode (kernels/wkb.py module docstring), so
        this observes provenance, matching the reference, which
        surfaces the flag but never computes with Z."""
        return self.zflag

    @property
    def coords(self) -> list:
        """Coordinate tuples for simple geometries (reference
        geometry.py:113 — shapely's `coords`). Shapely only defines
        the sequence for Point / LineString / LinearRing; polygons and
        multi-part geometries raise NotImplementedError there, and the
        reference passes that through, so we do too."""
        t, data = self.geom
        if t == "Point":
            return [(float(data[0]), float(data[1]))]
        if t == "LineString":
            return [(float(x), float(y)) for x, y in np.asarray(data)]
        raise NotImplementedError(
            f"coords is not defined for {t} (shapely semantics: only "
            "Point/LineString/LinearRing expose a coordinate sequence)"
        )

    @property
    def xy(self):
        """Separate x / y coordinate arrays as `array.array('d')`
        (reference geometry.py:114+ SHAPELY_METHODS 'xy': shapely
        returns a pair of double arrays for Point/LineString and
        raises for everything else)."""
        import array as _array

        pts = self.coords  # shares the Point/LineString-only contract
        return (
            _array.array("d", [p[0] for p in pts]),
            _array.array("d", [p[1] for p in pts]),
        )

    def svg(self, scale_factor: float = 1.0, color: str | None = None) -> str:
        """Single-geometry SVG fragment (reference geometry.py:161 —
        shapely's `.svg()` passthrough): circle for points, polyline
        for lines, even-odd path for polygons, `<g>` wrapper for
        multi-parts; invalid geometries get the red fill. Layer-level
        rendering (the notebook repr) lives in mundipy_spark/svg.py."""
        return _svg_fragment(self.geom, scale_factor, color, self.is_valid)

    @property
    def __geo_interface__(self) -> dict:
        return {
            "type": "Feature",
            "geometry": wkb.to_geojson(self.geom),
            "properties": dict(self.features),
        }

    # --- measures (session units; TRANSFORM_INPUT sandwich) ---
    @property
    def area(self) -> float:
        return measure.geom_area_m2(self.geom) * self.uscale**2

    @property
    def length(self) -> float:
        return measure.geom_length_m(self.geom) * self.uscale

    def distance(self, other) -> float:
        return measure.geom_distance_m(self.geom, _as_geom(other)) * self.uscale

    # --- predicates ---
    def intersects(self, other) -> bool:
        return predicates.intersects(self.geom, _as_geom(other))

    def contains(self, other) -> bool:
        return predicates.contains(self.geom, _as_geom(other))

    def within(self, other) -> bool:
        return predicates.within(self.geom, _as_geom(other))

    def touches(self, other) -> bool:
        return predicates.touches(self.geom, _as_geom(other))

    def disjoint(self, other) -> bool:
        return predicates.disjoint(self.geom, _as_geom(other))

    def covers(self, other) -> bool:
        return predicates.covers(self.geom, _as_geom(other))

    def covered_by(self, other) -> bool:
        return predicates.covered_by(self.geom, _as_geom(other))

    def crosses(self, other) -> bool:
        return predicates.crosses(self.geom, _as_geom(other))

    def overlaps(self, other) -> bool:
        return predicates.overlaps(self.geom, _as_geom(other))

    def relate(self, other) -> str:
        """DE-9IM matrix string (reference geometry.py:141)."""
        return predicates.relate(self.geom, _as_geom(other))

    def relate_pattern(self, other, pattern: str) -> bool:
        """DE-9IM pattern match (reference geometry.py:142)."""
        return predicates.relate_pattern(self.geom, _as_geom(other), pattern)

    def equals(self, other) -> bool:
        return predicates.equals(self.geom, _as_geom(other))

    def equals_exact(self, other, tolerance: float = 0.0) -> bool:
        return predicates.equals_exact(self.geom, _as_geom(other), tolerance)

    def almost_equals(self, other, decimal: int = 6) -> bool:
        return predicates.almost_equals(self.geom, _as_geom(other), decimal)

    # --- unary predicates (reference geometry.py:111-129: shapely
    # properties surfaced verbatim on every geometry object) ---
    @property
    def is_valid(self) -> bool:
        return constructive.is_valid(self.geom)

    @property
    def is_empty(self) -> bool:
        return predicates.is_empty(self.geom)

    @property
    def is_closed(self) -> bool:
        return predicates.is_closed(self.geom)

    @property
    def is_ring(self) -> bool:
        return predicates.is_ring(self.geom)

    @property
    def is_simple(self) -> bool:
        return predicates.is_simple(self.geom)

    # --- constructive (RETURN_GEO: properties propagate) ---
    def buffer(self, dist: float) -> "Feature":
        """dist in session units (feet when Mundi(units='feet'))."""
        return Feature(
            constructive.buffer_m(self.geom, dist / self.uscale),
            self.features,
            self.uscale,
        )

    @property
    def centroid(self) -> "Feature":
        return Feature(constructive.centroid(self.geom), self.features, self.uscale)

    @property
    def envelope(self) -> "Feature":
        return Feature(constructive.envelope(self.geom), self.features, self.uscale)

    @property
    def convex_hull(self) -> "Feature":
        return Feature(constructive.convex_hull(self.geom), self.features, self.uscale)

    def simplify(self, tol: float) -> "Feature":
        return Feature(constructive.simplify(self.geom, tol), self.features, self.uscale)

    # --- overlays (RETURN_GEO, reference geometry.py:103,123,150,154) ---
    def _overlay(self, other, op: str) -> "Feature | None":
        g = overlay.overlay_op(self.geom, _as_geom(other), op) if op != "intersection" else overlay.intersection(self.geom, _as_geom(other))
        return Feature(g, self.features, self.uscale) if g is not None else None

    def intersection(self, other) -> "Feature | None":
        return self._overlay(other, "intersection")

    def union(self, other) -> "Feature | None":
        return self._overlay(other, "union")

    def difference(self, other) -> "Feature | None":
        return self._overlay(other, "difference")

    def symmetric_difference(self, other) -> "Feature | None":
        return self._overlay(other, "symmetric_difference")

    # --- remaining scalar surface (geometry.py:89,117,133,135,137,139,144) ---
    def hausdorff_distance(self, other) -> float:
        return measure.hausdorff_distance_m(self.geom, _as_geom(other)) * self.uscale

    @property
    def minimum_clearance(self) -> float:
        """Session units (meter sandwich like buffer/distance — the
        reference projects into the chosen PCS for every SHAPELY_METHODS
        TRANSFORM_INPUT op, geometry.py:133)."""
        return measure.minimum_clearance_m(self.geom) * self.uscale

    def interpolate(self, dist: float) -> "Feature":
        """dist in session units along the line (feet under
        Mundi(units='feet')), like the reference's projected shapely."""
        return Feature(
            measure.interpolate_m(self.geom, dist / self.uscale),
            self.features,
            self.uscale,
        )

    def project(self, other) -> float:
        """Distance along this line of the point nearest `other`, in
        session units."""
        return measure.line_project_m(self.geom, _as_geom(other)) * self.uscale

    @property
    def boundary(self) -> "Feature":
        return Feature(constructive.boundary(self.geom), self.features, self.uscale)

    @property
    def representative_point(self) -> "Feature":
        return Feature(constructive.representative_point(self.geom), self.features, self.uscale)

    def normalize(self) -> "Feature":
        return Feature(constructive.normalize(self.geom), self.features, self.uscale)

    @property
    def minimum_rotated_rectangle(self) -> "Feature":
        return Feature(
            constructive.minimum_rotated_rectangle(self.geom), self.features, self.uscale
        )

    def __repr__(self) -> str:
        return f"<Feature {self.geom_type} props={list(self.features)[:4]}>"


def _svg_fragment(geom, scale_factor: float, color: str | None, valid: bool) -> str:
    """Shapely-style per-geometry SVG fragment (the shapes shapely's
    BaseGeometry.svg emits, public API): default fill #66cc99 for valid
    geometries, #ff3333 for invalid; points r=3*sf, lines 2*sf-wide
    polylines, polygons even-odd paths; multi-parts wrap children in
    <g>. Empty geometries render as `<g />` like shapely."""
    t, data = geom
    fill = color if color is not None else ("#66cc99" if valid else "#ff3333")

    def _f(v) -> str:
        s = f"{float(v):.6f}".rstrip("0").rstrip(".")
        return s if s not in ("-0", "") else "0"

    if t == "Point":
        d = np.asarray(data, dtype=np.float64)
        return (
            f'<circle cx="{_f(d[0])}" cy="{_f(d[1])}" r="{_f(3.0 * scale_factor)}" '
            f'stroke="#555555" stroke-width="{_f(1.0 * scale_factor)}" fill="{fill}" opacity="0.6" />'
        )
    if t == "LineString":
        c = np.asarray(data, dtype=np.float64)
        if len(c) == 0:
            return "<g />"
        pts = " ".join(f"{_f(x)},{_f(y)}" for x, y in c)
        return (
            f'<polyline fill="none" stroke="{fill}" '
            f'stroke-width="{_f(2.0 * scale_factor)}" points="{pts}" opacity="0.8" />'
        )
    if t == "Polygon":
        if not data:
            return "<g />"
        rings = []
        for ring in data:
            c = np.asarray(ring, dtype=np.float64)
            rings.append(
                "M " + " L ".join(f"{_f(x)},{_f(y)}" for x, y in c) + " z"
            )
        return (
            f'<path fill-rule="evenodd" fill="{fill}" stroke="#555555" '
            f'stroke-width="{_f(2.0 * scale_factor)}" opacity="0.6" d="{" ".join(rings)}" />'
        )
    if t == "MultiPoint":
        parts = [
            _svg_fragment(("Point", p), scale_factor, color, valid)
            for p in np.asarray(data).reshape(-1, 2)
        ]
    elif t == "MultiLineString":
        parts = [
            _svg_fragment(("LineString", l), scale_factor, color, valid)
            for l in data
        ]
    elif t == "MultiPolygon":
        parts = [
            _svg_fragment(("Polygon", p), scale_factor, color, valid)
            for p in data
        ]
    elif t == "GeometryCollection":
        parts = [_svg_fragment(g, scale_factor, color, valid) for g in data]
    else:
        raise ValueError(f"unknown geometry type: {t}")
    if not parts:
        return "<g />"
    return "<g>" + "".join(parts) + "</g>"


class LocalIndex:
    """Executor-local spatial index over a broadcast layer — the object
    Mundi.q injects for each named side dataset (the role the reference's
    fiona/PostGIS-indexed Dataset plays per probe, dataset.py:143-206).

    Holds vectorized bbox arrays + parsed geometries with the reference's
    semantics: point probes buffered by 1e-3 deg (dataset.py:159),
    nearest returns None on empty (dataset.py:201-206).

    Point probes against areal candidates (Polygon / MultiPolygon) run on
    cached flat edge tables (`predicates.edge_table`), one numpy pass over
    all candidates per probe instead of a per-candidate predicate call:

    - lon/lat tables, built on first use per geometry, answer
      `intersects`;
    - projected tables, built per (geometry, UTM zone) pair the probes
      hit, answer the meter distances of `within` and `nearest`. The
      zone is still chosen per pair by `proj.local_projection` on the
      union bbox of polygon and probe, and the tables come from the same
      `proj.transform_geom` / `geom_segments` calls `measure.geom_distance_m`
      makes, so distances are bit-identical to it.

    Both follow the PIP rule of `kernels.predicates`: one even-odd
    parity over all ring edges of the geometry, or within 1e-9 of its
    boundary. Other pairs — non-Point probes, non-areal candidates,
    and pairs whose local projection is an AEQD centred on the pair —
    take the per-candidate `predicates.intersects` /
    `measure.geom_distance_m` path. The caches are bounded by
    geometries x zones touched, shared by `with_scale` views, and left
    out of the pickle, so a broadcast never ships them.
    """

    def __init__(self, rows: list[tuple[bytes, dict]], uscale: float = 1.0):
        self.geoms = [wkb.loads(g) for g, _ in rows]
        self.props = [p for _, p in rows]
        self.uscale = uscale
        if self.geoms:
            b = np.asarray([wkb.bounds(g) for g in self.geoms], dtype=np.float64)
        else:
            b = np.empty((0, 4), dtype=np.float64)
        self.minx, self.miny, self.maxx, self.maxy = b.T if len(b) else (
            np.empty(0), np.empty(0), np.empty(0), np.empty(0)
        )
        self._init_caches()

    def _init_caches(self) -> None:
        self._tables: dict = {}  # geometry index -> lon/lat EdgeTable | None
        self._zone_tables: dict = {}  # (geometry index, zone) -> EdgeTable | None

    def __getstate__(self):
        state = dict(self.__dict__)
        del state["_tables"], state["_zone_tables"]
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._init_caches()

    @classmethod
    def from_dataframe(cls, df, geom_col: str = "geometry"):
        rows = []
        for r in df.collect():
            d = r.asDict()
            g = d.pop(geom_col)
            if g is not None:
                rows.append((bytes(g), d))
        return cls(rows)

    def with_scale(self, uscale: float) -> "LocalIndex":
        """Shallow view with a different session unit scale (arrays and
        caches shared) — Mundi(units=...) wraps side layers through this."""
        ix = object.__new__(type(self))
        ix.__dict__.update(self.__dict__)
        ix.uscale = uscale
        return ix

    def __len__(self) -> int:
        return len(self.geoms)

    def __iter__(self):
        for g, p in zip(self.geoms, self.props):
            yield Feature(g, p, self.uscale)

    @property
    def bounds(self):
        if not len(self.geoms):
            return (np.inf, np.inf, -np.inf, -np.inf)
        return (
            float(self.minx.min()),
            float(self.miny.min()),
            float(self.maxx.max()),
            float(self.maxy.max()),
        )

    def _bbox_candidates(self, qminx, qminy, qmaxx, qmaxy) -> np.ndarray:
        return np.nonzero(
            (self.maxx >= qminx)
            & (self.minx <= qmaxx)
            & (self.maxy >= qminy)
            & (self.miny <= qmaxy)
        )[0]

    def _feature(self, i) -> Feature:
        return Feature(self.geoms[i], self.props[i], self.uscale)

    def inside_bbox(self, bbox) -> list[Feature]:
        return [self._feature(i) for i in self._bbox_candidates(*bbox)]

    def _table(self, i):
        if i not in self._tables:
            g = self.geoms[i]
            self._tables[i] = predicates.edge_table(g) if g[0] in _AREAL else None
        return self._tables[i]

    def _zone_table(self, i, zone: str, fwd):
        key = (i, zone)
        if key not in self._zone_tables:
            self._zone_tables[key] = predicates.edge_table(
                proj.transform_geom(self.geoms[i], fwd)
            )
        return self._zone_tables[key]

    def _point_hits(self, g, idx) -> tuple[np.ndarray, np.ndarray]:
        """(hit, done) over candidates idx: `hit` is
        `predicates.intersects(geom, g)` wherever `done` (a Point probe
        vs areal candidates, answered from their lon/lat tables)."""
        hit = np.zeros(len(idx), dtype=bool)
        done = np.zeros(len(idx), dtype=bool)
        if g[0] != "Point":
            return hit, done
        ks = [k for k, i in enumerate(idx) if self._table(i) is not None]
        if ks:
            covered, _ = predicates.point_vs_edge_tables(
                g[1][0], g[1][1], [self._tables[idx[k]] for k in ks]
            )
            hit[ks], done[ks] = covered, True
        return hit, done

    def _point_distances_m(self, g, idx) -> tuple[np.ndarray, np.ndarray]:
        """(dist, done) over candidates idx: `dist` is
        `measure.geom_distance_m(geom, g)` wherever `done` (a Point probe
        vs areal candidates whose local projection is a UTM zone,
        answered from the zone's projected tables, one numpy pass per
        zone)."""
        dist = np.full(len(idx), np.inf)
        done = np.zeros(len(idx), dtype=bool)
        if g[0] != "Point":
            return dist, done
        px, py = float(g[1][0]), float(g[1][1])
        zones: dict = {}
        for k, i in enumerate(idx):
            if self.geoms[i][0] not in _AREAL:
                continue
            zone, fwd, _ = proj.local_projection(
                min(self.minx[i], px),
                min(self.miny[i], py),
                max(self.maxx[i], px),
                max(self.maxy[i], py),
                purpose="distance",
            )
            if zone.startswith("EPSG:"):  # an AEQD is centred on the pair
                zones.setdefault(zone, (fwd, []))[1].append(k)
        for zone, (fwd, ks) in zones.items():
            ks = [k for k in ks if self._zone_table(idx[k], zone, fwd) is not None]
            if not ks:
                continue
            pt = proj.transform_geom(g, fwd)[1]
            covered, d = predicates.point_vs_edge_tables(
                pt[0], pt[1], [self._zone_tables[(idx[k], zone)] for k in ks]
            )
            dist[ks], done[ks] = np.where(covered, 0.0, d), True
        return dist, done

    def intersects(self, probe) -> list[Feature]:
        g = _as_geom(probe)
        minx, miny, maxx, maxy = wkb.bounds(g)
        if g[0] == "Point":  # degenerate-bbox epsilon (dataset.py:159)
            minx, miny, maxx, maxy = minx - 1e-3, miny - 1e-3, maxx + 1e-3, maxy + 1e-3
        idx = self._bbox_candidates(minx, miny, maxx, maxy)
        hit, done = self._point_hits(g, idx)
        for k in np.nonzero(~done)[0]:
            hit[k] = predicates.intersects(self.geoms[idx[k]], g)
        return [self._feature(i) for i in idx[hit]]

    def within(self, radius: float, probe) -> list[Feature]:
        """radius is in SESSION units (feet under Mundi(units='feet')) —
        consistent with Feature.buffer/distance, reference semantics.

        Distances here (and in nearest/intersects) are PLANAR on
        unwrapped longitudes, matching the reference's projected-CRS
        measures: two geometries on opposite sides of the antimeridian
        are far apart, not 2*eps — the same answer shapely+pyproj give.
        nearest()'s wrap-aware candidate LOWER bound is still sound for
        this measure (a lower bound may only undershoot; it never
        prunes a planar-true nearest)."""
        g = _as_geom(probe)
        radius_m = radius / self.uscale
        # equivalence with intersects(buffer(r)) per docs/manual/datasets.mdx:100-107.
        # SOUND pruning pads: 1 deg lat >= 110.57 km everywhere, so
        # dividing by 110 km overshoots (safe); 1 deg lon is only
        # 111.32*cos(lat) km, so the lon pad must scale by 1/cos at the
        # highest |lat| the radius can reach — a flat 1.5x fudge
        # undercovers above ~48 deg and silently drops true matches.
        minx, miny, maxx, maxy = wkb.bounds(g)
        pad_lat = radius_m / 110_000.0 + 1e-9
        lat_hi = min(max(abs(miny), abs(maxy)) + pad_lat, 89.9)
        coslat = max(np.cos(np.radians(lat_hi)), 1e-6)
        pad_lon = radius_m / (110_000.0 * coslat) + 1e-9
        idx = self._bbox_candidates(
            minx - pad_lon, miny - pad_lat, maxx + pad_lon, maxy + pad_lat
        )
        dist, done = self._point_distances_m(g, idx)
        for k in np.nonzero(~done)[0]:
            dist[k] = measure.geom_distance_m(self.geoms[idx[k]], g)
        return [self._feature(i) for i in idx[dist <= radius_m]]

    def nearest(self, probe) -> Feature | None:
        g = _as_geom(probe)
        if not len(self.geoms):
            return None
        # best-first candidate scan over a TRUE meter lower bound, exact
        # refine. Bbox-to-bbox gaps in degrees:
        pminx, pminy, pmaxx, pmaxy = wkb.bounds(g)
        dx = np.maximum(np.maximum(self.minx - pmaxx, pminx - self.maxx), 0.0)
        # antimeridian wrap: the gap the other way around is 360 minus
        # the hull span of the two lon intervals
        hull = np.maximum(self.maxx, pmaxx) - np.minimum(self.minx, pminx)
        dx = np.minimum(dx, np.maximum(360.0 - hull, 0.0))
        dy = np.maximum(np.maximum(self.miny - pmaxy, pminy - self.maxy), 0.0)
        # sound meter lower bounds (great-circle d between points at
        # lats phi1, phi2 with lon gap dx satisfies d >= R*dphi and
        # d >= (2/pi)*R*cos(phi_max)*dlam — the old scalar 85 km/deg
        # overestimated the lon term above ~40 deg latitude and could
        # prune the true nearest at high latitudes):
        lat_hi = np.maximum(
            np.maximum(np.abs(self.miny), np.abs(self.maxy)),
            max(abs(pminy), abs(pmaxy)),
        )
        coslat = np.cos(np.radians(np.minimum(lat_hi, 89.99)))
        lb_m = np.maximum(dy * 110_000.0, dx * 70_000.0 * coslat)
        order = np.argsort(lb_m)
        # Refine in lb order, stopping once the next bound exceeds the
        # best distance. Point-vs-areal distances are taken a block of
        # candidates at a time (doubling); the scan itself still visits
        # one candidate at a time, so the pick (first strictly smallest
        # distance in lb order) is the same as a one-by-one refine.
        best, best_d = None, np.inf
        start, block = 0, 1
        while start < len(order) and not lb_m[order[start]] > best_d:
            blk = order[start : start + block]
            dist, done = self._point_distances_m(g, blk)
            for k, i in enumerate(blk):
                if lb_m[i] > best_d:
                    return self._feature(best)
                d = dist[k] if done[k] else measure.geom_distance_m(self.geoms[int(i)], g)
                if d < best_d:
                    best, best_d = int(i), d
            start, block = start + block, block * 2
        return self._feature(best) if best is not None else None

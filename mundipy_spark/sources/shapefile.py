"""From-scratch ESRI Shapefile reader/writer (S1 formats breadth —
reference reads Shapefiles through fiona/GDAL, dataset.py:104-111 +
docs/manual/datasets.mdx:29-41; this engine parses the public SHP/DBF
binary formats directly, no GDAL).

Supported shape types: 1 Point, 3 PolyLine, 5 Polygon, 8 MultiPoint
(+ their trivial null-shape 0). Attributes come from the sidecar .dbf
(dBASE III: C character, N/F numeric, L logical, D date-as-string).

Layer files are driver-parsed (a shapefile is one seekable file — the
reference's fiona does the same single-handle scan) and become a
DataFrame via createDataFrame; big layers belong in parquet, which is
what `Dataset.to_parquet`-style flows are for. Ring winding follows the
spec: outer rings clockwise, holes counter-clockwise — the reader
groups holes into their containing outer ring."""

from __future__ import annotations

import struct

import numpy as np

from mundipy_spark.kernels import predicates
from mundipy_spark.kernels import wkb as wkb_mod

SHP_NULL, SHP_POINT, SHP_POLYLINE, SHP_POLYGON, SHP_MULTIPOINT = 0, 1, 3, 5, 8


def _ring_signed_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y) / 2.0)


def _parse_shp_record(shape_type: int, buf: bytes):
    """One SHP record body -> geometry tuple (or None for null shape)."""
    if shape_type == SHP_NULL:
        return None
    if shape_type == SHP_POINT:
        x, y = struct.unpack("<2d", buf[4:20])
        return ("Point", np.array([x, y]))
    if shape_type == SHP_MULTIPOINT:
        (n,) = struct.unpack("<i", buf[36:40])
        pts = np.frombuffer(buf, "<f8", count=2 * n, offset=40).reshape(n, 2)
        return ("Point", pts[0].copy()) if n == 1 else ("MultiPoint", pts.copy())
    if shape_type in (SHP_POLYLINE, SHP_POLYGON):
        nparts, npts = struct.unpack("<2i", buf[36:44])
        parts = struct.unpack(f"<{nparts}i", buf[44 : 44 + 4 * nparts])
        off = 44 + 4 * nparts
        pts = np.frombuffer(buf, "<f8", count=2 * npts, offset=off).reshape(npts, 2)
        bounds = [*parts, npts]
        rings = [pts[bounds[i] : bounds[i + 1]].copy() for i in range(nparts)]
        if shape_type == SHP_POLYLINE:
            if len(rings) == 1:
                return ("LineString", rings[0])
            return ("MultiLineString", rings)
        # polygon: spec winding — CW = outer, CCW = hole; assign each
        # hole to the outer ring containing its first vertex
        outers = [r for r in rings if _ring_signed_area(r) <= 0.0]  # CW
        holes = [r for r in rings if _ring_signed_area(r) > 0.0]
        if not outers:  # tolerate wrong winding: treat all as outers
            outers, holes = rings, []
        polys = [[o] for o in outers]
        for h in holes:
            placed = False
            for p in polys:
                if predicates.crossings_in_ring(h[:1, 0], h[:1, 1], p[0])[0]:
                    p.append(h)
                    placed = True
                    break
            if not placed:
                polys.append([h])
        if len(polys) == 1:
            return ("Polygon", polys[0])
        return ("MultiPolygon", polys)
    raise NotImplementedError(f"SHP shape type {shape_type} (Z/M variants unsupported)")


def read_shp(path: str) -> list:
    """All geometries of a .shp file (file header: 100 bytes, big-endian
    length words; records: 8-byte header + little-endian body)."""
    data = open(path, "rb").read()
    magic, flen = struct.unpack(">i", data[:4])[0], struct.unpack(">i", data[24:28])[0]
    if magic != 9994:
        raise ValueError(f"not a shapefile: {path}")
    geoms = []
    pos = 100
    end = flen * 2
    while pos < end:
        (_recno, clen) = struct.unpack(">2i", data[pos : pos + 8])
        body = data[pos + 8 : pos + 8 + clen * 2]
        (stype,) = struct.unpack("<i", body[:4])
        geoms.append(_parse_shp_record(stype, body))
        pos += 8 + clen * 2
    return geoms


def read_dbf(path: str, keep_deleted: bool = False) -> list[dict]:
    """dBASE III attribute records. keep_deleted=True emits None for
    soft-deleted rows so the list stays index-aligned with the .shp
    record sequence (deleted rows still occupy a .shp slot)."""
    data = open(path, "rb").read()
    nrec, hdr_sz, rec_sz = struct.unpack("<IHH", data[4:12])
    fields = []
    pos = 32
    while data[pos] != 0x0D:
        name = data[pos : pos + 11].split(b"\0")[0].decode("ascii")
        ftype = chr(data[pos + 11])
        flen = data[pos + 16]
        fdec = data[pos + 17]
        fields.append((name, ftype, flen, fdec))
        pos += 32
    out = []
    for i in range(nrec):
        rec = data[hdr_sz + i * rec_sz : hdr_sz + (i + 1) * rec_sz]
        if rec[:1] == b"*":  # deleted
            if keep_deleted:
                out.append(None)
            continue
        row, off = {}, 1
        for name, ftype, flen, fdec in fields:
            raw = rec[off : off + flen]
            off += flen
            s = raw.decode("latin-1").strip()
            if ftype in ("N", "F"):
                if s == "":
                    row[name] = None
                elif fdec > 0 or ftype == "F" or "." in s:
                    row[name] = float(s)
                else:
                    row[name] = int(s)
            elif ftype == "L":
                row[name] = s.upper() in ("T", "Y")
            else:  # C, D, and anything else: text
                row[name] = s
        out.append(row)
    return out


def read_shapefile(spark, path: str, geom_col: str = "geometry"):
    """.shp (+ optional sidecar .dbf) -> DataFrame(geometry binary,
    <attribute columns>). Null shapes produce null geometry."""
    base = path[:-4] if path.lower().endswith(".shp") else path
    geoms = read_shp(base + ".shp")
    import os

    # keep_deleted keeps the .dbf list index-aligned with the .shp
    # records; a soft-deleted record (None) drops geometry AND props
    # together instead of shifting every later attribute row up one
    props = read_dbf(base + ".dbf", keep_deleted=True) if os.path.exists(
        base + ".dbf"
    ) else [{} for _ in geoms]
    import pandas as pd

    rows = []
    for g, p in zip(geoms, props):
        if p is None:  # deleted record
            continue
        row = {geom_col: wkb_mod.dumps(g) if g is not None else None}
        for k, v in p.items():
            # an attribute field named like the geometry column must not
            # clobber the encoded WKB
            row[k if k != geom_col else f"{k}_prop"] = v
        rows.append(row)
    pdf = pd.DataFrame(rows)
    return spark.createDataFrame(pdf)


# --- writer (sink parity + self-contained tests) ---------------------------


def _shp_record(geom) -> bytes:
    t = geom[0]
    if t == "Point":
        x, y = float(geom[1][0]), float(geom[1][1])
        return struct.pack("<i2d", SHP_POINT, x, y)
    if t == "MultiPoint":
        pts = np.asarray(geom[1], dtype="<f8").reshape(-1, 2)
        return (
            struct.pack("<i4d i", SHP_MULTIPOINT, *pts.min(0), *pts.max(0), len(pts))
            + pts.tobytes()
        )
    if t in ("LineString", "MultiLineString", "Polygon", "MultiPolygon"):
        if t == "LineString":
            parts, stype = [np.asarray(geom[1], "<f8")], SHP_POLYLINE
        elif t == "MultiLineString":
            parts, stype = [np.asarray(p, "<f8") for p in geom[1]], SHP_POLYLINE
        else:
            stype = SHP_POLYGON
            ring_groups = [geom[1]] if t == "Polygon" else geom[1]
            parts = []
            for poly in ring_groups:
                for j, r in enumerate(poly):
                    r = np.asarray(r, "<f8")
                    area = _ring_signed_area(r)
                    # spec winding: outer CW, holes CCW
                    want_cw = j == 0
                    if (area < 0) != want_cw:
                        r = r[::-1].copy()
                    parts.append(r)
        allpts = np.concatenate(parts)
        offs, acc = [], 0
        for p in parts:
            offs.append(acc)
            acc += len(p)
        return (
            struct.pack(
                "<i4d2i", stype, *allpts.min(0), *allpts.max(0), len(parts), len(allpts)
            )
            + struct.pack(f"<{len(parts)}i", *offs)
            + allpts.astype("<f8").tobytes()
        )
    raise NotImplementedError(f"cannot write {t} to SHP")


def write_shapefile(rows, path: str, geom_col: str = "geometry") -> None:
    """rows: list of dicts with geometry tuple/WKB + scalar props.
    Writes .shp and .dbf (C/N fields inferred)."""
    base = path[:-4] if path.lower().endswith(".shp") else path
    geoms = []
    for r in rows:
        g = r[geom_col]
        geoms.append(wkb_mod.loads(bytes(g)) if isinstance(g, (bytes, bytearray)) else g)
    recs = [_shp_record(g) for g in geoms]
    stype = struct.unpack("<i", recs[0][:4])[0] if recs else SHP_NULL
    allb = np.concatenate(
        [np.asarray(wkb_mod.bounds(g), dtype=np.float64).reshape(2, 2) for g in geoms]
    ) if geoms else np.zeros((1, 2))
    body = b""
    for i, rec in enumerate(recs):
        body += struct.pack(">2i", i + 1, len(rec) // 2) + rec
    flen = (100 + len(body)) // 2
    hdr = struct.pack(">i5i", 9994, 0, 0, 0, 0, 0) + struct.pack(">i", flen)
    hdr += struct.pack("<2i", 1000, stype)
    hdr += struct.pack("<4d", *allb.min(0), *allb.max(0)) + struct.pack("<4d", 0, 0, 0, 0)
    open(base + ".shp", "wb").write(hdr + body)

    # dbf
    fields = [k for k in (rows[0] if rows else {}) if k != geom_col]
    specs = []
    for k in fields:
        v = rows[0][k]
        if isinstance(v, bool):
            specs.append((k, "L", 1, 0))
        elif isinstance(v, int):
            specs.append((k, "N", 18, 0))
        elif isinstance(v, float):
            specs.append((k, "N", 18, 6))
        else:
            ln = max(max((len(str(r[k])) for r in rows), default=1), 1)
            specs.append((k, "C", min(ln, 254), 0))
    rec_sz = 1 + sum(s[2] for s in specs)
    hdr_sz = 32 + 32 * len(specs) + 1
    out = bytearray(struct.pack("<B3BIHH20x", 3, 26, 8, 17, len(rows), hdr_sz, rec_sz))
    for name, ftype, flen_, fdec in specs:
        out += struct.pack("<11sc4xBB14x", name.encode()[:11], ftype.encode(), flen_, fdec)
    out += b"\x0d"
    for r in rows:
        out += b" "
        for name, ftype, flen_, fdec in specs:
            v = r[name]
            if ftype == "L":
                s = "T" if v else "F"
            elif ftype == "N" and fdec:
                s = f"{v:.{fdec}f}".rjust(flen_)
            elif ftype == "N":
                s = str(int(v)).rjust(flen_)
            else:
                s = str(v).ljust(flen_)
            out += s[:flen_].encode("latin-1")
    out += b"\x1a"
    open(base + ".dbf", "wb").write(bytes(out))

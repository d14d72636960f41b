"""ESRI Shapefile codec, from scratch against the public technical
description (ESRI, July 1998) plus the dBase III attribute table it
ships with: .shp geometry file (mixed-endian header, Point/PolyLine/
Polygon records with parts arrays), .shx offset index, .dbf fixed-width
attributes (C character and N numeric fields).

Reference role: geotrellis.shapefile (ShapeFileReader, a GeoTools
wrapper) — SURVEY §2 S8 declared shapefile out of scope; this closes
it with a dependency-free reader/writer. Geometries cross as the
engine's WKB; polygon ring winding follows the spec (exterior
clockwise in y-up coordinates, holes counter-clockwise) and decode
regroups rings into polygons by winding.
"""

from __future__ import annotations

import struct

import numpy as np

from . import geom as G

SHP_POINT = 1
SHP_POLYLINE = 3
SHP_POLYGON = 5


def _ring_area2_yup(pts: np.ndarray) -> float:
    """Twice the signed shoelace area in y-UP map coordinates (CCW
    positive — so a spec-wound shapefile EXTERIOR is NEGATIVE)."""
    x, y = pts[:, 0], pts[:, 1]
    return float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))


def _bbox(parts: list[np.ndarray]) -> tuple[float, float, float, float]:
    allp = np.vstack(parts)
    return (
        float(allp[:, 0].min()),
        float(allp[:, 1].min()),
        float(allp[:, 0].max()),
        float(allp[:, 1].max()),
    )


def _wkb_to_shape(wkb: bytes) -> tuple[int, list[np.ndarray]]:
    kind, val = G.wkb_read(wkb)
    if kind == "point":
        return SHP_POINT, [np.array([val], dtype=np.float64)]
    if kind == "linestring":
        return SHP_POLYLINE, [np.asarray(val, dtype=np.float64)]
    if kind == "multilinestring":
        return SHP_POLYLINE, [np.asarray(v, dtype=np.float64) for v in val]
    if kind in ("polygon", "multipolygon"):
        polys = [val] if kind == "polygon" else val
        rings = []
        for p in polys:
            for j, r in enumerate(p):
                r = np.asarray(r, dtype=np.float64)
                if not np.array_equal(r[0], r[-1]):
                    r = np.vstack([r, r[:1]])
                a2 = _ring_area2_yup(r[:-1])
                # spec: exterior CW (negative y-up area), holes CCW
                want_neg = j == 0
                if (a2 < 0) != want_neg:
                    r = r[::-1]
                rings.append(r)
        return SHP_POLYGON, rings
    raise ValueError(f"unsupported WKB kind for shapefile: {kind}")


def _shape_to_wkb(stype: int, parts: list[np.ndarray]) -> bytes:
    if stype == SHP_POINT:
        return G.wkb_write_point(parts[0][0, 0], parts[0][0, 1])
    if stype == SHP_POLYLINE:
        if len(parts) == 1:
            return G.wkb_write_linestring(parts[0])
        out = struct.pack("<BII", 1, 5, len(parts))
        for p in parts:
            out += G.wkb_write_linestring(p)
        return out
    if stype == SHP_POLYGON:
        polys: list[list[np.ndarray]] = []
        for r in parts:
            if _ring_area2_yup(r[:-1]) < 0:  # exterior (CW per spec)
                polys.append([r])
            else:
                if not polys:
                    raise ValueError("shapefile polygon starts with a hole")
                polys[-1].append(r)
        if len(polys) == 1:
            return G.wkb_write_polygon(polys[0])
        out = struct.pack("<BII", 1, 6, len(polys))
        for rings in polys:
            out += G.wkb_write_polygon(rings)
        return out
    raise ValueError(f"unsupported shape type {stype}")


def _record_body(stype: int, parts: list[np.ndarray]) -> bytes:
    if stype == SHP_POINT:
        return struct.pack("<idd", SHP_POINT, parts[0][0, 0], parts[0][0, 1])
    xmin, ymin, xmax, ymax = _bbox(parts)
    offsets, pts = [], []
    k = 0
    for p in parts:
        offsets.append(k)
        k += len(p)
        pts.append(p)
    allp = np.vstack(pts).astype("<f8")
    body = struct.pack("<i4dii", stype, xmin, ymin, xmax, ymax,
                       len(parts), len(allp))
    body += struct.pack(f"<{len(offsets)}i", *offsets)
    body += allp.tobytes()
    return body


def shp_encode(wkbs: list[bytes]) -> tuple[bytes, bytes]:
    """Encode geometries as (.shp, .shx) byte pairs. All records must
    share one shape type (a spec requirement)."""
    shapes = [_wkb_to_shape(w) for w in wkbs]
    stypes = {s for s, _ in shapes}
    if len(stypes) > 1:
        raise ValueError(f"mixed shape types {stypes} in one shapefile")
    stype = stypes.pop() if stypes else SHP_POINT

    records = []
    for i, (st, parts) in enumerate(shapes):
        body = _record_body(st, parts)
        records.append(struct.pack(">ii", i + 1, len(body) // 2) + body)

    def header(total_words: int) -> bytes:
        allpts = (
            np.vstack([np.vstack(p) for _, p in shapes])
            if shapes
            else np.zeros((1, 2))
        )
        return (
            struct.pack(">i", 9994) + b"\x00" * 20
            + struct.pack(">i", total_words)
            + struct.pack("<ii", 1000, stype)
            + struct.pack(
                "<4d",
                allpts[:, 0].min(), allpts[:, 1].min(),
                allpts[:, 0].max(), allpts[:, 1].max(),
            )
            + struct.pack("<4d", 0, 0, 0, 0)  # z/m ranges
        )

    body = b"".join(records)
    shp = header((100 + len(body)) // 2) + body

    shx_rows = []
    off = 100
    for rec in records:
        content_words = (len(rec) - 8) // 2
        shx_rows.append(struct.pack(">ii", off // 2, content_words))
        off += len(rec)
    shx_body = b"".join(shx_rows)
    shx = header((100 + len(shx_body)) // 2) + shx_body
    return shp, shx


def shp_decode(shp: bytes) -> list[bytes]:
    """Decode a .shp file to a WKB list (null shapes -> None)."""
    shp = bytes(shp)
    (code,) = struct.unpack_from(">i", shp, 0)
    if code != 9994:
        raise ValueError(f"not a shapefile: file code {code}")
    (version, _stype) = struct.unpack_from("<ii", shp, 28)
    if version != 1000:
        raise ValueError(f"unsupported shapefile version {version}")
    (total_words,) = struct.unpack_from(">i", shp, 24)
    end = total_words * 2
    out: list[bytes | None] = []
    pos = 100
    while pos < min(end, len(shp)):
        _recno, nwords = struct.unpack_from(">ii", shp, pos)
        pos += 8
        body = shp[pos : pos + nwords * 2]
        pos += nwords * 2
        (st,) = struct.unpack_from("<i", body, 0)
        if st == 0:  # null shape
            out.append(None)
            continue
        if st == SHP_POINT:
            x, y = struct.unpack_from("<dd", body, 4)
            out.append(G.wkb_write_point(x, y))
            continue
        if st not in (SHP_POLYLINE, SHP_POLYGON):
            raise ValueError(f"unsupported shape type {st}")
        nparts, npts = struct.unpack_from("<ii", body, 36)
        offs = list(struct.unpack_from(f"<{nparts}i", body, 44))
        pts = np.frombuffer(
            body, dtype="<f8", count=2 * npts, offset=44 + 4 * nparts
        ).reshape(npts, 2)
        bounds = offs + [npts]
        parts = [
            pts[bounds[i] : bounds[i + 1]].astype(np.float64)
            for i in range(nparts)
        ]
        out.append(_shape_to_wkb(st, parts))
    return out


# --------------------------------------------------------------- dBase

def dbf_encode(rows: list[dict], fields: list[tuple[str, str, int, int]]
               ) -> bytes:
    """dBase III .dbf: ``fields`` = (name<=10, type 'C'|'N', length,
    decimals). Values render fixed-width: C left-justified,
    N right-justified."""
    rec_len = 1 + sum(f[2] for f in fields)
    hdr_len = 32 + 32 * len(fields) + 1
    out = bytearray()
    out += struct.pack(
        "<BBBBIHH20x", 0x03, 99, 1, 1, len(rows), hdr_len, rec_len
    )
    for name, ftype, ln, dec in fields:
        if ftype not in ("C", "N"):
            raise ValueError(f"unsupported dbf field type {ftype}")
        out += struct.pack(
            "<11sc4xBB14x", name.encode("ascii")[:10], ftype.encode(), ln, dec
        )
    out += b"\x0d"
    for row in rows:
        out += b" "  # not deleted
        for name, ftype, ln, dec in fields:
            v = row.get(name, "")
            if ftype == "C":
                s = ("" if v is None else str(v))[:ln].ljust(ln)
            elif v is None or v == "":
                s = " " * ln  # dBase blank numeric = NULL (decoder
                # already reads all-spaces back as None)
            else:
                s = f"{float(v):.{dec}f}" if dec else str(int(v))
                if len(s) > ln:
                    # truncating would silently drop the MOST
                    # SIGNIFICANT digits (12345 in an N(3) field ->
                    # '123'); fail loudly per the module convention
                    raise ValueError(
                        f"dbf numeric {name}={s} exceeds declared "
                        f"field width {ln}"
                    )
                s = s.rjust(ln)
            out += s.encode("ascii")
    out += b"\x1a"
    return bytes(out)


def dbf_fields(dbf: bytes) -> list[tuple[str, str, int, int]]:
    """Field descriptors (name, type, length, decimals) — the typed
    schema carried by the .dbf itself (what readers should type
    columns from, never the first record's values)."""
    dbf = bytes(dbf)
    if dbf[0] not in (0x03, 0x83):
        raise ValueError(f"not a dBase III file: version {dbf[0]:#x}")
    fields = []
    pos = 32
    while dbf[pos] != 0x0D:
        name = dbf[pos : pos + 11].split(b"\x00")[0].decode("ascii")
        ftype = chr(dbf[pos + 11])
        ln, dec = dbf[pos + 16], dbf[pos + 17]
        fields.append((name, ftype, ln, dec))
        pos += 32
    return fields


def dbf_decode(dbf: bytes) -> list[dict]:
    dbf = bytes(dbf)
    fields = dbf_fields(dbf)
    nrec, hdr_len, rec_len = struct.unpack_from("<IHH", dbf, 4)
    rows = []
    pos = hdr_len
    for _ in range(nrec):
        rec = dbf[pos : pos + rec_len]
        pos += rec_len
        if rec[:1] == b"*":  # deleted
            continue
        row, off = {}, 1
        for name, ftype, ln, dec in fields:
            raw = rec[off : off + ln].decode("ascii")
            off += ln
            if ftype == "N":
                raw = raw.strip()
                row[name] = (
                    (float(raw) if dec else int(raw)) if raw else None
                )
            else:
                row[name] = raw.rstrip()
        rows.append(row)
    return rows


def shapefile_write(
    wkbs: list[bytes],
    attrs: list[dict] | None = None,
    fields: list[tuple[str, str, int, int]] | None = None,
) -> dict[str, bytes]:
    """The full sidecar set: {'shp', 'shx', 'dbf'}.  When ``attrs`` is
    given without ``fields``, field specs are derived from the values
    (N for int/float with decimals from floats, C otherwise) instead of
    silently writing a zero-field .dbf."""
    shp, shx = shp_encode(wkbs)
    if attrs is None:
        fields = fields or [("FID", "N", 10, 0)]
        attrs = [{"FID": i} for i in range(len(wkbs))]
    elif fields is None:
        fields = _derive_fields(attrs)
    return {
        "shp": shp,
        "shx": shx,
        "dbf": dbf_encode(attrs, fields),
    }


def _derive_fields(attrs: list[dict]) -> list[tuple[str, str, int, int]]:
    """Field specs from attribute values: every key across all rows, N
    (decimals 6 if any float) when all non-null values are numeric,
    else C sized to the longest rendering."""
    names: list[str] = []
    for row in attrs:
        for k in row:
            if k not in names:
                names.append(k)
    fields = []
    for name in names:
        vals = [r.get(name) for r in attrs]
        vals = [v for v in vals if v is not None and v != ""]
        numeric = vals and all(
            isinstance(v, (int, float)) and not isinstance(v, bool)
            for v in vals
        )
        if numeric:
            dec = 6 if any(isinstance(v, float) for v in vals) else 0
            width = max(
                (len(f"{float(v):.{dec}f}" if dec else str(int(v)))
                 for v in vals), default=1,
            )
            fields.append((name, "N", min(max(width, 1), 18), dec))
        else:
            width = max((len(str(v)) for v in vals), default=1)
            fields.append((name, "C", min(max(width, 1), 254), 0))
    return fields


def shapefile_read(
    shp: bytes, dbf: bytes | None = None
) -> list[tuple[bytes, dict]]:
    geoms = shp_decode(shp)
    rows = (
        dbf_decode(dbf) if dbf is not None
        else [{} for _ in geoms]  # distinct dicts — callers mutate
    )
    if len(rows) != len(geoms):
        raise ValueError(
            f".dbf has {len(rows)} rows for {len(geoms)} shapes"
        )
    return list(zip(geoms, rows))

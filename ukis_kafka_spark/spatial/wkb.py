"""Pure-Python WKB (well-known binary) codec for Point / LineString /
Polygon (+ Multi* variants), reference parity for ukis_kafka's
geometry envelope (SURVEY.md §2.1 R2/R3: features travel as
WKB bytes inside a binary message envelope).

No shapely/GEOS offline, and none is needed: WKB is a tiny,
fully-specified format (OGC 06-103r4 §8). The codec is exercised from
Spark through Arrow-batched pandas UDFs over BinaryType columns
(see spatial.geo.g_wkb_serde) and property-tested with hypothesis
round-trips.

Geometry model: plain nested tuples —
  Point:       ("POINT", (x, y))
  LineString:  ("LINESTRING", ((x, y), ...))
  Polygon:     ("POLYGON", (ring, ...)) where ring = ((x, y), ...)
  Multi*:      ("MULTIPOINT"|..., (member_geom_body, ...))
"""

from __future__ import annotations

import struct
from typing import Any, Tuple

Geometry = Tuple[str, Any]

_TYPE_CODES = {
    "POINT": 1,
    "LINESTRING": 2,
    "POLYGON": 3,
    "MULTIPOINT": 4,
    "MULTILINESTRING": 5,
    "MULTIPOLYGON": 6,
}
_CODE_TYPES = {v: k for k, v in _TYPE_CODES.items()}


def _pack_point(pt) -> bytes:
    # one pack per position, so every position is checked for exactly two numbers
    try:
        x, y = pt
        return struct.pack("<dd", x, y)
    except (TypeError, ValueError, struct.error):
        raise ValueError(f"position must be two numbers, got {pt!r}") from None


def encode_wkb(geom: Geometry) -> bytes:
    """Encode a geometry tuple as little-endian WKB. Coordinates may be
    tuples or lists (GeoJSON's nested arrays encode as they are).

    Raises ``ValueError`` for a geometry type name outside the six
    above, or for a position that is not exactly two numbers (a 3D
    ``[x, y, z]``, a 1-element position, a non-numeric value)."""
    gtype, body = geom
    code = _TYPE_CODES.get(gtype)
    if code is None:
        raise ValueError(f"unsupported geometry type: {gtype}")
    out = [struct.pack("<BI", 1, code)]  # byte order 1 = little-endian
    if gtype == "POINT":
        out.append(_pack_point(body))
    elif gtype == "LINESTRING":
        out.append(struct.pack("<I", len(body)))
        out.extend(_pack_point(pt) for pt in body)
    elif gtype == "POLYGON":
        out.append(struct.pack("<I", len(body)))
        for ring in body:
            out.append(struct.pack("<I", len(ring)))
            out.extend(_pack_point(pt) for pt in ring)
    else:  # MULTI*: members are full WKB geometries of the base type
        base = gtype[5:]
        out.append(struct.pack("<I", len(body)))
        out.extend(encode_wkb((base, member)) for member in body)
    return b"".join(out)


def decode_wkb(buf: bytes) -> Geometry:
    """Decode WKB bytes (either byte order) to a geometry tuple.

    Raises ``ValueError`` for any malformed input: truncated bytes, a
    byte-order flag other than 0/1, an unknown geometry code, a Multi*
    member that is not of the base type, or trailing bytes."""
    try:
        geom, offset = _decode_at(buf, 0)
    except struct.error as exc:
        raise ValueError(f"truncated WKB: {exc}") from None
    if offset != len(buf):
        raise ValueError(f"trailing bytes after geometry: {len(buf) - offset}")
    return geom


def _decode_at(buf: bytes, off: int, expect: str | None = None) -> tuple[Geometry, int]:
    (order,) = struct.unpack_from("<B", buf, off)
    if order > 1:
        raise ValueError(f"bad WKB byte-order flag {order}")
    endian = "<" if order == 1 else ">"
    (code,) = struct.unpack_from(f"{endian}I", buf, off + 1)
    off += 5
    gtype = _CODE_TYPES.get(code)
    if gtype is None:
        raise ValueError(f"unknown WKB geometry code {code}")
    if expect is not None and gtype != expect:
        raise ValueError(f"{gtype} member where {expect} expected")

    def read_point(o: int) -> tuple[tuple[float, float], int]:
        x, y = struct.unpack_from(f"{endian}dd", buf, o)
        return (x, y), o + 16

    if gtype == "POINT":
        pt, off = read_point(off)
        return (gtype, pt), off
    if gtype == "LINESTRING":
        (n,) = struct.unpack_from(f"{endian}I", buf, off)
        off += 4
        pts = []
        for _ in range(n):
            pt, off = read_point(off)
            pts.append(pt)
        return (gtype, tuple(pts)), off
    if gtype == "POLYGON":
        (n_rings,) = struct.unpack_from(f"{endian}I", buf, off)
        off += 4
        rings = []
        for _ in range(n_rings):
            (n,) = struct.unpack_from(f"{endian}I", buf, off)
            off += 4
            ring = []
            for _ in range(n):
                pt, off = read_point(off)
                ring.append(pt)
            rings.append(tuple(ring))
        return (gtype, tuple(rings)), off
    # MULTI*
    (n,) = struct.unpack_from(f"{endian}I", buf, off)
    off += 4
    members = []
    for _ in range(n):
        member, off = _decode_at(buf, off, gtype[5:])
        members.append(member[1])
    return (gtype, tuple(members)), off


def point_in_polygon(x: float, y: float, rings) -> bool:
    """Even-odd ray casting; first ring is the shell, the rest holes
    (the even-odd rule handles holes for free). Boundary points follow
    the half-open edge convention (consistent, not symmetric)."""
    inside = False
    for ring in rings:
        n = len(ring)
        j = n - 1
        for i in range(n):
            xi, yi = ring[i]
            xj, yj = ring[j]
            if (yi > y) != (yj > y) and x < (xj - xi) * (y - yi) / (yj - yi) + xi:
                inside = not inside
            j = i
    return inside


def validate_wkb(buf: bytes) -> str | None:
    """Validate WKB bytes (R5 parity). Returns None when valid, else a
    reason string. Checks: decodability, polygon ring closure, and
    minimum point counts (line ≥ 2, ring ≥ 4)."""
    try:
        geom = decode_wkb(buf)
    except ValueError as exc:
        return f"undecodable: {exc}"

    def check(gtype: str, body) -> str | None:
        if gtype == "LINESTRING" and len(body) < 2:
            return "linestring with < 2 points"
        if gtype == "POLYGON":
            for ring in body:
                if len(ring) < 4:
                    return "ring with < 4 points"
                if ring[0] != ring[-1]:
                    return "unclosed ring"
        if gtype.startswith("MULTI"):
            base = gtype[5:]
            for member in body:
                reason = check(base, member)
                if reason:
                    return reason
        return None

    return check(*geom)

"""Binary feature envelope (reference parity: ukis_kafka's ``wksv``
msgpack serialization, SURVEY.md §2.1 R2/R3).

The reference ships each vector feature over Kafka as a
msgpack-encoded map: WKB geometry bytes + a flat properties map +
pipeline metadata. msgpack isn't installed here, so this module
implements the needed *subset* of the public msgpack spec
(https://github.com/msgpack/msgpack/blob/master/spec.md):
nil, bool, int64 range, float64, str, bin, map, array — enough to
round-trip any flat feature envelope, wire-compatible with real
msgpack decoders for these types.

Spark integration: encode/decode ride in Arrow-batched pandas UDFs /
mapInPandas over BinaryType columns — the value column of a Kafka
source/sink (``spark.readStream.format("kafka")``), or any file
stream standing in for a topic offline.
"""

from __future__ import annotations

import struct
from typing import Any


def _enc_int(n: int, out: list) -> None:
    if 0 <= n <= 0x7F:
        out.append(struct.pack("B", n))
    elif -32 <= n < 0:
        out.append(struct.pack("b", n))
    elif 0 <= n <= 0xFF:
        out.append(b"\xcc" + struct.pack("B", n))
    elif 0 <= n <= 0xFFFF:
        out.append(b"\xcd" + struct.pack(">H", n))
    elif 0 <= n <= 0xFFFFFFFF:
        out.append(b"\xce" + struct.pack(">I", n))
    elif n >= 0:
        out.append(b"\xcf" + struct.pack(">Q", n))
    elif n >= -128:
        out.append(b"\xd0" + struct.pack(">b", n))
    elif n >= -32768:
        out.append(b"\xd1" + struct.pack(">h", n))
    elif n >= -(1 << 31):
        out.append(b"\xd2" + struct.pack(">i", n))
    else:
        out.append(b"\xd3" + struct.pack(">q", n))


def _encode(obj: Any, out: list) -> None:
    if obj is None:
        out.append(b"\xc0")
    elif obj is True:
        out.append(b"\xc3")
    elif obj is False:
        out.append(b"\xc2")
    elif isinstance(obj, int):
        _enc_int(obj, out)
    elif isinstance(obj, float):
        out.append(b"\xcb" + struct.pack(">d", obj))
    elif isinstance(obj, str):
        b = obj.encode("utf-8")
        n = len(b)
        if n <= 31:
            out.append(struct.pack("B", 0xA0 | n))
        elif n <= 0xFF:
            out.append(b"\xd9" + struct.pack("B", n))
        elif n <= 0xFFFF:
            out.append(b"\xda" + struct.pack(">H", n))
        else:
            out.append(b"\xdb" + struct.pack(">I", n))
        out.append(b)
    elif isinstance(obj, (bytes, bytearray)):
        n = len(obj)
        if n <= 0xFF:
            out.append(b"\xc4" + struct.pack("B", n))
        elif n <= 0xFFFF:
            out.append(b"\xc5" + struct.pack(">H", n))
        else:
            out.append(b"\xc6" + struct.pack(">I", n))
        out.append(bytes(obj))
    elif isinstance(obj, dict):
        n = len(obj)
        if n <= 15:
            out.append(struct.pack("B", 0x80 | n))
        elif n <= 0xFFFF:
            out.append(b"\xde" + struct.pack(">H", n))
        else:
            out.append(b"\xdf" + struct.pack(">I", n))
        for k, v in obj.items():
            _encode(k, out)
            _encode(v, out)
    elif isinstance(obj, (list, tuple)):
        n = len(obj)
        if n <= 15:
            out.append(struct.pack("B", 0x90 | n))
        elif n <= 0xFFFF:
            out.append(b"\xdc" + struct.pack(">H", n))
        else:
            out.append(b"\xdd" + struct.pack(">I", n))
        for v in obj:
            _encode(v, out)
    else:
        raise TypeError(f"unsupported envelope type: {type(obj)}")


def packb(obj: Any) -> bytes:
    """Encode a flat feature envelope to msgpack bytes."""
    out: list = []
    _encode(obj, out)
    return b"".join(out)


def _decode(buf: bytes, off: int) -> tuple[Any, int]:
    c = buf[off]
    off += 1
    if c <= 0x7F:
        return c, off
    if c >= 0xE0:
        return c - 256, off
    if 0xA0 <= c <= 0xBF:
        n = c & 0x1F
        return buf[off : off + n].decode("utf-8"), off + n
    if 0x80 <= c <= 0x8F:
        return _dec_map(buf, off, c & 0x0F)
    if 0x90 <= c <= 0x9F:
        return _dec_arr(buf, off, c & 0x0F)
    if c == 0xC0:
        return None, off
    if c == 0xC2:
        return False, off
    if c == 0xC3:
        return True, off
    if c == 0xCB:
        return struct.unpack_from(">d", buf, off)[0], off + 8
    if c in (0xCC, 0xD0):
        fmt = "B" if c == 0xCC else "b"
        return struct.unpack_from(fmt, buf, off)[0], off + 1
    if c in (0xCD, 0xD1):
        fmt = ">H" if c == 0xCD else ">h"
        return struct.unpack_from(fmt, buf, off)[0], off + 2
    if c in (0xCE, 0xD2):
        fmt = ">I" if c == 0xCE else ">i"
        return struct.unpack_from(fmt, buf, off)[0], off + 4
    if c in (0xCF, 0xD3):
        fmt = ">Q" if c == 0xCF else ">q"
        return struct.unpack_from(fmt, buf, off)[0], off + 8
    if c in (0xC4, 0xC5, 0xC6):
        width = {0xC4: "B", 0xC5: ">H", 0xC6: ">I"}[c]
        n = struct.unpack_from(width, buf, off)[0]
        off += struct.calcsize(width)
        return bytes(buf[off : off + n]), off + n
    if c in (0xD9, 0xDA, 0xDB):
        width = {0xD9: "B", 0xDA: ">H", 0xDB: ">I"}[c]
        n = struct.unpack_from(width, buf, off)[0]
        off += struct.calcsize(width)
        return buf[off : off + n].decode("utf-8"), off + n
    if c in (0xDE, 0xDF):
        width = ">H" if c == 0xDE else ">I"
        n = struct.unpack_from(width, buf, off)[0]
        return _dec_map(buf, off + struct.calcsize(width), n)
    if c in (0xDC, 0xDD):
        width = ">H" if c == 0xDC else ">I"
        n = struct.unpack_from(width, buf, off)[0]
        return _dec_arr(buf, off + struct.calcsize(width), n)
    raise ValueError(f"unsupported msgpack byte 0x{c:02x}")


def _dec_map(buf: bytes, off: int, n: int) -> tuple[dict, int]:
    d = {}
    for _ in range(n):
        k, off = _decode(buf, off)
        v, off = _decode(buf, off)
        try:
            d[k] = v
        except TypeError:
            raise ValueError("unhashable msgpack map key") from None
    return d, off


def _dec_arr(buf: bytes, off: int, n: int) -> tuple[list, int]:
    a = []
    for _ in range(n):
        v, off = _decode(buf, off)
        a.append(v)
    return a, off


def unpackb(buf: bytes) -> Any:
    """Decode msgpack bytes. Raises ``ValueError`` for any malformed
    input: truncated or unsupported bytes, bad UTF-8, an unhashable map
    key, nesting deeper than the interpreter stack, or trailing
    garbage. A str/bin length that runs past the buffer is caught by
    the final offset check: offsets only grow, so the short slice
    leaves ``off`` beyond the end."""
    try:
        obj, off = _decode(buf, 0)
    except (IndexError, struct.error, RecursionError) as exc:
        raise ValueError(f"truncated envelope: {exc!r}") from None
    if off > len(buf):
        raise ValueError(f"truncated envelope: a length runs {off - len(buf)} bytes past the end")
    if off != len(buf):
        raise ValueError(f"trailing bytes after envelope: {len(buf) - off}")
    return obj


def make_envelope(wkb: bytes, properties: dict, layer: str, srid: int = 4326) -> bytes:
    """Feature → wire bytes (the reference's producer-side R2)."""
    return packb({"geom": wkb, "props": properties, "meta": {"layer": layer, "srid": srid}})


def read_envelope(buf: bytes) -> dict:
    """Wire bytes → feature dict (the reference's consumer-side R3).

    Raises ``ValueError`` for any malformed input: undecodable msgpack
    (see :func:`unpackb`), or a map without binary ``geom``, a ``props``
    map, and a ``meta`` map with a string ``layer`` and an integer (or
    absent/nil) ``srid``. The geometry bytes are not checked here;
    ``spatial.wkb.decode_wkb`` does that."""
    env = unpackb(buf)
    if not (
        isinstance(env, dict)
        and isinstance(env.get("geom"), bytes)
        and isinstance(env.get("props"), dict)
        and isinstance(env.get("meta"), dict)
        and isinstance(env["meta"].get("layer"), str)
        and isinstance(env["meta"].get("srid"), (int, type(None)))
    ):
        raise ValueError("not a feature envelope")
    return env

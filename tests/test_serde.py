"""Property tests for the WKB codec and the msgpack-subset envelope
(SURVEY.md §5: serialization round-trips are the reference's own test
center of gravity)."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ukis_kafka_spark.sources.envelope import make_envelope, packb, read_envelope, unpackb
from ukis_kafka_spark.spatial.wkb import decode_wkb, encode_wkb, point_in_polygon

finite = st.floats(allow_nan=False, allow_infinity=False, width=64)
coord = st.tuples(finite, finite)
ring = st.lists(coord, min_size=3, max_size=8).map(lambda pts: tuple(pts + [pts[0]]))


@given(coord)
def test_wkb_point_roundtrip(pt):
    assert decode_wkb(encode_wkb(("POINT", pt))) == ("POINT", pt)


@given(st.lists(coord, min_size=2, max_size=20).map(tuple))
def test_wkb_linestring_roundtrip(pts):
    assert decode_wkb(encode_wkb(("LINESTRING", pts))) == ("LINESTRING", pts)


@given(st.lists(ring, min_size=1, max_size=4).map(tuple))
def test_wkb_polygon_roundtrip(rings):
    assert decode_wkb(encode_wkb(("POLYGON", rings))) == ("POLYGON", rings)


@given(st.lists(coord, min_size=1, max_size=6).map(tuple))
def test_wkb_multipoint_roundtrip(pts):
    assert decode_wkb(encode_wkb(("MULTIPOINT", pts))) == ("MULTIPOINT", pts)


line = st.lists(coord, min_size=2, max_size=8).map(tuple)
poly = st.lists(ring, min_size=1, max_size=3).map(tuple)


@given(st.lists(line, min_size=1, max_size=4).map(tuple))
def test_wkb_multilinestring_roundtrip(lines):
    assert decode_wkb(encode_wkb(("MULTILINESTRING", lines))) == ("MULTILINESTRING", lines)


@given(st.lists(poly, min_size=1, max_size=3).map(tuple))
def test_wkb_multipolygon_roundtrip(polys):
    assert decode_wkb(encode_wkb(("MULTIPOLYGON", polys))) == ("MULTIPOLYGON", polys)


@given(st.lists(poly, min_size=1, max_size=3).map(tuple))
def test_wkb_validate_accepts_wellformed_multipolygon(polys):
    from ukis_kafka_spark.spatial.wkb import validate_wkb

    assert validate_wkb(encode_wkb(("MULTIPOLYGON", polys))) is None


@given(st.lists(line, min_size=1, max_size=4).map(tuple))
def test_wkb_multi_truncation_is_rejected(lines):
    from ukis_kafka_spark.spatial.wkb import validate_wkb

    buf = encode_wkb(("MULTILINESTRING", lines))
    assert "undecodable" in validate_wkb(buf[:-1])


def test_wkb_big_endian_decode():
    import struct

    # hand-packed big-endian POINT(1.5, -2.5): order byte 0, code 1
    buf = struct.pack(">BIdd", 0, 1, 1.5, -2.5)
    assert decode_wkb(buf) == ("POINT", (1.5, -2.5))


scalar = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    finite,
    st.text(max_size=40),
    st.binary(max_size=40),
)


@settings(max_examples=200)
@given(st.dictionaries(st.text(max_size=12), scalar, max_size=8))
def test_msgpack_map_roundtrip(d):
    out = unpackb(packb(d))
    assert set(out) == set(d)
    for k, v in d.items():
        got = out[k]
        if isinstance(v, float) and isinstance(got, float):
            assert math.isnan(got) if math.isnan(v) else got == v
        else:
            assert got == v


@given(st.lists(scalar, max_size=10))
def test_msgpack_array_roundtrip(a):
    out = unpackb(packb(a))
    assert len(out) == len(a)


def test_envelope_roundtrip():
    wkb = encode_wkb(("POINT", (13.405, 52.52)))
    env = read_envelope(make_envelope(wkb, {"name": "berlin", "pop": 3600000}, layer="cities"))
    assert env["props"]["name"] == "berlin"
    assert env["meta"]["layer"] == "cities"
    assert decode_wkb(env["geom"]) == ("POINT", (13.405, 52.52))


# --- malformed input: the decoders raise ValueError and nothing else ---

_GOOD_WKB = [
    encode_wkb(("POINT", (13.405, 52.52))),
    encode_wkb(("MULTIPOLYGON", ((((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)),),))),
    encode_wkb(("MULTILINESTRING", (((0.0, 0.0), (1.0, 1.0)), ((2.0, 2.0), (3.0, 3.0))))),
]
_GOOD_ENVELOPES = [
    make_envelope(w, {"fid": i, "name": "x" * 40, "h": 1.5, "ok": True}, layer="l")
    for i, w in enumerate(_GOOD_WKB)
]


@st.composite
def _mangled(draw, valid):
    """A valid encoding with a few bytes overwritten, then cut short."""
    buf = bytearray(draw(st.sampled_from(valid)))
    for _ in range(draw(st.integers(0, 3))):
        buf[draw(st.integers(0, len(buf) - 1))] = draw(st.integers(0, 255))
    return bytes(buf[: draw(st.integers(0, len(buf)))])


def _value_or_valueerror(decode, buf):
    try:
        decode(buf)
    except ValueError:
        pass


@settings(max_examples=300)
@given(st.one_of(st.binary(max_size=64), _mangled(_GOOD_ENVELOPES)))
def test_read_envelope_fuzz_value_or_valueerror(buf):
    _value_or_valueerror(read_envelope, buf)


@settings(max_examples=300)
@given(st.one_of(st.binary(max_size=64), _mangled(_GOOD_WKB)))
def test_decode_wkb_fuzz_value_or_valueerror(buf):
    _value_or_valueerror(decode_wkb, buf)


@pytest.mark.parametrize(
    "decode, buf",
    [
        pytest.param(unpackb, b"", id="empty-was-IndexError"),
        pytest.param(read_envelope, _GOOD_ENVELOPES[0][:-1], id="cut-envelope-was-struct.error"),
        pytest.param(decode_wkb, _GOOD_WKB[0][:-1], id="cut-wkb-was-struct.error"),
        pytest.param(unpackb, b"\x81\x91\x01\x02", id="array-map-key-was-TypeError"),
        pytest.param(read_envelope, packb({"geom": b"\x01"}), id="geom-only-was-accepted"),
        pytest.param(unpackb, b"\xc4\x05ab", id="bin-length-past-buffer"),
        pytest.param(unpackb, b"\x91" * 5000, id="nesting-deeper-than-stack"),
        pytest.param(decode_wkb, b"\x02" + _GOOD_WKB[0][1:], id="wkb-byte-order-2"),
        pytest.param(
            decode_wkb,
            bytes.fromhex("010400000001000000") + _GOOD_WKB[2],
            id="multipoint-of-lines",
        ),
        pytest.param(
            read_envelope, packb({"geom": b"", "props": {}, "meta": {"layer": 3}}), id="int-layer"
        ),
        pytest.param(
            read_envelope,
            packb({"geom": b"", "props": {}, "meta": {"layer": "l", "srid": "x"}}),
            id="str-srid",
        ),
    ],
)
def test_decoders_reject_malformed_input_with_valueerror(decode, buf):
    with pytest.raises(ValueError):
        decode(buf)


def test_point_in_polygon_goldens():
    square = (((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)),)
    assert point_in_polygon(5, 5, square)
    assert not point_in_polygon(15, 5, square)
    assert not point_in_polygon(-1, -1, square)
    with_hole = square + (((4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0), (4.0, 4.0)),)
    assert not point_in_polygon(5, 5, with_hole)  # inside the hole
    assert point_in_polygon(2, 2, with_hole)  # shell minus hole


def test_wkb_validation_verdicts():
    from ukis_kafka_spark.spatial.wkb import encode_wkb, validate_wkb

    good_pt = encode_wkb(("POINT", (1.0, 2.0)))
    assert validate_wkb(good_pt) is None
    assert "undecodable" in validate_wkb(good_pt[:9])
    assert "undecodable" in validate_wkb(b"\x01\xff\x00\x00\x00")
    line1 = encode_wkb(("LINESTRING", ((0.0, 0.0),)))
    assert "2 points" in validate_wkb(line1)
    open_ring = encode_wkb(("POLYGON", (((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (2.0, 2.0)),)))
    assert "unclosed" in validate_wkb(open_ring)
    tiny_ring = encode_wkb(("POLYGON", (((0.0, 0.0), (1.0, 0.0), (0.0, 0.0)),)))
    assert "< 4 points" in validate_wkb(tiny_ring)
    good_poly = encode_wkb(
        ("POLYGON", (((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)),))
    )
    assert validate_wkb(good_poly) is None


# --- WKT codec (text twin of the WKB round-trips above) ---

from ukis_kafka_spark.spatial.wkt import format_wkt, parse_wkt  # noqa: E402


@given(coord)
def test_wkt_point_roundtrip(pt):
    assert parse_wkt(format_wkt(("POINT", pt))) == ("POINT", pt)


@given(st.lists(coord, min_size=2, max_size=20).map(tuple))
def test_wkt_linestring_roundtrip(pts):
    assert parse_wkt(format_wkt(("LINESTRING", pts))) == ("LINESTRING", pts)


@given(st.lists(ring, min_size=1, max_size=4).map(tuple))
def test_wkt_polygon_roundtrip(rings):
    assert parse_wkt(format_wkt(("POLYGON", rings))) == ("POLYGON", rings)


@given(st.lists(coord, min_size=1, max_size=6).map(tuple))
def test_wkt_multipoint_roundtrip(pts):
    assert parse_wkt(format_wkt(("MULTIPOINT", pts))) == ("MULTIPOINT", pts)


@given(st.lists(st.lists(ring, min_size=1, max_size=3).map(tuple), min_size=1, max_size=3).map(tuple))
def test_wkt_multipolygon_roundtrip(polys):
    assert parse_wkt(format_wkt(("MULTIPOLYGON", polys))) == ("MULTIPOLYGON", polys)


@given(st.lists(coord, min_size=1, max_size=6).map(tuple))
def test_wkt_wkb_cross_codec(pts):
    """WKT text and WKB bytes describe the same geometry model."""
    geom = ("MULTIPOINT", pts)
    assert decode_wkb(encode_wkb(parse_wkt(format_wkt(geom)))) == geom


def test_wkt_accepts_both_multipoint_spellings():
    modern = parse_wkt("MULTIPOINT ((1 2), (3 4))")
    legacy = parse_wkt("MULTIPOINT (1 2, 3 4)")
    assert modern == legacy == ("MULTIPOINT", ((1.0, 2.0), (3.0, 4.0)))


def test_wkt_rejects_malformed():
    import pytest

    for bad in ("", "POINT", "POINT (1)", "POINT (1 2", "CIRCLE (0 0)",
                "POINT EMPTY", "POINT (1 2) extra"):
        with pytest.raises(ValueError):
            parse_wkt(bad)


# ---------------------------------------------------------------------------
# Shapefile reader/writer (sources.shapefile) — round-trip against the
# WKB geometry tuples, coordinates binary-exact (doubles pass through
# struct pack/unpack untouched)

shp_coord = st.tuples(finite, finite)


@settings(max_examples=25, deadline=None)
@given(st.lists(shp_coord, min_size=1, max_size=20))
def test_shapefile_point_roundtrip(tmp_path_factory, pts):
    from ukis_kafka_spark.sources.shapefile import read_shapefile, write_shapefile

    d = tmp_path_factory.mktemp("shp")
    feats = [(("POINT", p), {"fid": i, "name": f"p{i}"}) for i, p in enumerate(pts)]
    write_shapefile(str(d / "pts.shp"), feats)
    back = list(read_shapefile(str(d / "pts.shp")))
    assert [g for g, _ in back] == [g for g, _ in feats]
    assert [p["fid"] for _, p in back] == list(range(len(pts)))
    assert all(p["name"] == f"p{i}" for i, (_, p) in enumerate(back))


@settings(max_examples=25, deadline=None)
@given(st.lists(line, min_size=1, max_size=6))
def test_shapefile_polyline_roundtrip(tmp_path_factory, lines):
    from ukis_kafka_spark.sources.shapefile import read_shapefile, write_shapefile

    d = tmp_path_factory.mktemp("shp")
    feats = [(("LINESTRING", ln), {"n": float(len(ln))}) for ln in lines]
    write_shapefile(str(d / "lines.shp"), feats)
    back = list(read_shapefile(str(d / "lines.shp")))
    assert [g for g, _ in back] == [g for g, _ in feats]


def test_shapefile_polygon_ring_regrouping(tmp_path_factory):
    """Outer rings are clockwise in shapefiles; a CW ring after another
    polygon must start a NEW polygon, a CCW ring is a hole in the
    previous one — the regrouping must reproduce MULTIPOLYGON nesting."""
    from ukis_kafka_spark.sources.shapefile import read_shapefile, write_shapefile

    cw = ((0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0), (0.0, 0.0))
    hole = ((1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0), (1.0, 1.0))  # CCW
    cw2 = ((10.0, 0.0), (10.0, 2.0), (12.0, 2.0), (12.0, 0.0), (10.0, 0.0))
    d = tmp_path_factory.mktemp("shp")
    geom = ("MULTIPOLYGON", ((cw, hole), (cw2,)))
    write_shapefile(str(d / "poly.shp"), [(geom, {"a": 1})])
    (back, props), = list(read_shapefile(str(d / "poly.shp")))
    assert back == geom
    assert props["a"] == 1.0


def test_shapefile_wkb_envelope_path(tmp_path_factory):
    """The produce-shp dataflow: shapefile -> WKB bytes -> envelope ->
    decode, property-tested elsewhere per codec; here one concrete
    end-to-end pass."""
    from ukis_kafka_spark.sources.envelope import make_envelope, read_envelope
    from ukis_kafka_spark.sources.shapefile import read_shapefile, write_shapefile
    from ukis_kafka_spark.spatial.wkb import decode_wkb, encode_wkb

    d = tmp_path_factory.mktemp("shp")
    write_shapefile(
        str(d / "f.shp"),
        [(("POINT", (11.5, 48.1)), {"fid": 7, "name": "muc"})],
    )
    for geom, props in read_shapefile(str(d / "f.shp")):
        env = read_envelope(make_envelope(encode_wkb(geom), props, layer="l", srid=4326))
        assert decode_wkb(env["geom"]) == geom
        assert env["props"]["fid"] == 7.0 and env["props"]["name"] == "muc"


# ---- GeoPackage binary + file round-trips (sources.gpkg) ----

gpkg_geom = st.one_of(
    coord.map(lambda p: ("POINT", p)),
    line.map(lambda l: ("LINESTRING", l)),
    poly.map(lambda p: ("POLYGON", p)),
    st.lists(line, min_size=1, max_size=3).map(lambda ls: ("MULTILINESTRING", tuple(ls))),
)


@given(gpkg_geom, st.integers(min_value=0, max_value=10**6))
def test_gpkg_blob_roundtrip(geom, srid):
    from ukis_kafka_spark.sources.gpkg import make_gpkg_blob, parse_gpkg_blob

    assert parse_gpkg_blob(make_gpkg_blob(geom, srid)) == geom


def test_gpkg_blob_rejects_extension_and_garbage():
    import pytest

    from ukis_kafka_spark.sources.gpkg import make_gpkg_blob, parse_gpkg_blob

    blob = bytearray(make_gpkg_blob(("POINT", (1.0, 2.0))))
    blob[3] |= 0b100000  # extension flag: payload is not plain WKB
    with pytest.raises(ValueError, match="Extended"):
        parse_gpkg_blob(bytes(blob))
    with pytest.raises(ValueError, match="GP magic"):
        parse_gpkg_blob(b"\x00\x01\x02\x03\x04\x05\x06\x07\x08")
    # empty-geometry flag decodes to None, not a crash
    blob = bytearray(make_gpkg_blob(("POINT", (1.0, 2.0))))
    blob[3] |= 0b10000
    assert parse_gpkg_blob(bytes(blob)) is None


@settings(max_examples=25, deadline=None)
@given(
    features=st.lists(
        st.tuples(
            gpkg_geom,
            st.dictionaries(
                st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True),
                st.one_of(st.integers(-2**40, 2**40), st.text(max_size=12), st.none()),
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=8,
    ),
    srid=st.integers(min_value=1, max_value=10**6),
)
def test_gpkg_file_roundtrip(tmp_path_factory, features, srid):
    from ukis_kafka_spark.sources.gpkg import gpkg_layers, read_gpkg, write_gpkg

    path = str(tmp_path_factory.mktemp("gpkg") / "layer.gpkg")
    write_gpkg(path, "roads", features, srid=srid)
    assert gpkg_layers(path) == ["roads"]
    got = list(read_gpkg(path))
    assert len(got) == len(features)
    for (geom, props), (g_geom, g_props, g_srid) in zip(features, got):
        assert g_geom == geom
        assert g_srid == srid
        g_props.pop("fid", None)
        # sqlite stores only the unioned columns; missing keys read NULL
        for k, v in props.items():
            assert g_props.get(k) == v


# ---- BMP codec round-trips (ml.multimodal) ----


@settings(deadline=None)
@given(st.binary(min_size=0, max_size=400), st.integers(min_value=1, max_value=64))
def test_bmp_roundtrip(payload, width):
    from ukis_kafka_spark.ml.multimodal import decode_bmp, encode_bmp

    w, h, pixels = decode_bmp(encode_bmp(payload, width))
    assert w == width
    assert h == max(1, -(-len(payload) // width))
    assert pixels[: len(payload)] == payload
    assert set(pixels[len(payload):]) <= {0}  # zero fill only
    assert len(pixels) == w * h


def test_bmp_rejects_unsupported():
    import pytest

    from ukis_kafka_spark.ml.multimodal import decode_bmp, encode_bmp

    with pytest.raises(ValueError, match="BM magic"):
        decode_bmp(b"PNG....")
    buf = bytearray(encode_bmp(b"abc", 4))
    buf[28] = 24  # 24-bit: this parser only implements 8-bit
    with pytest.raises(ValueError, match="unsupported BMP"):
        decode_bmp(bytes(buf))
    with pytest.raises(ValueError, match="width"):
        encode_bmp(b"abc", 0)


# ---- Avro object container round-trips (sources.avro) ----

_AVRO_SCHEMA = {
    "type": "record",
    "name": "rec",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "d", "type": "double"},
        {"name": "b", "type": "bytes"},
        {"name": "flag", "type": "boolean"},
        {"name": "opt", "type": ["null", "long"]},
    ],
}

_avro_rows = st.lists(
    st.tuples(
        st.integers(min_value=-(2**62), max_value=2**62),
        st.text(max_size=40),
        st.floats(allow_nan=False),
        st.binary(max_size=30),
        st.booleans(),
        st.one_of(st.none(), st.integers(min_value=-(2**31), max_value=2**31)),
    ),
    max_size=60,
)


@settings(deadline=None, max_examples=40)
@given(
    rows=_avro_rows,
    codec=st.sampled_from(["null", "deflate"]),
    block_records=st.integers(1, 7),
)
def test_avro_container_roundtrip(rows, codec, block_records, tmp_path_factory):
    """write → scan → decode must recover every record exactly, for
    both codecs and any block split; the block scanner's planning
    metadata (per-block counts) must account for every row."""
    from ukis_kafka_spark.sources.avro import read_blocks, scan_blocks, write_avro

    p = str(tmp_path_factory.mktemp("avro") / "t.avro")
    write_avro(p, _AVRO_SCHEMA, rows, codec=codec, block_records=block_records)
    schema, got_codec, blocks = scan_blocks(p)
    assert got_codec == codec
    assert sum(b[1] for b in blocks) == len(rows)
    assert all(b[1] <= block_records for b in blocks)
    back = list(read_blocks(p, schema, codec, blocks))
    assert back == rows


@settings(deadline=None, max_examples=25)
@given(rows=_avro_rows, block_records=st.integers(1, 5))
def test_avro_columnar_decode_matches_row_decode(rows, block_records, tmp_path_factory):
    """The Arrow fast path (decode_columns) and the row generator are
    two independent decoders of the same bytes — they must agree."""
    import zlib

    from ukis_kafka_spark.sources.avro import (
        decode_columns,
        read_blocks,
        scan_blocks,
        write_avro,
    )

    p = str(tmp_path_factory.mktemp("avro") / "t.avro")
    write_avro(p, _AVRO_SCHEMA, rows, codec="deflate", block_records=block_records)
    schema, codec, blocks = scan_blocks(p)
    types = [f["type"] for f in schema["fields"]]
    cols_rows = []
    with open(p, "rb") as f:
        for off, n_rec, size in blocks:
            f.seek(off)
            payload = zlib.decompress(f.read(size), -15)
            cols = decode_columns(payload, types, n_rec)
            cols_rows.extend(zip(*cols))
    assert cols_rows == list(read_blocks(p, schema, codec, blocks))


def test_avro_rejects_garbage(tmp_path):
    import pytest

    from ukis_kafka_spark.sources.avro import scan_blocks, write_avro

    bad = tmp_path / "bad.avro"
    bad.write_bytes(b"PAR1 not avro")
    with pytest.raises(ValueError, match="container"):
        scan_blocks(str(bad))
    with pytest.raises(ValueError, match="codec"):
        write_avro(str(tmp_path / "x.avro"), _AVRO_SCHEMA, [], codec="snappy")
    # corrupt a sync marker: the scanner must refuse, not misparse
    good = tmp_path / "good.avro"
    write_avro(str(good), _AVRO_SCHEMA, [(1, "a", 0.5, b"", True, None)], codec="null")
    buf = bytearray(good.read_bytes())
    buf[-1] ^= 0xFF
    good.write_bytes(bytes(buf))
    with pytest.raises(ValueError, match="sync"):
        scan_blocks(str(good))


def test_avro_negative_meta_block_count(tmp_path):
    """Spec-conformant writers MAY emit a negative metadata-map block
    count (abs(n) items, prefixed by a byte-size long). The header
    parser must consume that size long or the stream desyncs
    (ADVICE r5). Hand-crafts such a header around a normal file's
    metadata."""
    from ukis_kafka_spark.sources.avro import (
        _enc_bytes,
        _enc_long,
        read_header,
        write_avro,
    )

    normal = tmp_path / "n.avro"
    write_avro(str(normal), _AVRO_SCHEMA, [(1, "a", 0.5, b"x", True, 7)], codec="null")
    import io
    import json

    schema_json = json.dumps(_AVRO_SCHEMA, sort_keys=True).encode()
    items = _enc_bytes(b"avro.schema") + _enc_bytes(schema_json)
    items += _enc_bytes(b"avro.codec") + _enc_bytes(b"null")
    hdr = (
        b"Obj\x01"
        + _enc_long(-2)            # negative block count: 2 items follow...
        + _enc_long(len(items))    # ...prefixed by their byte size
        + items
        + _enc_long(0)
        + b"S" * 16
    )
    schema, codec, sync = read_header(io.BytesIO(hdr))
    assert schema == _AVRO_SCHEMA and codec == "null" and sync == b"S" * 16


def test_avro_negative_data_block_count_is_clear_error(tmp_path):
    """A negative record count in a DATA block is malformed — the
    scanner must raise a descriptive error, not desync into a
    sync-marker mismatch (ADVICE r5)."""
    import pytest

    from ukis_kafka_spark.sources.avro import _enc_long, scan_blocks, write_avro

    p = tmp_path / "neg.avro"
    write_avro(str(p), _AVRO_SCHEMA, [], codec="null")
    raw = bytearray(p.read_bytes())
    # write_avro([]) emits header only; append a block with count=-1
    raw += _enc_long(-1) + _enc_long(0) + raw[-16:]
    p.write_bytes(bytes(raw))
    with pytest.raises(ValueError, match="negative record count"):
        scan_blocks(str(p))


def test_avroscan_empty_dir_is_descriptive_error(tmp_path):
    """An empty lake directory (only batch aborted) must raise a clear
    'no .avro files' error, not IndexError (ADVICE r5)."""
    import pytest

    from ukis_kafka_spark.sources.avroscan import _resolve_files

    with pytest.raises(ValueError, match="no live .avro files"):
        _resolve_files(str(tmp_path))


def test_avroscan_directory_schema_mismatch_is_rejected(tmp_path):
    """partitions() plans the read schema from the first file; a second
    file with a different header schema must be rejected up front, not
    misdecoded (ADVICE r5)."""
    import pytest

    from ukis_kafka_spark.sources.avro import write_avro
    from ukis_kafka_spark.sources.avroscan import _AvroReader

    other = {
        "type": "record",
        "name": "rec2",
        "fields": [{"name": "x", "type": "long"}],
    }
    write_avro(
        str(tmp_path / "a.avro"), _AVRO_SCHEMA,
        [(1, "a", 0.5, b"", True, None)], codec="null",
    )
    write_avro(str(tmp_path / "b.avro"), other, [(9,)], codec="null")
    with pytest.raises(ValueError, match="schema mismatch"):
        _AvroReader(str(tmp_path)).partitions()
    # homogeneous directory still plans fine
    (tmp_path / "b.avro").unlink()
    write_avro(
        str(tmp_path / "c.avro"), _AVRO_SCHEMA,
        [(2, "b", 1.5, b"y", False, 3)], codec="null",
    )
    parts = _AvroReader(str(tmp_path)).partitions()
    assert sum(sum(b[1] for b in p.blocks) for p in parts) == 2


def test_avro_sink_append_twice_keeps_both_batches(spark, tmp_path):
    """Two append-mode save()s to the same directory must keep BOTH
    batches' part files — the old part-NNNNN naming silently clobbered
    batch 1 (ADVICE r5, medium)."""
    import os

    from ukis_kafka_spark.sources.avroscan import (
        _ensure_registered,
        _ensure_sink_registered,
    )

    _ensure_registered(spark)
    _ensure_sink_registered(spark)
    out = str(tmp_path / "lake")
    os.makedirs(out)
    df = spark.range(10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    for _ in range(2):
        df.write.format("avrosink").option("path", out).mode("append").save()
    files = [f for f in os.listdir(out) if f.endswith(".avro")]
    assert len(files) >= 2, files
    back = spark.read.format("avroscan").option("path", out).load()
    assert back.count() == 20
    assert back.groupBy("k").count().where("count <> 2").count() == 0


def test_avro_sink_overwrite_replaces_previous_batch(spark, tmp_path):
    """mode('overwrite') must REPLACE the directory's previous batch —
    with unique per-batch part names the old deterministic-name
    clobbering no longer happens implicitly, so commit() now clears
    prior part files when the overwrite flag is set (code-review r6:
    overwrite had silently become append-with-duplicates)."""
    import os

    from ukis_kafka_spark.sources.avroscan import (
        _ensure_registered,
        _ensure_sink_registered,
    )

    _ensure_registered(spark)
    _ensure_sink_registered(spark)
    out = str(tmp_path / "lake")
    os.makedirs(out)
    df10 = spark.range(10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    df4 = spark.range(4).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    df10.write.format("avrosink").option("path", out).mode("overwrite").save()
    df4.write.format("avrosink").option("path", out).mode("overwrite").save()
    back = spark.read.format("avroscan").option("path", out).load()
    assert back.count() == 4
    assert back.groupBy("k").count().where("count <> 1").count() == 0
    # and append-after-overwrite still accumulates
    df10.write.format("avrosink").option("path", out).mode("append").save()
    back2 = spark.read.format("avroscan").option("path", out).load()
    assert back2.count() == 14


def test_avro_sink_crashed_overwrite_leaves_no_duplicates(spark, tmp_path):
    """A crash between an overwrite's rename loop and its delete loop
    leaves old+new part files on disk; the _LIVE manifest (published
    atomically at the commit point) must make readers see ONLY the new
    batch — previously that half-committed state silently read as
    duplicated rows with no marker to detect it (ADVICE r7).  Legacy
    directories without a manifest keep plain-listing semantics."""
    import os
    import shutil

    from ukis_kafka_spark.sources.avroscan import (
        MANIFEST,
        _ensure_registered,
        _ensure_sink_registered,
    )

    _ensure_registered(spark)
    _ensure_sink_registered(spark)
    out = str(tmp_path / "lake")
    os.makedirs(out)
    df10 = spark.range(10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    df4 = spark.range(4).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    df10.write.format("avrosink").option("path", out).mode("overwrite").save()
    batch1 = {f for f in os.listdir(out) if f.endswith(".avro")}
    # stash batch 1's parts, run the second overwrite, then restore
    # them — byte-identical to a commit that crashed before its
    # delete loop (manifest lists only batch 2; batch 1 back on disk)
    stash = tmp_path / "stash"
    os.makedirs(stash)
    for f in batch1:
        shutil.copy2(os.path.join(out, f), stash / f)
    df4.write.format("avrosink").option("path", out).mode("overwrite").save()
    for f in batch1:
        shutil.copy2(stash / f, os.path.join(out, f))
    assert len([f for f in os.listdir(out) if f.endswith(".avro")]) >= 2
    back = spark.read.format("avroscan").option("path", out).load()
    assert back.count() == 4, "crashed overwrite must not read as duplicates"
    assert back.groupBy("k").count().where("count <> 1").count() == 0
    # the orphans are garbage-collected by the next overwrite commit
    df4.write.format("avrosink").option("path", out).mode("overwrite").save()
    on_disk = {f for f in os.listdir(out) if f.endswith(".avro")}
    assert not (on_disk & batch1), "next overwrite must GC crash orphans"
    # legacy directory (no manifest) keeps plain-listing semantics
    os.remove(os.path.join(out, MANIFEST))
    assert spark.read.format("avroscan").option("path", out).load().count() == 4


@settings(deadline=None, max_examples=40)
@given(
    frames=st.lists(st.binary(min_size=48, max_size=48), max_size=6),
)
def test_avi_container_roundtrip(frames):
    """encode_avi → parse_avi must recover every frame byte-exactly,
    agree on the header counts, and cross-check movi against idx1."""
    from ukis_kafka_spark.ml.multimodal import encode_avi, parse_avi

    buf = encode_avi(frames)
    hdr, back = parse_avi(buf)
    assert back == frames
    assert hdr["n_frames"] == len(frames)
    assert (hdr["width"], hdr["height"]) == (4, 4)


def test_avi_rejects_malformed():
    import struct

    import pytest

    from ukis_kafka_spark.ml.multimodal import encode_avi, parse_avi

    with pytest.raises(ValueError, match="RIFF"):
        parse_avi(b"JUNKJUNKJUNKJUNK")
    with pytest.raises(ValueError, match="frame must be"):
        encode_avi([b"short"])
    # corrupt the avih frame count: idx1/movi cross-check must fire
    good = bytearray(encode_avi([b"\x01" * 48, b"\x02" * 48]))
    pos = good.find(b"avih") + 8 + 16  # dwTotalFrames offset in avih
    good[pos:pos + 4] = struct.pack("<I", 9)
    with pytest.raises(ValueError, match="mismatch"):
        parse_avi(bytes(good))


@given(st.binary(min_size=1, max_size=300), st.integers(min_value=2, max_value=128))
@settings(max_examples=60, deadline=None)
def test_ahash_bits_properties(payload, cells):
    """_ahash_bits on arbitrary rasters: bit k is EXACTLY the integer
    cross-product rule (re-derived here with Fraction means, a
    different formulation), the hash is segmentation-stable for a
    constant raster (all bits 0 — no segment exceeds the global mean),
    and brightening one segment flips only predictable bits."""
    from fractions import Fraction

    from ukis_kafka_spark.ml.multimodal import _ahash_bits

    bits = _ahash_bits(payload, cells)
    n = len(payload)
    tot = sum(payload)
    for k in range(cells):
        lo, hi = k * n // cells, (k + 1) * n // cells
        seg = payload[lo:hi]
        want = bool(seg) and Fraction(sum(seg), len(seg)) > Fraction(tot, n)
        assert bool(bits >> k & 1) == want
    assert _ahash_bits(bytes([7]) * n, cells) == 0


def test_image_ahash_reference(spark):
    """m_image_ahash re-derived from the raw parquet text bytes
    (independent of the BMP encode/decode path the query rides):
    identical hex fingerprints, coarse hashes, and collision counts —
    and the coarse buckets must genuinely bucket (some bucket > 1)
    while the fine hash stays discriminative (mostly singletons)."""
    from collections import Counter

    import pandas as pd

    from tests.conftest import SF_SMOKE
    from ukis_kafka_spark import api
    from ukis_kafka_spark.ml.multimodal import _AHASH_CELLS, _AHASH_COARSE, _ahash_bits

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    exp = {}
    for r in docs.itertuples():
        b = r.text.encode()
        h = max(1, -(-len(b) // 32))
        px = b + bytes(h * 32 - len(b))  # the decoded BMP raster
        exp[int(r.doc_id)] = (
            format(_ahash_bits(px, _AHASH_CELLS), "016x"),
            _ahash_bits(px, _AHASH_COARSE),
        )
    c64 = Counter(v[0] for v in exp.values())
    c16 = Counter(v[1] for v in exp.values())
    got = {
        r.doc_id: (r.ahash_hex, r.ahash16, r.n_dup64, r.n_bucket16)
        for r in api.queries()["m_image_ahash"](spark, SF_SMOKE).collect()
    }
    assert got == {
        d: (hx, co, c64[hx], c16[co]) for d, (hx, co) in exp.items()
    }
    assert max(c16.values()) > 1, "coarse hash never buckets — vacuous"
    assert sum(1 for v in c64.values() if v == 1) > len(exp) * 0.9


def test_audio_energy_reference(spark):
    """m_audio_energy re-derived from raw text bytes with plain python
    (independent of the wave-module path the query rides): per-10ms
    frame sum((b-128)^2), earliest argmax, totals — and the peak must
    genuinely move (not always frame 0)."""
    import pandas as pd

    from tests.conftest import SF_SMOKE
    from ukis_kafka_spark import api
    from ukis_kafka_spark.ml.multimodal import _ENERGY_WIN

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    exp = {}
    for r in docs.itertuples():
        sq = [(b - 128) * (b - 128) for b in r.text.encode()]
        wins = [
            sum(sq[k * _ENERGY_WIN : (k + 1) * _ENERGY_WIN])
            for k in range(-(-len(sq) // _ENERGY_WIN))
        ]
        peak = wins.index(max(wins))
        exp[int(r.doc_id)] = (len(wins), sum(sq), peak, wins[peak])
    got = {
        r.doc_id: (r.n_win, r.total_energy, r.peak_win, r.peak_energy)
        for r in api.queries()["m_audio_energy"](spark, SF_SMOKE).collect()
    }
    assert got == exp
    assert {p for _, _, p, _ in exp.values()} != {0}, "peak never moves — vacuous"


@given(
    usec=st.integers(min_value=1, max_value=2_000_000),
    n=st.integers(min_value=0, max_value=4),
)
@settings(deadline=None, max_examples=40)
def test_avi_rate_headers_derive_from_usec(usec, n):
    """ADVICE r6: strh's (dwScale, dwRate) and avih's dwMaxBytesPerSec
    must be DERIVED from usec_per_frame, not hardcoded 25 fps —
    rate/scale must equal 1e6/usec exactly and the parsed header must
    echo usec; truncated-size chunks must raise, not clamp."""
    import struct

    from ukis_kafka_spark.ml.multimodal import encode_avi, parse_avi

    frames = [bytes([i]) * 48 for i in range(n)]
    buf = encode_avi(frames, usec_per_frame=usec)
    hdr, back = parse_avi(buf)
    assert hdr["usec_per_frame"] == usec and back == frames
    pos = buf.find(b"strh") + 8
    scale, rate = struct.unpack_from("<II", buf, pos + 20)
    assert (scale, rate) == (usec, 1_000_000)
    max_bps = struct.unpack_from("<I", buf, buf.find(b"avih") + 8 + 4)[0]
    assert max_bps == 48 * 1_000_000 // usec
    # declared-size overrun must raise (the old slice-clamp was
    # silent). Only meaningful when the cut lands INSIDE a declared
    # payload: with n=0 frames the idx1 payload is empty, so a 3-byte
    # cut removes part of a trailing chunk HEADER, which a RIFF walk
    # legitimately ignores.
    if n >= 1:
        cut = buf[: len(buf) - 3]
        try:
            parse_avi(cut)
            raise AssertionError("truncated AVI parsed silently")
        except ValueError:
            pass


# ---- varint framing (sources.jsonl src_varint_frames codec) ----


@settings(deadline=None, max_examples=200)
@given(st.integers(0, 2**63 - 1))
def test_uvarint_roundtrip(n):
    from ukis_kafka_spark.sources.jsonl import decode_uvarint, encode_uvarint

    enc = encode_uvarint(n)
    assert 1 <= len(enc) <= 10
    # continuation bit set on every byte but the last
    assert all(b & 0x80 for b in enc[:-1]) and not (enc[-1] & 0x80)
    val, off = decode_uvarint(enc + b"trailing", 0)
    assert (val, off) == (n, len(enc))


@settings(deadline=None, max_examples=60)
@given(st.lists(st.binary(max_size=40), max_size=12))
def test_varint_frame_stream_roundtrip(payloads):
    from ukis_kafka_spark.sources.jsonl import encode_uvarint, iter_varint_frames

    stream = b"".join(encode_uvarint(len(p)) + p for p in payloads)
    assert list(iter_varint_frames(stream)) == payloads


def test_varint_frame_errors():
    import pytest

    from ukis_kafka_spark.sources.jsonl import (
        decode_uvarint,
        encode_uvarint,
        iter_varint_frames,
    )

    with pytest.raises(ValueError):
        decode_uvarint(b"\x80\x80", 0)  # truncated continuation
    with pytest.raises(ValueError):
        decode_uvarint(b"\x80" * 10 + b"\x01", 0)  # overlong
    with pytest.raises(ValueError):
        list(iter_varint_frames(encode_uvarint(5) + b"ab"))  # overrun
    with pytest.raises(ValueError):
        encode_uvarint(-1)


# ---- Arrow IPC stream source (sources.jsonl src_arrow_ipc) ----


def test_arrow_ipc_kernel_multibatch_roundtrip():
    """The mapInArrow decode kernel re-emits the embedded record
    batches of each binaryFile row: build two IPC streams in memory
    (one multi-batch via max_chunksize), wrap them as the binaryFile
    batch shape, and check rows AND batch boundaries survive."""
    import io

    import pyarrow as pa

    from ukis_kafka_spark.sources.jsonl import _arrow_ipc_decode

    schema = pa.schema(
        [("doc_id", pa.int64()), ("source", pa.string()),
         ("lang", pa.string()), ("text", pa.string())]
    )

    def stream_bytes(ids):
        tbl = pa.table(
            {"doc_id": ids, "source": ["s"] * len(ids),
             "lang": ["en"] * len(ids), "text": [f"t{i}" for i in ids]},
            schema=schema,
        )
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, schema) as w:
            w.write_table(tbl, max_chunksize=3)
        return sink.getvalue()

    content = pa.array([stream_bytes(list(range(7))), stream_bytes([100, 101])])
    in_batch = pa.record_batch([content], names=["content"])
    out = list(_arrow_ipc_decode(iter([in_batch])))
    # 7 rows at chunksize 3 -> 3 batches; 2 rows -> 1 batch
    assert [b.num_rows for b in out] == [3, 3, 1, 2]
    got = pa.Table.from_batches(out)
    assert got.column("doc_id").to_pylist() == [0, 1, 2, 3, 4, 5, 6, 100, 101]
    assert got.column("text").to_pylist()[:2] == ["t0", "t1"]


def test_arrow_ipc_source_matches_pandas(spark):
    """End-to-end: the src_arrow_ipc aggregate equals a pandas
    re-derivation from the raw parquet."""
    import pandas as pd

    from tests.conftest import SF_SMOKE
    from ukis_kafka_spark import api

    d = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    want = {
        (src, lang): (len(g), int(g.doc_id.min()), int(g.doc_id.max()),
                      int(g.text.str.len().sum()))
        for (src, lang), g in d.groupby(["source", "lang"])
    }
    rows = api.queries()["src_arrow_ipc"](spark, SF_SMOKE).collect()
    got = {
        (r["source"], r["lang"]): (r["n_docs"], r["min_doc"], r["max_doc"], r["chars_total"])
        for r in rows
    }
    assert got == want


def test_sequencefile_source_matches_pandas(spark):
    """src_sequencefile aggregate equals a pandas re-derivation."""
    import math

    import pandas as pd

    from tests.conftest import SF_SMOKE
    from ukis_kafka_spark import api

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["user_id", "value", "event_type"])
    ev["vc"] = ev.value.map(lambda v: math.floor(v * 100))
    want = {
        et: (len(g), int(g.user_id.min()), int(g.user_id.max()), int(g.vc.sum()))
        for et, g in ev.groupby("event_type")
    }
    rows = api.queries()["src_sequencefile"](spark, SF_SMOKE).collect()
    got = {r["event_type"]: (r["n"], r["min_user"], r["max_user"], r["value_centi_sum"]) for r in rows}
    assert got == want


# ---- WARC codec (sources.jsonl src_warc) ----


def test_warc_roundtrip_and_strictness():
    """parse_warc round-trips hand-built records and raises on every
    corruption class (bad version, overrun payload, missing separator)."""
    import pytest as _pytest

    from ukis_kafka_spark.sources.jsonl import parse_warc

    def rec(rid, payload: bytes, lang="en"):
        hdr = (
            f"WARC/1.0\r\nWARC-Type: resource\r\n"
            f"WARC-Record-ID: <urn:corpus:{rid}>\r\n"
            f"WARC-Target-URI: warc://corpus/s/{rid}\r\n"
            f"X-Corpus-Lang: {lang}\r\nContent-Length: {len(payload)}\r\n\r\n"
        ).encode()
        return hdr + payload + b"\r\n\r\n"

    buf = rec(1, b"hello world") + rec(2, b"") + rec(3, b"a\r\n\r\nb")  # payload may contain CRLFCRLF
    got = list(parse_warc(buf))
    assert [(h["WARC-Record-ID"], p) for h, p in got] == [
        ("<urn:corpus:1>", b"hello world"),
        ("<urn:corpus:2>", b""),
        ("<urn:corpus:3>", b"a\r\n\r\nb"),
    ]
    with _pytest.raises(ValueError, match="WARC version"):
        list(parse_warc(b"HTTP/1.1 200\r\nContent-Length: 0\r\n\r\n\r\n\r\n"))
    with _pytest.raises(ValueError, match="overruns"):
        list(parse_warc(rec(1, b"hello")[:-9]))
    with _pytest.raises(ValueError, match="separator"):
        list(parse_warc(rec(1, b"x")[:-2]))


def test_warc_source_matches_pandas(spark):
    import pandas as pd

    from tests.conftest import SF_SMOKE
    from ukis_kafka_spark import api

    d = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    want = {
        lang: (len(g), g.source.nunique(), int(g.text.str.len().sum()), int(g.doc_id.sum()))
        for lang, g in d.groupby("lang")
    }
    rows = api.queries()["src_warc"](spark, SF_SMOKE).collect()
    got = {r["lang"]: (r["n_docs"], r["n_sources"], r["bytes_total"], r["id_mass"]) for r in rows}
    assert got == want

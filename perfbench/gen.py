"""Seeded input generators shared by the ``geo_pipeline`` and
``stream_consume`` workloads.

Everything here is a pure function of the seed: the same seed gives the
same GeoJSON text, the same stream ticks and the same expected sink
state. The program under test only ever sees the files written from
these values; the expected state is what the output checks compare to.

A reference WKB encoder lives here too, independent of the program's
codec, so the bit-exact round-trip check has something to compare to.
"""

from __future__ import annotations

import json
import math
import random
import struct

# geometry mix of geo_pipeline features (shares of all features)
POINT_SHARE = 0.60
LINE_SHARE = 0.25  # the remaining 0.15 are polygons / multipolygons with holes
REDELIVER_SHARE = 0.20  # share of fids that are delivered a second time later
LINE_VERTICES = 16
POLY_VERTICES = 48

STREAM_KEYS = 4000  # bounded fid key space of stream_consume
STREAM_RESEND_SHARE = 0.05  # share of events re-sent in a later tick


# ---------------------------------------------------------------- WKB reference


def as_tuples(coords):
    """GeoJSON coordinates with every list turned into a tuple: the
    program's geometry model (``spatial.wkb.decode_wkb``)."""
    return tuple(as_tuples(c) for c in coords) if isinstance(coords, list) else coords


def ref_wkb(gtype: str, coords) -> bytes:
    """Little-endian WKB of a GeoJSON-style (type, coordinates) pair."""
    t = gtype.upper()
    code = {"POINT": 1, "LINESTRING": 2, "POLYGON": 3, "MULTIPOLYGON": 6}[t]
    head = struct.pack("<BI", 1, code)
    if t == "POINT":
        return head + struct.pack("<dd", *coords)
    if t == "LINESTRING":
        return head + struct.pack("<I", len(coords)) + b"".join(struct.pack("<dd", *p) for p in coords)
    if t == "POLYGON":
        body = [struct.pack("<I", len(coords))]
        for ring in coords:
            body.append(struct.pack("<I", len(ring)))
            body.extend(struct.pack("<dd", *p) for p in ring)
        return head + b"".join(body)
    return head + struct.pack("<I", len(coords)) + b"".join(ref_wkb("POLYGON", poly) for poly in coords)


# ------------------------------------------------------------- geo_pipeline


def _ring(rng: random.Random, cx: float, cy: float, r: float, n: int) -> list:
    """Closed ring of ``n`` coordinates (first == last) around (cx, cy)."""
    pts = []
    for i in range(n - 1):
        a = 6.283185307179586 * i / (n - 1)
        rr = r * (0.8 + 0.2 * rng.random())
        pts.append([cx + rr * math.cos(a), cy + rr * math.sin(a)])
    pts.append(list(pts[0]))
    return pts


def _geometry(rng: random.Random) -> dict:
    u = rng.random()
    x, y = rng.uniform(5.0, 15.0), rng.uniform(47.0, 55.0)
    if u < POINT_SHARE:
        return {"type": "Point", "coordinates": [x, y]}
    if u < POINT_SHARE + LINE_SHARE:
        pts = [[x + 0.001 * i + 1e-4 * rng.random(), y + 1e-4 * rng.random()] for i in range(LINE_VERTICES)]
        return {"type": "LineString", "coordinates": pts}
    if rng.random() < 0.5:  # polygon: 32-vertex shell + 16-vertex hole
        return {"type": "Polygon", "coordinates": [_ring(rng, x, y, 0.01, 32), _ring(rng, x, y, 0.004, 16)]}
    # multipolygon: two parts, each a 16-vertex shell + 8-vertex hole
    return {
        "type": "MultiPolygon",
        "coordinates": [
            [_ring(rng, x, y, 0.01, 16), _ring(rng, x, y, 0.004, 8)],
            [_ring(rng, x + 0.05, y, 0.01, 16), _ring(rng, x + 0.05, y, 0.004, 8)],
        ],
    }


def _properties(rng: random.Random, fid: int, version: int) -> dict:
    props = {"fid": fid, "version": version}
    for i in range(rng.randint(2, 14)):  # 4..16 properties in all
        kind = i % 4
        if kind == 0:
            props[f"p{i}"] = rng.randint(-10**6, 10**6)
        elif kind == 1:
            props[f"p{i}"] = round(rng.uniform(-1000.0, 1000.0), 6)
        elif kind == 2:
            props[f"p{i}"] = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(rng.randint(3, 24)))
        else:
            props[f"p{i}"] = rng.random() < 0.5
    return props


def feature_layers(seed: int, n_per_layer: int, layers: tuple[str, ...]) -> dict[str, list[dict]]:
    """One GeoJSON feature list per layer, ``n_per_layer`` features each.

    Fids are unique across layers. ``REDELIVER_SHARE`` of the features
    are second deliveries of an earlier fid of the same layer, with a
    new geometry and properties (``version`` 1), placed at a seeded
    position after the first delivery — so the keyed upsert has real
    last-write-wins work to do."""
    rng = random.Random(seed)
    out = {}
    for li, layer in enumerate(layers):
        n_first = round(n_per_layer / (1 + REDELIVER_SHARE))
        first = [
            {"type": "Feature", "geometry": _geometry(rng), "properties": _properties(rng, li * 10**7 + i, 0)}
            for i in range(n_first)
        ]
        # (insert-after index, redelivery) pairs, merged in stable order
        later = sorted(
            (
                (rng.randint(i, n_first - 1), k, {
                    "type": "Feature",
                    "geometry": _geometry(rng),
                    "properties": _properties(rng, first[i]["properties"]["fid"], 1),
                })
                for k, i in enumerate(rng.sample(range(n_first), n_per_layer - n_first))
            ),
            key=lambda t: (t[0], t[1]),
        )
        feats, j = [], 0
        for i, f in enumerate(first):
            feats.append(f)
            while j < len(later) and later[j][0] == i:
                feats.append(later[j][2])
                j += 1
        out[layer] = feats
    return out


def geojson_text(feats: list[dict]) -> str:
    return json.dumps({"type": "FeatureCollection", "features": feats})


def expected_upsert(layers: dict[str, list[dict]]) -> dict[str, tuple]:
    """fid (as the consumer's string key) → (layer, geom_type, wkb,
    props_json) of the last delivery in produce order."""
    out = {}
    for layer, feats in layers.items():
        for f in feats:
            g = f["geometry"]
            props = f["properties"]
            out[str(props["fid"])] = (
                layer,
                g["type"].upper(),
                ref_wkb(g["type"], g["coordinates"]),
                json.dumps(props, sort_keys=True),
            )
    return out


# ------------------------------------------------------------ stream_consume


def stream_ticks(seed: int, n_ticks: int, events_per_tick: int) -> list[list[dict]]:
    """Events of ``n_ticks`` consecutive ticks of the open-loop stream.

    Each event is a point feature with ``fid`` from a bounded key space,
    a globally increasing ``seq`` and its tick index (the generator
    stamps the due time when it writes the tick). ``STREAM_RESEND_SHARE``
    of the events are re-sent 1–3 ticks later with identical content
    (a re-delivery the consumer must drop)."""
    rng = random.Random(seed)
    ticks: list[list[dict]] = [[] for _ in range(n_ticks)]
    seq = 0
    for t in range(n_ticks):
        for _ in range(events_per_tick):
            ev = {
                "fid": rng.randrange(STREAM_KEYS),
                "seq": seq,
                "tick": t,
                "x": round(rng.uniform(5.0, 15.0), 6),
                "y": round(rng.uniform(47.0, 55.0), 6),
                "v": rng.randint(0, 10**6),
            }
            seq += 1
            ticks[t].append(ev)
            if rng.random() < STREAM_RESEND_SHARE:
                later = t + rng.randint(1, 3)
                if later < n_ticks:
                    ticks[later].append(ev)
    return ticks


def stream_props(ev: dict, due_ms: int) -> dict:
    return {"fid": ev["fid"], "seq": ev["seq"], "due_ms": due_ms, "v": ev["v"]}

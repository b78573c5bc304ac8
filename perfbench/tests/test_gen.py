"""The seeded generators are deterministic and produce the mix the
workloads promise.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import subprocess
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402


def _tickgen(topic: str, log: str, seed: int) -> None:
    subprocess.run(
        [
            sys.executable, os.path.join(BENCH, "tickgen.py"),
            "--seed", str(seed), "--topic-dir", topic, "--ticks", "6", "--events-per-tick", "50",
            "--tick-ms", "0", "--start-ms", "1700000000000", "--log", log,
        ],
        check=True,
    )


def test_same_seed_gives_byte_identical_topic_files(tmp_path):
    a, b, c = (str(tmp_path / d) for d in ("a", "b", "c"))
    _tickgen(a, str(tmp_path / "a.json"), 5)
    _tickgen(b, str(tmp_path / "b.json"), 5)
    _tickgen(c, str(tmp_path / "c.json"), 6)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == 6
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    # the files are delivered in tick order: distinct, increasing mtimes
    mtimes = [os.stat(os.path.join(a, n)).st_mtime_ns for n in names]
    assert mtimes == sorted(set(mtimes))
    assert filecmp.cmpfiles(a, c, names, shallow=False)[0] == []


def test_same_seed_gives_identical_geojson():
    one = gen.feature_layers(9, 600, ("roads", "sites"))
    two = gen.feature_layers(9, 600, ("roads", "sites"))
    other = gen.feature_layers(10, 600, ("roads", "sites"))
    for layer in one:
        assert gen.geojson_text(one[layer]) == gen.geojson_text(two[layer])
        assert gen.geojson_text(one[layer]) != gen.geojson_text(other[layer])


def test_geometry_mix_and_redelivery_share():
    layers = gen.feature_layers(1, 12000, ("roads", "sites"))
    feats = [f for fs in layers.values() for f in fs]
    kinds = Counter(f["geometry"]["type"] for f in feats)
    n = len(feats)
    assert abs(kinds["Point"] / n - 0.60) < 0.02
    assert abs(kinds["LineString"] / n - 0.25) < 0.02
    assert abs((kinds["Polygon"] + kinds["MultiPolygon"]) / n - 0.15) < 0.02
    for f in feats:
        g = f["geometry"]
        if g["type"] == "LineString":
            assert len(g["coordinates"]) == gen.LINE_VERTICES
        elif g["type"] == "Polygon":
            assert sum(len(r) for r in g["coordinates"]) == gen.POLY_VERTICES
            assert len(g["coordinates"]) == 2  # shell + hole
        elif g["type"] == "MultiPolygon":
            assert sum(len(r) for p in g["coordinates"] for r in p) == gen.POLY_VERTICES
        assert 4 <= len(f["properties"]) <= 16
    for fs in layers.values():
        fids = [f["properties"]["fid"] for f in fs]
        counts = Counter(fids)
        assert set(counts.values()) <= {1, 2}
        redelivered = [fid for fid, c in counts.items() if c == 2]
        assert abs(len(redelivered) / len(counts) - gen.REDELIVER_SHARE) < 0.005
        # the second delivery comes later and is the version that wins
        seen = set()
        for f in fs:
            fid, version = f["properties"]["fid"], f["properties"]["version"]
            assert version == (1 if fid in seen else 0)
            seen.add(fid)
    expected = gen.expected_upsert(layers)
    assert len(expected) == sum(len(set(f["properties"]["fid"] for f in fs)) for fs in layers.values())
    assert all(json_version(v[3]) == (1 if c == 2 else 0) for v, c in _with_counts(layers, expected))


def json_version(props_json: str) -> int:
    import json

    return json.loads(props_json)["version"]


def _with_counts(layers, expected):
    counts = Counter(str(f["properties"]["fid"]) for fs in layers.values() for f in fs)
    return [(v, counts[fid]) for fid, v in expected.items()]


def test_stream_resend_share_and_order():
    ticks = gen.stream_ticks(3, 100, 200)
    originals = [ev for t, evs in enumerate(ticks) for ev in evs if ev["tick"] == t]
    resends = [(t, ev) for t, evs in enumerate(ticks) for ev in evs if ev["tick"] != t]
    assert [ev["seq"] for ev in originals] == list(range(len(originals)))
    assert abs(len(resends) / len(originals) - gen.STREAM_RESEND_SHARE) < 0.01
    assert all(1 <= t - ev["tick"] <= 3 for t, ev in resends)
    assert all(0 <= ev["fid"] < gen.STREAM_KEYS for ev in originals)


def test_reference_wkb_layout():
    import struct

    wkb = gen.ref_wkb("Point", [1.5, -2.25])
    assert wkb == struct.pack("<BIdd", 1, 1, 1.5, -2.25)
    poly = [[[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 0.0]]]
    assert gen.ref_wkb("MultiPolygon", [poly])[:9] == struct.pack("<BII", 1, 6, 1)

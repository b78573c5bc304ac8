"""End-to-end test of the reference-parity CLI: GeoJSON → envelope
topic dir → partitioned file sink / keyed upsert table (the
producer/consumer lifecycle of SURVEY.md §3.1, offline)."""

from __future__ import annotations

import json

import pytest
from pyspark.errors import AnalysisException

from ukis_kafka_spark import cli
from ukis_kafka_spark.sources.envelope import read_envelope


def _write_geojson(path, n=5, start=0, keyless=()):
    """``n`` point features with fids ``start..start+n-1``; the features
    at the positions in ``keyless`` carry no fid."""
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": [10.0 + i, 50.0 + i]},
                "properties": {"name": f"feat{start + i}"}
                | ({} if i in keyless else {"fid": start + i}),
            }
            for i in range(n)
        ],
    }
    path.write_text(json.dumps(fc))


def test_cli_produce_consume_roundtrip(spark, tmp_path):
    gj = tmp_path / "in.geojson"
    _write_geojson(gj, n=5)
    topic = str(tmp_path / "topic")
    out = str(tmp_path / "sink")
    table = str(tmp_path / "table")

    # an empty input still leaves a readable topic
    empty = tmp_path / "empty.geojson"
    _write_geojson(empty, n=0)
    assert cli.main(["produce", "--geojson", str(empty), "--topic-dir", topic]) == 0
    assert spark.read.parquet(topic).count() == 0

    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic, "--layer", "pts"]) == 0
    assert cli.main(["consume-files", "--topic-dir", topic, "--out", out]) == 0

    feats = spark.read.parquet(out)
    rows = feats.collect()
    assert len(rows) == 5
    assert {r["layer"] for r in rows} == {"pts"}
    assert {r["geom_type"] for r in rows} == {"POINT"}
    props = sorted(json.loads(r["props_json"])["fid"] for r in rows)
    assert props == [0, 1, 2, 3, 4]

    # upsert twice: second delivery of the same messages must be a no-op
    assert cli.main(["consume-upsert", "--topic-dir", topic, "--table", table]) == 0
    n1 = spark.read.parquet(table).count()
    assert cli.main(["consume-upsert", "--topic-dir", topic, "--table", table]) == 0
    assert spark.read.parquet(table).count() == n1 == 5

    # a second batch with overlapping keys: only the new key is added,
    # and the duplicate fid resolves to the LATEST produce (the second
    # batch's offsets are higher → offset-order last-write-wins)
    gj2 = tmp_path / "in2.geojson"
    _write_geojson(gj2, n=2, start=4)  # fids 4 (dup) and 5 (new)
    assert cli.main(["produce", "--geojson", str(gj2), "--topic-dir", topic, "--layer", "pts"]) == 0
    assert cli.main(["consume-upsert", "--topic-dir", topic, "--table", table]) == 0
    assert spark.read.parquet(table).count() == 6

    from ukis_kafka_spark.spatial.wkb import decode_wkb

    fid4 = [
        r
        for r in spark.read.parquet(table).collect()
        if json.loads(r["props_json"])["fid"] == 4
    ]
    assert len(fid4) == 1
    # batch 1 wrote fid 4 at (14, 54); batch 2 (start=4, i=0) at (10, 50)
    assert decode_wkb(bytes(fid4[0]["wkb"])) == ("POINT", (10.0, 50.0))


def test_cli_consume_upsert_drops_keyless_features(spark, tmp_path, capsys):
    gj = tmp_path / "in.geojson"
    _write_geojson(gj, n=12, keyless={0, 5, 11})
    topic = str(tmp_path / "topic")
    table = str(tmp_path / "table")
    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic]) == 0
    capsys.readouterr()

    assert cli.main(["consume-upsert", "--topic-dir", topic, "--table", table]) == 0
    out = capsys.readouterr().out
    assert "warning: dropping 3 features without a 'fid' property" in out
    rows = spark.read.parquet(table).collect()
    assert f"now {len(rows)} rows" in out
    assert sorted(json.loads(r["props_json"])["fid"] for r in rows) == [
        i for i in range(12) if i not in {0, 5, 11}
    ]
    assert all(r["fid"] is not None for r in rows)


def test_cli_consumers_read_topic_mixing_pre_offset_files(spark, tmp_path):
    """A topic written before offsets existed holds ``value``-only
    files; appends add offset-bearing ones. The shared decode kernel
    carries ``offset`` through, pre-offset rows read it as NULL, and the
    offset-bearing copy of a shared fid wins the upsert."""
    import pandas as pd

    from ukis_kafka_spark.sources.envelope import make_envelope
    from ukis_kafka_spark.spatial.wkb import decode_wkb, encode_wkb

    topic = str(tmp_path / "topic")
    old = [
        make_envelope(encode_wkb(("POINT", (-1.0, -1.0))), {"fid": fid}, layer="pts")
        for fid in (1, 100)
    ]
    spark.createDataFrame(
        pd.DataFrame({"value": pd.Series(old, dtype=object)}), schema="value binary"
    ).write.parquet(topic)
    gj = tmp_path / "in.geojson"
    _write_geojson(gj, n=3)  # fids 0..2, fid 1 at (11, 51)
    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic, "--layer", "pts"]) == 0

    table = str(tmp_path / "table")
    assert cli.main(["consume-upsert", "--topic-dir", topic, "--table", table]) == 0
    by_fid = {r["fid"]: r for r in spark.read.parquet(table).collect()}
    assert sorted(by_fid) == ["0", "1", "100", "2"]
    assert decode_wkb(bytes(by_fid["1"]["wkb"])) == ("POINT", (11.0, 51.0))
    assert decode_wkb(bytes(by_fid["100"]["wkb"])) == ("POINT", (-1.0, -1.0))

    out = str(tmp_path / "sink")
    assert cli.main(["consume-files", "--topic-dir", topic, "--out", out]) == 0
    files = spark.read.parquet(out)
    assert "offset" in files.columns
    offsets = {(json.loads(r["props_json"])["fid"], r["offset"]) for r in files.collect()}
    assert offsets == {(0, 2), (1, None), (1, 3), (2, 4), (100, None)}


def test_cli_consumers_spark_job_budget(spark, tmp_path):
    """The producer writes with pyarrow and runs no Spark job, into a new
    topic or an existing one. Each consumer takes the topic schema from
    the file footers and decodes the topic once, counting with
    Observations: a schema job, a second decode pass, a second window in
    the merge, or a re-read of the output for a log line would push a
    command over its job budget (the counts measured when the budget was
    set: 2 / 2 / 1). An existing table's schema comes from a footer too,
    so its read runs no inference job. A new table's empty base has no
    partitions, so the merge's first stage runs one task per topic read
    partition and no zero-row base tasks."""
    gj = tmp_path / "in.geojson"
    _write_geojson(gj, n=40, keyless={3, 17})
    topic = str(tmp_path / "topic")
    table = str(tmp_path / "table")
    out = str(tmp_path / "sink")
    produce = ["produce", "--geojson", str(gj), "--topic-dir", topic]

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    try:
        for name, argv in [
            ("produce_new_topic", produce),
            ("produce_existing_topic", produce),
            ("upsert_new_table", ["consume-upsert", "--topic-dir", topic, "--table", table]),
            ("upsert_existing_table", ["consume-upsert", "--topic-dir", topic, "--table", table]),
            ("files", ["consume-files", "--topic-dir", topic, "--out", out]),
        ]:
            group = f"job-budget-{name}-{tmp_path.name}"
            sc.setJobGroup(group, name)
            assert cli.main(argv) == 0
            jobs[name] = sorted(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    counts = {name: len(ids) for name, ids in jobs.items()}
    assert counts["produce_new_topic"] == counts["produce_existing_topic"] == 0, counts
    assert counts["upsert_new_table"] <= 2, counts
    assert counts["upsert_existing_table"] <= 2, counts
    assert counts["files"] <= 1, counts
    merge_stage = min(tracker.getJobInfo(jobs["upsert_new_table"][0]).stageIds)
    topic_partitions = cli._decoded_features(spark, topic).rdd.getNumPartitions()
    assert tracker.getStageInfo(merge_stage).numTasks == topic_partitions
    assert spark.read.parquet(table).count() == 38


def _consume_argv(consumer: str, topic: str, tmp_path) -> list[str]:
    if consumer == "consume-files":
        return [consumer, "--topic-dir", topic, "--out", str(tmp_path / "sink")]
    return [consumer, "--topic-dir", topic, "--table", str(tmp_path / "table")]


def test_cli_consumers_read_all_pre_offset_topic(spark, tmp_path):
    """A topic with no offset column at all (Spark-written, so with
    ``_SUCCESS`` and ``.crc`` files beside the data) reads ``offset``
    as -1 for every row."""
    import pandas as pd

    from ukis_kafka_spark.sources.envelope import make_envelope
    from ukis_kafka_spark.spatial.wkb import encode_wkb

    topic = str(tmp_path / "topic")
    old = [make_envelope(encode_wkb(("POINT", (1.0, 2.0))), {"fid": fid}, layer="pts") for fid in (7, 8)]
    spark.createDataFrame(
        pd.DataFrame({"value": pd.Series(old, dtype=object)}), schema="value binary"
    ).write.parquet(topic)
    assert cli.main(_consume_argv("consume-files", topic, tmp_path)) == 0
    rows = spark.read.parquet(str(tmp_path / "sink")).collect()
    assert sorted((json.loads(r["props_json"])["fid"], r["offset"]) for r in rows) == [(7, -1), (8, -1)]
    assert cli.main(_consume_argv("consume-upsert", topic, tmp_path)) == 0
    assert sorted(r["fid"] for r in spark.read.parquet(str(tmp_path / "table")).collect()) == ["7", "8"]


@pytest.mark.parametrize(
    "consumer, says", [("consume-files", "wrote 0 features"), ("consume-upsert", "now 0 rows")]
)
def test_cli_consumers_read_schema_only_topic(spark, tmp_path, capsys, consumer, says):
    """An empty produce leaves only the schema-only
    ``part-…-empty.parquet``; both consumers read it as 0 rows."""
    import os

    gj = tmp_path / "empty.geojson"
    _write_geojson(gj, n=0)
    topic = str(tmp_path / "topic")
    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic]) == 0
    assert [n for n in os.listdir(topic) if not n.startswith("_")] == [f"part-{0:020d}-empty.parquet"]
    capsys.readouterr()
    assert cli.main(_consume_argv(consumer, topic, tmp_path)) == 0
    assert says in capsys.readouterr().out


@pytest.mark.parametrize("consumer", ["consume-files", "consume-upsert"])
@pytest.mark.parametrize(
    "topic_state, error, match",
    [
        ("missing", AnalysisException, "PATH_NOT_FOUND"),
        ("value_string", ValueError, "'value' column must be binary"),
    ],
    ids=["missing", "value_string"],
)
def test_cli_consumers_reject_unreadable_topic(spark, tmp_path, consumer, topic_state, error, match):
    """A missing topic dir fails with Spark's own PATH_NOT_FOUND; a
    topic file whose ``value`` is not binary fails before any Spark job,
    instead of reading as something else."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    topic = tmp_path / "topic"
    if topic_state == "value_string":
        topic.mkdir()
        text = pa.table({"value": ["not an envelope"], "offset": pa.array([0], pa.int64())})
        pq.write_table(text, topic / "part-0.parquet")
    with pytest.raises(error, match=match):
        cli.main(_consume_argv(consumer, str(topic), tmp_path))


def test_cli_produce_pauses_gc_and_restores_it(tmp_path, monkeypatch):
    """``produce`` parses the GeoJSON and encodes with the cyclic GC
    paused, and hands the caller's GC state back: on after a produce and
    after one that raises, still off when the caller had it off."""
    import gc

    gj, bad = tmp_path / "in.geojson", tmp_path / "bad.geojson"
    _write_geojson(gj, n=3)
    fc = json.loads(gj.read_text())
    fc["features"][1]["geometry"] = {"type": "GeometryCollection", "geometries": []}
    bad.write_text(json.dumps(fc))
    topic = str(tmp_path / "topic")
    load, gc_on_while_parsing = json.load, []
    monkeypatch.setattr(json, "load", lambda fh: gc_on_while_parsing.append(gc.isenabled()) or load(fh))

    gc.enable()
    try:
        assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic]) == 0
        assert gc.isenabled()
        with pytest.raises(ValueError, match="GEOMETRYCOLLECTION"):
            cli.main(["produce", "--geojson", str(bad), "--topic-dir", topic])
        assert gc.isenabled()
        gc.disable()
        assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic]) == 0
        assert not gc.isenabled()
        with pytest.raises(ValueError, match="GEOMETRYCOLLECTION"):
            cli.main(["produce", "--geojson", str(bad), "--topic-dir", topic])
        assert not gc.isenabled()
    finally:
        gc.enable()
    assert gc_on_while_parsing == [False] * 4


@pytest.mark.parametrize(
    "geometry, match",
    [
        (
            {"type": "GeometryCollection", "geometries": [{"type": "Point", "coordinates": [1.0, 2.0]}]},
            "GEOMETRYCOLLECTION",
        ),
        ({"type": "Point", "coordinates": [1.0, 2.0, 3.0]}, r"two numbers, got \[1\.0, 2\.0, 3\.0\]"),
    ],
    ids=["geometry_collection", "point_3d"],
)
def test_cli_produce_rejects_unsupported_geometry(tmp_path, geometry, match):
    """The codec rejects a geometry it cannot encode (a type outside
    the six, or a position that is not two numbers) with ``ValueError``
    before anything reaches the topic."""
    gj = tmp_path / "in.geojson"
    _write_geojson(gj, n=3)
    fc = json.loads(gj.read_text())
    fc["features"][1]["geometry"] = geometry
    gj.write_text(json.dumps(fc))
    topic = tmp_path / "topic"
    with pytest.raises(ValueError, match=match):
        cli.main(["produce", "--geojson", str(gj), "--topic-dir", str(topic)])
    assert not topic.exists()


def test_cli_produce_skips_null_geometry(tmp_path, capsys):
    """A GeoJSON feature with ``"geometry": null`` (RFC 7946 §3.2) is
    skipped and counted, as the shp/gpkg null shapes are."""
    import pyarrow.parquet as pq

    gj = tmp_path / "in.geojson"
    _write_geojson(gj, n=5)
    fc = json.loads(gj.read_text())
    fc["features"][2]["geometry"] = None
    gj.write_text(json.dumps(fc))
    topic = str(tmp_path / "topic")
    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic]) == 0
    assert "warning: skipped 1 features without geometry" in capsys.readouterr().out
    rows = pq.read_table(topic).to_pylist()
    assert sorted(r["offset"] for r in rows) == [0, 1, 2, 3]
    assert sorted(read_envelope(r["value"])["props"]["fid"] for r in rows) == [0, 1, 3, 4]


def test_cli_concurrent_producers_get_disjoint_offsets(spark, tmp_path):
    """Four producer processes append to one topic at once. Each starts
    no JVM; all succeed; the offsets are exactly ``0..total-1`` and every
    envelope arrives once."""
    import os
    import subprocess
    import sys

    from ukis_kafka_spark.sources.envelope import make_envelope
    from ukis_kafka_spark.spatial.wkb import encode_wkb

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([repo, os.environ.get("PYTHONPATH", "")]))
    code = (
        "import sys\n"
        "from ukis_kafka_spark import cli\n"
        "rc = cli.main(sys.argv[1:])\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
        "sys.exit(rc)\n"
    )
    topic = str(tmp_path / "topic")
    n, producers = 2000, 4
    want = []
    procs = []
    for p in range(producers):
        gj = tmp_path / f"in{p}.geojson"
        _write_geojson(gj, n=n, start=p * n)
        for f in json.loads(gj.read_text())["features"]:
            wkb = encode_wkb((f["geometry"]["type"].upper(), f["geometry"]["coordinates"]))
            want.append(make_envelope(wkb, f["properties"], layer=f"l{p}", srid=4326))
        argv = ["produce", "--geojson", str(gj), "--topic-dir", topic, "--layer", f"l{p}"]
        procs.append(
            subprocess.Popen([sys.executable, "-c", code, *argv], env=env, stderr=subprocess.PIPE, text=True)
        )
    errs = [proc.communicate(timeout=600)[1] for proc in procs]
    assert [proc.returncode for proc in procs] == [0] * producers, [e[-500:] for e in errs]

    rows = spark.read.parquet(topic).collect()
    assert sorted(r["offset"] for r in rows) == list(range(n * producers))
    assert sorted(bytes(r["value"]) for r in rows) == sorted(want)


def test_pipeline_demo_runs(spark):
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "examples/pipeline_demo.py"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-500:]
    assert "pipeline_demo OK" in r.stdout


def test_cli_produce_wkt_consume_roundtrip(spark, tmp_path):
    csv_path = tmp_path / "in.csv"
    csv_path.write_text(
        "WKT,fid,name,height\n"
        '"POINT (10.5 50.25)",0,alpha,12.5\n'
        '"LINESTRING (0 0, 1 1, 2 0)",1,beta,7\n'
        '"POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",2,gamma,true\n'
    )
    topic = str(tmp_path / "topic")
    out = str(tmp_path / "sink")

    assert cli.main(["produce-wkt", "--csv", str(csv_path), "--topic-dir", topic,
                     "--layer", "wkt_layer"]) == 0
    assert cli.main(["consume-files", "--topic-dir", topic, "--out", out]) == 0

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    assert {r["layer"] for r in rows} == {"wkt_layer"}
    by_fid = {json.loads(r["props_json"])["fid"]: r for r in rows}
    assert by_fid[0]["geom_type"] == "POINT"
    assert by_fid[1]["geom_type"] == "LINESTRING"
    assert by_fid[2]["geom_type"] == "POLYGON"
    # CSV prop typing: int fid, float/int/bool coercion
    assert json.loads(by_fid[0]["props_json"])["height"] == 12.5
    assert json.loads(by_fid[1]["props_json"])["height"] == 7
    assert json.loads(by_fid[2]["props_json"])["height"] is True

    # geometry bytes survive: decode the WKB back to coordinates
    from ukis_kafka_spark.spatial.wkb import decode_wkb

    gtype, body = decode_wkb(bytes(by_fid[0]["wkb"]))
    assert (gtype, body) == ("POINT", (10.5, 50.25))


def test_cli_produce_wkt_missing_column(tmp_path, capsys):
    csv_path = tmp_path / "in.csv"
    csv_path.write_text("geomwkt,fid\n\"POINT (1 2)\",0\n")
    rc = cli.main(["produce-wkt", "--csv", str(csv_path),
                   "--topic-dir", str(tmp_path / "t")])
    assert rc == 2


def test_cli_produce_shp_roundtrip(spark, tmp_path):
    from ukis_kafka_spark.sources.shapefile import write_shapefile

    shp = tmp_path / "roads.shp"
    write_shapefile(
        str(shp),
        [
            (("LINESTRING", ((0.0, 0.0), (1.0, 1.0), (2.0, 0.5))), {"fid": 1, "name": "a"}),
            (("LINESTRING", ((5.0, 5.0), (6.0, 6.0))), {"fid": 2, "name": "b"}),
        ],
    )
    topic = str(tmp_path / "topic")
    out = str(tmp_path / "sink")
    assert cli.main(["produce-shp", "--shp", str(shp), "--topic-dir", topic, "--layer", "roads"]) == 0
    assert cli.main(["consume-files", "--topic-dir", topic, "--out", out]) == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2
    assert {r["layer"] for r in rows} == {"roads"}
    assert {r["geom_type"] for r in rows} == {"LINESTRING"}


def test_cli_produce_gpkg_roundtrip(spark, tmp_path):
    """GeoPackage → envelope topic → partitioned parquet, same harness
    as produce-shp: geometry + properties + the layer's SRS id survive
    the full producer/consumer path."""
    import json

    from ukis_kafka_spark.sources.gpkg import write_gpkg
    from ukis_kafka_spark.spatial.wkb import decode_wkb

    gpkg = tmp_path / "roads.gpkg"
    write_gpkg(
        str(gpkg),
        "roads",
        [
            (("LINESTRING", ((0.0, 0.0), (1.0, 1.0), (2.0, 0.5))), {"rid": 1, "name": "a"}),
            (("POINT", (10.5, 50.25)), {"rid": 2, "name": "b"}),
            (None, {"rid": 3, "name": "null-geom-skipped"}),
        ],
        srid=25832,
    )
    topic = str(tmp_path / "topic")
    out = str(tmp_path / "sink")
    assert cli.main(["produce-gpkg", "--gpkg", str(gpkg), "--topic-dir", topic,
                     "--layer", "roads"]) == 0
    assert cli.main(["consume-files", "--topic-dir", topic, "--out", out]) == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2  # the NULL geometry is skipped, like produce-shp
    assert {r["layer"] for r in rows} == {"roads"}
    assert {r["srid"] for r in rows} == {25832}  # layer SRS id rode the envelope
    by_rid = {json.loads(r["props_json"])["rid"]: r for r in rows}
    assert decode_wkb(bytes(by_rid[2]["wkb"])) == ("POINT", (10.5, 50.25))
    assert json.loads(by_rid[1]["props_json"])["name"] == "a"


@pytest.mark.parametrize("argv, want", [([], 0), (["--srid", "4326"], 4326)], ids=["layer_srs_id", "srid_override"])
def test_cli_produce_gpkg_srid_resolution(tmp_path, argv, want):
    """``--srid`` overrides the layer SRS id; without it the SRS id
    rides the envelope even when it is 0 (a valid GPKG id, "undefined
    geographic"), not the 4326 fallback."""
    import pyarrow.parquet as pq

    from ukis_kafka_spark.sources.gpkg import write_gpkg

    gpkg = tmp_path / "z.gpkg"
    write_gpkg(str(gpkg), "z", [(("POINT", (1.0, 2.0)), {"k": 1})], srid=0)
    topic = tmp_path / "topic"
    assert cli.main(["produce-gpkg", "--gpkg", str(gpkg), "--topic-dir", str(topic), *argv]) == 0
    values = pq.read_table(str(topic), columns=["value"])["value"].to_pylist()
    assert [read_envelope(v)["meta"]["srid"] for v in values] == [want]


def test_cli_produce_gpkg_layer_selection(tmp_path, capsys):
    """Two feature layers: omitting --gpkg-layer is ambiguous; naming
    one selects it."""
    import pytest

    from ukis_kafka_spark.sources.gpkg import read_gpkg, write_gpkg

    gpkg = tmp_path / "two.gpkg"
    write_gpkg(str(gpkg), "a", [(("POINT", (1.0, 2.0)), {"k": 1})])
    # append a second layer by writing a sibling file and merging is
    # overkill — write_gpkg is single-layer by design, so build the
    # second layer with sqlite directly
    import sqlite3

    with sqlite3.connect(str(gpkg)) as con:
        con.execute("INSERT INTO gpkg_contents (table_name, data_type, identifier, srs_id)"
                    " VALUES ('b', 'features', 'b', 4326)")
        con.execute("INSERT INTO gpkg_geometry_columns VALUES ('b', 'geom', 'GEOMETRY', 4326, 0, 0)")
        con.execute("CREATE TABLE b (fid INTEGER PRIMARY KEY, geom BLOB)")
        con.commit()
    with pytest.raises(ValueError, match="2 feature layers"):
        list(read_gpkg(str(gpkg)))
    assert [g for g, _, _ in read_gpkg(str(gpkg), layer="a")] == [("POINT", (1.0, 2.0))]


def test_cli_consume_geojson_roundtrip(spark, tmp_path):
    """Export leg: topic → GeoJSON, both output shapes, all six
    geometry types — and the exported FeatureCollection must be
    re-producible (export → produce → export is a fixed point)."""
    import glob

    geoms = {
        0: {"type": "Point", "coordinates": [10.0, 50.0]},
        1: {"type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 1.5]]},
        2: {
            "type": "Polygon",
            "coordinates": [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 0.0]]],
        },
        3: {"type": "MultiPoint", "coordinates": [[1.0, 2.0], [3.0, 4.0]]},
        4: {
            "type": "MultiLineString",
            "coordinates": [[[0.0, 0.0], [1.0, 0.0]], [[5.0, 5.0], [6.0, 5.5]]],
        },
        5: {
            "type": "MultiPolygon",
            "coordinates": [[[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]],
        },
    }
    fc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "geometry": g, "properties": {"fid": i, "name": f"f{i}"}}
            for i, g in geoms.items()
        ],
    }
    gj = tmp_path / "in.geojson"
    gj.write_text(json.dumps(fc))
    topic = str(tmp_path / "topic")

    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic, "--layer", "mix"]) == 0

    # distributed GeoJSONSeq: one Feature per line, geometry + props intact
    seq_out = str(tmp_path / "seq")
    assert cli.main(["consume-geojson", "--topic-dir", topic, "--out", seq_out]) == 0
    lines = []
    for f in glob.glob(seq_out + "/part-*"):
        with open(f) as fh:
            lines += [json.loads(ln) for ln in fh if ln.strip()]
    assert len(lines) == 6
    by_fid = {f["properties"]["fid"]: f for f in lines}
    assert all(by_fid[i]["geometry"] == g for i, g in geoms.items())
    assert by_fid[3]["properties"]["name"] == "f3"

    # single FeatureCollection: valid GeoJSON, offset-ordered, and a
    # fixed point of the produce → export cycle
    col_out = str(tmp_path / "out.geojson")
    assert cli.main(
        ["consume-geojson", "--topic-dir", topic, "--out", col_out, "--collection"]
    ) == 0
    fc2 = json.loads(open(col_out).read())
    assert fc2["type"] == "FeatureCollection"
    assert [f["properties"]["fid"] for f in fc2["features"]] == [0, 1, 2, 3, 4, 5]
    assert [f["geometry"] for f in fc2["features"]] == [geoms[i] for i in range(6)]

    topic2 = str(tmp_path / "topic2")
    col_out2 = str(tmp_path / "out2.geojson")
    assert cli.main(["produce", "--geojson", col_out, "--topic-dir", topic2, "--layer", "mix"]) == 0
    assert cli.main(
        ["consume-geojson", "--topic-dir", topic2, "--out", col_out2, "--collection"]
    ) == 0
    assert json.loads(open(col_out2).read()) == fc2

    # layer filter: a second layer in the same topic is excluded
    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic, "--layer", "other"]) == 0
    only = str(tmp_path / "only.geojson")
    assert cli.main(
        ["consume-geojson", "--topic-dir", topic, "--out", only, "--collection", "--layer", "other"]
    ) == 0
    assert len(json.loads(open(only).read())["features"]) == 6


def test_geo_lifecycle_demo_runs(spark):
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "examples/geo_lifecycle_demo.py"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-500:]
    assert "geo_lifecycle OK" in r.stdout
    assert "re-delivery is a no-op" in r.stdout


import subprocess
import sys
from pathlib import Path

import pytest as _pt


@_pt.mark.parametrize(
    "script",
    ["llm_data_pipeline.py", "geo_lifecycle_demo.py", "pipeline_demo.py"],
)
def test_examples_run_clean(script):
    """Every examples/ script must run end-to-end at the smoke scale —
    round 6's m_temperature_mix re-key (source -> lang) silently broke
    llm_data_pipeline.py for a full round because nothing executed it
    (code-review r7); each spawns its own SparkSession so they run as
    subprocesses. ~30 s each on a warm FS."""
    repo = Path(__file__).resolve().parents[1]
    proc = subprocess.run(
        [sys.executable, str(repo / "examples" / script)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(repo),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_fixed_width_layout_parses_back_exactly(spark):
    """The rendered fixed-width lines must slice back to the exact
    source rows (spot-check re-derived with python string slicing on
    the staged file itself)."""
    import glob

    from tests.conftest import SF_SMOKE
    from ukis_kafka_spark import api

    rows = {
        r.o_orderstatus: r
        for r in api.queries()["src_fixed_width"](spark, SF_SMOKE).collect()
    }
    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    grp = orders.groupby("o_orderstatus")
    for status, g in grp:
        r = rows[status]
        assert r.n == len(g)
        assert r.min_id == g["o_orderkey"].min()
        assert r.max_id == g["o_orderkey"].max()
        micros = (g["o_totalprice"].map(lambda v: int(round(v * 1_000_000))))
        assert r.price_micro_sum == int(micros.sum())


def test_cli_consume_upsert_recovers_table_after_crash_between_renames(spark, tmp_path, monkeypatch):
    """Upsert fids 0-9, then crash an upsert of fids 5-14 after the old
    table moved to ``<table>._old`` and before the new one moved in. The
    re-run finds no table; it must move ``._old`` back and merge into it,
    not start a new table (which loses fids 0-4)."""
    import os

    table = str(tmp_path / "table")
    for name, start in (("first", 0), ("second", 5)):
        _write_geojson(tmp_path / f"{name}.geojson", n=10, start=start)
        topic = str(tmp_path / name)
        assert cli.main(["produce", "--geojson", str(tmp_path / f"{name}.geojson"), "--topic-dir", topic]) == 0
    assert cli.main(["consume-upsert", "--topic-dir", str(tmp_path / "first"), "--table", table]) == 0

    rename, renamed = os.rename, []

    def rename_failing_second(src, dst):
        renamed.append(src)
        if len(renamed) == 2:
            raise OSError("crash between the renames")
        rename(src, dst)

    second = ["consume-upsert", "--topic-dir", str(tmp_path / "second"), "--table", table]
    monkeypatch.setattr(os, "rename", rename_failing_second)
    with pytest.raises(OSError, match="crash between"):
        cli.main(second)
    monkeypatch.setattr(os, "rename", rename)
    assert not os.path.exists(table) and os.path.exists(table + "._old")

    assert cli.main(second) == 0
    assert sorted(n for n in os.listdir(tmp_path) if n.startswith("table")) == ["table"]
    rows = spark.read.parquet(table).collect()
    assert sorted(int(r["fid"]) for r in rows) == list(range(15))

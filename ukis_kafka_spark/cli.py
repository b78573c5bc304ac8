"""Console entry points — reference parity for ukis_kafka's three
CLIs (SURVEY.md §3.1: producer vector-file→Kafka, consumer
Kafka→PostGIS, consumer Kafka→filesystem), re-based on Spark.

Offline, a "topic" is a directory of parquet files holding the binary
``value`` column (the exact Kafka message shape) and its ``offset``;
with a broker, swap the directory for ``format("kafka")`` via
sources.kafka.

    python -m ukis_kafka_spark.cli produce  --geojson in.geojson --topic-dir /x/topic --layer roads
    python -m ukis_kafka_spark.cli produce-wkt --csv in.csv --wkt-col WKT --topic-dir /x/topic --layer roads
    python -m ukis_kafka_spark.cli consume-files  --topic-dir /x/topic --out /x/sink --partition-by layer
    python -m ukis_kafka_spark.cli consume-upsert --topic-dir /x/topic --table /x/table --key fid

The producer reads GeoJSON with the stdlib (the reference uses OGR;
GeoJSON is the library-free common denominator), CSV-with-WKT,
Shapefile or GeoPackage. Each command is only its reader: one loop,
``_produce``, converts every geometry to WKB with the pure-Python
codec and wraps the feature in the msgpack envelope. A feature with no
geometry is skipped and counted in one warning line. Positions are 2D:
a position that is not two numbers (e.g. a GeoJSON altitude) raises
``ValueError``. Producers parse and encode with the cyclic GC paused,
write topic files with pyarrow under a lock and start no JVM.
Consumers take the topic schema from the footers of the same visible
files the producer counts (pyarrow, no Spark job), decode with the one
envelope kernel, ``sources.kafka.decode_feature_stream``, and run the
R7/R8 sinks. ``consume-upsert`` reads an existing table's schema from a
footer too, after undoing a table swap that a crash interrupted
(``sinks.files.recover_swap``).
"""

from __future__ import annotations

import argparse
import json
import sys


def _produce(features, args: argparse.Namespace) -> int:
    """The one feature → envelope loop of every ``produce*`` command.

    ``features`` yields ``(geometry tuple or None, props, SRS id or
    None)``. A feature without geometry is skipped and counted. The
    envelope SRID is ``--srid`` if given, else the reader's SRS id,
    else 4326 (``is None`` tests: GPKG SRS ids 0 and -1 are valid).

    The cyclic GC is paused while the readers parse and the loop
    encodes: the parsed features and the envelopes hold no reference
    cycles, so its passes over them free nothing. The caller's GC state
    is restored on the way out, also when a reader or the codec raises."""
    import gc

    from .sources.envelope import make_envelope
    from .spatial.wkb import encode_wkb

    envelopes, skipped = [], 0
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for geom, props, srs_id in features:
            if geom is None:
                skipped += 1
                continue
            srid = srs_id if args.srid is None else args.srid
            srid = 4326 if srid is None else srid
            envelopes.append(make_envelope(encode_wkb(geom), props, layer=args.layer, srid=srid))
    finally:
        if gc_was_enabled:
            gc.enable()
    if skipped:
        print(f"warning: skipped {skipped} features without geometry")
    _publish_envelopes(envelopes, args.topic_dir)
    return 0


def cmd_produce(args: argparse.Namespace) -> int:
    """R1+R2: GeoJSON file → feature envelopes → topic dir. A null
    geometry (RFC 7946 §3.2) is skipped; a GeometryCollection, which
    has no ``coordinates``, is rejected by the codec. The file is
    parsed inside the reader, so in ``_produce``'s GC pause."""

    def read():
        with open(args.geojson) as fh:
            fc = json.load(fh)
        for f in fc["features"] if fc.get("type") == "FeatureCollection" else [fc]:
            g = f["geometry"]
            geom = None if g is None else (g["type"].upper(), g.get("coordinates"))
            yield geom, f.get("properties") or {}, None

    return _produce(read(), args)


def _topic_files(topic_dir: str) -> list[str]:
    """A topic's (or upsert table's) data files: every name that does
    not start with ``_`` or ``.``, the rule Spark's file readers apply.
    So the producer's offset count and the consumers' schemas see the
    files a Spark read sees, and never ``_produce.lock``, a hidden temp
    file, ``_SUCCESS`` or a ``.crc`` checksum."""
    import os

    return [os.path.join(topic_dir, n) for n in os.listdir(topic_dir) if not n.startswith(("_", "."))]


def _publish_envelopes(envelopes: list[bytes], topic_dir: str) -> None:
    """Append envelopes to the topic dir with monotonic per-message
    offsets (Kafka-offset parity): continue from the existing topic
    size so re-delivered keys keep produce order.

    Written with pyarrow under an exclusive lock on ``_produce.lock``;
    no JVM starts. The next offset is the row count in the footers of
    the topic's visible files, so concurrent producers get disjoint,
    gap-free offsets. The envelopes land as ``value binary, offset
    long`` in contiguous slices, one per local core (the read
    parallelism of a consumer), each named by its first offset and
    renamed in from a hidden temp name: Spark's readers skip names
    starting with ``_`` or ``.``, so they never see the lock or a
    half-written file."""
    import fcntl
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .plans.session import local_cpus

    os.makedirs(topic_dir, exist_ok=True)
    with open(os.path.join(topic_dir, "_produce.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        base_off = sum(pq.read_metadata(path).num_rows for path in _topic_files(topic_dir))

        def write(lo: int, hi: int, name: str) -> None:
            table = pa.table(
                {
                    "value": pa.array(envelopes[lo:hi], pa.binary()),
                    "offset": pa.array(range(base_off + lo, base_off + hi), pa.int64()),
                }
            )
            tmp = os.path.join(topic_dir, f".{name}.tmp")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(topic_dir, name))

        n, k = len(envelopes), local_cpus()
        cuts = sorted({i * n // k for i in range(k + 1)})
        for lo, hi in zip(cuts, cuts[1:]):
            write(lo, hi, f"part-{base_off + lo:020d}.parquet")
        if not n:  # schema only, as a Spark append writes: keeps a new topic readable
            write(0, 0, f"part-{base_off:020d}-empty.parquet")
    print(f"produced {len(envelopes)} features to {topic_dir}")


def _coerce_prop(v):
    """CSV cells are untyped text; recover ints/floats/bools the way an
    OGR field-type scan would (strings stay strings). Short rows give
    None (DictReader fills missing fields) → stays None; 'inf'/'nan'
    stay strings — json.dumps would emit non-standard Infinity/NaN
    tokens that strict JSON consumers (get_json_object) reject."""
    import math

    if v is None:
        return None
    for cast in (int, float):
        try:
            out = cast(v)
        except ValueError:
            continue
        if isinstance(out, float) and not math.isfinite(out):
            return v
        return out
    if v.lower() in ("true", "false"):
        return v.lower() == "true"
    return v


def cmd_produce_wkt(args: argparse.Namespace) -> int:
    """R1+R2 (second ingestion format): CSV-with-WKT → envelope topic.

    ``ogr2ogr -f CSV -lco GEOMETRY=AS_WKT`` can emit this from any OGR
    layer (Shapefile/GPKG/...), so this closes the multi-format
    ingestion gap without OGR itself being importable offline."""
    import csv

    from .spatial.wkt import parse_wkt

    with open(args.csv, newline="") as fh:
        reader = csv.DictReader(fh)
        if args.wkt_col not in (reader.fieldnames or []):
            print(f"error: no column {args.wkt_col!r} in {args.csv}", file=sys.stderr)
            return 2

        def read():
            for row in reader:
                geom = parse_wkt(row[args.wkt_col])
                yield geom, {k: _coerce_prop(v) for k, v in row.items() if k != args.wkt_col}, None

        return _produce(read(), args)


def cmd_produce_shp(args: argparse.Namespace) -> int:
    """R1+R2 (third ingestion format): ESRI Shapefile → envelope topic,
    via the pure-Python .shp/.dbf reader (sources.shapefile) — the
    native OGR format closest to the reference's default ingest. Null
    shapes keep .dbf alignment and are skipped."""
    from .sources.shapefile import read_shapefile

    return _produce(((geom, props, None) for geom, props in read_shapefile(args.shp)), args)


def cmd_produce_gpkg(args: argparse.Namespace) -> int:
    """R1+R2 (fourth ingestion format): GeoPackage → envelope topic.
    GPKG is SQLite, so the stdlib reads it (sources.gpkg); the geometry
    cells are header-wrapped standard WKB, re-encoded through the same
    codec every other producer uses. The per-layer SRS id from
    gpkg_geometry_columns rides the envelope unless --srid overrides."""
    from .sources.gpkg import read_gpkg

    return _produce(read_gpkg(args.gpkg, layer=args.gpkg_layer), args)


def _decoded_features(spark, topic_dir: str):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from .sources.kafka import decode_feature_stream

    # The topic schema comes from the file footers (pyarrow, no Spark
    # job): ``value binary``, plus ``offset long`` if any file has it. A
    # topic dir may mix pre-offset files with offset-bearing ones
    # (appends to an old topic); under the given schema their rows read
    # offset NULL, which loses to any real offset under the desc
    # last-write-wins window (nulls sort last), exactly the right
    # semantics. A file whose ``value`` is not binary is refused here,
    # before any job, rather than read as something else. A missing dir
    # is left to Spark's own PATH_NOT_FOUND.
    has_offset = False
    for path in _topic_files(topic_dir) if os.path.isdir(topic_dir) else []:
        schema = pq.read_schema(path)
        value = schema.field("value").type if "value" in schema.names else None
        if value is None or not pa.types.is_binary(value):
            raise ValueError(f"{path}: a topic file's 'value' column must be binary, got {value}")
        has_offset = has_offset or "offset" in schema.names
    raw = spark.read.schema("value binary, offset long" if has_offset else "value binary").parquet(topic_dir)
    if not has_offset:  # all-pre-offset topic dirs remain readable
        raw = raw.withColumn("offset", F.lit(-1).cast("long"))
    return decode_feature_stream(raw)


def cmd_consume_files(args: argparse.Namespace) -> int:
    """R8: topic → partitioned filesystem sink, counted by an
    Observation on the write (re-reading the output costs a scan)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from .plans import get_spark

    spark = get_spark("cli-consume-files")
    obs = Observation()
    feats = _decoded_features(spark, args.topic_dir).observe(obs, F.count(F.lit(1)).alias("n"))
    writer = feats.write.mode("overwrite")
    if args.partition_by:
        writer = writer.partitionBy(*args.partition_by.split(","))
    writer.parquet(args.out)
    print(f"wrote {obs.get['n']} features to {args.out}")
    return 0


def cmd_consume_upsert(args: argparse.Namespace) -> int:
    """R7+R9: topic → keyed upsert (idempotent re-delivery). One decode
    pass: the keyless count is an Observation on the plan the merge runs,
    and the row count is what the merge wrote."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    from .plans import get_spark
    from .sinks.files import recover_swap, upsert_parquet

    spark = get_spark("cli-consume-upsert")
    keyless = Observation()
    feats = (
        _decoded_features(spark, args.topic_dir)
        .withColumn("fid", F.get_json_object("props_json", f"$.{args.key}"))
        .observe(keyless, F.count_if(F.col("fid").isNull()).alias("n"))
    )
    # keyless features cannot be upserted idempotently; dropping them is
    # explicit (a NULL key would otherwise collapse them into one row)
    updates = feats.where(F.col("fid").isNotNull())
    recover_swap(args.table)
    if os.path.exists(args.table):
        # the table is this command's own output: its schema is in any
        # data file's footer, so reading it needs no inference job
        table_schema = from_arrow_schema(pq.read_schema(_topic_files(args.table)[0]))
        base = spark.read.schema(table_schema).parquet(args.table)
    else:
        # zero partitions, so the merge runs no empty base tasks (a list
        # would be a Python RDD with one zero-row task per core)
        base = spark.createDataFrame(spark.sparkContext.emptyRDD(), feats.drop("offset").schema)
    # offset-order last-write-wins: re-delivered same-key messages in
    # one batch resolve to the latest produce, like the reference consumer
    n_rows = upsert_parquet(spark, base, updates, ["fid"], args.table, seq_col="offset")
    n_keyless = keyless.get["n"]
    if n_keyless:
        print(f"warning: dropping {n_keyless} features without a '{args.key}' property")
    print(f"upserted into {args.table}; now {n_rows} rows")
    return 0


_GEOJSON_TYPE = {
    "POINT": "Point",
    "LINESTRING": "LineString",
    "POLYGON": "Polygon",
    "MULTIPOINT": "MultiPoint",
    "MULTILINESTRING": "MultiLineString",
    "MULTIPOLYGON": "MultiPolygon",
}


def _wkb_to_geojson_geom(buf: bytes) -> dict:
    """Inverse of the geometry reading in :func:`cmd_produce` — WKB
    bytes back to a GeoJSON geometry dict (coordinates stay tuples,
    which ``json.dumps`` writes as lists)."""
    from .spatial.wkb import decode_wkb

    t, c = decode_wkb(buf)
    return {"type": _GEOJSON_TYPE[t], "coordinates": c}


def cmd_consume_geojson(args: argparse.Namespace) -> int:
    """R8 export leg: topic → GeoJSON. Default output is RFC 8142
    GeoJSON Text Sequences (one Feature per line) written DISTRIBUTED
    via the text sink — the shape that survives a 100 TB topic.
    ``--collection`` assembles a single FeatureCollection file on the
    driver instead (offset-ordered, deterministic) — only for exports
    small enough to want one file."""
    import pandas as pd
    from pyspark.sql import functions as F

    from .plans import get_spark

    spark = get_spark("cli-consume-geojson")
    feats = _decoded_features(spark, args.topic_dir)
    if args.layer:
        feats = feats.where(F.col("layer") == args.layer)

    def to_feature(iter_pdf):
        for pdf in iter_pdf:
            lines = []
            for wkb, props_json in zip(pdf["wkb"], pdf["props_json"]):
                feat = {
                    "type": "Feature",
                    "geometry": _wkb_to_geojson_geom(bytes(wkb)),
                    "properties": json.loads(props_json),
                }
                lines.append(json.dumps(feat, sort_keys=True))
            yield pd.DataFrame({"offset": list(pdf["offset"]), "feature": lines})

    fdf = feats.mapInPandas(to_feature, "offset long, feature string")
    if args.collection:
        rows = fdf.orderBy("offset", "feature").collect()
        with open(args.out, "w") as fh:
            fh.write('{"type": "FeatureCollection", "features": [\n')
            fh.write(",\n".join(r["feature"] for r in rows))
            fh.write("\n]}\n")
        n = len(rows)
    else:
        # count via observe() so the export is written AND counted in
        # one pass (re-reading a 100 TB export for a log line is real
        # cost)
        from pyspark.sql import Observation

        obs = Observation()
        fdf.observe(obs, F.count(F.lit(1)).alias("n")).select("feature").write.mode(
            "overwrite"
        ).text(args.out)
        n = obs.get["n"]
    print(f"exported {n} features to {args.out}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ukis_kafka_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def producer(name: str, source: str, fn, what: str) -> argparse.ArgumentParser:
        sp = sub.add_parser(name, help=f"{what} → envelope topic dir (R1+R2)")
        sp.add_argument(source, required=True)
        sp.add_argument("--topic-dir", required=True)
        sp.add_argument("--layer", default="default", help="envelope layer tag")
        sp.add_argument("--srid", type=int, default=None, help="default: the source's SRS id, else 4326")
        sp.set_defaults(fn=fn)
        return sp

    producer("produce", "--geojson", cmd_produce, "GeoJSON file")
    pw = producer("produce-wkt", "--csv", cmd_produce_wkt, "CSV with WKT column")
    pw.add_argument("--wkt-col", default="WKT")
    producer("produce-shp", "--shp", cmd_produce_shp, "ESRI Shapefile")
    pg = producer("produce-gpkg", "--gpkg", cmd_produce_gpkg, "GeoPackage layer")
    pg.add_argument("--gpkg-layer", default=None, help="feature table (default: the only one)")

    pf = sub.add_parser("consume-files", help="topic dir → partitioned files (R8)")
    pf.add_argument("--topic-dir", required=True)
    pf.add_argument("--out", required=True)
    pf.add_argument("--partition-by", default="layer")
    pf.set_defaults(fn=cmd_consume_files)

    pu = sub.add_parser("consume-upsert", help="topic dir → keyed upsert table (R7+R9)")
    pu.add_argument("--topic-dir", required=True)
    pu.add_argument("--table", required=True)
    pu.add_argument("--key", default="fid")
    pu.set_defaults(fn=cmd_consume_upsert)

    pj = sub.add_parser(
        "consume-geojson",
        help="topic dir → GeoJSON (RFC 8142 lines, or --collection for one FeatureCollection)",
    )
    pj.add_argument("--topic-dir", required=True)
    pj.add_argument("--out", required=True)
    pj.add_argument("--layer", default=None, help="export only this envelope layer")
    pj.add_argument(
        "--collection",
        action="store_true",
        help="write one FeatureCollection file (driver-side; small exports only)",
    )
    pj.set_defaults(fn=cmd_consume_geojson)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

"""Console entry points — reference parity for ukis_kafka's three
CLIs (SURVEY.md §3.1: producer vector-file→Kafka, consumer
Kafka→PostGIS, consumer Kafka→filesystem), re-based on Spark. Offline,
a topic is a directory; ``sources.kafka`` owns its layout, writer and
readers.

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
``ValueError``. Producers parse and encode with the cyclic GC paused
and start no JVM. Consumers read the topic with
``sources.kafka.read_topic`` and run the R7/R8 sinks.
``consume-upsert`` takes the table through ``sinks.files.upsert_base``.
"""

from __future__ import annotations

import argparse
import json
import sys

# bound here so the commands call them as globals of this module, which
# is where perfbench's tracer wraps them
from .sources.kafka import publish_envelopes as _publish_envelopes, read_topic as _decoded_features


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
    print(f"produced {len(envelopes)} features to {args.topic_dir}")
    return 0


def cmd_produce(args: argparse.Namespace) -> int:
    """R1+R2: GeoJSON file → feature envelopes → topic dir. A null
    geometry (RFC 7946 §3.2) is skipped; a GeometryCollection, which
    has no ``coordinates``, is rejected by the codec. A ``NaN`` or
    ``Infinity`` token, which RFC 8259 (so RFC 7946) does not allow,
    raises ``ValueError`` and nothing is written. The file is parsed
    inside the reader, so in ``_produce``'s GC pause."""

    def reject(token: str):
        raise ValueError(f"{args.geojson}: {token} is not valid JSON (RFC 8259)")

    def read():
        with open(args.geojson) as fh:
            fc = json.load(fh, parse_constant=reject)
        for f in fc["features"] if fc.get("type") == "FeatureCollection" else [fc]:
            g = f["geometry"]
            geom = None if g is None else (g["type"].upper(), g.get("coordinates"))
            yield geom, f.get("properties") or {}, None

    return _produce(read(), args)


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
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from .plans import get_spark
    from .sinks.files import upsert_base, upsert_parquet

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
    base = upsert_base(spark, args.table, feats.drop("offset").schema)
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

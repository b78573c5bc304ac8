"""Console entry points — reference parity for ukis_kafka's three
CLIs (SURVEY.md §3.1: producer vector-file→Kafka, consumer
Kafka→PostGIS, consumer Kafka→filesystem), re-based on Spark.

Offline, a "topic" is a directory of parquet files holding the binary
``value`` column (the exact Kafka message shape); with a broker, swap
the directory for ``format("kafka")`` via sources.kafka.

    python -m ukis_kafka_spark.cli produce  --geojson in.geojson --topic-dir /x/topic --layer roads
    python -m ukis_kafka_spark.cli produce-wkt --csv in.csv --wkt-col WKT --topic-dir /x/topic --layer roads
    python -m ukis_kafka_spark.cli consume-files  --topic-dir /x/topic --out /x/sink --partition-by layer
    python -m ukis_kafka_spark.cli consume-upsert --topic-dir /x/topic --table /x/table --key fid

The producer reads GeoJSON with the stdlib (the reference uses OGR;
GeoJSON is the library-free common denominator), converts geometries
to WKB with the pure-Python codec, and wraps each feature in the
msgpack envelope. Consumers decode with the one envelope kernel,
``sources.kafka.decode_feature_stream``, and run the R7/R8 sinks.
"""

from __future__ import annotations

import argparse
import json
import sys

import pandas as pd


def _geojson_geom_to_wkb(geom: dict) -> bytes:
    from .spatial.wkb import encode_wkb

    t = geom["type"].upper()
    c = geom["coordinates"]
    if t == "POINT":
        return encode_wkb(("POINT", tuple(c)))
    if t == "LINESTRING":
        return encode_wkb(("LINESTRING", tuple(tuple(p) for p in c)))
    if t == "POLYGON":
        return encode_wkb(("POLYGON", tuple(tuple(tuple(p) for p in ring) for ring in c)))
    if t == "MULTIPOINT":
        return encode_wkb(("MULTIPOINT", tuple(tuple(p) for p in c)))
    if t == "MULTILINESTRING":
        return encode_wkb(("MULTILINESTRING", tuple(tuple(tuple(p) for p in ls) for ls in c)))
    if t == "MULTIPOLYGON":
        return encode_wkb(
            ("MULTIPOLYGON", tuple(tuple(tuple(tuple(p) for p in ring) for ring in poly) for poly in c))
        )
    raise ValueError(f"unsupported GeoJSON geometry type: {t}")


def cmd_produce(args: argparse.Namespace) -> int:
    """R1+R2: vector file → feature envelopes → topic dir."""
    from .plans import get_spark
    from .sources.envelope import make_envelope

    with open(args.geojson) as fh:
        fc = json.load(fh)
    feats = fc["features"] if fc.get("type") == "FeatureCollection" else [fc]
    envelopes = []
    for f in feats:
        props = {k: v for k, v in (f.get("properties") or {}).items()}
        envelopes.append(
            make_envelope(_geojson_geom_to_wkb(f["geometry"]), props, layer=args.layer, srid=args.srid)
        )
    _publish_envelopes(envelopes, args.topic_dir)
    return 0


def _publish_envelopes(envelopes: list[bytes], topic_dir: str) -> None:
    """Append envelopes to the topic dir with monotonic per-message
    offsets (Kafka-offset parity): continue from the existing topic
    size so re-delivered keys keep produce order."""
    import os

    from .plans import get_spark

    spark = get_spark("cli-produce")
    base_off = 0
    if os.path.isdir(topic_dir):
        base_off = spark.read.parquet(topic_dir).count()
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "value": pd.Series(envelopes, dtype=object),
                "offset": range(base_off, base_off + len(envelopes)),
            }
        ),
        schema="value binary, offset long",
    )
    df.write.mode("append").parquet(topic_dir)
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

    from .sources.envelope import make_envelope
    from .spatial.wkb import encode_wkb
    from .spatial.wkt import parse_wkt

    envelopes = []
    with open(args.csv, newline="") as fh:
        reader = csv.DictReader(fh)
        if args.wkt_col not in (reader.fieldnames or []):
            print(f"error: no column {args.wkt_col!r} in {args.csv}", file=sys.stderr)
            return 2
        for row in reader:
            wkb = encode_wkb(parse_wkt(row[args.wkt_col]))
            props = {k: _coerce_prop(v) for k, v in row.items() if k != args.wkt_col}
            envelopes.append(make_envelope(wkb, props, layer=args.layer, srid=args.srid))
    _publish_envelopes(envelopes, args.topic_dir)
    return 0


def cmd_produce_shp(args: argparse.Namespace) -> int:
    """R1+R2 (third ingestion format): ESRI Shapefile → envelope topic,
    via the pure-Python .shp/.dbf reader (sources.shapefile) — the
    native OGR format closest to the reference's default ingest."""
    from .sources.envelope import make_envelope
    from .sources.shapefile import read_shapefile
    from .spatial.wkb import encode_wkb

    envelopes = []
    for geom, props in read_shapefile(args.shp):
        if geom is None:  # Null shape: keeps .dbf alignment, nothing to publish
            continue
        envelopes.append(
            make_envelope(encode_wkb(geom), props, layer=args.layer, srid=args.srid)
        )
    _publish_envelopes(envelopes, args.topic_dir)
    return 0


def cmd_produce_gpkg(args: argparse.Namespace) -> int:
    """R1+R2 (fourth ingestion format): GeoPackage → envelope topic.
    GPKG is SQLite, so the stdlib reads it (sources.gpkg); the geometry
    cells are header-wrapped standard WKB, re-encoded through the same
    codec every other producer uses. The per-layer SRS id from
    gpkg_geometry_columns rides the envelope unless --srid overrides."""
    from .sources.envelope import make_envelope
    from .sources.gpkg import read_gpkg
    from .spatial.wkb import encode_wkb

    envelopes = []
    for geom, props, srs_id in read_gpkg(args.gpkg, layer=args.gpkg_layer):
        if geom is None:  # NULL / empty geometry keeps fid alignment only
            continue
        envelopes.append(
            make_envelope(
                encode_wkb(geom),
                props,
                layer=args.layer,
                srid=args.srid if args.srid is not None else srs_id,
            )
        )
    _publish_envelopes(envelopes, args.topic_dir)
    return 0


def _decoded_features(spark, topic_dir: str):
    from pyspark.sql import functions as F

    from .sources.kafka import decode_feature_stream

    # mergeSchema: a topic dir may mix pre-offset files with
    # offset-bearing ones (appends to an old topic); without it Spark
    # resolves the schema from one arbitrary file's footer and could
    # silently drop the offset column — old rows read offset NULL,
    # which loses to any real offset under the desc last-write-wins
    # window (nulls sort last), exactly the right semantics
    raw = spark.read.option("mergeSchema", "true").parquet(topic_dir)
    if "offset" not in raw.columns:  # all-pre-offset topic dirs remain readable
        raw = raw.withColumn("offset", F.lit(-1).cast("long"))
    return decode_feature_stream(raw.select("value", "offset"))


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

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from .plans import get_spark
    from .sinks.files import upsert_parquet

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
    if os.path.exists(args.table):
        base = spark.read.parquet(args.table)
    else:
        base = spark.createDataFrame([], feats.drop("offset").schema)
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
    """Inverse of :func:`_geojson_geom_to_wkb` — WKB bytes back to a
    GeoJSON geometry dict (coordinate tuples become lists)."""
    from .spatial.wkb import decode_wkb

    t, c = decode_wkb(buf)
    if t == "POINT":
        coords = list(c)
    elif t in ("LINESTRING", "MULTIPOINT"):
        coords = [list(p) for p in c]
    elif t in ("POLYGON", "MULTILINESTRING"):
        coords = [[list(p) for p in ring] for ring in c]
    elif t == "MULTIPOLYGON":
        coords = [[[list(p) for p in ring] for ring in poly] for poly in c]
    else:  # decode_wkb only emits the six types above
        raise ValueError(f"unsupported WKB geometry type: {t}")
    return {"type": _GEOJSON_TYPE[t], "coordinates": coords}


def cmd_consume_geojson(args: argparse.Namespace) -> int:
    """R8 export leg: topic → GeoJSON. Default output is RFC 8142
    GeoJSON Text Sequences (one Feature per line) written DISTRIBUTED
    via the text sink — the shape that survives a 100 TB topic.
    ``--collection`` assembles a single FeatureCollection file on the
    driver instead (offset-ordered, deterministic) — only for exports
    small enough to want one file."""
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

    pp = sub.add_parser("produce", help="GeoJSON file → envelope topic dir (R1+R2)")
    pp.add_argument("--geojson", required=True)
    pp.add_argument("--topic-dir", required=True)
    pp.add_argument("--layer", default="default")
    pp.add_argument("--srid", type=int, default=4326)
    pp.set_defaults(fn=cmd_produce)

    pw = sub.add_parser("produce-wkt", help="CSV with WKT column → envelope topic dir (R1+R2)")
    pw.add_argument("--csv", required=True)
    pw.add_argument("--topic-dir", required=True)
    pw.add_argument("--wkt-col", default="WKT")
    pw.add_argument("--layer", default="default")
    pw.add_argument("--srid", type=int, default=4326)
    pw.set_defaults(fn=cmd_produce_wkt)

    ps = sub.add_parser("produce-shp", help="ESRI Shapefile → envelope topic dir (R1+R2)")
    ps.add_argument("--shp", required=True)
    ps.add_argument("--topic-dir", required=True)
    ps.add_argument("--layer", default="default")
    ps.add_argument("--srid", type=int, default=4326)
    ps.set_defaults(fn=cmd_produce_shp)

    pg = sub.add_parser("produce-gpkg", help="GeoPackage layer → envelope topic dir (R1+R2)")
    pg.add_argument("--gpkg", required=True)
    pg.add_argument("--topic-dir", required=True)
    pg.add_argument("--gpkg-layer", default=None, help="feature table (default: the only one)")
    pg.add_argument("--layer", default="default", help="envelope layer tag")
    pg.add_argument("--srid", type=int, default=None, help="override the layer SRS id")
    pg.set_defaults(fn=cmd_produce_gpkg)

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

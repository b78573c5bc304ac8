"""Kafka source wiring (reference parity R2/R3 online path).

No broker (and no spark-sql-kafka connector jar) exists in the offline
harness, so the source is exercised there through its file-based twin.
Producing needs no code here: the CLI producers write the topic
directory's parquet files, and online a broker takes the same envelope
bytes from Spark's own Kafka sink (``write.format("kafka")``) or any
Kafka producer client. The selectable entry point is
``envelope_raw_stream``: set ``UKIS_KAFKA_BROKERS`` (or pass
``brokers=``) and the SAME pipeline reads ``format("kafka")``; leave it
unset and it reads the wire-format parquet twin. Everything downstream of the raw ``value binary`` column
— ``decode_feature_stream``, the aggregates, the sinks — is one shared
code path, byte-for-byte identical in both modes
(streaming.jobs.src_kafka_shape drives it through the oracle gate
offline). ``decode_feature_stream`` is the only envelope decoder: the
batch CLI consumers (``cli._decoded_features``) call it too.
"""

from __future__ import annotations

import json
import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

ENV_BROKERS = "UKIS_KAFKA_BROKERS"
ENV_TOPIC = "UKIS_KAFKA_TOPIC"


def envelope_raw_stream(
    spark: SparkSession,
    *,
    brokers: str | None = None,
    topic: str | None = None,
    wire_dir: str | None = None,
    starting_offsets: str = "earliest",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """The ONE source switch for envelope pipelines: returns a streaming
    DataFrame of raw msgpack envelopes (single ``value binary`` column).

    With a broker (``brokers=`` argument or the ``UKIS_KAFKA_BROKERS``
    env var) the stream is ``format("kafka")`` on ``topic`` (or
    ``UKIS_KAFKA_TOPIC``); otherwise it is the file-stream twin over
    ``wire_dir`` — a parquet directory holding the identical envelope
    bytes, which is also exactly what a Kafka->parquet archiver sink
    writes. Flipping a deployment online is therefore one env var, no
    code change."""
    brokers = brokers or os.environ.get(ENV_BROKERS)
    if brokers:
        topic = topic or os.environ.get(ENV_TOPIC, "ukis-features")
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
            .select("value")
        )
    if wire_dir is None:
        raise ValueError(
            f"no Kafka brokers configured (set {ENV_BROKERS}) and no wire_dir fallback given"
        )
    return (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(wire_dir)
    )


def decode_feature_stream(raw: DataFrame, include_geom: bool = True) -> DataFrame:
    """msgpack feature envelopes (``value binary``) → decoded feature
    rows (layer, srid, geom_type, wkb, props_json), followed by every
    other column of ``raw`` (e.g. the topic ``offset``) unchanged.
    Shared by the Kafka and file-twin sources — the decode is
    source-agnostic. A malformed envelope or WKB raises ``ValueError``.

    ``include_geom=False`` prunes the wkb payload INSIDE the kernel for
    consumers that only read properties (the geometry is still decoded
    as an integrity check, it just never crosses the Arrow boundary).
    At this corpus's ~21-byte point WKBs the saving is noise — the
    per-row msgpack decode dominates — but payload-heavy geometries
    (polygons, multipart) are exactly what a property-only consumer
    should not ship."""
    from pyspark.sql.types import BinaryType, IntegerType, StringType, StructField, StructType

    from .envelope import read_envelope
    from ..spatial.wkb import decode_wkb

    cols = ["layer", "srid", "geom_type"] + (["wkb"] if include_geom else []) + ["props_json"]
    passthrough = [f for f in raw.schema.fields if f.name != "value"]

    def decode(iter_pdf):
        for pdf in iter_pdf:
            out = {c: [] for c in cols}
            for buf in pdf["value"]:
                env = read_envelope(bytes(buf))
                gtype, _ = decode_wkb(env["geom"])
                out["layer"].append(env["meta"]["layer"])
                out["srid"].append(env["meta"].get("srid", 4326))
                out["geom_type"].append(gtype)
                if include_geom:
                    out["wkb"].append(env["geom"])
                out["props_json"].append(json.dumps(env["props"], sort_keys=True))
            for f in passthrough:
                out[f.name] = pdf[f.name].to_numpy()
            yield pd.DataFrame(out)

    types = {"srid": IntegerType(), "wkb": BinaryType()}
    schema = StructType([StructField(c, types.get(c, StringType())) for c in cols] + passthrough)
    return raw.mapInPandas(decode, schema)


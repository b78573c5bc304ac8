"""The topic: its layout, its writer and its readers (reference parity
R2/R3).

Offline, a topic is a directory of parquet files ``value binary, offset
long``: ``value`` is the exact Kafka message (a msgpack feature
envelope) and ``offset`` its monotonic position. This module is the one
place that knows that layout. ``data_files`` lists the visible files,
``publish_envelopes`` appends with pyarrow (no JVM), ``read_topic`` reads
the directory as a batch and ``envelope_raw_stream`` as a stream. The
CLI commands, the upsert sink and the oracle queries go through these.

No broker (and no spark-sql-kafka connector jar) exists offline, so the
stream is exercised there through its file-based twin. Set
``UKIS_KAFKA_BROKERS`` (or pass ``brokers=``) and the SAME pipeline
reads ``format("kafka")``; online a broker takes the same envelope bytes
from Spark's Kafka sink or any Kafka producer client. Everything
downstream of the raw ``value`` column is one shared code path, byte for
byte identical in both modes (streaming.jobs.src_kafka_shape drives it
through the oracle gate offline). ``decode_feature_stream`` is the only
envelope decoder.

``pandas`` and ``pyspark`` are imported inside the functions that use
them, so a producer imports this module without either.
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

ENV_BROKERS = "UKIS_KAFKA_BROKERS"
ENV_TOPIC = "UKIS_KAFKA_TOPIC"


def data_files(topic_dir: str) -> list[str]:
    """A topic's (or upsert table's) data files: every name that does
    not start with ``_`` or ``.``, the rule Spark's file readers apply.
    So the producer's offset count and the consumers' schemas see the
    files a Spark read sees, and never ``_produce.lock``, a hidden temp
    file, ``_SUCCESS`` or a ``.crc`` checksum."""
    return [os.path.join(topic_dir, n) for n in os.listdir(topic_dir) if not n.startswith(("_", "."))]


def publish_envelopes(envelopes: list[bytes], topic_dir: str) -> None:
    """Append envelopes to the topic dir with monotonic per-message
    offsets (Kafka-offset parity): continue from the existing topic
    size so re-delivered keys keep produce order.

    Written with pyarrow under an exclusive lock on ``_produce.lock``;
    no JVM starts. The next offset is the row count in the footers of
    :func:`data_files`, so concurrent producers get disjoint, gap-free
    offsets. The envelopes land in contiguous slices, one per local core
    (the read parallelism of a consumer), each named by its first offset
    and renamed in from a hidden temp name, which no reader sees."""
    import fcntl

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..plans.session import local_cpus

    os.makedirs(topic_dir, exist_ok=True)
    with open(os.path.join(topic_dir, "_produce.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        base_off = sum(pq.read_metadata(path).num_rows for path in data_files(topic_dir))

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


def read_topic(spark: SparkSession, topic_dir: str) -> DataFrame:
    """The topic as decoded feature rows plus its ``offset``
    (:func:`decode_feature_stream` over a batch read).

    The schema comes from the file footers (pyarrow, no Spark job):
    ``value binary``, plus ``offset long`` if any file has it. A topic
    dir may mix pre-offset files with offset-bearing ones (appends to an
    old topic); under the given schema their rows read offset NULL,
    which loses to any real offset under the desc last-write-wins window
    (nulls sort last), exactly the right semantics. A file whose
    ``value`` is not binary is refused here, before any job, rather than
    read as something else. A missing dir is left to Spark's own
    PATH_NOT_FOUND."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    has_offset = False
    for path in data_files(topic_dir) if os.path.isdir(topic_dir) else []:
        schema = pq.read_schema(path)
        value = schema.field("value").type if "value" in schema.names else None
        if value is None or not pa.types.is_binary(value):
            raise ValueError(f"{path}: a topic file's 'value' column must be binary, got {value}")
        has_offset = has_offset or "offset" in schema.names
    raw = spark.read.schema("value binary, offset long" if has_offset else "value binary").parquet(topic_dir)
    if not has_offset:  # all-pre-offset topic dirs remain readable
        raw = raw.withColumn("offset", F.lit(-1).cast("long"))
    return decode_feature_stream(raw)


def envelope_raw_stream(
    spark: SparkSession,
    *,
    brokers: str | None = None,
    topic: str | None = None,
    wire_dir: str | None = None,
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
            .option("startingOffsets", "earliest")
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


def decode_feature_stream(raw: DataFrame) -> DataFrame:
    """msgpack feature envelopes (``value binary``) → decoded feature
    rows (layer, srid, geom_type, wkb, props_json), followed by every
    other column of ``raw`` (e.g. the topic ``offset``) unchanged.
    Shared by the Kafka and file-twin sources — the decode is
    source-agnostic. A malformed envelope or WKB raises ``ValueError``,
    and so do props that are not JSON: a bin value, keys of mixed
    types, or a NaN/Infinity float (Spark's ``get_json_object`` reads a
    document holding such a token as NULL)."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, IntegerType, StringType, StructField, StructType

    from .envelope import read_envelope
    from ..spatial.wkb import decode_wkb

    cols = ["layer", "srid", "geom_type", "wkb", "props_json"]
    passthrough = [f for f in raw.schema.fields if f.name != "value"]

    def decode(iter_pdf):
        to_json = json.JSONEncoder(sort_keys=True, allow_nan=False).encode
        for pdf in iter_pdf:
            out = {c: [] for c in cols}
            for buf in pdf["value"]:
                env = read_envelope(bytes(buf))
                gtype, _ = decode_wkb(env["geom"])
                try:
                    props_json = to_json(env["props"])
                except (TypeError, ValueError) as exc:
                    raise ValueError(f"envelope props are not JSON: {exc}") from None
                out["layer"].append(env["meta"]["layer"])
                out["srid"].append(env["meta"].get("srid", 4326))
                out["geom_type"].append(gtype)
                out["wkb"].append(env["geom"])
                out["props_json"].append(props_json)
            for f in passthrough:
                out[f.name] = pdf[f.name].to_numpy()
            yield pd.DataFrame(out)

    types = {"srid": IntegerType(), "wkb": BinaryType()}
    schema = StructType([StructField(c, types.get(c, StringType())) for c in cols] + passthrough)
    return raw.mapInPandas(decode, schema)

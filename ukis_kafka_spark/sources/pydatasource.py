"""Custom connector via the PySpark 4 Python DataSource API
(SURVEY.md §2.3 sources) — the modern way to plug an external system
into Spark without JVM code: implement partitions() for parallelism
and read(partition) as a plain row generator, and the engine gets a
fully parallel, schema'd source usable from ``spark.read.format(...)``.

The demo source is a deterministic "remote feed" generator (a stand-in
for a REST/queue connector): N_ROWS keyed records sharded into
N_PARTS independent partitions, each derived from pure modular
arithmetic so the DuckDB oracle can re-derive the exact feed without
the connector. At 100 TB the same shape holds — partitions() returns
one split per remote shard and each task pulls only its shard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from ..registry import query

N_ROWS = 20_000
N_PARTS = 8
_A = 2654435761
_M = 1_000_003


class _FeedPartition(InputPartition):
    def __init__(self, idx: int):
        self.idx = idx


class _FeedReader(DataSourceReader):
    def partitions(self):
        return [_FeedPartition(i) for i in range(N_PARTS)]

    def read(self, partition):
        per = N_ROWS // N_PARTS
        start = partition.idx * per
        for i in range(start, start + per):
            h = (i * _A) % _M
            yield (i, h, h % 10)


class FeedDataSource(DataSource):
    """``spark.read.format("detfeed")`` — deterministic feed connector."""

    @classmethod
    def name(cls) -> str:
        return "detfeed"

    def schema(self) -> str:
        return "i long, h long, bucket int"

    def reader(self, schema) -> DataSourceReader:
        return _FeedReader()


def _ensure_registered(spark: SparkSession) -> None:
    if getattr(spark, "_detfeed_registered", False):
        return
    spark.dataSource.register(FeedDataSource)
    spark._detfeed_registered = True


@query(
    "src_py_datasource",
    oracle=f"""
SELECT (((i * {_A}) % {_M}) % 10) AS bucket,
       count(*) AS n,
       CAST(SUM((i * {_A}) % {_M}) AS BIGINT) AS h_sum,
       min(i) AS min_i,
       max(i) AS max_i
FROM range({N_ROWS}) t(i)
GROUP BY 1
""",
)
def src_py_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the registered Python DataSource and aggregate per
    bucket — proving the connector's partitioned read path end to end
    (8 independent splits, no driver-side materialization). The oracle
    re-derives the deterministic feed from pure arithmetic, so a
    partitioning bug (lost/duplicated shard) or a schema drift breaks
    the hash."""
    _ensure_registered(spark)
    feed = spark.read.format("detfeed").load()
    return feed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("h").alias("h_sum"),
        F.min("i").alias("min_i"),
        F.max("i").alias("max_i"),
    )


class _JsonlCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str, n_rows: int):
        self.tmp_path = tmp_path
        self.n_rows = n_rows


class _JsonlWriter(DataSourceWriter):
    """Task-side writer with the full two-phase commit protocol: each
    task writes a private temp file and reports it in its commit
    message; the driver-side commit() atomically renames the batch into
    place (or abort() removes the temp files) — exactly the pattern a
    real external-system sink needs for exactly-once batch writes."""

    def __init__(self, path: str):
        self.path = path

    def write(self, rows):
        import json as _json
        import os as _os
        import uuid as _uuid

        tmp = _os.path.join(self.path, f"_tmp_{_uuid.uuid4().hex}.jsonl")
        n = 0
        with open(tmp, "w") as f:
            for r in rows:
                f.write(_json.dumps({"event_id": r[0], "event_type": r[1], "value": r[2]}))
                f.write("\n")
                n += 1
        return _JsonlCommit(tmp, n)

    def commit(self, messages):
        import os as _os

        for i, m in enumerate(messages):
            _os.replace(m.tmp_path, _os.path.join(self.path, f"part-{i:05d}.jsonl"))

    def abort(self, messages):
        import os as _os

        for m in messages:
            try:
                _os.remove(m.tmp_path)
            except OSError:
                pass


class JsonlSinkDataSource(DataSource):
    """``df.write.format("jsonlsink").option("path", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "jsonlsink"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _JsonlWriter(self.options["path"])


def _ensure_sink_registered(spark: SparkSession) -> None:
    if getattr(spark, "_jsonlsink_registered", False):
        return
    spark.dataSource.register(JsonlSinkDataSource)
    spark._jsonlsink_registered = True


@query(
    "sink_py_datasource",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS value_sum,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM events
WHERE event_id % 4 = 0
GROUP BY event_type
""",
)
def sink_py_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write through the custom Python DataSource SINK (task-side temp
    files + driver-side atomic commit — the two-phase protocol above),
    then read the committed JSONL back and aggregate: a lost, doubled,
    or uncommitted task file breaks the hash. Completes the connector
    parity story: Python-native read path (src_py_datasource) AND
    write path with commit/abort semantics, no JVM code."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from . import load_table

    _ensure_sink_registered(spark)
    from ..cache import fast_scratch_root
    out = _tempfile.mkdtemp(prefix="pyds_sink_", dir=fast_scratch_root())
    try:
        (
            load_table(spark, sf_dir, "events")
            .where(F.col("event_id") % 4 == 0)
            .select("event_id", "event_type", "value")
            .write.format("jsonlsink")
            .option("path", out)
            .mode("append")
            .save()
        )
        back = spark.read.schema("event_id long, event_type string, value double").json(out)
        return (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("value_sum"),
                F.min("event_id").alias("min_id"),
                F.max("event_id").alias("max_id"),
            )
            .localCheckpoint()
        )
    finally:
        _shutil.rmtree(out, ignore_errors=True)


_STREAM_BATCH = 5_000  # rows per micro-batch pull
_STREAM_TOTAL = 20_000


class _FeedStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked streaming pull from the deterministic feed: each
    micro-batch advances a row-count offset by _STREAM_BATCH until the
    feed is drained — the minimal faithful model of a queue consumer
    (initialOffset/read/readBetweenOffsets give exactly-once replay:
    Spark re-reads a batch by offset range after a failure)."""

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict):
        pos = start["pos"]
        end = min(pos + _STREAM_BATCH, _STREAM_TOTAL)
        # a LIST-backed iterator: Spark's prefetch cache copy.copy()s
        # the returned iterator, which a generator cannot survive
        return iter(self._rows(pos, end)), {"pos": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(start["pos"], end["pos"]))

    @staticmethod
    def _rows(lo: int, hi: int) -> list:
        return [(i, (i * _A) % _M, ((i * _A) % _M) % 10) for i in range(lo, hi)]


class FeedStreamDataSource(DataSource):
    """``spark.readStream.format("detfeedstream")``."""

    @classmethod
    def name(cls) -> str:
        return "detfeedstream"

    def schema(self) -> str:
        return "i long, h long, bucket int"

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _FeedStreamReader()


def _ensure_stream_registered(spark: SparkSession) -> None:
    if getattr(spark, "_detfeedstream_registered", False):
        return
    spark.dataSource.register(FeedStreamDataSource)
    spark._detfeedstream_registered = True


@query(
    "s_py_source_stream",
    oracle=f"""
SELECT (((i * {_A}) % {_M}) % 10) AS bucket,
       count(*) AS n,
       CAST(SUM((i * {_A}) % {_M}) AS BIGINT) AS h_sum
FROM range({_STREAM_TOTAL}) t(i)
GROUP BY 1
""",
)
def src_py_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the custom Python STREAMING source to completion
    (availableNow) through a stateful per-bucket aggregate in complete
    mode — proving the offset-based micro-batch pull path: 4 batches
    of {batch} rows whose union must equal the whole feed exactly
    (a skipped or replayed offset range breaks the hash). Completes
    the Python connector matrix: batch read, batch write with 2PC,
    and now an offset-tracked stream — the R3 Kafka-consumer shape
    with no broker and no JVM code.""".format(batch=_STREAM_BATCH)
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    import uuid as _uuid

    _ensure_stream_registered(spark)
    from ..cache import fast_scratch_root
    work = _tempfile.mkdtemp(prefix="pyds_stream_", dir=fast_scratch_root())
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        agg = (
            spark.readStream.format("detfeedstream")
            .load()
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h_sum"))
        )
        name = "mem_" + _uuid.uuid4().hex[:12]
        # Python streaming sources don't support availableNow (Spark
        # falls back to ONE batch); drain with normal micro-batches and
        # stop once the complete-mode aggregate covers the whole feed.
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", _os.path.join(work, "ckpt"))
            .start()
        )
        import time as _time

        deadline = _time.time() + 120
        while _time.time() < deadline:
            rows = spark.table(name).agg(F.sum("n")).collect()
            if rows and rows[0][0] == _STREAM_TOTAL:
                break
            _time.sleep(0.3)
        q.stop()
        q.awaitTermination()
        return spark.table(name).localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        _shutil.rmtree(work, ignore_errors=True)


class _JsonlStreamWriter(DataSourceStreamWriter):
    """Streaming twin of _JsonlWriter: the same task-temp-file /
    driver-rename two-phase protocol, made EXACTLY-ONCE across
    micro-batch retries by deterministic final names — commit()
    renames each task file to ``batch-{batchId:05d}-{i:05d}.jsonl``,
    so a replayed batch (post-crash re-execution of an uncommitted
    epoch) overwrites its own files instead of duplicating rows."""

    def __init__(self, path: str):
        self.path = path

    def write(self, rows):
        import json as _json
        import os as _os
        import uuid as _uuid

        tmp = _os.path.join(self.path, f"_tmp_{_uuid.uuid4().hex}.jsonl")
        n = 0
        with open(tmp, "w") as f:
            for r in rows:
                f.write(_json.dumps({"event_id": r[0], "event_type": r[1], "value": r[2]}))
                f.write("\n")
                n += 1
        return _JsonlCommit(tmp, n)

    def commit(self, messages, batchId):
        import os as _os

        for i, m in enumerate(messages):
            if m is None:
                continue
            _os.replace(
                m.tmp_path,
                _os.path.join(self.path, f"batch-{batchId:05d}-{i:05d}.jsonl"),
            )

    def abort(self, messages, batchId):
        import os as _os

        for m in messages:
            if m is None:
                continue
            try:
                _os.remove(m.tmp_path)
            except OSError:
                pass


class JsonlStreamSinkDataSource(DataSource):
    """``df.writeStream.format("jsonlsinkstream").option("path", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "jsonlsinkstream"

    def streamWriter(self, schema, overwrite: bool) -> DataSourceStreamWriter:
        return _JsonlStreamWriter(self.options["path"])


def _ensure_stream_sink_registered(spark: SparkSession) -> None:
    if getattr(spark, "_jsonlsinkstream_registered", False):
        return
    spark.dataSource.register(JsonlStreamSinkDataSource)
    spark._jsonlsinkstream_registered = True


@query(
    "sink_py_stream",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(28,10))) * 1000000 AS BIGINT) AS mass_micros
FROM events
GROUP BY event_type
""",
)
def sink_py_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end STREAMING write through a custom Python
    DataSourceStreamWriter: the replayed event stream flows through
    the per-batch two-phase commit protocol (task temp files ->
    driver rename with batchId-deterministic names, the
    exactly-once-on-retry rule), and the committed JSONL files are
    read back and aggregated — a hash match against the batch oracle
    proves no batch was lost, duplicated, or partially committed.
    Completes the Python connector matrix (batch read, batch 2PC
    write, offset-tracked stream read, and now the streaming write).
    Scale: the sink is embarrassingly parallel per task; the commit
    rename is a per-batch driver-side metadata operation, exactly the
    shape of a real object-store streaming sink."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from ..streaming.jobs import replay_events_as_stream

    from ..cache import fast_scratch_root

    _ensure_stream_sink_registered(spark)
    work = _tempfile.mkdtemp(prefix="pyds_streamsink_", dir=fast_scratch_root())
    out = _os.path.join(work, "out")
    _os.makedirs(out, exist_ok=True)
    try:
        stream = (
            replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
            .select("event_id", "event_type", "value")
            # 4 sink tasks per micro-batch: every task is a Python
            # worker round-trip; the default file-split parallelism
            # spawned ~32 of them per batch for a 25k-row chunk
            .coalesce(4)
        )
        q = (
            stream.writeStream.format("jsonlsinkstream")
            .option("path", out)
            .option("checkpointLocation", _os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        # explicit schema: inference would scan every committed file a
        # second time (guide §6); the declared types match what
        # inference produced, so the parsed values are identical
        back = spark.read.schema("event_id long, event_type string, value double").json(out)
        return (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                (F.sum(F.col("value").cast("decimal(28,10)")) * 1000000)
                .cast("bigint")
                .alias("mass_micros"),
            )
            .localCheckpoint()
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)

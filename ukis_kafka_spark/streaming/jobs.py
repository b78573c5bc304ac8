"""Structured Streaming operators (SURVEY.md §2.2 "Streaming",
reference identity: Kafka consume → transform → sink).

Each ``s_*`` query below runs a *real* streaming job: the ``events``
table is replayed as a timestamp-ordered file stream (micro-batch per
chunk, ``availableNow`` trigger), results land in a memory sink, and
the function returns the final table as a batch DataFrame — so the
driver's oracle check exercises genuine streaming state machinery
(watermarks, streaming dedup, stream-stream join state) end-to-end.

Offline stand-in note: ``spark.readStream.format("kafka")`` is the
production source; a file stream delivers the same (value: binary)
rows without a broker. ``src_kafka_shape`` runs the full wire path:
feature → msgpack envelope bytes → stream → decode → aggregate.

Scratch space comes from ``cache.fast_scratch_root`` and is removed
after each run.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table

_EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


def _scratch_dir() -> str:
    from ..cache import fast_scratch_root

    return tempfile.mkdtemp(prefix="stream_", dir=fast_scratch_root())


# Build-once input caching lives in ukis_kafka_spark.cache (shared by
# streaming, sources, and bench); the old private names stay as
# aliases for existing callers.
from ..cache import cache_publish as _cache_publish  # noqa: E402
from ..cache import table_fingerprint as _table_fingerprint  # noqa: E402


def _chunk_mtime(name: str) -> int:
    """Pinned mtime of the replay chunk ``chunk_{order:03d}_{i}.parquet``:
    a minute per place in the stream order its name encodes."""
    return 1_700_000_000 + int(name.split("_")[1]) * 60


def _link_chunks(cache: str, names: list[str], into: str) -> None:
    """Hardlink replay chunks from the cache into a private stream dir
    (a copy across devices) and re-pin each one's mtime from its name.
    The cache key does not cover mtimes, so a cache copied without them
    (``cp -r``) would otherwise replay its chunks in the wrong order."""
    os.makedirs(into, exist_ok=True)
    for f in names:
        dst = os.path.join(into, f)
        try:
            os.link(os.path.join(cache, f), dst)
        except OSError:  # cross-device scratch: fall back to a copy
            shutil.copy2(os.path.join(cache, f), dst)
        os.utime(dst, (_chunk_mtime(f), _chunk_mtime(f)))


def _replay_chunk_cache(
    spark: SparkSession, sf_dir: str, n_chunks: int, shuffle_chunk: int | None
) -> str:
    """Chunked replay corpus (cached): events as n timestamp-ordered
    parquet chunks with pinned mtimes — FileStreamSource orders files by
    *modification time*, so mtime dictates arrival order."""

    def build(into: str) -> None:
        e = load_table(spark, sf_dir, "events").orderBy("ts")
        rows = e.count()
        per = (rows + n_chunks - 1) // n_chunks
        chunked = e.withColumn(
            "chunk", F.floor((F.row_number().over(Window.orderBy("ts")) - 1) / per)
        )
        # single job: one file per chunk via partitioned write, then
        # rename into stream-order names with pinned mtimes
        stage = os.path.join(into, "stage")
        chunked.repartition(n_chunks, "chunk").write.mode("overwrite").partitionBy(
            "chunk"
        ).parquet(stage)
        for i in range(n_chunks):
            order = n_chunks + 1 if i == shuffle_chunk else i
            cdir = os.path.join(stage, f"chunk={i}")
            pf = [f for f in os.listdir(cdir) if f.endswith(".parquet")][0]
            name = f"chunk_{order:03d}_{i}.parquet"
            dst = os.path.join(into, name)
            shutil.move(os.path.join(cdir, pf), dst)
            os.utime(dst, (_chunk_mtime(name), _chunk_mtime(name)))
        shutil.rmtree(stage, ignore_errors=True)

    key = ("replay", 2, _table_fingerprint(sf_dir), n_chunks, shuffle_chunk)
    return _cache_publish(build, key)


def replay_events_as_stream(
    spark: SparkSession, sf_dir: str, work: str, n_chunks: int = 8, shuffle_chunk: int | None = None
) -> DataFrame:
    """Open events as a file stream of n timestamp-ordered chunks, one
    chunk per micro-batch (maxFilesPerTrigger=1).

    ``shuffle_chunk``: if set, that chunk is delivered *last* while
    holding the *earliest* timestamps — the late-data injection used by
    the watermark tests.

    The chunk files come from the shared build-once cache and are
    hardlinked into ``work/src`` with their mtimes re-pinned from their
    names (``_link_chunks``), so arrival order holds — each query keeps
    a private stream directory it may mutate (the checkpoint-recovery
    test withholds and re-delivers files) without touching the cache."""
    cache = _replay_chunk_cache(spark, sf_dir, n_chunks, shuffle_chunk)
    src = os.path.join(work, "src")
    _link_chunks(cache, sorted(os.listdir(cache)), src)
    return (
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def run_to_memory(stream_df: DataFrame, work: str, mode: str = "append") -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a
    memory sink; return the final table as a batch DataFrame.

    State-store tuning: a stateful operator creates one state store per
    shuffle partition per micro-batch checkpoint. The replayed corpus
    has ~150 keys, so a handful of partitions carries the state with
    far less checkpoint I/O than the batch default (measured 86 s with
    32 → ~25 s with 8 → ~18 s with 4 across the heavy stateful jobs at
    sf0.1; 2 is no better than 4). Restored afterwards — batch queries
    keep the cores-wide setting. Partition count never affects results:
    state is keyed and the sink is compared order-insensitively."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        name = "mem_" + uuid.uuid4().hex[:12]
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", os.path.join(work, "ckpt_" + name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _with_scratch(fn):
    work = _scratch_dir()
    try:
        return fn(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _subseq_prefix() -> str:
    """Shared subsequence-oracle CTE prefix — single source of truth in
    operators/analytics.py (import is lazy only to keep this module's
    import graph acyclic at definition time)."""
    from ..operators.analytics import SUBSEQ_ORACLE_PREFIX

    return SUBSEQ_ORACLE_PREFIX


@query(
    "s_stateful_count",
    oracle="""
SELECT user_id, count(*) AS n_events
FROM events
GROUP BY user_id
""",
)
def s_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user counts as a streaming job (complete mode —
    unbounded keyed state, the streaming twin of groupBy().count()).
    The final state must equal the batch aggregate exactly."""

    def go(work: str) -> DataFrame:
        # 4 micro-batches: complete-mode totals are chunk-count-invariant
        # and each extra micro-batch is a full state checkpoint cycle
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        counts = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
        return run_to_memory(counts, work, mode="complete").localCheckpoint()

    return _with_scratch(go)


@query(
    "s_dedup_watermark",
    oracle="""
SELECT event_type, count(DISTINCT event_id) AS n
FROM events
GROUP BY event_type
""",
)
def s_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup by event_id within a 10-minute watermark
    (R9 parity: at-least-once Kafka delivery needs idempotent sinks;
    dropDuplicatesWithinWatermark makes the pipeline itself
    exactly-once-per-key). Fed in ts order the watermark never drops a
    live row, so the result equals batch COUNT(DISTINCT)."""

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        deduped = (
            stream.withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return run_to_memory(deduped, work, mode="complete").localCheckpoint()

    return _with_scratch(go)


@query(
    "s_tumble_watermark",
    oracle="""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start, count(*) AS n
FROM events
GROUP BY 1
HAVING hour_start + 3600 <= (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 600 FROM events)
""",
)
def s_tumble_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts in append mode — a window only
    emits once the watermark (max event time − 10 min) passes its end,
    so the stream's final, still-open window is withheld. The oracle
    applies the same closure rule (HAVING end ≤ final watermark)."""

    def go(work: str) -> DataFrame:
        # 4 micro-batches: the emitted set depends only on the *final*
        # watermark (in-order replay), not on batch granularity
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_timestamp(F.col("w.start")).alias("hour_start"), "n")
        )
        return run_to_memory(agg, work, mode="append").localCheckpoint()

    return _with_scratch(go)


@query(
    "s_watermark_late",
    oracle="""
WITH ordered AS (
  SELECT ts, row_number() OVER (ORDER BY ts) AS rn, count(*) OVER () AS n_rows
  FROM events
), live AS (
  -- the earliest ceil(n/8) rows are the shuffled chunk 0: they arrive
  -- after the watermark passed them and are dropped by the stream
  SELECT ts FROM ordered WHERE rn > CAST(ceil(n_rows / 8.0) AS BIGINT)
)
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start, count(*) AS n
FROM live
GROUP BY 1
HAVING hour_start + 3600 <= (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 600 FROM events)
""",
)
def s_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data semantics: the earliest chunk of events arrives LAST
    (after the watermark has advanced past it), so a 10-minute
    watermark drops those rows from the append-mode windowed count.

    The oracle mirrors BOTH deterministic rules, the way
    s_tumble_watermark mirrors window closure: (1) the late-drop rule —
    the replay harness ships the earliest ceil(n/8) rows (chunk 0) last,
    when the watermark already sits at global-max-ts − 10 min, which is
    ~26 days past every chunk-0 window end, so exactly those rows are
    dropped (ts is verified unique, so the chunk boundary is the same
    total order in both engines); (2) the closure rule — only windows
    whose end ≤ final watermark have been evicted to the append sink.
    The unit test additionally asserts the drop happens at all."""

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=8, shuffle_chunk=0)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_timestamp(F.col("w.start")).alias("hour_start"), "n")
        )
        return run_to_memory(agg, work, mode="append").localCheckpoint()

    return _with_scratch(go)


# Micro-batch count for the two stream-stream joins. Module-level so
# the chunk-count-invariance test can monkeypatch it and assert the
# 4-chunk replay emits the identical set (the proof in each docstring).
_STREAM_JOIN_CHUNKS = 2


@query(
    "s_stream_join",
    oracle="""
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
""",
)
def s_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bound: each click joins
    purchases by the same user within the following hour. Watermarks on
    both sides + the time-range condition let Spark bound the join
    state (the batch twin is the same range join).

    Timestamps are compared at their native precision but never
    emitted (ns-vs-µs parity), so only ids/user survive to the output.

    2 micro-batches (round-9 shave, the s_custom_state precedent):
    the emitted set is PROVABLY chunk-count-invariant because the
    replay is timestamp-ordered. A matched pair (c, p) can only be
    lost if the click is evicted before the purchase's batch — but
    eviction needs watermark > click_ts + 1 h, the watermark entering
    batch M is max(ts before M) − 10 min ≤ p_ts − 10 min (ordered
    arrival), and p_ts ≤ click_ts + 1 h, so the click is always still
    in state; inner matches emit in the batch they form, hence the
    emission set equals the full batch range join for ANY chunking
    ≥ 1 — exactly the oracle, which has no closure rule.
    tests/test_streaming.py::test_stream_join_chunk_count_invariant
    pins 2-vs-4 equality; each dropped batch saves a full state-store
    commit round (measured 6.5 s → ~4 s in-pass at sf0.1)."""

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=_STREAM_JOIN_CHUNKS)
        clicks = (
            stream.where(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "10 minutes")
        )
        purchases = (
            stream.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "10 minutes")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("click_ts"))
            & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            "inner",
        ).select("click_id", "purchase_id", "user_id")
        return run_to_memory(joined, work, mode="append").localCheckpoint()

    return _with_scratch(go)


@query(
    "src_kafka_shape",
    oracle="""
SELECT event_type, count(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
""",
)
def src_kafka_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full wire-path parity with the reference's Kafka pipeline
    (R2→R3): every event becomes a WKB point + properties inside a
    msgpack envelope (binary `value` column, exactly the Kafka message
    shape), the envelopes are replayed through the selectable source
    (sources.kafka.envelope_raw_stream — `format("kafka")` the moment
    UKIS_KAFKA_BROKERS is set, the file twin offline), decoded by the
    SAME decode_feature_stream the online path uses, and aggregated.
    Result must equal aggregating the original table directly."""
    from ..sources.envelope import make_envelope
    from ..sources.kafka import decode_feature_stream, envelope_raw_stream
    from ..spatial.wkb import encode_wkb

    # Not sources.kafka.publish_envelopes: the wire is value-only files,
    # the shape a Kafka->parquet archiver writes, and the per-row encode
    # runs distributed in mapInPandas (built once, cached).
    def build_wire(into: str) -> None:
        e = load_table(spark, sf_dir, "events")

        def encode_part(iter_pdf):
            for pdf in iter_pdf:
                vals = []
                for r in pdf.itertuples(index=False):
                    wkb = encode_wkb(("POINT", (r.value * 3.6 - 180, (r.user_id * 7 % 180) - 90)))
                    vals.append(
                        make_envelope(
                            wkb,
                            {
                                "event_id": int(r.event_id),
                                "event_type": r.event_type,
                                "value": float(r.value),
                            },
                            layer="events",
                        )
                    )
                yield pd.DataFrame({"value": pd.Series(vals, dtype=object)})

        e.mapInPandas(encode_part, "value binary").write.mode("overwrite").parquet(
            os.path.join(into, "wire")
        )

    def go(work: str) -> DataFrame:
        # per-row Python envelope encode is the dominant cost (~3.3 s at
        # sf0.1) and the corpus is pure function of the input table —
        # build once, stream from the shared cache (read-only here)
        src = os.path.join(
            _cache_publish(build_wire, ("wire", 2, _table_fingerprint(sf_dir))), "wire"
        )
        stream = envelope_raw_stream(spark, wire_dir=src)
        feats = decode_feature_stream(stream)
        # event fields ride in props_json; extraction is JVM-side
        # (from_json round-trips the kernel's JSON exactly for long/str/double)
        decoded = feats.select(
            F.from_json(
                "props_json", "event_id long, event_type string, value double"
            ).alias("p")
        ).select("p.event_id", "p.event_type", "p.value")
        agg = decoded.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("value_sum"),
        )
        return run_to_memory(agg, work, mode="complete").localCheckpoint()

    return _with_scratch(go)


@query(
    "s_custom_state",
    oracle="""
SELECT user_id, count(*) AS n_events,
       CAST(CAST(MAX(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS max_value
FROM events
GROUP BY user_id
""",
)
def s_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (arbitrary
    per-key state; the Spark 4 transformWithStateInPandas API needs
    protobuf, absent offline — the dataflow is identical): per-user
    running (count, max) kept in explicit GroupState, updated rows
    emitted every micro-batch. Both outputs are monotone, so the final
    state is the per-user MAX over all emitted updates — which must
    equal the batch aggregate."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def running_stats(key, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            batch_max = float(pdf["value"].max())
            mx = batch_max if mx is None else max(mx, batch_max)
        state.update((n, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "max_value": [mx]})

    def go(work: str) -> DataFrame:
        # 2 micro-batches (round-8 shave): each batch pays a Python
        # state-worker round per partition — the dominant cost — and
        # the result is PROVABLY chunk-count-invariant: per user the
        # emissions are prefix aggregates of a monotone (count, max),
        # so max-over-emissions = the total for ANY chunking >= 1
        # (the final groupBy below); the oracle is the batch
        # aggregate, untouched by the chunk count.
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=2)
        updates = (
            stream.select("user_id", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                running_stats,
                outputStructType="user_id long, n_events long, max_value double",
                stateStructType="n long, mx double",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        mem = run_to_memory(updates, work, mode="update")
        # counts/maxes are monotone across updates -> final state per user
        return (
            mem.groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("max_value").alias("max_value"),
            )
            .localCheckpoint()
        )

    return _with_scratch(go)


@query(
    "s_session_stream",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM flagged
), sessions AS (
  SELECT user_id,
         CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
         epoch(max(ts)) AS session_last_exact,
         count(*) AS n_events
  FROM numbered GROUP BY user_id, session_no
)
SELECT user_id, session_start, n_events FROM sessions
WHERE session_last_exact + 1800 + 600 <= (SELECT epoch(max(ts)) FROM events)
""",
)
def s_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user under streaming with a
    10-min watermark, append mode: a session emits once the watermark
    passes its end (last event + gap). The oracle replays the same
    closure rule over the gaps-and-islands batch twin — only sessions
    whose end + gap + delay precede the final watermark appear.
    Real streaming session-merge state; in-order replay keeps it
    deterministic."""

    def go(work: str) -> DataFrame:
        # 4 micro-batches — same final-watermark closure rule as above
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.unix_timestamp(F.col("w.start")).alias("session_start"),
                "n_events",
            )
        )
        return run_to_memory(agg, work, mode="append").localCheckpoint()

    return _with_scratch(go)


def _upsert_latest_event(spark: SparkSession, updates: DataFrame, target: str) -> None:
    """Merge into ``target``, the highest ``last_event_id`` per user
    winning (on a copy: the sink drops its ``seq_col``)."""
    from ..sinks.files import upsert_base, upsert_parquet

    base = upsert_base(spark, target, updates.schema)
    seq = updates.withColumn("_seq", F.col("last_event_id"))
    upsert_parquet(spark, base, seq, ["user_id"], target, seq_col="_seq")


@query(
    "s_foreach_upsert",
    oracle="""
SELECT user_id, event_id AS last_event_id, event_type AS last_type, value AS last_value
FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def s_foreach_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → keyed upsert sink via foreachBatch — the reference's
    R7/R9 consume-upsert loop as a Structured Streaming job: each
    micro-batch MERGEs into the target, ranked by event_id (verified
    ts-monotone); re-delivered keys resolve last-write-wins, so after
    in-order replay the table equals the batch per-user-latest.
    Exercises the real sink path the PostGIS/Delta writer uses, end to
    end, with an exact oracle."""

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        target = os.path.join(work, "target")
        sel = stream.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )

        q = (
            sel.writeStream.foreachBatch(lambda batch, _: _upsert_latest_event(spark, batch, target))
            .option("checkpointLocation", os.path.join(work, "ckpt_upsert"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(target).localCheckpoint()

    return _with_scratch(go)


_TYPE_WEIGHTS = [
    ("click", 1.0),
    ("view", 0.5),
    ("purchase", 10.0),
    ("signup", 5.0),
    ("error", 0.0),
]


@query(
    "s_static_join",
    oracle="""
SELECT e.event_type,
       count(*) AS n,
       CAST(CAST(SUM(CAST(e.value * CASE e.event_type
              WHEN 'click' THEN 1.0 WHEN 'view' THEN 0.5
              WHEN 'purchase' THEN 10.0 WHEN 'signup' THEN 5.0
              ELSE 0.0 END AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
         AS weighted_value
FROM events e
GROUP BY e.event_type
""",
)
def s_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriches against a static
    dimension (event-type weights) with a plain broadcast hash join per
    micro-batch — no streaming state at all, the pattern for joining a
    stream to reference/dimension data at scale. The weighted sum runs
    through the exact-decimal route, so the final table equals the
    batch twin bit-for-bit. 2 micro-batches (round-9 shave): the join
    is row-stateless and the complete-mode aggregate's final emission
    is the total over ALL input for any chunking ≥ 1 (DECIMAL sums are
    order-independent), so the replay chunk count is pure overhead —
    two batches still exercise the per-batch re-join + state update."""
    dim = spark.createDataFrame(_TYPE_WEIGHTS, "event_type string, weight double")

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=2)
        enriched = stream.join(F.broadcast(dim), "event_type")
        agg = enriched.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") * F.col("weight")).cast("decimal(28,10)"))
            .cast("double")
            .alias("weighted_value"),
        )
        return run_to_memory(agg, work, mode="complete").localCheckpoint()

    return _with_scratch(go)


@query(
    "s_stream_union",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""",
)
def s_stream_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of two independent streaming sources (disjoint halves of
    the replay corpus fed through two FileStreamSources) aggregated in
    complete mode — the multi-topic fan-in every Kafka deployment has
    (N topics → one logical stream). Spark runs each source's own
    offset tracking and unions per micro-batch; the final state must
    equal the single-source batch aggregate exactly."""

    def go(work: str) -> DataFrame:
        cache = _replay_chunk_cache(spark, sf_dir, 4, None)
        files = sorted(os.listdir(cache))
        srcs = []
        for sub, fs in (("a", files[::2]), ("b", files[1::2])):
            d = os.path.join(work, sub)
            _link_chunks(cache, fs, d)
            srcs.append(
                spark.readStream.schema(_EVENT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
            )
        agg = (
            srcs[0].unionByName(srcs[1])
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("total_value"),
            )
        )
        return run_to_memory(agg, work, mode="complete").localCheckpoint()

    return _with_scratch(go)


@query(
    "s_slide_watermark",
    oracle="""
SELECT win_start, count(*) AS n
FROM (
  SELECT CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 AS win_start FROM events
  UNION ALL
  SELECT CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - 1800 AS win_start FROM events
)
GROUP BY win_start
HAVING win_start + 3600 <= (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 600 FROM events)
""",
)
def s_slide_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked *sliding*-window counts (1 h size / 30 min slide) in
    append mode: every event feeds two overlapping windows, and a
    window emits only once the watermark (max event time − 10 min)
    passes its end — so the final two still-open windows are withheld.
    The oracle re-derives the windows as the two offset 30-min grid
    truncations and applies the same closure rule.

    Scale note: sliding state is (size/slide)× tumbling state; the
    watermark bounds it to ~2 open windows per key partition, which is
    what keeps this viable on an unbounded stream."""

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_timestamp(F.col("w.start")).alias("win_start"), "n")
        )
        return run_to_memory(agg, work, mode="append").localCheckpoint()

    return _with_scratch(go)


@query(
    "s_archive_sink",
    oracle="""
SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS n_ids
FROM events
GROUP BY event_type
""",
)
def s_archive_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming filesystem archiver (the R8 consumer as a REAL
    streaming job, not a batch twin): the replayed event stream writes
    straight to a parquet directory partitioned by event_type via the
    native file sink — exactly-once through the sink's commit log, no
    foreachBatch. The emitted result re-reads the archive and
    aggregates it; equality with the batch oracle proves the archive
    is complete and duplicate-free, and the count(DISTINCT) guards
    against double-committed files. At scale this is the
    Kafka->data-lake landing job; partitionBy gives the layer/date
    layout the reference's filesystem consumer writes."""

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        target = os.path.join(work, "archive")
        q = (
            stream.select("event_id", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", os.path.join(work, "ckpt_archive"))
            .partitionBy("event_type")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return (
            spark.read.parquet(target)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("event_id").alias("n_ids"),
            )
            .localCheckpoint()
        )

    return _with_scratch(go)


@query(
    "s_stream_left_join",
    oracle="""
WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT c.click_id, p.purchase_id, c.user_id
  FROM c JOIN p ON p.user_id = c.user_id
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
),
wm AS (
  SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
         - INTERVAL 10 MINUTE AS w
)
SELECT click_id, purchase_id, user_id FROM j
UNION ALL
SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id
FROM c, wm
WHERE c.click_id NOT IN (SELECT click_id FROM j)
  AND c.ts + INTERVAL 1 HOUR < wm.w
""",
)
def s_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with event-time bound: every click
    joins same-user purchases in the following hour; clicks that never
    match emit a NULL-extended row — but only once the watermark has
    passed their match window, which is the part an engine must get
    right (emit too early and a late purchase contradicts the NULL
    row). The closure rule is deterministic under the pinned replay
    (in-order chunks + final no-data micro-batch): an unmatched click
    becomes a NULL row iff click_ts + 1 h < min(max click ts, max
    purchase ts) − 10 min (Spark's default multipleWatermarkPolicy is
    'min': the global watermark is the LEAST of the two sides' — the
    empirically pinned detail here) — clicks
    whose window is still open when the stream drains stay withheld,
    and the oracle mirrors exactly that (same style as
    s_session_stream's withheld-final-window rule). State stays
    bounded by the watermark on both sides at any scale."""

    def go(work: str) -> DataFrame:
        # 2 replay chunks (round-7 streaming-floor shave): this job's
        # result is chunk-count-INVARIANT — per-event emission / final-
        # watermark closure only, no per-chunk prefix oracle — and two
        # batches still exercise cross-batch state; 4 -> 2 chunks cut
        # ~1.5-2 s of per-micro-batch state-commit floor at sf0.1
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=2)
        clicks = (
            stream.where(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "10 minutes")
        )
        purchases = (
            stream.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "10 minutes")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("click_ts"))
            & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            "leftOuter",
        ).select("click_id", "purchase_id", "user_id")
        return run_to_memory(joined, work, mode="append").localCheckpoint()

    return _with_scratch(go)


def _update_mode_oracle() -> str:
    batches = []
    for b in range(1, 5):
        batches.append(
            f"""
  SELECT event_type,
         COUNT(CASE WHEN rn <= {b} * per THEN 1 END) AS n,
         COUNT(CASE WHEN rn > {b - 1} * per AND rn <= {b} * per THEN 1 END) AS delta
  FROM ordered, params GROUP BY event_type"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM ({q})" for q in batches)
    return f"""
WITH ordered AS (
  SELECT event_type, row_number() OVER (ORDER BY ts) AS rn FROM events
),
params AS (SELECT (max(rn) + 3) // 4 AS per FROM ordered)
SELECT event_type, n FROM ({union}) WHERE delta > 0
"""


@query("s_update_mode", oracle=_update_mode_oracle())
def s_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update output mode: a running per-type count where each
    micro-batch emits ONLY the keys whose aggregate changed — the
    third output-mode contract (append: s_session_stream, complete:
    s_stateful_count) and the one incremental dashboards consume. The
    memory sink accumulates each batch's updates, so the final table
    is the full update LOG: one (type, cumulative-count) row per
    micro-batch in which that type appeared. The oracle replays
    exactly that from the batch twin — per-chunk prefix counts (the
    replay's ceil(n/4) row partitioning mirrored) filtered to keys
    with a nonzero in-chunk delta. Deterministic because the chunked
    arrival order is pinned and ts is corpus-verified globally
    unique."""

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        return run_to_memory(agg, work, mode="update").localCheckpoint()

    return _with_scratch(go)


@query(
    "s_chained_aggs",
    oracle="""
WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
per_user AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS hour_end,
         user_id, count(*) AS n
  FROM events
  GROUP BY 1, 2, user_id
)
SELECT hour_start,
       count(*) AS n_users,
       CAST(SUM(n) AS BIGINT) AS n_events,
       max(n) AS max_user_events
FROM per_user, wm
WHERE hour_end <= wm.w
GROUP BY hour_start
""",
)
def s_chained_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two CHAINED stateful aggregations in one streaming job (a
    Spark 3.4+ capability: multiple stateful operators in append
    mode): hourly per-user counts, then an hourly rollup over users —
    the classic two-level dashboard cube, incrementalized. The second
    aggregate keys on window_time() of the first, so both operators
    share the event-time axis and the SAME closure rule: an hour
    emits once the watermark (max ts − 10 min under the pinned
    replay) passes its end — which the oracle states directly. State
    is two window stores, both watermark-bounded."""

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        per_user = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rollup = (
            per_user.groupBy(F.window(F.window_time("w"), "1 hour").alias("w2"))
            .agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum("n").alias("n_events"),
                F.max("n").alias("max_user_events"),
            )
            .select(
                F.unix_timestamp(F.col("w2.start")).alias("hour_start"),
                "n_users",
                "n_events",
                "max_user_events",
            )
        )
        return run_to_memory(rollup, work, mode="append").localCheckpoint()

    return _with_scratch(go)


@query(
    "s_stream_fullouter_join",
    oracle="""
WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT c.click_id, p.purchase_id, c.user_id, c.ts AS c_ts, p.ts AS p_ts
  FROM c JOIN p ON p.user_id = c.user_id
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
),
wm AS (
  SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
         - INTERVAL 10 MINUTE AS w
)
SELECT click_id, purchase_id, user_id FROM j
UNION ALL
SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id
FROM c, wm
WHERE c.click_id NOT IN (SELECT click_id FROM j)
  AND c.ts + INTERVAL 1 HOUR < wm.w
UNION ALL
SELECT CAST(NULL AS BIGINT) AS click_id, p.purchase_id, p.user_id
FROM p, wm
WHERE p.purchase_id NOT IN (SELECT purchase_id FROM j)
  AND p.ts < wm.w
""",
)
def s_stream_fullouter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join with event-time bound — both
    sides' unmatched rows must eventually surface, each under its own
    watermark-derived closure rule. Spark derives per-side state
    eviction from the join's time constraint: an unmatched CLICK emits
    its NULL row once the global watermark passes click_ts + 1 h (no
    purchase in its match window can still arrive — same rule
    s_stream_left_join pinned); an unmatched PURCHASE emits once the
    watermark passes p_ts itself (a matching click would need
    click_ts <= p_ts, impossible once the watermark is past it). The
    global watermark is the MIN of the two sides' (multipleWatermark
    Policy default), and rows whose closure point the final watermark
    never reached stay withheld when the stream drains. The oracle
    states all three row classes directly. State on both sides stays
    watermark-bounded at any scale.

    2 micro-batches (round-9 shave): chunk-count-invariant like
    s_stream_join (ts-ordered arrival means matched pairs are never
    lost to early eviction — proof in that docstring) PLUS the NULL
    rows' closure set depends only on the FINAL watermark,
    min(max click_ts, max p_ts) − 10 min, a function of the total
    corpus alone; the trailing no-data micro-batch
    (noDataMicroBatches, on by default) applies it identically at any
    chunking. Intermediate watermark values differ across chunkings —
    only emission TIMING moves, never the set.
    tests/test_streaming.py::test_fullouter_join_chunk_count_invariant
    pins 2-vs-4 equality."""

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=_STREAM_JOIN_CHUNKS)
        clicks = (
            stream.where(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "10 minutes")
        )
        purchases = (
            stream.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "10 minutes")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("click_ts"))
            & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            "fullOuter",
        ).select(
            "click_id",
            "purchase_id",
            F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
        )
        return run_to_memory(joined, work, mode="append").localCheckpoint()

    return _with_scratch(go)


@query(
    "src_statestore",
    oracle="""
SELECT user_id, count(*) AS n_events
FROM events
GROUP BY user_id
""",
)
def src_statestore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store READER (Spark 4 state data source): run a stateful
    streaming aggregation, then open its checkpoint's state store as a
    *batch* DataFrame — the introspection path an operator uses to
    audit, repair, or bootstrap streaming state without replaying the
    topic. The keyed state of a running count must equal the batch
    aggregate exactly, which is what the oracle checks. Reading state
    N partitions at a time is an ordinary parquet-like scan of the
    HDFS-backed store — no driver materialization; at scale the read
    parallelizes per state-store partition."""

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        counts = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
        spark_ = stream.sparkSession
        prev = spark_.conf.get("spark.sql.shuffle.partitions")
        spark_.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            name = "mem_" + uuid.uuid4().hex[:12]
            ckpt = os.path.join(work, "ckpt_" + name)
            q = (
                counts.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            state = spark_.read.format("statestore").load(ckpt)
            return state.select(
                F.col("key.user_id").alias("user_id"),
                F.col("value.count").alias("n_events"),
            ).localCheckpoint()
        finally:
            spark_.conf.set("spark.sql.shuffle.partitions", prev)

    return _with_scratch(go)


def _event_timeout_oracle() -> str:
    """Unrolled 4-batch + final-drain state machine for
    s_event_timeout: one row per user carries (open-count, open-last)
    through CASE cascades; a fire at step k emits the open state and
    resets it before batch k's arrivals are folded in."""
    cols = ", ".join(
        f"count(*) FILTER (WHERE b = {k}) AS c{k}, max(us) FILTER (WHERE b = {k}) AS l{k}"
        for k in range(1, 5)
    )
    wms = ", ".join(
        f"max(us) FILTER (WHERE b <= {k}) // 1000 - 600000 AS w{k}" for k in range(1, 5)
    )
    sql = f"""
WITH ordered AS (
  SELECT user_id, ts, event_type, value,
         row_number() OVER (ORDER BY ts) AS rn, count(*) OVER () AS n
  FROM events
),
f AS (
  SELECT user_id, CAST((rn - 1) // ((n + 3) // 4) AS INT) + 1 AS b,
         CAST(epoch_us(ts) AS BIGINT) AS us
  FROM ordered WHERE event_type = 'signup' AND value > 150
),
per AS (SELECT user_id, {cols} FROM f GROUP BY user_id),
wm AS (SELECT {wms} FROM f),
s1 AS (
  SELECT user_id, COALESCE(c1, 0) AS oc, l1 AS ol, c2, l2, c3, l3, c4, l4
  FROM per
)"""
    prev = "s1"
    for k in range(2, 5):
        sql += f""",
fire{k} AS (
  SELECT s.*, (s.oc > 0 AND COALESCE(s.c{k}, 0) = 0
               AND wm.w{k - 1} > s.ol // 1000 + 1800000) AS f{k}
  FROM {prev} s, wm
),
s{k} AS (
  SELECT user_id,
         (CASE WHEN f{k} THEN 0 ELSE oc END) + COALESCE(c{k}, 0) AS oc,
         (CASE WHEN COALESCE(c{k}, 0) > 0 THEN
             (CASE WHEN f{k} OR ol IS NULL THEN l{k}
                   ELSE (CASE WHEN l{k} > ol THEN l{k} ELSE ol END) END)
           ELSE (CASE WHEN f{k} THEN NULL ELSE ol END) END) AS ol,
         {", ".join(f"c{j}, l{j}" for j in range(k + 1, 5)) + "," if k < 4 else ""}
         f{k}, oc AS pre_oc{k}, ol AS pre_ol{k}
  FROM fire{k}
)"""
        prev = f"s{k}"
    emits = " UNION ALL ".join(
        f"SELECT user_id, pre_oc{k} AS n_events, pre_ol{k} AS last_us FROM s{k} WHERE f{k}"
        for k in range(2, 5)
    )
    sql += f""",
drain AS (
  SELECT s.user_id, s.oc AS n_events, s.ol AS last_us
  FROM s4 s, wm
  WHERE s.oc > 0 AND wm.w4 > s.ol // 1000 + 1800000
)
{emits}
UNION ALL
SELECT * FROM drain
"""
    return sql


@query("s_event_timeout", oracle=_event_timeout_oracle())
def s_event_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time TIMER semantics: a custom stateful operator that
    emits only when a key's inactivity timer fires — the third leg of
    the arbitrary-state API after update-on-data (s_custom_state) and
    window eviction (s_session_stream). Per-user state accumulates a
    thinned signup stream; every update arms an event-time timeout at
    last-seen + 30 min; when the *watermark* passes that mark with no
    new data for the key, Spark invokes the function with
    ``hasTimedOut`` and the operator emits one churn record and drops
    the state — the canonical inactivity/churn detector, impossible
    to express as a windowed aggregate because emission is driven by
    absence of data.

    Deterministic under the pinned replay, so fully oracle-checked:
    timers are evaluated per micro-batch against the previous batch's
    watermark (max seen event-time ms − 10 min), a key with arrivals
    in the batch is served data instead of its timer, and the final
    availableNow drain batch fires surviving timers against the last
    watermark — all three rules pinned empirically at two scales and
    mirrored in the oracle's unrolled per-batch state machine.
    Emitted timestamps are µs BIGINTs (never raw ts). State is one
    (count, last_us) pair per key, watermark-bounded at any scale."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def churn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, last_us = state.get
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "last_us": [last_us]}
            )
            state.remove()
            return
        n, last_us = state.get if state.exists else (0, None)
        for pdf in pdfs:
            if len(pdf):
                n += len(pdf)
                m = int(pd.to_datetime(pdf["ts"]).astype("int64").max() // 1000)
                last_us = m if last_us is None else max(last_us, m)
        state.update((n, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + 30 * 60 * 1000)

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        thinned = stream.where(
            (F.col("event_type") == "signup") & (F.col("value") > 150)
        )
        out = (
            thinned.withWatermark("ts", "10 minutes")
            .groupBy("user_id")
            .applyInPandasWithState(
                churn,
                outputStructType="user_id long, n_events long, last_us long",
                stateStructType="n long, last_us long",
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )
        return run_to_memory(out, work, mode="append").localCheckpoint()

    return _with_scratch(go)


@query(
    "s_suffstats_stream",
    oracle="""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
       event_type,
       count(*) AS n,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)
                * CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS ss
FROM events
GROUP BY 1, 2
HAVING hour_start + 3600 <= (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 600 FROM events)
""",
)
def s_suffstats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sufficient statistics: watermarked tumbling 1-hour
    windows emitting exact (count, sum, sum-of-squares) per event type
    on the same centi-unit integer grid as q_rolling_variance — the
    live feed that keeps a variance/z-score monitoring band current
    without any batch backfill.  Counts and integer sums are exactly
    the associative state Structured Streaming's incremental aggs
    maintain, so the appended windows equal the batch aggregate under
    the standard closure rule (append mode withholds the final open
    window; oracle mirrors it).  Scale: per-window-per-type state rows
    only; the downstream 24-row variance window runs on the sink table
    (q_rolling_variance), keeping the stream's state bounded."""

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        x = F.floor(F.col("value") * 100).cast("long")
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(x).alias("s"),
                F.sum(x * x).alias("ss"),
            )
            .select(
                F.unix_timestamp(F.col("w.start")).alias("hour_start"),
                "event_type",
                "n",
                "s",
                "ss",
            )
        )
        return run_to_memory(agg, work, mode="append").localCheckpoint()

    return _with_scratch(go)


@query(
    "s_stream_semi_join",
    oracle="""
WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
SELECT c.click_id, c.user_id
FROM c
WHERE EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
              AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
""",
)
def s_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join: clicks that convert (a same-user
    purchase within the following hour) emit exactly once, with no
    payload from the purchase side — the streaming EXISTS.  Unlike the
    left-outer closure rule (s_stream_left_join), semi output is
    timing-independent: membership in the result depends only on
    whether a match ever arrives, and Spark's semi-join state emits
    the buffered left row at its FIRST match and tombstones it, so
    duplicates are structurally impossible and the batch EXISTS oracle
    matches with no watermark mirror.  Watermarks + the event-time
    bound still size the state store (both sides evict at wm - 1 h)."""

    def go(work: str) -> DataFrame:
        # 2 replay chunks (round-7 streaming-floor shave): this job's
        # result is chunk-count-INVARIANT — per-event emission / final-
        # watermark closure only, no per-chunk prefix oracle — and two
        # batches still exercise cross-batch state; 4 -> 2 chunks cut
        # ~1.5-2 s of per-micro-batch state-commit floor at sf0.1
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=2)
        clicks = (
            stream.where(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "10 minutes")
        )
        purchases = (
            stream.where(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "10 minutes")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("click_ts"))
            & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            "leftSemi",
        ).select("click_id", "user_id")
        return run_to_memory(joined, work, mode="append").localCheckpoint()

    return _with_scratch(go)


@query(
    "s_rate_source",
    oracle="""
WITH vals AS (SELECT unnest(range(0, 5000)) AS v)
SELECT CAST(v % 7 AS BIGINT) AS klass,
       count(*) AS n,
       CAST(SUM(v) AS BIGINT) AS v_sum,
       max(v) AS v_max
FROM vals
GROUP BY 1
""",
)
def s_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in ``rate-micro-batch`` source — Spark's deterministic
    load generator (unlike plain ``rate``, each micro-batch carries an
    exact, reproducible value range): one triggered batch of 5000
    sequential values, aggregated by residue class.  This pins the
    source's contract (values 0..rowsPerBatch-1 on the first batch
    from a fixed startTimestamp) against a closed-form oracle — the
    harness every streaming-throughput test in this repo could be
    driven by without a file corpus.  sf_dir is unused by
    construction: the source is synthetic."""

    def go(work: str) -> DataFrame:
        stream = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 5000)
            .option("startTimestamp", 0)
            .load()
        )
        agg = stream.groupBy((F.col("value") % 7).alias("klass")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("v_sum"),
            F.max("value").alias("v_max"),
        )
        name = "mem_rate_" + uuid.uuid4().hex[:8]
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(work, "ckpt_" + name))
            .trigger(once=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name).localCheckpoint()

    return _with_scratch(go)


@query(
    "s_join_agg_chain",
    oracle="""
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT c.ts AS cts
  FROM c JOIN p ON p.user_id = c.user_id
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
),
wm AS (
  SELECT least((SELECT CAST(floor(epoch(max(ts))) AS BIGINT) FROM c),
               (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) FROM p)) - 600 AS w
)
SELECT CAST(epoch(date_trunc('hour', cts)) AS BIGINT) AS hour_start,
       count(*) AS n_pairs
FROM j, wm
GROUP BY 1, w
HAVING hour_start + 3600 <= w
""",
)
def s_join_agg_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained stateful operators: a stream-stream inner join
    (click -> same-user purchase within 1 h) feeding a watermarked
    tumbling-hour aggregate of conversion pairs, in append mode — the
    multi-stateful pipeline shape Spark only fully supports since the
    multiple-stateful-operator fix (3.5+), and the reason the repo
    pins it: the JOIN's output inherits event time from the club of
    BOTH inputs, so the downstream window closes on the GLOBAL
    watermark = min of the two sides' maxima minus the delay
    (multipleWatermarkPolicy 'min', same empirical rule as
    s_stream_left_join), which the oracle mirrors in its HAVING
    closure.  State stays bounded end-to-end: the join evicts beyond
    the 1 h bound + delay, the agg holds only open windows.  Scale:
    join keyed on user, window agg on the joined stream — two
    shuffles, each watermark-bounded."""

    def go(work: str) -> DataFrame:
        # 2 replay chunks (round-7 streaming-floor shave): this job's
        # result is chunk-count-INVARIANT — per-event emission / final-
        # watermark closure only, no per-chunk prefix oracle — and two
        # batches still exercise cross-batch state; 4 -> 2 chunks cut
        # ~1.5-2 s of per-micro-batch state-commit floor at sf0.1
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=2)
        clicks = (
            stream.where(F.col("event_type") == "click")
            .select("user_id", F.col("ts").alias("click_ts"))
            .withWatermark("click_ts", "10 minutes")
        )
        purchases = (
            stream.where(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts"))
            .withWatermark("p_ts", "10 minutes")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("click_ts"))
            & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            "inner",
        )
        agg = (
            joined.groupBy(F.window("click_ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .select(F.unix_timestamp(F.col("w.start")).alias("hour_start"), "n_pairs")
        )
        return run_to_memory(agg, work, mode="append").localCheckpoint()

    return _with_scratch(go)


def _cdc_apply_oracle() -> str:
    per_batch = []
    for b in range(1, 5):
        per_batch.append(f"""
  SELECT o.user_id,
         CASE WHEN arg_max(o.event_type, o.rn) = 'signup' THEN 0 ELSE 1 END AS live,
         CASE WHEN arg_max(o.event_type, o.rn) = 'signup' THEN -1
              ELSE CAST(floor(arg_max(o.value, o.rn) * 100) AS BIGINT) END AS value_centi,
         arg_max(o.event_id, o.rn) AS last_event_id
  FROM ordered o, params
  WHERE o.rn <= {b} * per
  GROUP BY o.user_id
  HAVING max(o.rn) > {b - 1} * min(per)""")
    union = " UNION ALL ".join(f"SELECT * FROM ({q})" for q in per_batch)
    return f"""
WITH ordered AS (
  SELECT event_id, user_id, event_type, value,
         row_number() OVER (ORDER BY ts) AS rn
  FROM events
),
params AS (SELECT (max(rn) + 3) // 4 AS per FROM ordered)
{union}
"""


@query("s_cdc_apply", oracle=_cdc_apply_oracle())
def s_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with DELETE tombstones as a streaming stateful
    operator: each event is an upsert of the user's current value —
    except 'signup' events, which model a DELETE of the key — and
    per-key GroupState holds (last_id, live, value), emitting the
    key's post-batch state every micro-batch it receives ops (the
    update LOG a downstream materialized view consumes; deleted keys
    emit an explicit live=0/-1 tombstone record rather than silently
    vanishing, so consumers can retract).  Last-writer-wins is by
    event_id (ts-monotone, unique), so only each batch's max-id op
    touches state — the oracle unrolls the 4 pinned replay chunks as
    prefix states exactly like s_update_mode.  This is the streaming
    twin of sink_upsert (R7) with the delete half added.  Scale:
    state is 3 scalars per live key, evictable by retention policy;
    one shuffle on the key."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def apply_ops(key, pdfs, state: GroupState):
        import math

        last_id, live, val = state.get if state.exists else (-1, 0, -1)
        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            idx = pdf["event_id"].idxmax()
            row = pdf.loc[idx]
            if best is None or row["event_id"] > best["event_id"]:
                best = row
        if best is not None and int(best["event_id"]) > last_id:
            last_id = int(best["event_id"])
            if best["event_type"] == "signup":
                live, val = 0, -1
            else:
                live, val = 1, int(math.floor(float(best["value"]) * 100))
        state.update((last_id, live, val))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "live": [live],
                "value_centi": [val],
                "last_event_id": [last_id],
            }
        )

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        updates = (
            stream.select("event_id", "user_id", "event_type", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                apply_ops,
                outputStructType=(
                    "user_id long, live int, value_centi long, last_event_id long"
                ),
                stateStructType="last_id long, live int, val long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        return run_to_memory(updates, work, mode="update").localCheckpoint()

    return _with_scratch(go)


def _stream_scale_oracle() -> str:
    per_batch = []
    for b in range(1, 5):
        per_batch.append(f"""
  SELECT o.event_id,
         CASE WHEN st.hi = st.lo THEN 500
              ELSE (o.vc - st.lo) * 1000 // (st.hi - st.lo) END AS scaled_permille
  FROM ordered o
  JOIN (SELECT event_type,
               min(vc) AS lo, max(vc) AS hi
        FROM ordered, params WHERE rn <= {b} * per
        GROUP BY event_type) st
    ON st.event_type = o.event_type
  CROSS JOIN params
  WHERE o.rn > {b - 1} * per AND o.rn <= {b} * per""")
    union = " UNION ALL ".join(f"SELECT * FROM ({q})" for q in per_batch)
    return f"""
WITH ordered AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100) AS BIGINT) AS vc,
         row_number() OVER (ORDER BY ts) AS rn
  FROM events
),
params AS (SELECT (max(rn) + 3) // 4 AS per FROM ordered)
SELECT event_id, CAST(scaled_permille AS BIGINT) AS scaled_permille
FROM ({union})
"""


@query("s_stream_minmax_scale", oracle=_stream_scale_oracle())
def s_stream_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE feature normalization as a stateful stream: per-type
    (min, max) state absorbs each micro-batch FIRST, then that
    batch's rows emit min-max-scaled to integer permille — the
    normalize-at-ingest pattern whose early outputs legitimately
    differ from a batch recompute (state has only seen a prefix),
    which is exactly what the oracle mirrors: per replay chunk, the
    chunk's rows scaled by the PREFIX extrema.  Deterministic because
    the pinned chunking fixes every prefix.  Degenerate hi=lo pins
    the midpoint (dt=0 guard class).  Scale: state is two scalars
    per key; rows stream through one shuffle on the key — the same
    shape serving-time feature pipelines deploy."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def scale_batch(key, pdfs, state: GroupState):
        lo, hi = state.get if state.exists else (None, None)
        frames = [pdf for pdf in pdfs if len(pdf) > 0]
        if not frames:
            state.update((lo, hi))
            return
        ids, vals = [], []
        for pdf in frames:
            ids.extend(int(e) for e in pdf["event_id"])
            vals.extend(int(v) for v in pdf["vc"])
        blo, bhi = min(vals), max(vals)
        lo = blo if lo is None else min(lo, blo)
        hi = bhi if hi is None else max(hi, bhi)
        state.update((lo, hi))
        span = hi - lo
        scaled = [500 if span == 0 else (v - lo) * 1000 // span for v in vals]
        yield pd.DataFrame({"event_id": ids, "scaled_permille": scaled})

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        rows = (
            stream.select(
                "event_id",
                "event_type",
                F.floor(F.col("value") * 100).cast("long").alias("vc"),
            )
            .groupBy("event_type")
            .applyInPandasWithState(
                scale_batch,
                outputStructType="event_id long, scaled_permille long",
                stateStructType="lo long, hi long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        return run_to_memory(rows, work, mode="update").localCheckpoint()

    return _with_scratch(go)


@query(
    "s_dead_letter_split",
    oracle="""
SELECT 'main' AS route, event_type, count(*) AS n,
       min(event_id) AS min_id, max(event_id) AS max_id
FROM events WHERE value >= 1.0
GROUP BY event_type
UNION ALL
SELECT 'dlq' AS route, event_type, count(*) AS n,
       min(event_id) AS min_id, max(event_id) AS max_id
FROM events WHERE value < 1.0
GROUP BY event_type
""",
)
def s_dead_letter_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing: ONE stream split inside foreachBatch into
    the main archive and a quarantine (DLQ) directory — the
    operational pattern every production ingest needs (malformed /
    out-of-contract records must land SOMEWHERE auditable, never be
    dropped silently; the reference's consumer logs-and-skips, this
    engine quarantines).  The validity rule here is a value-range
    contract; src_csv_malformed is the parse-level twin.  Exactly-once
    per route comes from idempotent per-batch parquet parts keyed by
    batch_id (re-delivered batches overwrite their own files, the
    standard foreachBatch idempotence recipe).  The audit re-reads
    BOTH directories; main+dlq must tile the input exactly — a row
    routed to both (or neither) breaks the hash.  Scale: the split is
    two filters on the same micro-batch scan; no extra shuffle."""

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        main_dir = os.path.join(work, "route_main")
        dlq_dir = os.path.join(work, "route_dlq")
        sel = stream.select("event_id", "event_type", "value")

        def handle(batch_df, batch_id):
            ok = batch_df.where(F.col("value") >= 1.0)
            bad = batch_df.where(F.col("value") < 1.0)
            # idempotent per-batch parts: a re-run of batch N replaces
            # exactly its own files on both routes
            ok.write.mode("overwrite").parquet(
                os.path.join(main_dir, f"batch={batch_id}")
            )
            bad.write.mode("overwrite").parquet(
                os.path.join(dlq_dir, f"batch={batch_id}")
            )

        q = (
            sel.writeStream.foreachBatch(handle)
            .option("checkpointLocation", os.path.join(work, "ckpt_dlq"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        def audit(path: str, route: str) -> DataFrame:
            return (
                spark.read.parquet(path)
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("event_id").alias("min_id"),
                    F.max("event_id").alias("max_id"),
                )
                .select(F.lit(route).alias("route"), "*")
            )

        return (
            audit(main_dir, "main")
            .unionByName(audit(dlq_dir, "dlq"))
            .localCheckpoint()
        )

    return _with_scratch(go)


@query(
    "s_warm_start_upsert",
    oracle="""
WITH latest AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
SELECT user_id,
       event_id AS last_event_id,
       event_type AS last_type,
       CAST(floor(value * 100) AS BIGINT) AS last_value_centi
FROM latest WHERE rn = 1
""",
)
def s_warm_start_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill → streaming HANDOFF: the keyed target is first primed
    by a BATCH pass over history (events up to the split point), then
    the live stream (the remainder, replayed) continues upserting into
    the same table — the migration pattern every batch-to-streaming
    cutover runs, where the bug class is the seam (records at the
    boundary applied twice, or the stream clobbering newer history
    with older events).  Last-write-wins keyed on the ts-monotone
    event_id makes the seam idempotent, and the oracle is simply the
    per-user latest over ALL events — if the handoff double-applied or
    dropped the boundary, the hash breaks.  Scale: the backfill is one
    batch job; the streaming continuation is s_foreach_upsert's merge
    loop unchanged — the handoff costs nothing but the split
    bookkeeping."""

    def go(work: str) -> DataFrame:
        target = os.path.join(work, "warm_target")
        e = load_table(spark, sf_dir, "events")
        # split at the replay harness's chunk-0 boundary: first quarter
        # (by ts order) is "history", the rest arrives as the stream
        n = e.count()
        per = (n + 3) // 4
        hist_ids = (
            e.orderBy("ts").limit(per).select("event_id")
        )
        sel_cols = [
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.floor(F.col("value") * 100).cast("long").alias("last_value_centi"),
        ]
        hist = e.join(F.broadcast(hist_ids), "event_id").select(*sel_cols)
        _upsert_latest_event(spark, hist, target)

        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
        live = stream.join(
            F.broadcast(hist_ids), "event_id", "left_anti"
        ).select(*sel_cols)

        q = (
            live.writeStream.foreachBatch(lambda batch, _: _upsert_latest_event(spark, batch, target))
            .option("checkpointLocation", os.path.join(work, "ckpt_warm"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(target).localCheckpoint()

    return _with_scratch(go)


@query(
    "s_rocksdb_state",
    oracle="""
SELECT user_id, count(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS v_centi,
       max(event_id) AS max_id
FROM events
GROUP BY user_id
""",
)
def s_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed streaming aggregation under the **RocksDB state store
    provider** — the backend that matters at 100 TB, where keyed state
    outgrows the default in-heap HDFSBackedStateStore (RocksDB spills
    to local SSD, bounds executor heap, and ships changelogs to the
    checkpoint instead of full snapshots).  Functionally identical to
    [s_stateful_count]'s complete-mode aggregate — the POINT is that
    swapping the state backend never changes results, so the same
    batch oracle pins it.  Per user: event count, centi-unit value
    mass (floor(value*100) — one IEEE double product + floor, identical
    in both engines), max event id.  The provider is set per-run and
    restored; Spark reads it at query start, so the scope is exactly
    this stream.  Scale: state is hash-partitioned by user_id across
    executors; with RocksDB + changelog checkpointing the per-batch
    checkpoint cost is O(delta), not O(state)."""

    def go(work: str) -> DataFrame:
        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=4)
            agg = stream.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 100).cast("long"))
                .cast("long")
                .alias("v_centi"),
                F.max("event_id").alias("max_id"),
            )
            return run_to_memory(agg, work, mode="complete").localCheckpoint()
        finally:
            # restore EXACTLY: an explicit set of the default is not the
            # same session state as unset (and the test asserts so)
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    return _with_scratch(go)


@query(
    "s_subseq_stream",
    oracle=_subseq_prefix() + """,
scored AS (
  SELECT user_id, event_id AS start_id,
         list_reduce(list_transform(range(1, 9),
           i -> (wv[i] - p[i]) * (wv[i] - p[i])), (x, y) -> x + y) AS dist
  FROM win, pat WHERE len(wv) = 8
)
SELECT user_id, start_id, dist FROM scored WHERE dist <= 100000000
""",
)
def s_subseq_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING subsequence similarity search — the actual setting of
    EDBT'19 ("Time Series Similarity Search for Streaming Data"): the
    query pattern is static config (the batch [q_subseq_search]
    pattern, 8 rows collected once pre-stream, like a static-join dim);
    each user's live event stream slides an 8-window and every window
    within Euclidean distance 1e8 of the pattern is emitted AS IT
    CLOSES.  The carried per-key state is exactly the last 7
    centi-integer values (+ the window-start ids) in explicit
    GroupState — O(w) per key, the minimal sketch this operator needs —
    so matches spanning micro-batch boundaries are found, which is the
    point of the stateful formulation.  Arithmetic is the exact BIGINT
    sum-of-squares of the batch twin, so the append-mode match set
    equals the batch scan verbatim (no watermark closure rule: matches
    emit per event, windows never wait).  Threshold 1e8 sits on the
    MEASURED distance distribution: 5 / 1160 / 75 matches at
    sf0.001/0.01/0.1 — never vacuous.  Scale: state is w integers per
    key, updates are per-event O(w); the pattern broadcast and the
    hash-partitioned key state are the same dataflow the paper shards."""
    import numpy as np
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    pat_rows = ev.orderBy("user_id", "event_id").limit(8).collect()  # 8-row seed
    pattern = [
        int(np.floor(r["value"] * 100))
        for r in sorted(pat_rows, key=lambda r: r["event_id"])
    ]

    def matcher(key, pdfs, state: GroupState):
        ids, vs = ([], [])
        if state.exists:
            prev_ids, prev_vs = state.get
            ids, vs = [int(x) for x in prev_ids], [int(x) for x in prev_vs]
        pdf = pd.concat(list(pdfs)).sort_values("event_id")
        out_sid, out_dist = [], []
        evs = np.floor(pdf["value"].to_numpy() * 100).astype("int64")
        for eid, v in zip(pdf["event_id"].to_numpy(), evs):
            ids.append(int(eid))
            vs.append(int(v))
            if len(vs) >= 8:
                d = sum((a - b) * (a - b) for a, b in zip(vs[-8:], pattern))
                if d <= 100_000_000:
                    out_sid.append(ids[-8])
                    out_dist.append(d)
        state.update((ids[-7:], vs[-7:]))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_sid),
                "start_id": out_sid,
                "dist": out_dist,
            }
        )

    def go(work: str) -> DataFrame:
        # 2 replay chunks (round-7 streaming-floor shave): this job's
        # result is chunk-count-INVARIANT — per-event emission / final-
        # watermark closure only, no per-chunk prefix oracle — and two
        # batches still exercise cross-batch state; 4 -> 2 chunks cut
        # ~1.5-2 s of per-micro-batch state-commit floor at sf0.1
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=2)
        matches = (
            stream.select("user_id", "event_id", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                matcher,
                outputStructType="user_id long, start_id long, dist long",
                stateStructType="ids array<long>, vs array<long>",
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        return run_to_memory(matches, work, mode="append").localCheckpoint()

    return _with_scratch(go)


_SGA_BUDGET = 500


@query(
    "s_grad_accum_stream",
    oracle=f"""
WITH r AS (
  SELECT user_id, v,
         CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) - v
           AS cum_before
  FROM (SELECT user_id, event_id, CAST(floor(value) AS BIGINT) AS v
        FROM events)
)
SELECT user_id, cum_before // {_SGA_BUDGET} AS step_id,
       count(*) AS n_events,
       CAST(SUM(v) AS BIGINT) AS step_mass
FROM r GROUP BY 1, 2
""",
)
def s_grad_accum_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gradient-accumulation boundaries — the online twin of
    m_grad_accum_plan: per user, events arrive in time order and an
    optimizer step closes whenever the RUNNING floor(value) mass
    crosses the next 500-unit boundary (a boundary-spanning event
    belongs wholly to the step it starts in). Implemented as a custom
    stateful operator (applyInPandasWithState): state is three
    BIGINTs — the running cumulative mass plus the open step's partial
    (count, mass) — so state stays O(1) per key at any stream length
    (the partial mass is genuinely state: a boundary-spanning event's
    overshoot belongs to the previous step, so it is NOT derivable
    from the cum alone). Every micro-batch emits the touched steps' so-far totals;
    emissions per (user, step) are monotone, so the final table is the
    per-key MAX over updates (the s_custom_state finalization rule)
    and must equal the batch window aggregate the oracle states.
    Within-batch event order is restored by an explicit event_id sort
    in the kernel (chunk files arrive time-ordered; intra-batch row
    order is not guaranteed). Measured non-vacuity: per-user mass
    ~3.3k at every scale (min 1438) -> >=3 steps per user.

    Scale: per-key state is 2 integers; each micro-batch is one
    Python state round per partition (4 state partitions, the
    run_to_memory tuning)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def accum(key, pdfs, state: GroupState):
        import numpy as np

        cum, n_open, m_open = state.get if state.exists else (0, 0, 0)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values("event_id")
        v = np.floor(pdf["value"].to_numpy()).astype(np.int64)
        if len(v) == 0:
            return
        totals = cum + np.cumsum(v)
        steps = (totals - v) // _SGA_BUDGET  # step of each event
        old_open = cum // _SGA_BUDGET
        out_steps, out_n, out_mass = [], [], []
        for s in np.unique(steps):
            in_s = steps == s
            n_s = int(in_s.sum())
            mass_s = int(v[in_s].sum())
            if s == old_open:  # continue the previously-open step:
                # the partial MASS must be carried in state — it is
                # NOT cum - step*budget, because a boundary-spanning
                # event's overshoot belongs to the PREVIOUS step
                # (first cut leaked the overshoot into the open step,
                # caught by the offline 2-chunk simulation)
                n_s += n_open
                mass_s += m_open
            out_steps.append(int(s))
            out_n.append(n_s)
            out_mass.append(mass_s)
        new_cum = int(totals[-1])
        new_open = new_cum // _SGA_BUDGET
        if out_steps[-1] == new_open:
            state.update((new_cum, out_n[-1], out_mass[-1]))
        else:
            state.update((new_cum, 0, 0))
        yield pd.DataFrame(
            {
                "user_id": np.full(len(out_steps), key[0], dtype=np.int64),
                "step_id": np.array(out_steps, dtype=np.int64),
                "n_events": np.array(out_n, dtype=np.int64),
                "step_mass": np.array(out_mass, dtype=np.int64),
            }
        )

    def go(work: str) -> DataFrame:
        stream = replay_events_as_stream(spark, sf_dir, work, n_chunks=2)
        updates = (
            stream.select("user_id", "event_id", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                accum,
                outputStructType="user_id long, step_id long, "
                "n_events long, step_mass long",
                stateStructType="cum long, n_open long, m_open long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        mem = run_to_memory(updates, work, mode="update")
        return (
            mem.groupBy("user_id", "step_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("step_mass").alias("step_mass"),
            )
            .localCheckpoint()
        )

    return _with_scratch(go)

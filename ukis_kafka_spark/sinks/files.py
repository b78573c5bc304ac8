"""File & upsert sinks (SURVEY.md §2.2 "Scans / sources / sinks",
reference parity R7/R8: PostGIS upsert sink + partitioned filesystem
sink).

``upsert_parquet`` is the offline stand-in for MERGE INTO (Delta/JDBC
in production): last-writer-wins by key, crash-safe directory swap. The
queries run the real sinks against repo-local scratch space and
oracle-check what a reader sees afterwards — sink correctness is
judged by read-back, not by write success.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table


def _scratch_dir() -> str:
    from ..cache import fast_scratch_root

    return tempfile.mkdtemp(prefix="sink_", dir=fast_scratch_root())


def recover_swap(path: str) -> None:
    """Undo an :func:`upsert_parquet` swap that crashed between its two
    renames: ``path`` is missing and the previous table sits at
    ``path + '._old'``. Moves it back and drops the new version at
    ``path + '._new'``, so a re-run (or a stream replay of the batch)
    re-applies the updates to the previous table instead of treating
    the target as new. Any other state is left as it is."""
    old = path + "._old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        shutil.rmtree(path + "._new", ignore_errors=True)


def upsert_parquet(
    spark: SparkSession,
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    path: str,
    seq_col: str | None = None,
) -> int:
    """MERGE-by-key into a parquet target: rows from ``updates`` win
    over ``base`` on key collision, new keys are inserted. Returns the
    number of rows written (the new table size), counted by an
    Observation on the write itself — no extra Spark job.

    Duplicate keys *within* ``updates``: pass ``seq_col`` naming a
    monotonic source-order column (the Kafka offset in the consumer
    path) and the highest-sequence row wins — the reference consumer's
    offset-order last-write-wins. Without ``seq_col``, updates must be
    key-unique; ties would otherwise pick an arbitrary row.

    Implementation: tag priority (updates 0, base 1) → union → rank
    each key once by (priority asc, ``seq_col`` desc) → keep rank 1 →
    write to a fresh directory → two-rename swap. One window, so one
    shuffle: ``base`` gets a NULL ``seq_col`` of the updates' type, so
    the union stays strict by name, and NULL sequences sort last. The
    swap is not atomic for concurrent readers (that needs a metastore /
    Delta log); it is crash-safe: the previous table survives at
    ``path + '._old'`` until the new one is in place, so no crash point
    loses data, and the target is absent only for the duration of one
    directory rename (never a recursive delete). A crash between the
    two renames is undone by :func:`recover_swap`, which runs first
    here; a caller that reads ``base`` from ``path`` calls it before
    that read."""
    recover_swap(path)
    order, helper_cols = [F.col("_prio").asc()], ["_prio", "_rn"]
    if seq_col is not None:
        base = base.withColumn(seq_col, F.lit(None).cast(updates.schema[seq_col].dataType))
        order.append(F.col(seq_col).desc())
        helper_cols.append(seq_col)
    tagged = base.withColumn("_prio", F.lit(1)).unionByName(
        updates.withColumn("_prio", F.lit(0))
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    written = Observation()
    merged = (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop(*helper_cols)
        .observe(written, F.count(F.lit(1)).alias("n"))
    )
    tmp, old = path + "._new", path + "._old"
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return written.get["n"]


@query(
    "sink_parquet_part",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
WHERE l_quantity >= 30
GROUP BY l_returnflag, l_linestatus
""",
)
def sink_parquet_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink (R8): write filtered lineitem
    partitioned by (returnflag, linestatus), then prove partition
    integrity by aggregating the *read-back* — which also exercises
    partition-directory discovery and pruning on the read side."""
    work = _scratch_dir()
    try:
        out = os.path.join(work, "part_sink")
        (
            load_table(spark, sf_dir, "lineitem")
            .where(F.col("l_quantity") >= 30)
            .write.mode("overwrite")
            .partitionBy("l_returnflag", "l_linestatus")
            .parquet(out)
        )
        back = spark.read.parquet(out)
        return (
            back.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"))
            .localCheckpoint()  # materialize before scratch cleanup
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "sink_upsert",
    oracle="""
SELECT c_custkey, c_acctbal, c_mktsegment FROM (
  SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, 'UPGRADED' AS c_mktsegment
  FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT c_custkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_mktsegment <> 'BUILDING'
  UNION ALL
  SELECT 9000000 + r AS c_custkey, CAST(r AS DOUBLE), 'NEW'
  FROM range(1, 11) t(r)
)
""",
)
def sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert sink (R7): update every BUILDING customer, insert
    10 new keys, read the merged table back. The oracle states the
    expected post-merge table directly."""
    work = _scratch_dir()
    try:
        target = os.path.join(work, "upsert_target")
        c = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        )
        updates_existing = c.where(F.col("c_mktsegment") == "BUILDING").select(
            "c_custkey",
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
            F.lit("UPGRADED").alias("c_mktsegment"),
        )
        updates_new = spark.range(1, 11).select(
            (F.col("id") + 9000000).alias("c_custkey"),
            F.col("id").cast("double").alias("c_acctbal"),
            F.lit("NEW").alias("c_mktsegment"),
        )
        c.write.mode("overwrite").parquet(target)
        upsert_parquet(
            spark,
            spark.read.parquet(target),
            updates_existing.unionByName(updates_new),
            ["c_custkey"],
            target,
        )
        return spark.read.parquet(target).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "sink_dynamic_overwrite",
    oracle="""
SELECT lang, count(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
FROM (
  SELECT lang, n_chars FROM documents WHERE lang <> 'en'
  UNION ALL
  SELECT lang, n_chars FROM documents WHERE lang = 'en' AND n_chars >= 200
)
GROUP BY lang
""",
)
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (the lake-side incremental-reload
    primitive): write documents partitioned by lang, then rewrite ONLY
    the lang=en partition with a filtered slice under
    ``partitionOverwriteMode=dynamic`` — every other partition must
    survive untouched (static mode would have dropped them all).  The
    read-back aggregate proves exactly that; this is how a daily
    pipeline replaces one day/language/source partition of a 100 TB
    table without rewriting the rest."""
    work = _scratch_dir()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        out = os.path.join(work, "dyn_sink")
        d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
        d.write.mode("overwrite").partitionBy("lang").parquet(out)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            d.where((F.col("lang") == "en") & (F.col("n_chars") >= 200))
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(out)
        )
        back = spark.read.parquet(out)
        return (
            back.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars"))
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "sink_manifest",
    oracle="""
SELECT l_returnflag AS part_key,
       count(*) AS n_rows,
       min(l_orderkey) AS min_key,
       max(l_orderkey) AS max_key,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS price_sum
FROM lineitem
GROUP BY l_returnflag
""",
)
def sink_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned write + statistics manifest: alongside the
    partitioned parquet sink, emit the per-partition manifest (row
    count, key min/max, checksummable measure total) that lakehouse
    commit protocols persist for query planning and integrity checks
    — the manifest is DERIVED FROM THE READ-BACK, so a lost or
    double-written partition file disagrees with the oracle's
    source-side statement of the same numbers. The manifest aggregate
    reuses the partition column, so it prunes per partition on the
    read side."""
    work = _scratch_dir()
    try:
        out = os.path.join(work, "manifest_sink")
        (
            load_table(spark, sf_dir, "lineitem")
            .select("l_returnflag", "l_orderkey", "l_extendedprice")
            .write.mode("overwrite")
            .partitionBy("l_returnflag")
            .parquet(out)
        )
        back = spark.read.parquet(out)
        return (
            back.groupBy(F.col("l_returnflag").alias("part_key"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("l_orderkey").alias("min_key"),
                F.max("l_orderkey").alias("max_key"),
                F.sum(F.col("l_extendedprice").cast("decimal(28,10)"))
                .cast("double")
                .alias("price_sum"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def compact_partitioned(spark: SparkSession, src_dir: str, out_dir: str) -> tuple[int, int]:
    """Compact a hive-partitioned parquet dataset to one file per
    partition value: read back, one shuffle keyed on the partition
    column so each partition's rows land in a single task, rewrite.
    Returns (n_files_before, n_files_after).  The real small-file
    medicine at 100 TB is the same dataflow with a byte-budget
    (repartitionByRange on size estimates); one-file-per-partition is
    the deterministic local variant."""

    def _count(root: str) -> int:
        return sum(
            1
            for r, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    before = _count(src_dir)
    back = spark.read.parquet(src_dir)
    (
        back.repartition("event_type")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out_dir)
    )
    return before, _count(out_dir)


@query(
    "sink_compact",
    oracle="""
SELECT event_type,
       count(*) AS n,
       min(event_id) AS min_id,
       max(event_id) AS max_id,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
""",
)
def sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: the events table is first written as a
    deliberately fragmented partitioned sink (16 shuffle slices per
    event_type directory — the shape a streaming writer leaves
    behind), then compacted to one file per partition via a single
    partition-keyed shuffle, and the AUDIT READS THE COMPACTED COPY —
    so a row lost or doubled by the rewrite disagrees with the
    oracle's statement over the original parquet.  The unit test pins
    the file-count mechanics (before = 16 per partition, after = 1);
    the oracle pins the data integrity."""
    work = _scratch_dir()
    try:
        frag = os.path.join(work, "fragmented")
        compacted = os.path.join(work, "compacted")
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type", "value")
            .repartition(16)
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(frag)
        )
        compact_partitioned(spark, frag, compacted)
        back = spark.read.parquet(compacted)
        return (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("event_id").alias("min_id"),
                F.max("event_id").alias("max_id"),
                F.sum(F.col("value").cast("decimal(28,10)"))
                .cast("double")
                .alias("value_sum"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "sink_maxrecords",
    oracle="""
WITH n AS (SELECT count(*) AS total FROM events)
SELECT CAST((total + 4095) // 4096 AS BIGINT) AS n_files,
       CAST(total AS BIGINT) AS n_rows,
       CAST(CASE WHEN total % 4096 = 0 THEN 4096
                 ELSE total % 4096 END AS BIGINT) AS tail_rows,
       CAST(LEAST(total, 4096) AS BIGINT) AS cap
FROM n
""",
)
def sink_maxrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-size governance on write: ``maxRecordsPerFile`` rolls a
    writer task to a new file every 4096 rows, the knob that bounds
    file sizes when a partition is large (the complement of
    sink_compact, which fixes files that are too SMALL).  The audit
    reads the layout back through the ``_metadata`` hidden column and
    asserts the exact roll arithmetic — ceil(n/4096) files, every
    file at the cap except one tail — so a writer that silently
    ignored the option, or double-wrote a file, hash-mismatches.
    Single-task write keeps the roll sequence deterministic; at scale
    the same option applies per task, bounding every file
    independently of partition skew."""
    work = _scratch_dir()
    try:
        target = os.path.join(work, "capped")
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "value")
            .coalesce(1)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 4096)
            .parquet(target)
        )
        back = spark.read.parquet(target)
        per_file = back.groupBy(F.col("_metadata.file_name").alias("f")).agg(
            F.count(F.lit(1)).alias("rows_in_file")
        )
        return per_file.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("rows_in_file").cast("bigint").alias("n_rows"),
            F.min("rows_in_file").cast("bigint").alias("tail_rows"),
            F.max("rows_in_file").cast("bigint").alias("cap"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "sink_merge_on_read",
    oracle="""
SELECT event_type,
       count(*) AS n,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM events
WHERE event_id % 13 <> 0
GROUP BY event_type
""",
)
def sink_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletes (the Iceberg/Delta deletion-vector
    pattern): the base data is written ONCE and never rewritten;
    deletes land as a separate tombstone file of keys, and every
    reader composes base ANTI JOIN tombstones at scan time — the
    write-cheap/read-costly half of the delete trade (sink_upsert is
    the copy-on-write half).  The audit aggregates through the
    composed reader and must match the oracle's direct filter, so a
    tombstone missed by the anti join (or a base row dropped by the
    writer) breaks the hash.  Scale: tombstones are a small
    broadcast side; compaction (folding tombstones into the base,
    sink_compact's job) restores scan speed when the delete ratio
    grows."""
    work = _scratch_dir()
    try:
        base_dir = os.path.join(work, "base")
        del_dir = os.path.join(work, "deletes")
        e = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        e.write.mode("overwrite").parquet(base_dir)
        # a later "delete where event_id % 13 = 0" lands as tombstones
        e.where(F.col("event_id") % 13 == 0).select("event_id").write.mode(
            "overwrite"
        ).parquet(del_dir)
        base = spark.read.parquet(base_dir)
        tombs = spark.read.parquet(del_dir)
        live = base.join(F.broadcast(tombs), "event_id", "left_anti")
        return (
            live.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("event_id").alias("min_id"),
                F.max("event_id").alias("max_id"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "sink_timetravel",
    oracle="""
SELECT 1 AS version, count(*) AS n_rows,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
         AS price_sum
FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
UNION ALL
SELECT 2 AS version, count(*) AS n_rows,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
         AS price_sum
FROM orders
""",
)
def sink_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel over an append-only table, the way Delta /
    Iceberg implement it — each commit's MANIFEST pins the exact file
    list, and reading "AS OF v1" means planning only v1's files, not
    filtering v2's rows: commit v1 writes the pre-1998 orders, commit
    v2 appends the rest, and each manifest is the file listing taken
    at commit time.  The AS OF v1 read passes v1's pinned files to the
    reader and must reproduce the source-side pre-1998 aggregate
    exactly even though the directory now also holds v2's files — file
    pinning, not predicate filtering, is what isolates the snapshot
    (the oracle states both versions' aggregates from the source
    table).  Scale: manifests make snapshot reads O(files-in-snapshot)
    and immune to concurrent appends; the aggregates are one partial-
    agg scan per version."""
    work = _scratch_dir()
    try:
        data = os.path.join(work, "tt", "data")
        src = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderdate"
        )
        cut = F.lit("1998-01-01 00:00:00").cast("timestamp")

        def _files() -> list[str]:
            return sorted(
                os.path.join(r, f)
                for r, _, fs in os.walk(data)
                for f in fs
                if f.endswith(".parquet")
            )

        src.where(F.col("o_orderdate") < cut).write.mode("overwrite").parquet(data)
        manifest_v1 = _files()  # commit 1: pinned file list
        src.where(~(F.col("o_orderdate") < cut)).write.mode("append").parquet(data)
        manifest_v2 = _files()  # commit 2: superset of v1's files
        assert set(manifest_v1) < set(manifest_v2)

        def snap(files: list[str], version: int) -> DataFrame:
            return (
                spark.read.parquet(*files)
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.min("o_orderkey").alias("min_key"),
                    F.max("o_orderkey").alias("max_key"),
                    F.sum(F.col("o_totalprice").cast("decimal(28,10)"))
                    .cast("double")
                    .alias("price_sum"),
                )
                .select(F.lit(version).alias("version"), "*")
            )

        return snap(manifest_v1, 1).unionByName(snap(manifest_v2, 2)).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "sink_vacuum",
    oracle="""
SELECT count(*) AS n_rows,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
         AS price_sum,
       CAST(6 AS BIGINT) AS files_before,
       CAST(4 AS BIGINT) AS files_removed,
       CAST(2 AS BIGINT) AS files_after
FROM orders
""",
)
def sink_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM / retention — the garbage-collection half of the
    [sink_timetravel] commit protocol: commit v1 writes the table as 4
    files; commit v2 COMPACTS it into 2 new files whose manifest pins
    only those, leaving v1's 4 files on disk as unreferenced garbage
    (still readable by the old snapshot, exactly like Delta/Iceberg
    before retention expires).  Vacuum deletes every file NOT in the
    live manifest.  The output proves both halves: the deterministic
    file accounting (6 on disk before the sweep, 4 removed, 2 left —
    explicit repartition(4)/repartition(2) writes make these constants
    the oracle can state) and, the part that matters, the post-vacuum
    read through manifest v2 still reproduces the source-side
    aggregate exactly, so the sweep touched ONLY garbage.  Scale:
    vacuum is a metadata diff (directory listing minus manifest set)
    plus deletes — O(files), no data read."""
    work = _scratch_dir()
    try:
        data = os.path.join(work, "vac", "data")
        src = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

        def _files() -> set[str]:
            return {
                os.path.join(r, f)
                for r, _, fs in os.walk(data)
                for f in fs
                if f.endswith(".parquet")
            }

        src.repartition(4).write.mode("overwrite").parquet(data)
        v1_files = _files()
        # commit v2: compaction rewrite — new files; the manifest drops v1's
        spark.read.parquet(*sorted(v1_files)).repartition(2).write.mode(
            "append"
        ).parquet(data)
        manifest_v2 = _files() - v1_files
        assert len(v1_files) == 4 and len(manifest_v2) == 2

        before = _files()
        garbage = before - manifest_v2
        for f in garbage:  # the vacuum sweep: unreferenced files only
            os.remove(f)
        remaining = _files()
        assert garbage == v1_files and remaining == manifest_v2

        return (
            spark.read.parquet(*sorted(remaining))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
                F.sum(F.col("o_totalprice").cast("decimal(28,10)"))
                .cast("double")
                .alias("price_sum"),
            )
            .select(
                "*",
                F.lit(len(before)).cast("long").alias("files_before"),
                F.lit(len(garbage)).cast("long").alias("files_removed"),
                F.lit(len(remaining)).cast("long").alias("files_after"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

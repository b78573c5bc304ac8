"""``stream_consume``: an open-loop micro-batch consumer.

A separate generator process (tickgen.py) writes one parquet file of
pre-encoded point envelopes into the topic directory every
``TICK_MS``, at a fixed offered rate, whatever the consumer does. The
consumer is the program's streaming path:

    envelope_raw_stream → decode_feature_stream → watermark on due time
    → dropDuplicates(fid, seq) → foreachBatch(upsert_parquet, seq_col=seq)

into a keyed table that already holds every key of the bounded key
space. Latency of a tick runs from its due time to the end of the
micro-batch that committed its file (progress ``timestamp`` +
``durationMs.triggerExecution``); the tick → batch map comes from the
checkpoint's source-file log after the run, so no extra Spark job runs
while the stream is timed. Drains of a pre-written backlog with
``availableNow``, before and after the open loop, give the drain rate.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

import gen
from common import log, parquet_rows, percentile

HERE = os.path.dirname(os.path.abspath(__file__))

TICK_MS = 200
EVENTS_PER_TICK = 200  # offered rate: 1,000 events/s, about half the drain rate
WARM_TICKS = 20
BACKLOG_TICKS = 50
SKIP_TICKS = 10  # ticks due in the timed query's first 2 s: its start-up batches
LEAD_MS = 1000  # generator start-up slack before tick 0 is due
WATERMARK = "30 seconds"
MAX_FILES_PER_TRIGGER = 10000  # open loop: a batch takes every file that arrived
DRAIN_FILES_PER_TRIGGER = 10


def _parse_ts(s: str) -> float:
    """Progress timestamp (ISO-8601, UTC) → epoch ms."""
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0


class StreamConsume:
    name = "stream_consume"

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.data = os.path.join(work, "data", "stream")
        self.initial = os.path.join(self.data, "initial_table")
        self.checks: dict[str, bool] = {}
        self.phases: list[dict] = []
        self.drain_rates: list[float] = []  # one entry per measure()
        self.n_phase = 0
        self.n_collected = 0

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        os.makedirs(self.data)
        self._write_initial()
        # the drain phase's backlog, written while the warm pass runs
        self.backlog = self._fresh()
        os.makedirs(self.backlog[0])
        proc, self.backlog_log = self._gen(
            self.backlog[0], self.seed + 104729, BACKLOG_TICKS, 0, int(time.time() * 1000), "backlog"
        )
        try:
            # warm pass: a short open-loop run on its own topic and table
            self.open_loop(WARM_TICKS, self.seed + 7919, check=False)
        finally:
            rc = proc.wait()
        if rc != 0:
            raise RuntimeError(f"backlog generator exited with {rc}")
        # and one drain: its 2,000-event batches ran ~20 % slower in the
        # first timed drain than in the second without it
        self.drain()

    def _write_initial(self) -> None:
        """The keyed table every phase starts from: one row per key, in
        the decoded-feature schema the consumer writes."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        keys = range(gen.STREAM_KEYS)
        props = [json.dumps(gen.stream_props({"fid": k, "seq": -1, "v": 0}, 0), sort_keys=True) for k in keys]
        table = pa.table(
            {
                "layer": pa.array(["stream"] * len(keys), pa.string()),
                "srid": pa.array([4326] * len(keys), pa.int32()),
                "geom_type": pa.array(["POINT"] * len(keys), pa.string()),
                "wkb": pa.array([gen.ref_wkb("POINT", (0.0, 0.0))] * len(keys), pa.binary()),
                "props_json": pa.array(props, pa.string()),
                "fid": pa.array([str(k) for k in keys], pa.string()),
            }
        )
        os.makedirs(self.initial)
        pq.write_table(table, os.path.join(self.initial, "part-00000.parquet"))
        self._initial_state = {str(k): p for k, p in zip(keys, props)}

    # ------------------------------------------------------------ pipeline

    def _fresh(self) -> tuple[str, str, str]:
        self.n_phase += 1
        base = os.path.join(self.data, f"phase{self.n_phase}")
        table = os.path.join(base, "table")
        shutil.copytree(self.initial, table)
        return os.path.join(base, "topic"), table, os.path.join(base, "ckpt")

    def _start(self, topic: str, table: str, ckpt: str, files_per_trigger: int, available_now: bool):
        from pyspark.sql import functions as F

        from ukis_kafka_spark.sinks import files as sink_files
        from ukis_kafka_spark.sources import kafka

        spark = self.spark
        raw = kafka.envelope_raw_stream(spark, wire_dir=topic, max_files_per_trigger=files_per_trigger)
        feats = kafka.decode_feature_stream(raw)
        events = (
            feats.withColumn("fid", F.get_json_object("props_json", "$.fid"))
            .withColumn("seq", F.get_json_object("props_json", "$.seq").cast("long"))
            .withColumn("due_ts", F.timestamp_millis(F.get_json_object("props_json", "$.due_ms").cast("long")))
            .withWatermark("due_ts", WATERMARK)
            # due_ts is a function of (fid, seq); keying on it lets the
            # watermark evict state
            .dropDuplicates(["fid", "seq", "due_ts"])
            .drop("due_ts")
        )

        def sink(batch, batch_id):
            base = spark.read.parquet(table)
            sink_files.upsert_parquet(spark, base, batch, ["fid"], table, seq_col="seq")

        w = events.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt)
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    def _gen(self, topic: str, seed: int, ticks: int, tick_ms: int, start_ms: int, prefix: str):
        logf = os.path.join(os.path.dirname(topic), f"{prefix}-ticks.json")
        cmd = [
            sys.executable, os.path.join(HERE, "tickgen.py"),
            "--seed", str(seed), "--topic-dir", topic, "--ticks", str(ticks),
            "--events-per-tick", str(EVENTS_PER_TICK), "--tick-ms", str(tick_ms),
            "--start-ms", str(start_ms), "--prefix", prefix, "--log", logf,
        ]
        return subprocess.Popen(cmd), logf

    def open_loop(self, n_ticks: int, seed: int, check: bool = True) -> dict:
        topic, table, ckpt = self._fresh()
        os.makedirs(topic)
        with self.tracer.span("streaming.open_loop"):
            q = self._start(topic, table, ckpt, MAX_FILES_PER_TRIGGER, available_now=False)
            proc, logf = self._gen(topic, seed, n_ticks, TICK_MS, int(time.time() * 1000) + LEAD_MS, "tick")
            try:
                rc = proc.wait()
                if rc != 0:
                    raise RuntimeError(f"tick generator exited with {rc}")
                q.processAllAvailable()
            finally:
                q.stop()
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        return self._collect("open_loop", q, ckpt, logf, table, seed, n_ticks, check)

    def drain(self) -> dict:
        """Drain the backlog written during set-up, on a fresh copy of
        its table and checkpoint so every call drains the same files."""
        topic, table, ckpt = self.backlog
        shutil.rmtree(table)
        shutil.copytree(self.initial, table)
        shutil.rmtree(ckpt, ignore_errors=True)
        with self.tracer.span("streaming.drain"):
            t0 = time.perf_counter()
            q = self._start(topic, table, ckpt, DRAIN_FILES_PER_TRIGGER, available_now=True)
            q.awaitTermination()
            wall = time.perf_counter() - t0
        ph = self._collect("drain", q, ckpt, self.backlog_log, table, self.seed + 104729, BACKLOG_TICKS, True)
        ph["wall_s"] = wall
        # sustained rate per batch, so the query's start and stop (paid
        # once per query, not per event) stay out
        ph["batch_rates"] = [
            p.numInputRows * 1000.0 / p.durationMs["triggerExecution"] for p in ph["progress"] if p.numInputRows
        ]
        ph["drain_per_s"] = median(ph["batch_rates"])
        return ph

    # ------------------------------------------------------------ results

    def _source_log(self, ckpt: str) -> dict[str, int]:
        """file basename → batch id, from the checkpoint's source log
        (plain and compacted entries)."""
        out = {}
        for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
            if os.path.basename(path).startswith("."):
                continue
            with open(path) as fh:
                for line in fh:
                    line = line.strip()
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def _collect(self, kind, q, ckpt, logf, table, seed, n_ticks, check) -> dict:
        self.n_collected += 1
        kind = f"{kind}{self.n_collected}"  # check names stay unique across phases
        with open(logf) as fh:
            ticks = json.load(fh)
        progress = list(q.recentProgress)
        end_ms = {}
        for p in progress:
            end_ms[p.batchId] = _parse_ts(p.timestamp) + p.durationMs.get("triggerExecution", 0)
        file_batch = self._source_log(ckpt)
        latency = [end_ms[file_batch[t["file"]]] - t["due_ms"] for t in ticks if t["file"] in file_batch]
        # backlog at each batch start: files written by then, not yet committed
        backlog_max = 0
        for p in progress:
            start = _parse_ts(p.timestamp)
            waiting = sum(
                1 for t in ticks if t["written_ms"] <= start and file_batch.get(t["file"], 1 << 60) >= p.batchId
            )
            backlog_max = max(backlog_max, waiting)
        dedup_dropped = 0
        state_rows = state_mem = state_commit = 0
        for p in progress:
            for so in p.stateOperators:
                dedup_dropped += int((so.customMetrics or {}).get("numDroppedDuplicateRows", 0))
                state_commit += so.commitTimeMs
        if progress and progress[-1].stateOperators:
            so = progress[-1].stateOperators[0]
            state_rows, state_mem = so.numRowsTotal, so.memoryUsedBytes
        data_batches = [p for p in progress if p.numInputRows > 0]
        ph = {
            "kind": kind,
            "progress": progress,
            "rows_updated": sum(so.numRowsUpdated for p in progress for so in p.stateOperators),
            "ticks": ticks,
            "latency_ms": latency,
            "events_in": sum(t["n"] for t in ticks),
            "resends": sum(t["n_resend"] for t in ticks),
            "rows_read": sum(p.numInputRows for p in progress),
            "files_committed": sum(1 for t in ticks if t["file"] in file_batch),
            "batches": len(progress),
            "batch_ms": [p.durationMs.get("triggerExecution", 0) for p in data_batches],
            "duration_sums": {
                k: sum(p.durationMs.get(k, 0) for p in progress)
                for k in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
            },
            "dedup_dropped": dedup_dropped,
            "state_rows_total": state_rows,
            "state_memory_bytes": state_mem,
            "state_commit_ms": state_commit,
            "backlog_files_max": backlog_max,
            "late_ms_max": max(t["written_ms"] - t["due_ms"] for t in ticks),
        }
        if check:
            self._check(ph, table, seed, n_ticks, ticks)
        return ph

    def _check(self, ph: dict, table: str, seed: int, n_ticks: int, ticks_log: list[dict]) -> None:
        k = ph["kind"]
        start_ms = ticks_log[0]["due_ms"]
        tick_ms = (ticks_log[1]["due_ms"] - start_ms) if len(ticks_log) > 1 else 0
        latest: dict[int, dict] = {}
        for tick in gen.stream_ticks(seed, n_ticks, EVENTS_PER_TICK):
            for ev in tick:
                if ev["seq"] > latest.get(ev["fid"], {"seq": -1})["seq"]:
                    latest[ev["fid"]] = ev
        expected = dict(self._initial_state)
        for fid, ev in latest.items():
            expected[str(fid)] = json.dumps(gen.stream_props(ev, start_ms + ev["tick"] * tick_ms), sort_keys=True)
        got = {r["fid"]: r["props_json"] for r in self.spark.read.parquet(table).select("fid", "props_json").collect()}
        n_rows = self.spark.read.parquet(table).count()
        self.checks[f"{k}.table_equals_latest_per_fid"] = got == expected and n_rows == len(expected)
        if got != expected:
            bad = [f for f in expected if got.get(f) != expected[f]]
            log(f"{k}: {len(bad)} of {len(expected)} keys differ, e.g. {[(f, got.get(f), expected[f]) for f in bad[:2]]}")
        self.checks[f"{k}.dedup_dropped_equals_resends"] = ph["dedup_dropped"] == ph["resends"]
        self.checks[f"{k}.no_event_lost"] = ph["rows_read"] == ph["events_in"]
        self.checks[f"{k}.backlog_empty"] = ph["files_committed"] == len(ticks_log)
        for name, ok in self.checks.items():
            if name.startswith(k) and not ok:
                log(f"check failed: {name}")

    # ------------------------------------------------------------ workload

    def measure(self, seconds: float, units: int | None = None) -> dict:
        n_ticks = units or max(5, int(seconds * 1000 / TICK_MS))
        # the backlog is drained before and after the open loop: the host's
        # speed drifts over tens of seconds, and one ~6 s drain caught it
        # at a single moment
        drains = [self.drain()]
        loop = self.open_loop(n_ticks, self.seed)
        drains.append(self.drain())
        self.phases += [drains[0], loop, drains[1]]
        rate = median([r for dr in drains for r in dr["batch_rates"]])
        self.drain_rates.append(rate)
        lat = loop["latency_ms"][SKIP_TICKS:]
        log(
            f"stream: {len(lat)} tick latencies, p50 {percentile(lat, 50):.1f} ms, "
            f"p95 {percentile(lat, 95):.1f} ms; drain {rate:.0f} events/s "
            f"({[(dr['events_in'], round(dr['wall_s'], 2)) for dr in drains]} events, s with query start and stop); "
            f"backlog max {loop['backlog_files_max']} files, "
            f"generator late max {loop['late_ms_max']:.1f} ms; batch ms {loop['batch_ms']}; "
            f"tick latencies {[round(x) for x in lat]}; drain batch ms {[dr['batch_ms'] for dr in drains]}"
        )
        return {
            "throughput_per_s": rate,
            "latency_p50_ms": percentile(lat, 50),
            "latency_p95_ms": percentile(lat, 95),
            "samples": len(lat),
            "units": n_ticks,
        }

    def attempted_failed(self) -> tuple[int, int]:
        n = sum(ph["events_in"] for ph in self.phases) + len(self.checks)
        return n, sum(1 for ok in self.checks.values() if not ok)

    # ------------------------------------------------------------ tracing

    def install_wrappers(self, tracer) -> None:
        from ukis_kafka_spark.sinks import files
        from ukis_kafka_spark.sources import kafka

        def count_written(a, kw):
            tracer.counters["sinks.upsert.rows_written"] += parquet_rows(a[4])

        tracer.wrap(kafka, "envelope_raw_stream", "sources.raw_stream")
        tracer.wrap(kafka, "decode_feature_stream", "sources.decode_stream")
        tracer.wrap(files, "upsert_parquet", "sinks.upsert", job_group=True, post=count_written)

    def layer_metrics(self, tracer, job_groups: dict) -> dict:
        pass_phases = self.phases[-3:]  # drain, open loop, drain of the traced pass
        loop = pass_phases[1]
        progress = loop["progress"]
        n = max(1, len(progress))
        out = {
            "streaming.batches": len(progress),
            "streaming.batch_ms_p50": percentile(loop["batch_ms"], 50),
            "streaming.batch_ms_p95": percentile(loop["batch_ms"], 95),
            "streaming.state.rows_total": loop["state_rows_total"],
            "streaming.state.memory_bytes": loop["state_memory_bytes"],
            "streaming.state.commit_ms": loop["state_commit_ms"] / n,
            "streaming.dedup.dropped": loop["dedup_dropped"],
            "sources.backlog_files_max": loop["backlog_files_max"],
            "gen.late_ms_max": loop["late_ms_max"],
            "sinks.upsert_s": tracer.total("sinks.upsert"),
            "sinks.upsert_calls": tracer.counters["sinks.upsert.calls"],
            "sinks.upsert.rows_in": sum(ph["rows_updated"] for ph in pass_phases),
            "sinks.upsert.rows_written": tracer.counters["sinks.upsert.rows_written"],
        }
        for key, name in (
            ("latestOffset", "latest_offset_ms"),
            ("queryPlanning", "query_planning_ms"),
            ("addBatch", "add_batch_ms"),
            ("walCommit", "wal_commit_ms"),
            ("commitOffsets", "commit_offsets_ms"),
        ):
            out[f"streaming.{name}"] = loop["duration_sums"][key] / n
        out["sinks.upsert.write_amplification"] = out["sinks.upsert.rows_written"] / max(1, out["sinks.upsert.rows_in"])
        # the topic read alone vs read + envelope/WKB decode, both forced
        from ukis_kafka_spark.sources import kafka

        spark = self.spark
        topic = self.backlog[0]
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        noop(spark.read.schema("value binary").parquet(topic))  # warm the file listing
        t0 = time.perf_counter()
        noop(spark.read.schema("value binary").parquet(topic))
        out["sources.scan_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        noop(kafka.decode_feature_stream(spark.read.schema("value binary").parquet(topic)))
        out["sources.decode_s"] = time.perf_counter() - t0
        # against the untraced drain: the wrappers must not skew the ratio
        out["streaming.drain_speedup_vs_1core"] = self.drain_rates[0] / self._drain_rate_one_core()
        return out

    def _drain_rate_one_core(self) -> float:
        """Drain rate of the same backlog at local[1], in its own process."""
        out = os.path.join(self.data, "one_core.json")
        cmd = [
            sys.executable, os.path.abspath(__file__), "--one-core-drain",
            "--seed", str(self.seed), "--backlog", json.dumps(list(self.backlog)),
            "--backlog-log", self.backlog_log, "--out", out,
        ]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
        with open(out) as fh:
            return json.load(fh)["drain_per_s"]


def _one_core_main(argv: list[str]) -> int:
    """Child process of :meth:`StreamConsume._drain_rate_one_core`: set up
    a local[1] session, drain the given backlog twice (the first warms
    the JVM) and write the second drain rate."""
    import argparse

    import common

    p = argparse.ArgumentParser()
    p.add_argument("--one-core-drain", action="store_true")
    p.add_argument("--seed", type=int)
    p.add_argument("--backlog")
    p.add_argument("--backlog-log")
    p.add_argument("--out")
    a = p.parse_args(argv)
    work = common.pin_env("stream_consume-1core", False)
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    sys.path.insert(0, common.ROOT)
    try:
        from ukis_kafka_spark.plans import get_spark

        from spans import Tracer

        spark = get_spark("perfbench-stream-1core")
        spark.sparkContext.setLogLevel("ERROR")
        wl = StreamConsume(spark, work, a.seed, Tracer(False))
        os.makedirs(wl.data)
        wl._write_initial()
        topic, _, _ = json.loads(a.backlog)
        wl.backlog = (topic, os.path.join(wl.data, "table"), os.path.join(wl.data, "ckpt"))
        os.makedirs(wl.backlog[1])
        wl.backlog_log = a.backlog_log
        wl.drain()
        rate = wl.drain()["drain_per_s"]
        with open(a.out, "w") as fh:
            json.dump({"drain_per_s": rate, "checks": wl.checks}, fh)
        common.stop_spark(spark)
    finally:
        common.cleanup(work)
    return 0 if all(wl.checks.values()) else 1


if __name__ == "__main__":
    sys.exit(_one_core_main(sys.argv[1:]))

"""One benchmark run: session, set-up, timed phase, checks, metrics.

Timed runs (``trace`` off) report the end-to-end metrics. A traced run
repeats the timed phase twice with the same amount of work — first
untraced, then with the layer wrappers on — and reports the per-layer
metrics, the per-layer self times and ``trace_overhead_s`` (traced wall
minus untraced wall). Only a traced run enables the Spark event log.
"""

from __future__ import annotations

import json
import os
import time

import common
from spans import Tracer, event_log_metrics

LAYERS = ("cli", "spatial", "sources", "sinks", "streaming", "operators", "ml")


def _benchmark_spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(cls, work: str, seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    from ukis_kafka_spark.plans import get_spark

    spec = _benchmark_spec()
    spark = get_spark(f"perfbench-{cls.name}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return _run(spark, spec, cls, work, seed, seconds, trace, t_start)
    finally:
        common.stop_spark(spark)


def _run(spark, spec: dict, cls, work: str, seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    tracer = Tracer(False, spark)
    wl = cls(spark, work, seed, tracer)
    wl.setup()
    setup_s = time.perf_counter() - t_start
    common.log(f"setup_s={setup_s:.3f}")

    if not trace:
        steal0 = common.host_steal_share()
        m = wl.measure(seconds)
        steal1 = common.host_steal_share()
        # neighbours on a shared host slow whole runs; log it beside the figures
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        common.log(f"{cls.name}: {m}; host steal {steal:.1%} of CPU time while timed")
        metrics = {
            "setup_s": (setup_s, "s"),
            "throughput_per_s": (m["throughput_per_s"], "1/s"),
            "latency_p50_ms": (m["latency_p50_ms"], "ms"),
            "latency_p95_ms": (m["latency_p95_ms"], "ms"),
        }
        names = [e["name"] for e in spec["end_to_end"]]
    else:
        t0 = time.perf_counter()
        m = wl.measure(seconds)
        untraced = time.perf_counter() - t0
        tracer.enabled = True
        wl.install_wrappers(tracer)
        tracer.new_trace()
        from_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            wl.measure(seconds, units=m["units"])
        finally:
            traced = time.perf_counter() - t0
            to_ms = time.time() * 1000.0
            tracer.unwrap_all()
        tracer.enabled = False
        totals, per_group = event_log_metrics(os.path.join(work, "events"), from_ms, to_ms)
        layer = wl.layer_metrics(tracer, per_group)
        layer["trace_overhead_s"] = traced - untraced
        layer["mem.peak_rss_mb"] = common.peak_rss_mb(spark)
        for name, v in tracer.layer_self_times().items():
            if name in LAYERS:
                layer[f"layer.{name}.self_s"] = v
        for k in ("shuffle_write_bytes", "spill_bytes", "gc_ms", "executor_cpu_ms"):
            layer[f"spark.{k}"] = totals.get(k, 0.0)
        tracer.dump(
            os.path.join(common.ROOT, ".perfbench_trace", f"{cls.name}-seed{seed}.json"),
            {
                "job_groups": per_group,
                "layer_metrics": layer,
                "untraced_s": untraced,
                "traced_s": traced,
                "env": {"nproc": common.nproc(), "loadavg_1m": os.getloadavg()[0], "seed": seed},
            },
        )
        units = {e["name"]: e["unit"] for e in spec["per_layer"]}
        # metrics of layers this workload does not exercise read 0
        metrics = {k: (float(layer.get(k, 0.0)), units[k]) for k in units}
        names = list(units)
        unknown = sorted(set(layer) - set(units))
        if unknown:
            common.log(f"per-layer values not listed in BENCHMARK.json: {unknown}")

    attempted, failed = wl.attempted_failed()
    common.log(f"checks: {wl.checks}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: metrics[k] for k in names},
    }

"""Benchmark entry point.

    python3 perfbench/run.py --workload geo_pipeline --seed 1 --seconds 10 --trace 0

Runs one workload against the program in this checkout
(``ukis_kafka_spark``) on ``local[nproc]`` and prints, as the last line
of standard output, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Progress and the recorded
environment (nproc, load average, seed) go to standard error.

Workloads: ``geo_pipeline`` (closed loop through the producer and
consumer CLIs), ``stream_consume`` (open-loop micro-batch consumer) and
``analytics_mix`` (oracle-checked registered queries). See README.md in
this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

sys.path.insert(0, common.ROOT)

WORKLOADS = ("geo_pipeline", "stream_consume", "analytics_mix")


def _workload_class(name: str):
    if name == "geo_pipeline":
        from geo_pipeline import GeoPipeline

        return GeoPipeline
    if name == "stream_consume":
        from stream_consume import StreamConsume

        return StreamConsume
    from analytics_mix import AnalyticsMix

    return AnalyticsMix


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    if not os.path.isdir(os.path.join(common.ROOT, "ukis_kafka_spark")):
        common.log(f"no program to benchmark: {common.ROOT}/ukis_kafka_spark is missing")
        return 2

    t_start = time.perf_counter()
    work = common.pin_env(a.workload, bool(a.trace))
    common.log(
        f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
        f"nproc={common.nproc()} loadavg_1m={os.getloadavg()[0]:.2f}"
    )
    try:
        import runner

        result = runner.run(_workload_class(a.workload), work, a.seed, a.seconds, bool(a.trace), t_start)
    finally:
        common.cleanup(work)
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    common.log(f"nproc={common.nproc()} loadavg_1m={os.getloadavg()[0]:.2f} seed={a.seed}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Open-loop stream generator for the ``stream_consume`` workload.

Runs as its own single-threaded process. Before the first tick it
encodes every event of the run as a point-feature envelope; then, on a
fixed tick, it writes each tick's envelopes as one parquet file (a
single ``value binary`` column, the wire shape of a Kafka message) into
the topic directory. Each file is written under a hidden temp name and
renamed in, so the consumer never lists a half-written file. It never
waits for the consumer: a stall shows up as a growing backlog and as
latency, not as a slower generator.

With ``--tick-ms 0`` it writes every tick at once (a pre-written
backlog). At exit it writes a JSON tick log: file name, due time,
write-complete time and event counts per tick.

    python perfbench/tickgen.py --seed 1 --topic-dir T --ticks 50 \\
        --events-per-tick 200 --tick-ms 200 --start-ms 1700000000000 --log L
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
from ukis_kafka_spark.sources.envelope import make_envelope  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--topic-dir", required=True)
    p.add_argument("--ticks", type=int, required=True)
    p.add_argument("--events-per-tick", type=int, required=True)
    p.add_argument("--tick-ms", type=int, required=True)
    p.add_argument("--start-ms", type=int, default=0, help="due time of tick 0 (epoch ms)")
    p.add_argument("--prefix", default="tick")
    p.add_argument("--log", required=True)
    a = p.parse_args(argv)

    start_ms = a.start_ms or int(time.time() * 1000)
    ticks = gen.stream_ticks(a.seed, a.ticks, a.events_per_tick)
    tables = []
    for events in ticks:
        vals = [
            make_envelope(
                gen.ref_wkb("POINT", (ev["x"], ev["y"])),
                gen.stream_props(ev, start_ms + ev["tick"] * a.tick_ms),
                layer="stream",
            )
            for ev in events
        ]
        tables.append(pa.table({"value": pa.array(vals, type=pa.binary())}))

    os.makedirs(a.topic_dir, exist_ok=True)
    log = []
    for t, (events, table) in enumerate(zip(ticks, tables)):
        due = start_ms + t * a.tick_ms
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"{a.prefix}-{t:05d}.parquet"
        tmp = os.path.join(a.topic_dir, f".{name}.tmp")
        pq.write_table(table, tmp)
        # the file source delivers in modification-time order: pin a
        # distinct one per tick, so a backlog written within one
        # millisecond keeps its tick order
        order_ns = (start_ms + t * max(a.tick_ms, 1)) * 1_000_000
        os.utime(tmp, ns=(order_ns, order_ns))
        os.rename(tmp, os.path.join(a.topic_dir, name))
        log.append(
            {
                "file": name,
                "tick": t,
                "due_ms": due,
                "written_ms": time.time() * 1000.0,
                "n": len(events),
                "n_resend": sum(1 for ev in events if ev["tick"] != t),
            }
        )
    with open(a.log, "w") as fh:
        json.dump(log, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""``geo_pipeline``: a closed loop with one client through the program's
three pipeline CLIs.

One cycle is ``cli produce`` (one call per layer file, GeoJSON → envelope
topic) → ``cli consume-upsert --key fid`` (one-shot keyed merge) →
``cli consume-files`` (partitioned export), each into fresh directories.
The next cycle starts when the previous one has finished. The input is a
seeded FeatureCollection per layer (see gen.py): mostly points, some
16-vertex lines and 48-vertex polygons with holes, 4–16 properties, and
20 % of fids delivered a second time later in the file.
"""

from __future__ import annotations

import contextlib
import os
import random
import sys
import time
from statistics import median

import gen
from common import log, parquet_rows, percentile

LAYERS = ("roads", "sites")
FEATURES_PER_LAYER = 5000
WARM_CYCLES = 2
ROUND_TRIP_SAMPLE = 500  # features per cycle whose stored WKB is decoded
STAGES = ("produce", "upsert", "export")


class GeoPipeline:
    name = "geo_pipeline"

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.data = os.path.join(work, "data", "geo")
        self.checks: dict[str, bool] = {}
        self.n_cycle = 0
        self.n_features = 0
        self.last_topic = None
        self.stage_rates: list[dict[str, float]] = []  # one entry per measure()

    def setup(self) -> None:
        os.makedirs(self.data)
        layers = gen.feature_layers(self.seed, FEATURES_PER_LAYER, LAYERS)
        self.inputs = {}
        for layer, feats in layers.items():
            path = os.path.join(self.data, f"{layer}.geojson")
            with open(path, "w") as fh:
                fh.write(gen.geojson_text(feats))
            self.inputs[layer] = path
        self.expected = gen.expected_upsert(layers)
        last = {str(f["properties"]["fid"]): f["geometry"] for feats in layers.values() for f in feats}
        self.sample = {
            fid: (last[fid]["type"].upper(), gen.as_tuples(last[fid]["coordinates"]))
            for fid in random.Random(self.seed).sample(sorted(last), ROUND_TRIP_SAMPLE)
        }
        self.per_layer = {layer: len(feats) for layer, feats in layers.items()}
        for _ in range(WARM_CYCLES):  # warm pass, untimed and unchecked
            self.cycle()

    def _cli(self, *argv: str) -> None:
        from ukis_kafka_spark import cli

        with contextlib.redirect_stdout(sys.stderr):  # keep stdout for the result line
            rc = cli.main(list(argv))
        if rc != 0:
            raise RuntimeError(f"cli {argv[0]} exited with {rc}")

    def cycle(self) -> tuple[float, str, dict[str, float]]:
        """One produce → upsert → export cycle: (wall s, cycle directory,
        wall s per stage)."""
        self.n_cycle += 1
        base = os.path.join(self.data, f"cycle{self.n_cycle}")
        topic, table, files = (os.path.join(base, d) for d in ("topic", "table", "files"))
        self.tracer.new_trace()
        t = [time.perf_counter()]
        with self.tracer.span("bench.cycle"):
            for layer, path in self.inputs.items():
                self._cli("produce", "--geojson", path, "--topic-dir", topic, "--layer", layer)
            t.append(time.perf_counter())
            self._cli("consume-upsert", "--topic-dir", topic, "--table", table, "--key", "fid")
            t.append(time.perf_counter())
            self._cli("consume-files", "--topic-dir", topic, "--out", files, "--partition-by", "layer")
            t.append(time.perf_counter())
        self.last_topic = topic
        stages = {s: t[i + 1] - t[i] for i, s in enumerate(STAGES)}
        return t[-1] - t[0], base, stages

    def measure(self, seconds: float, units: int | None = None) -> dict:
        walls, bases, stages = [], [], []
        t_end = time.perf_counter() + seconds
        while (units is None and (not walls or time.perf_counter() < t_end)) or (units is not None and len(walls) < units):
            wall, base, st = self.cycle()
            walls.append(wall)
            bases.append(base)
            stages.append(st)
        for base in bases:
            self._check(base)
        n = sum(self.per_layer.values())
        self.n_features += n * len(walls)
        # features per second through each CLI stage, median over cycles
        rates = {s: median([n / st[s] for st in stages]) for s in STAGES}
        self.stage_rates.append(rates)
        log(
            f"geo: {len(walls)} cycles of {n} features, walls {[round(w, 3) for w in walls]} s; "
            f"features/s by stage {({s: round(r) for s, r in rates.items()})}"
        )
        return {
            "throughput_per_s": median([n / w for w in walls]),
            "latency_p50_ms": percentile(walls, 50) * 1000.0,
            "latency_p95_ms": percentile(walls, 95) * 1000.0,
            "samples": len(walls),
            "units": len(walls),
        }

    def _check(self, base: str) -> None:
        from pyspark.sql import functions as F

        k = os.path.basename(base)
        rows = (
            self.spark.read.parquet(os.path.join(base, "table"))
            .select("fid", "layer", "geom_type", "wkb", "props_json")
            .collect()
        )
        got = {r["fid"]: (r["layer"], r["geom_type"], bytes(r["wkb"]), r["props_json"]) for r in rows}
        ok = len(rows) == len(self.expected) and got == self.expected
        if not ok:
            bad = [f for f in self.expected if got.get(f) != self.expected[f]]
            log(f"{k}: upsert table has {len(rows)} rows, {len(bad)} of {len(self.expected)} keys differ")
        self.checks[f"{k}.upsert_equals_last_write_wins"] = ok
        # a seeded sample of the stored WKB decodes to exactly the generated
        # coordinates (the table check compared every WKB to the reference)
        from ukis_kafka_spark.spatial.wkb import decode_wkb

        self.checks[f"{k}.wkb_round_trip_exact"] = all(
            f in got and decode_wkb(got[f][2]) == geom for f, geom in self.sample.items()
        )
        counts = {
            r["layer"]: r["n"]
            for r in self.spark.read.parquet(os.path.join(base, "files")).groupBy("layer").agg(F.count("*").alias("n")).collect()
        }
        self.checks[f"{k}.files_per_layer_counts"] = counts == self.per_layer
        for name in (f"{k}.upsert_equals_last_write_wins", f"{k}.wkb_round_trip_exact", f"{k}.files_per_layer_counts"):
            if not self.checks[name]:
                log(f"check failed: {name}")

    def attempted_failed(self) -> tuple[int, int]:
        return self.n_features + len(self.checks), sum(1 for ok in self.checks.values() if not ok)

    # ------------------------------------------------------------ tracing

    def install_wrappers(self, tracer) -> None:
        from pyspark.sql import readwriter

        from ukis_kafka_spark import cli
        from ukis_kafka_spark.sinks import files
        from ukis_kafka_spark.sources import envelope
        from ukis_kafka_spark.spatial import wkb

        def count_upsert(a, kw):
            # a child span keeps the extra count job out of the CLI's self time
            with tracer.span("bench.count"):
                tracer.counters["sinks.upsert.rows_in"] += a[2].count()
            tracer.counters["sinks.upsert.rows_written"] += parquet_rows(a[4])

        tracer.wrap(cli, "cmd_produce", "cli.produce")
        tracer.wrap(cli, "_publish_envelopes", "cli.publish", job_group=True)
        tracer.wrap(cli, "cmd_consume_upsert", "cli.consume_upsert", job_group=True)
        tracer.wrap(cli, "cmd_consume_files", "cli.consume_files", job_group=True)
        tracer.wrap(cli, "_decoded_features", "sources.decoded_features")
        tracer.wrap(wkb, "encode_wkb", "spatial.wkb.encode")
        tracer.wrap(envelope, "make_envelope", "sources.envelope.encode", out_bytes=True)
        tracer.wrap(files, "upsert_parquet", "sinks.upsert", job_group=True, post=count_upsert)
        tracer.wrap(readwriter.DataFrameWriter, "parquet", "sinks.parquet_write", job_group=True)

    def layer_metrics(self, tracer, job_groups: dict) -> dict:
        spark = self.spark
        out = {
            "cli.produce.self_s": tracer.self_total("cli.produce"),
            "cli.publish_s": tracer.total("cli.publish"),
            "spatial.wkb.encode_s": tracer.total("spatial.wkb.encode"),
            "spatial.wkb.encode_calls": tracer.counters["spatial.wkb.encode.calls"],
            "sources.envelope.encode_s": tracer.total("sources.envelope.encode"),
            "sources.envelope.encode_calls": tracer.counters["sources.envelope.encode.calls"],
            "sources.envelope.bytes_per_feature": tracer.counters["sources.envelope.encode.bytes"]
            / max(1.0, tracer.counters["sources.envelope.encode.calls"]),
            "sinks.upsert_s": tracer.total("sinks.upsert"),
            "sinks.upsert_calls": tracer.counters["sinks.upsert.calls"],
            "sinks.upsert.rows_in": tracer.counters["sinks.upsert.rows_in"],
            "sinks.upsert.rows_written": tracer.counters["sinks.upsert.rows_written"],
        }
        out["sinks.upsert.write_amplification"] = out["sinks.upsert.rows_written"] / max(1.0, out["sinks.upsert.rows_in"])
        # stage rates of the untraced pass, so the wrappers do not skew them
        for stage, rate in self.stage_rates[0].items():
            out[f"cli.{stage}_features_per_s"] = rate
        by_id = {s["id"]: s for s in tracer.closed()}
        out["sinks.export_write_s"] = sum(
            s["end"] - s["start"]
            for s in tracer.closed()
            if s["name"] == "sinks.parquet_write" and by_id.get(s["parent"], {}).get("name") == "cli.consume_files"
        )
        # the topic read alone vs read + envelope/WKB decode, both forced
        from ukis_kafka_spark import cli

        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        noop(spark.read.parquet(self.last_topic))  # warm the file listing
        t0 = time.perf_counter()
        noop(spark.read.option("mergeSchema", "true").parquet(self.last_topic))
        out["sources.scan_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        noop(cli._decoded_features(spark, self.last_topic))
        out["sources.decode_s"] = time.perf_counter() - t0
        return out

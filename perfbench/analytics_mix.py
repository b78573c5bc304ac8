"""``analytics_mix``: a closed loop with one client over a fixed list of
registered, oracle-checked queries (``api.queries()``), stratified over
the q (relational), g (geo) and m (ML/text) families.

Each query is built (``qs[name](spark, sf_dir)``) and forced with the
noop sink, as the repository's legacy ``bench.py`` does. The seed only
permutes the order. The corpus is the sf0.01 copy of the synthetic
TPC-H-like test tables in ``data/sf0.01`` (seed 42, read-only).

The untimed warm pass collects each result and compares it with its
``api.oracle_sql()`` DuckDB twin using the exact-equality comparison of
``tools/check.py`` (sorted columns, normalised cells, sorted rows).
"""

from __future__ import annotations

import decimal
import math
import os
import random
import time

import pandas as pd

from common import log, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")

QUERIES = (
    "q_agg_groupby",
    "q_win_range_frame",
    "q_sql_q21",
    "g_bbox_join",
    "g_radius_neighbors",
    "g_knn_join",
    "m_tfidf",
    "m_near_dedup",
    "m_entity_match",
)


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "tolist"):
        return _norm_cell(v.tolist())
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    return v


def _norm_df(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(_norm_cell(v) for v in t) for t in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple(str(x) for x in r))
    return cols, rows


def _layer(fn) -> str:
    """The program module a registered query lives in (``operators``,
    ``ml``, ``spatial``...): the registry wraps each query function, so
    look through the wrapper's closure for the original."""
    for cell in fn.__closure__ or ():
        inner = cell.cell_contents
        if callable(inner) and getattr(inner, "__module__", "").startswith("ukis_kafka_spark."):
            return inner.__module__.split(".")[1]
    return "operators"


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class AnalyticsMix:
    name = "analytics_mix"

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.tracer = tracer
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.checks: dict[str, bool] = {}
        self.n_exec = 0

    def setup(self) -> None:
        import duckdb

        from ukis_kafka_spark import api
        from ukis_kafka_spark.sources import TABLES

        self.qs = api.queries()
        oracles = api.oracle_sql()
        missing = [n for n in QUERIES if n not in self.qs or n not in oracles]
        if missing:
            raise RuntimeError(f"queries without a registered oracle: {missing}")
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(SF_DIR, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        # warm pass: every query once, its result checked against the oracle
        for name in self.order:
            try:
                s_cols, s_rows = _norm_df(self.qs[name](self.spark, SF_DIR).toPandas())
                o_cols, o_rows = _norm_df(con.execute(oracles[name]).fetchdf())
                ok = s_cols == o_cols and s_rows == o_rows
            except Exception as e:  # a query that raises is a failed check, not a crash
                log(f"{name}: raised {type(e).__name__}: {e}")
                ok = False
            self.checks[f"{name}.equals_oracle"] = ok
            if not ok:
                log(f"check failed: {name}.equals_oracle")
        con.close()

    def measure(self, seconds: float, units: int | None = None) -> dict:
        lat = []
        t0 = time.perf_counter()
        t_end = t0 + seconds
        while True:
            for name in self.order:
                if units is not None and len(lat) >= units:
                    break
                layer = _layer(self.qs[name])
                self.tracer.new_trace()
                q0 = time.perf_counter()
                with self.tracer.span(f"{layer}.{name}.build", job_group=True):
                    df = self.qs[name](self.spark, SF_DIR)
                with self.tracer.span(f"{layer}.{name}.exec", job_group=True):
                    _force(df)
                lat.append(time.perf_counter() - q0)
            # whole passes only, so every run times the same query set
            if units is not None and len(lat) >= units:
                break
            if units is None and time.perf_counter() >= t_end:
                break
        wall = time.perf_counter() - t0
        self.n_exec += len(lat)
        runs = list(zip(self.order * (len(lat) // len(self.order) + 1), lat))
        family = {f: round(sum(x for n, x in runs if n[0] == f), 3) for f in "qgm"}
        log(f"analytics: {len(lat)} query runs in {wall:.3f} s, seconds by family {family}: {[(n, round(x, 3)) for n, x in runs]}")
        return {
            "throughput_per_s": len(lat) / wall,
            "latency_p50_ms": percentile(lat, 50) * 1000.0,
            "latency_p95_ms": percentile(lat, 95) * 1000.0,
            "samples": len(lat),
            "units": len(lat),
        }

    def attempted_failed(self) -> tuple[int, int]:
        return self.n_exec + len(self.checks), sum(1 for ok in self.checks.values() if not ok)

    # ------------------------------------------------------------ tracing

    def install_wrappers(self, tracer) -> None:
        """Queries are traced by the spans in :meth:`measure`."""

    def layer_metrics(self, tracer, job_groups: dict) -> dict:
        out = {}
        for s in tracer.closed():
            layer, name, phase = s["name"].split(".")
            if name in QUERIES:
                key = f"analytics.{name}.{phase}_s"
                out[key] = out.get(key, 0.0) + s["end"] - s["start"]
                jobs = job_groups.get(f"span-{s['id']}", {}).get("jobs", 0)
                out[f"analytics.{name}.jobs"] = out.get(f"analytics.{name}.jobs", 0) + jobs
        return out

"""End-to-end demo: what a ukis_kafka user's pipeline looks like on
this engine, plus the training-data extensions.

    python examples/pipeline_demo.py [sf_dir]

Stages (all lazy until the sinks):
1. ingest   — documents + events tables (stand-ins for OGR layers)
2. quality  — token stats, quality score, language-ID
3. dedup    — exact + MinHash near-dup clusters; keep survivors
4. curate   — benchmark decontamination + class-balance audit
5. features — text stats for the survivors
6. sink     — partitioned parquet + keyed upsert table
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from ukis_kafka_spark import api  # noqa: E402
from ukis_kafka_spark.plans import get_spark  # noqa: E402
from ukis_kafka_spark.sinks.files import upsert_table  # noqa: E402
from ukis_kafka_spark.sources import load_table  # noqa: E402


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_spark("pipeline-demo")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(os.path.join(REPO, ".tmp"), exist_ok=True)
    out = tempfile.mkdtemp(prefix="demo_", dir=os.path.join(REPO, ".tmp"))
    try:
        queries = api.queries()

        # 2. quality: score every document, keep the good half
        quality = queries["m_quality_score"](spark, sf_dir)
        good = quality.where(F.col("quality") >= 0.5).select("doc_id")
        print(f"quality gate: {good.count()} / {quality.count()} docs pass")

        # 3. dedup: survivors after exact + near-dup clustering
        clusters = queries["m_dedup_clusters"](spark, sf_dir)
        dropped = clusters.where(~F.col("is_survivor")).select("doc_id")
        docs = load_table(spark, sf_dir, "documents")
        kept = docs.join(good, "doc_id", "left_semi").join(dropped, "doc_id", "left_anti")
        print(f"dedup: dropped {dropped.count()} near-duplicates; kept {kept.count()} docs")

        # 4. curate: drop benchmark-contaminated docs, audit class balance
        contaminated = queries["m_decontaminate"](spark, sf_dir).select("doc_id")
        kept = kept.join(contaminated, "doc_id", "left_anti")
        balance = queries["m_class_balance"](spark, sf_dir).orderBy("lang").collect()
        print(
            f"curate: dropped {contaminated.count()} benchmark-contaminated docs; "
            "class balance "
            + ", ".join(f"{r['lang']}:{r['n']}(x{r['upsample_factor']:.2f})" for r in balance)
        )

        # 5. features: text stats for the survivors
        stats = queries["m_text_stats"](spark, sf_dir).join(kept.select("doc_id"), "doc_id")

        # 6. sinks: partitioned corpus + upsertable stats table
        kept.write.mode("overwrite").partitionBy("lang").parquet(os.path.join(out, "corpus"))
        stats_path = os.path.join(out, "doc_stats")
        stats.write.mode("overwrite").parquet(stats_path)
        upsert_table(stats, ["doc_id"], stats_path)  # idempotent re-delivery
        n_final = spark.read.parquet(stats_path).count()
        langs = len(os.listdir(os.path.join(out, "corpus"))) - 1  # minus _SUCCESS
        print(f"sinks: {n_final} stat rows upserted; corpus partitioned into ~{langs} langs")
        print("pipeline_demo OK")
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main(*sys.argv[1:])

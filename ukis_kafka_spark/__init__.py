"""ukis_kafka_spark — a PySpark-native analytics engine with the
capabilities of the ``dlr-eoc/ukis_kafka`` streaming vector-geodata
pipeline, re-expressed Spark-first (DataFrame/SQL + Structured
Streaming), plus large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing).

Design notes (see SURVEY.md):
- All batch operators are declarative DataFrame/SQL plans so Catalyst
  handles pushdown, pruning, join selection, and AQE at scale.
- Python/Pandas UDFs appear only where the semantics genuinely cannot
  be expressed with built-in functions (WKB codec, point-in-polygon,
  explicit UDF-surface parity queries).
- Streaming operators are the same DataFrame expressions under
  ``readStream``; reference parity for Kafka produce/consume is via a
  binary envelope codec (msgpack-subset) over BinaryType columns.
"""

__version__ = "0.1.0"


def __getattr__(name):
    # loaded on first use, so the producer CLI imports without pyspark
    if name in ("QUERIES", "ORACLE", "query"):
        from . import registry

        return getattr(registry, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

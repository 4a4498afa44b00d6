"""flink_precisely_demo_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of ``simonellistonball/flink-precisely-demo`` (a Flink
1.10 CDC demo: Kafka JSON sources -> streaming enrichment joins ->
tumbling-window SUM -> Kafka sink), built Spark-first:

- logical plans are declared with the DataFrame / SQL API and
  optimized by Catalyst (the reference delegated to the Blink
  planner; we delegate to Catalyst — no custom optimizer rules),
- streaming uses Structured Streaming (watermarks, windowed aggs,
  applyInPandasWithState for the stateful enrichment join),
- extension operators for large-scale training-data pipelines
  (dedup, similarity search, text analysis, multimodal columns)
  are first-class citizens under ``operators/``.

Layout:
    session.py    SparkSession builder tuned for local + cluster
    schemas.py    CDC envelope StructTypes (reference parity)
    sources/      parquet tables, CDC JSON envelope codec, kafka
    functions/    scalar functions (parse_ts, text analysis)
    operators/    joins, windows, dedup, similarity, multimodal
    plans/        named queries + DuckDB oracle SQL twins
    streaming/    streaming pipeline + stateful enrichment join
"""

__version__ = "0.1.0"

"""sample_data_pipeline_project_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query semantics of
Navneeth-G/Sample_data_pipeline_project (a Snowflake-backed pipeline-run
ledger library; see SURVEY.md) as an idiomatic Spark DataFrame/SQL engine
over Parquet, extended with the LLM-training-data operators (dedup,
similarity search, multimodal columns, text analysis) a 100 TB pipeline
needs.

Layout:
  engine.py     SparkSession lifecycle + engine configuration (A27/A28)
  envelope.py   uniform {query_id, ...} result envelope (A29/A30)
  log_utils.py  structured lifecycle logging (A31)
  harness.py    the bench protocol (warm-up, timed noop run, spreads,
                per-stage tables from the status store)
  schema.py     explicit schemas (pipeline_runs ledger + testdata tables)
  sources/      table catalog + ledger Parquet IO (A1, A20, A21)
  ledger/       Tier-A task functions (A5-A15) re-expressed Spark-first
  operators/    Tier-B: dedup, similarity, text analysis, multimodal
  functions/    reusable column expressions (intervals, vectors, json)
  plans/        plan-inspection helpers (pushdown / codegen assertions)
  streaming/    Structured Streaming event-time windows (B6)
"""

from sample_data_pipeline_project_spark.engine import get_spark, stop_spark

__version__ = "0.1.0"

__all__ = ["get_spark", "stop_spark", "__version__"]

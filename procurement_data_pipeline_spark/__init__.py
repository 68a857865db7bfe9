"""procurement_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the SALMASAID1/Procurement-Data-Pipeline reference (a
Trino/Airflow/HDFS daily batch ETL; see SURVEY.md), extended with
LLM-data-pipeline operators (dedup, similarity search, multimodal columns,
text analysis) designed for 100 TB scale.

Layout:
  session       SparkSession factory (AQE, Arrow, UTC, shuffle sizing)
  registry      declared-query registry (Spark builder + DuckDB oracle SQL)
  storage       the only Hadoop-FileSystem caller: plain-Python file ops,
                checked rename, create-no-overwrite publish, archive copy
  sources/      table loaders + procurement-shaped derived views
  operators/    reference-parity relational operators (SURVEY.md §2);
                operators/tablelog is the versioned-table log format
  functions/    scalar/text/vector column helpers
  llm_ops/      dedup, similarity search, multimodal, text analysis
  streaming/    Structured Streaming analogues of the batch operators
  queries/      declared queries wired into __spark_entry__.py
  plans/        pipeline task-graph runner (reference DAG parity)
"""

__version__ = "0.1.0"

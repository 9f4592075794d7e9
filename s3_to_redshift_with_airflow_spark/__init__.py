"""s3_to_redshift_with_airflow_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference ETL pipeline `awbasit/S3-to-Redshift-with-Airflow`
(an hourly Airflow DAG moving streaming-music listen events S3 → Redshift via
eager pandas; see /root/reference), extended with large-scale training-data
pipeline operators (dedup, similarity search, text analysis, multimodal
columns) designed for 100 TB scale.

Architecture: everything is declared through the DataFrame / Spark SQL API so
Catalyst + Tungsten pick physical strategies (broadcast vs sort-merge joins,
partial aggregation, whole-stage codegen, AQE). Python UDFs appear only where
built-ins genuinely cannot express the semantics, and then always as
Arrow-vectorized pandas UDFs.

Layout:
    session.py    — SparkSession factory (AQE, UTC, sane shuffle partitions)
    schemas.py    — explicit StructTypes for the reference's logical schema
    sources/      — readers/writers (CSV/Parquet/JSON, freshness, lineage,
                    bucketed tables, archiving)
    functions/    — scalar/column function libraries (text, vectors)
    operators/    — relational core, KPI pipeline, validation, dedup,
                    similarity, time series (as-of join, sessionize),
                    connected components, skew salting, multimodal
    sinks/        — JDBC upsert writer (staging table + transactional merge)
    streaming/    — Structured Streaming variant of the pipeline + stateful ops
    pipelines/    — the reference DAG, each shared subplan run once
    plans/        — query registry: every operator as (spark_fn, oracle_sql)
"""

from .session import build_session, ensure_utc  # noqa: F401

__version__ = "0.1.0"

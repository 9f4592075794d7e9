"""The reference's full ETL pipeline, each shared step run once.

Reference topology (dags/etl_streaming_pipeline.py:152):
    extract_metadata >> extract_streaming >> validate_data >>
    transform_kpis >> load_redshift
with S3 CSV files as the inter-task dataflow (each task a separate worker
process re-reading staged files).

Here each stage is a DataFrame→DataFrame function and the stages compose
into lazy plans: no stage writes files for the next. Catalyst prunes the
unused dimension columns the reference drags through its joins
(kpi_processor.py:59).

A run materializes where more than one action reads the same subplan, so
that each such subplan executes once per run instead of once per action:
  - the deduplicated users, songs and streams are persisted: the one
    validation query and the star join both read them;
  - the star join is persisted: both KPI aggregates read it;
  - the two KPI tables are local checkpoints: they are bounded (one row per
    genre, at most 24 hours), and the CSV sinks and the caller's warehouse
    load read them without re-reading the source files, which the caller
    may archive afterwards.
The persisted frames are released before run_pipeline returns, also when
validation aborts it.

Stage parity map:
  extract_metadata   → reference dags/etl/extract_metadata.py:86-151
                       (read users/songs CSVs, full-row dedup, drop null keys)
  extract_streams    → reference dags/etl/extract_stream_data.py:152-232
                       (multi-file scan, freshness filter, lineage column,
                        subset-key dedup, sort at the sink)
  validate           → reference dags/etl/schema_check.py:258-329
                       (errors abort, warnings logged — operators/validation)
  compute KPIs       → reference dags/etl/kpi_processor.py:40-101
                       (operators/kpi: star join + twin aggregates)
  load               → reference dags/etl/load_to_redshift.py:390-453
                       (sinks/jdbc_upsert day-scoped upsert, or CSV/parquet
                        outputs for file parity)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.kpi import enrich_streams, genre_kpis, hourly_kpis
from ..operators.relational import (
    dedup_full,
    dedup_subset_deterministic,
    drop_null_keys,
)
from ..operators.validation import (
    RangeCheck,
    TableRules,
    raise_on_failure,
    validate_datasets,
)
from ..schemas import SONGS_SCHEMA, STREAMS_SCHEMA, USERS_SCHEMA, VALID_GENRES
from ..sources.readers import (
    missing_required_columns,
    read_csv,
    read_recent_csv,
    read_streams_multi,
)
from ..sources.writers import write_csv_single, write_json_report


def extract_metadata(
    spark: SparkSession, users_path: str, songs_path: str
) -> tuple[DataFrame, DataFrame]:
    """Users/songs extraction: explicit schemas, full-row dedup (D1), null-key
    drop (D3) — reference extract_metadata.py:120-121."""
    users = drop_null_keys(
        dedup_full(read_csv(spark, users_path, schema=USERS_SCHEMA)), ["user_id"]
    )
    songs = drop_null_keys(
        dedup_full(read_csv(spark, songs_path, schema=SONGS_SCHEMA)), ["track_id"]
    )
    return users, songs


def extract_streams(
    spark: SparkSession,
    paths: list[str] | str,
    hours_back: float | None = None,
) -> DataFrame:
    """Stream-event extraction: one multi-path scan with lineage (S6+P1),
    optional mtime freshness filter (S5), deterministic subset-key dedup (D2 —
    key includes listen_time: same user+track at different seconds are
    distinct events). The reference's final sort (O1) is deferred to sinks —
    a global sort is wasted work mid-plan."""
    if hours_back is not None and isinstance(paths, str):
        streams = read_recent_csv(
            spark, paths, schema=STREAMS_SCHEMA, hours_back=hours_back
        ).withColumn("source_file", F.input_file_name())
    else:
        streams = read_streams_multi(spark, paths, STREAMS_SCHEMA)
    return dedup_subset_deterministic(
        streams, ["user_id", "track_id", "listen_time"]
    )


STREAM_RULES = TableRules(
    required_columns=["user_id", "track_id", "listen_time"],
    key_columns=[],
    range_checks=[],
)
USER_RULES = TableRules(
    required_columns=["user_id", "user_name"],
    key_columns=["user_id"],
)
SONG_RULES = TableRules(
    required_columns=["track_id", "track_name", "artists"],
    key_columns=["track_id"],
    whitelist={"track_genre": VALID_GENRES},
    range_checks=[RangeCheck("duration_ms", min_value=0, max_value=1_800_000)],
)


def run_pipeline(
    spark: SparkSession,
    users_path: str,
    songs_path: str,
    stream_paths: list[str] | str,
    output_dir: str,
    validate: bool = True,
) -> dict[str, DataFrame]:
    """End-to-end: extract → validate → KPIs → file sinks.

    Returns the result DataFrames; writes genre_kpis.csv / hourly_kpis.csv
    (single-object parity with the reference's staging contract) and
    validation_report.json under output_dir. The report is written before a
    validation failure raises ValueError. The returned KPI tables are
    materialized; "enriched" is lazy and re-reads the sources.
    """
    users, songs = extract_metadata(spark, users_path, songs_path)
    streams = extract_streams(spark, stream_paths)
    # shared subplans (module docstring); persist()'s default level is
    # memory-and-disk, so it spills rather than fails at scale
    shared = [users.persist(), songs.persist(), streams.persist()]
    try:
        if validate:
            # Source-level header checks (V12): explicit schemas map CSV
            # columns positionally, so structural absence must be caught at
            # the header.
            header_errors = {
                name: [
                    f"{path}: missing required column(s) {cols}"
                    for path, cols in missing_required_columns(
                        spark, paths, rules.required_columns
                    ).items()
                ]
                for name, paths, rules in [
                    ("users", users_path, USER_RULES),
                    ("songs", songs_path, SONG_RULES),
                    ("streams", stream_paths, STREAM_RULES),
                ]
            }
            report = validate_datasets(
                {
                    "users": (users, USER_RULES),
                    "songs": (songs, SONG_RULES),
                    "streams": (streams, STREAM_RULES),
                },
                raise_on_error=False,
                extra_errors=header_errors,
            )
            # the reference writes the report, then aborts (schema_check.py:320-329)
            write_json_report(report, f"{output_dir}/validation_report.json")
            raise_on_failure(report)

        enriched = enrich_streams(streams, songs, users)
        shared.append(enriched.persist())
        # bounded tables: the sinks and the caller read local blocks
        genre = genre_kpis(enriched).localCheckpoint()
        hourly = hourly_kpis(enriched).localCheckpoint()
    finally:
        for df in shared:
            df.unpersist()

    write_csv_single(genre, f"{output_dir}/genre_kpis.csv")
    write_csv_single(hourly, f"{output_dir}/hourly_kpis.csv")
    return {"genre_kpis": genre, "hourly_kpis": hourly, "enriched": enriched}

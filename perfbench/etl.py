"""hourly_etl: the reference DAG, one simulated hour after another.

Each hour three stream CSVs land; the timed operation is the hour's run
from files landed to both KPI tables committed in the warehouse and the
inputs archived:

    run_pipeline -> prepare_hourly_for_warehouse -> write_upsert x2
    (day-scoped, into in-memory Derby) -> archive_files

Runs are serialized (max_active_runs=1). After each hour the two KPI
tables are read back from Derby with `read_table` and compared with
DuckDB's computation over the same CSVs.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import duckdb

from . import gen
from .harness import clock

DAY0 = datetime(2024, 6, 1)
GENRE_DDL = (
    'CREATE TABLE genre_kpis ("track_genre" VARCHAR(64), "listen_count" BIGINT, '
    '"avg_duration" DOUBLE, "date_processed" TIMESTAMP)'
)
HOURLY_DDL = (
    'CREATE TABLE hourly_kpis ("hour" INTEGER, "unique_listeners" BIGINT, '
    '"top_artists" VARCHAR(64), "track_diversity_index" DOUBLE, '
    '"total_streams" BIGINT, "unique_songs" BIGINT, "avg_stream_duration" BIGINT, '
    '"hour_ts" TIMESTAMP, "date_processed" TIMESTAMP)'
)

ORACLE_SQL = """
WITH users AS (
  SELECT DISTINCT * FROM read_csv({users}, header=true, columns={{
    'user_id': 'BIGINT', 'user_name': 'VARCHAR', 'user_age': 'INTEGER',
    'user_country': 'VARCHAR', 'created_at': 'DATE'}})
),
songs AS (
  SELECT DISTINCT * FROM read_csv({songs}, header=true, columns={{
    'track_id': 'VARCHAR', 'track_name': 'VARCHAR', 'artists': 'VARCHAR',
    'track_genre': 'VARCHAR', 'duration_ms': 'BIGINT'}})
),
streams AS (
  SELECT DISTINCT * FROM read_csv({streams}, header=true, columns={{
    'user_id': 'BIGINT', 'track_id': 'VARCHAR', 'listen_time': 'TIMESTAMP'}})
),
enriched AS (
  SELECT s.user_id, s.track_id, s.listen_time, g.track_genre, g.duration_ms,
         CAST(hour(s.listen_time) AS INTEGER) AS hour
  FROM streams s
  JOIN (SELECT * FROM songs WHERE track_id IS NOT NULL) g ON s.track_id = g.track_id
  JOIN (SELECT * FROM users WHERE user_id IS NOT NULL) u ON s.user_id = u.user_id
)
"""
GENRE_SQL = """
SELECT track_genre, COUNT(track_id) AS listen_count,
       CAST(SUM(CAST(duration_ms AS DECIMAL(27,6))) AS DOUBLE) / COUNT(duration_ms) AS avg_duration
FROM enriched GROUP BY track_genre
"""
HOURLY_SQL = """
, counts AS (SELECT hour, track_id, COUNT(*) AS n FROM enriched GROUP BY 1, 2),
top AS (
  SELECT hour, track_id AS top_artists FROM (
    SELECT hour, track_id,
           ROW_NUMBER() OVER (PARTITION BY hour ORDER BY n DESC, track_id ASC) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT e.hour, COUNT(DISTINCT e.user_id) AS unique_listeners,
       ANY_VALUE(t.top_artists) AS top_artists,
       CAST(COUNT(DISTINCT e.track_id) AS DOUBLE) / COUNT(e.track_id) AS track_diversity_index
FROM enriched e JOIN top t ON e.hour = t.hour
GROUP BY e.hour
"""


def _sql_list(paths) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def oracle(users: str, songs: str, streams: list[str]) -> tuple[list, list]:
    """(genre rows, hourly rows) computed by DuckDB over the raw CSVs."""
    con = duckdb.connect()
    try:
        pre = ORACLE_SQL.format(users=f"'{users}'", songs=f"'{songs}'", streams=_sql_list(streams))
        genre = con.execute(pre + GENRE_SQL).fetchall()
        hourly = con.execute(pre + HOURLY_SQL).fetchall()
    finally:
        con.close()
    return genre, hourly


class HourlyEtl:
    """State of one simulated DAG: reference files, the landing and archive
    prefixes, and the warehouse connection."""

    def __init__(self, run, seed: int, users: int = gen.USERS_ROWS,
                 songs: int = gen.SONGS_ROWS, file_rows: int = gen.STREAM_FILE_ROWS):
        self.seed = seed
        self.ref = os.path.join(run.data, "ref")
        self.landing = os.path.join(run.data, "landing")
        self.archive = os.path.join(run.data, "archive")
        self.out = os.path.join(run.data, "out")
        self.file_rows = file_rows
        self.universe = gen.music_reference(self.ref, seed, users=users, songs=songs)
        self.users = os.path.join(self.ref, "users.csv")
        self.songs = os.path.join(self.ref, "songs.csv")
        self.url = f"jdbc:derby:memory:perfbench_{os.getpid()}_{seed};create=true"
        self.hour = 0

    def land(self, rows: int | None = None) -> tuple[int, list[str]]:
        """Land the next hour's stream files (untimed: it is the input)."""
        h = self.hour
        self.hour += 1
        run_ts = DAY0 + timedelta(hours=h)
        paths = gen.music_hour(
            self.landing, self.seed, h, self.universe, run_ts.strftime("%Y-%m-%d"),
            rows=rows or self.file_rows,
        )
        return h, paths

    @staticmethod
    def rows_in(paths: list[str]) -> int:
        """Stream rows landed (CSV lines past the header)."""
        total = 0
        for p in paths:
            with open(p) as f:
                total += sum(1 for _ in f) - 1
        return total

    def run_hour(self, spark, h: int, paths: list[str]) -> None:
        """The timed DAG run for hour `h`."""
        from pyspark.sql import functions as F

        from s3_to_redshift_with_airflow_spark.operators import kpi
        from s3_to_redshift_with_airflow_spark.pipelines import music_etl
        from s3_to_redshift_with_airflow_spark.sinks import jdbc_upsert
        from s3_to_redshift_with_airflow_spark.sources import writers

        run_ts = DAY0 + timedelta(hours=h)
        stamp = F.lit(run_ts.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")
        res = music_etl.run_pipeline(
            spark, self.users, self.songs, paths, os.path.join(self.out, f"h{h:03d}")
        )
        hourly = kpi.prepare_hourly_for_warehouse(
            res["hourly_kpis"], anchor_date=run_ts.strftime("%Y-%m-%d")
        ).withColumn("date_processed", stamp)
        genre = res["genre_kpis"].withColumn("date_processed", stamp)
        jdbc_upsert.write_upsert(
            genre, self.url, "genre_kpis", keys=["track_genre"],
            create_target_ddl=GENRE_DDL, scope_date_col="date_processed",
            staging_column_types="track_genre VARCHAR(64)",
        )
        jdbc_upsert.write_upsert(
            hourly, self.url, "hourly_kpis", keys=["hour"],
            create_target_ddl=HOURLY_DDL, scope_date_col="date_processed",
            staging_column_types="top_artists VARCHAR(64)",
        )
        writers.archive_files(spark, self.landing, os.path.join(self.archive, f"h{h:03d}"))

    def check(self, spark, h: int, paths: list[str], plant: bool = False) -> bool:
        """Warehouse read-back for hour `h` equals DuckDB over its CSVs."""
        from s3_to_redshift_with_airflow_spark.sinks.jdbc_upsert import read_table

        run_ts = DAY0 + timedelta(hours=h)
        archived = [os.path.join(self.archive, f"h{h:03d}", os.path.basename(p)) for p in paths]
        if any(os.path.exists(p) for p in paths) or not all(os.path.exists(p) for p in archived):
            return False
        want_g, want_h = oracle(self.users, self.songs, archived)
        got_g = [
            (r["track_genre"], r["listen_count"], r["avg_duration"])
            for r in read_table(spark, self.url, "genre_kpis").collect()
            if r["date_processed"] == run_ts
        ]
        day = datetime(run_ts.year, run_ts.month, run_ts.day)
        got_h, ok_derived = [], True
        for r in read_table(spark, self.url, "hourly_kpis").collect():
            if r["date_processed"] != run_ts:
                continue
            got_h.append((r["hour"], r["unique_listeners"], r["top_artists"], r["track_diversity_index"]))
            ok_derived &= (
                r["total_streams"] == 2 * r["unique_listeners"]
                and r["hour_ts"] == day + timedelta(hours=r["hour"])
            )
        if plant:
            got_g = got_g[1:]
        return ok_derived and sorted(got_g) == sorted(want_g) and sorted(got_h, key=repr) == sorted(want_h, key=repr)


def setup(run, seed: int, small: bool) -> HourlyEtl:
    kw = dict(users=2_000, songs=3_000, file_rows=600) if small else {}
    return HourlyEtl(run, seed, **kw)

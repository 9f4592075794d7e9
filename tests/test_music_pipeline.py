"""End-to-end music ETL pipeline on CSV fixtures (FIXTURES.md F1-F4):
extract → validate → KPIs → single-file CSV sinks, including the reference's
edge semantics (duplicate rows, null keys, orphans, multi-file overlap)."""

from __future__ import annotations

import csv
import json
import os
import shutil
import tempfile

import pytest

from s3_to_redshift_with_airflow_spark.pipelines.music_etl import run_pipeline
from s3_to_redshift_with_airflow_spark.sources.writers import archive_files


@pytest.fixture(scope="module")
def fixture_dir():
    d = tempfile.mkdtemp(prefix="music_fixtures_")

    def write(name, header, rows):
        path = os.path.join(d, name)
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(rows)
        return path

    users_hdr = ["user_id", "user_name", "user_age", "user_country", "created_at"]
    users = [
        [1, "Ann", 30, "Canada", "2024-01-01"],
        [1, "Ann", 30, "Canada", "2024-01-01"],  # duplicate row → D1
        [2, "Bob", 40, "Ireland", "2024-02-01"],
        ["", "Ghost", 20, "Canada", "2024-03-01"],  # null user_id → D3
        [3, "Cat", 25, "Canada", "2024-01-15"],
    ]
    songs_hdr = ["track_id", "track_name", "artists", "track_genre", "duration_ms"]
    songs = [
        ["t1", "Song1", "A1", "rock", 200000],
        ["t2", "Song2", "A2", "ROCK", 100000],   # mixed case genre
        ["t3", "Song3", "A3", "afrobeat", 300000],  # out-of-whitelist (warn)
        ["", "SongX", "AX", "pop", 100],         # null track_id → dropped
    ]
    streams_hdr = ["user_id", "track_id", "listen_time"]
    s1 = [
        [1, "t1", "2024-06-25 00:01:00"],
        [1, "t2", "2024-06-25 00:02:00"],
        [2, "t2", "2024-06-25 01:03:00"],
    ]
    s2 = [
        [2, "t2", "2024-06-25 01:03:00"],  # overlap with s1 → dedup D2
        [2, "t3", "2024-06-25 01:30:00"],
        [3, "t3", "2024-06-25 02:00:00"],
        [9, "t1", "2024-06-25 03:00:00"],  # orphan user → dropped by join
        [1, "tX", "2024-06-25 03:00:00"],  # orphan track → dropped by join
    ]
    paths = {
        "users": write("users.csv", users_hdr, users),
        "songs": write("songs.csv", songs_hdr, songs),
        "streams": [
            write("streams1.csv", streams_hdr, s1),
            write("streams2.csv", streams_hdr, s2),
        ],
        "out": os.path.join(d, "out"),
    }
    return paths


def test_pipeline_end_to_end(spark, fixture_dir):
    out = run_pipeline(
        spark,
        fixture_dir["users"],
        fixture_dir["songs"],
        fixture_dir["streams"],
        fixture_dir["out"],
    )
    # 8 stream rows - 1 overlap dup - 2 orphans = 5 enriched events
    assert out["enriched"].count() == 5
    genre = {r["track_genre"]: r for r in out["genre_kpis"].collect()}
    # t1(rock):1 + t2(ROCK→distinct genre string):2 … genre kept as-is
    assert genre["rock"]["listen_count"] == 1
    assert genre["ROCK"]["listen_count"] == 2
    assert genre["afrobeat"]["listen_count"] == 2

    hourly = {r["hour"]: r for r in out["hourly_kpis"].collect()}
    assert hourly[0]["unique_listeners"] == 1
    assert hourly[1]["unique_listeners"] == 1  # user 2 twice in hour 1
    assert hourly[1]["top_artists"] in ("t2", "t3")  # tie → smallest = t2
    assert hourly[1]["top_artists"] == "t2"

    # file sinks exist with headers
    assert os.path.exists(fixture_dir["out"] + "/genre_kpis.csv")
    with open(fixture_dir["out"] + "/validation_report.json") as f:
        report = json.load(f)
    assert report["passed"]
    warns = "\n".join(report["datasets"]["songs"]["warnings"])
    assert "afrobeat" in warns  # whitelist warn-only (schema_check.py:176-181)


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pipeline_validation_aborts_on_missing_column(spark, fixture_dir, tmp_path):
    # streams file without listen_time → required-column error aborts (V1)
    bad = tmp_path / "bad.csv"
    bad.write_text("user_id,track_id\n1,t1\n")
    spark.catalog.clearCache()  # isolate from frames other tests persisted
    with pytest.raises(ValueError, match="streams"):
        run_pipeline(
            spark,
            fixture_dir["users"],
            fixture_dir["songs"],
            str(bad),
            str(tmp_path / "out"),
        )
    # the report is written before the abort (schema_check.py:320-329) and
    # the run's persisted inputs are released
    with open(tmp_path / "out" / "validation_report.json") as f:
        report = json.load(f)
    assert report["passed"] is False
    errors = report["datasets"]["streams"]["errors"]
    assert any("missing required column(s) ['listen_time']" in e for e in errors)
    assert _cache_is_empty(spark)


def test_pipeline_kpis_outlive_archived_inputs(spark, fixture_dir, tmp_path):
    """The returned KPI tables are materialized: archiving the stream files
    after the run, as the hourly DAG does before its warehouse load reads
    them, changes nothing they return, and the run leaves no cache entry."""
    landing = tmp_path / "landing"
    landing.mkdir()
    streams = [shutil.copy(p, landing) for p in fixture_dir["streams"]]
    spark.catalog.clearCache()  # isolate from frames other tests persisted
    out = run_pipeline(
        spark, fixture_dir["users"], fixture_dir["songs"], streams,
        str(tmp_path / "out"),
    )
    assert _cache_is_empty(spark)
    assert len(archive_files(spark, str(landing), str(tmp_path / "archive"))) == 2
    assert not any(os.path.exists(p) for p in streams)
    # the values test_pipeline_end_to_end's run computes from these files
    assert sorted(tuple(r) for r in out["genre_kpis"].collect()) == [
        ("ROCK", 2, 100000.0), ("afrobeat", 2, 300000.0), ("rock", 1, 200000.0),
    ]
    assert sorted(tuple(r) for r in out["hourly_kpis"].collect()) == [
        (0, 1, "t1", 1.0), (1, 1, "t2", 1.0), (2, 1, "t3", 1.0),
    ]

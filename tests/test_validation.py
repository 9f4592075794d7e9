"""Validation engine semantics vs the reference's errors/warnings split
(schema_check.py:77-127, 258-329)."""

from __future__ import annotations

import pytest

from s3_to_redshift_with_airflow_spark.operators.validation import (
    RangeCheck,
    TableRules,
    evaluate,
    validate_datasets,
)

RULES = TableRules(
    required_columns=["user_id", "track_id"],
    data_types={"user_id": ["bigint"], "track_id": ["string"]},
    key_columns=["user_id"],
    whitelist={"genre": ["rock", "pop"]},
    numeric_coercible=["listen_time"],
    range_checks=[RangeCheck("duration", min_value=0, max_value=1_800_000)],
)


@pytest.fixture(scope="module")
def dirty(spark):
    return spark.createDataFrame(
        [
            (1, "t1", "Rock", "123", 100.0),
            (1, "t1", "Rock", "123", 100.0),     # duplicate row + duplicate key
            (2, "t2", "metal", "oops", -5.0),    # whitelist viol, non-numeric, range viol
            (None, "t3", "pop", "4", 2_000_000.0),  # null key, range viol
        ],
        "user_id long, track_id string, genre string, listen_time string, duration double",
    )


def test_errors_and_warnings_split(dirty):
    report = evaluate(dirty, RULES, "streams")
    assert not report["passed"]
    assert any("null values in key column user_id" in e for e in report["errors"])
    warns = "\n".join(report["warnings"])
    assert "1 duplicate rows" in warns
    assert "duplicate keys" in warns
    assert "outside whitelist" in warns and "metal" in warns
    assert "1 non-numeric values in listen_time" in warns
    assert "2 range violations in duration" in warns


def test_missing_required_column_is_error(spark):
    df = spark.createDataFrame([(1,)], "user_id long")
    report = evaluate(df, TableRules(required_columns=["user_id", "track_id"]))
    assert not report["passed"]
    assert any("missing required column: track_id" in e for e in report["errors"])


def test_empty_relation_is_error(spark):
    df = spark.createDataFrame([], "user_id long")
    report = evaluate(df, TableRules(required_columns=["user_id"]))
    assert any("empty" in e for e in report["errors"])


def test_dtype_mismatch_is_warning_only(spark):
    df = spark.createDataFrame([("x",)], "user_id string")
    report = evaluate(df, TableRules(required_columns=["user_id"],
                                     data_types={"user_id": ["bigint"]}))
    assert report["passed"]  # warning, not error (schema_check.py:101-107)
    assert any("dtype" in w for w in report["warnings"])


def test_validate_datasets_raises_on_error(spark, dirty):
    clean = spark.createDataFrame([(1, "t1")], "user_id long, track_id string")
    ok = validate_datasets(
        {"clean": (clean, TableRules(required_columns=["user_id"]))}
    )
    assert ok["passed"]
    with pytest.raises(ValueError, match="streams"):
        validate_datasets({"streams": (dirty, RULES)})


def test_lenient_csv_corrupt_records_in_report(spark, tmp_path):
    """SURVEY §1.4: PERMISSIVE ingest counts malformed rows instead of
    failing (the reference's infer-then-warn read, extract_stream_data.py:67)
    and the count flows into the validation report as a warning."""
    from s3_to_redshift_with_airflow_spark.sources.readers import (
        corrupt_record_count,
        read_csv_lenient,
    )
    from pyspark.sql import types as T

    p = tmp_path / "streams.csv"
    p.write_text(
        "user_id,value\n"
        "1,10\n"
        "2,not_a_number\n"   # value fails the long cast -> corrupt
        "3,30\n"
        "4\n"                # structurally short row -> corrupt
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.LongType()),
        ]
    )
    df = read_csv_lenient(spark, str(p), schema)

    counts = corrupt_record_count(df).collect()[0]
    assert counts["clean_rows"] == 2
    assert counts["corrupt_rows"] == 2

    report = evaluate(df, TableRules(required_columns=["user_id"]))
    assert any("2 malformed rows" in w for w in report["warnings"])
    # corrupt raw text is preserved for quarantine/debugging
    bad = {r["_corrupt_record"] for r in df.collect() if r["_corrupt_record"]}
    assert bad == {"2,not_a_number", "4"}


def test_validate_datasets_matches_evaluate_per_table(spark, dirty, tmp_path):
    """validate_datasets runs every table's metrics as one query; each
    table's report equals the one evaluate() builds alone: an empty table
    (V3), null keys (V5), duplicate keys (V6), whitelist offenders with
    their sample (V7), range violations (V9), a lenient frame's corrupt
    records, header errors passed in, and one frame validated twice."""
    from s3_to_redshift_with_airflow_spark.sources.readers import read_csv_lenient
    from pyspark.sql import types as T

    p = tmp_path / "lenient.csv"
    p.write_text("user_id,value\n1,10\n2,oops\n3\n")
    lenient = read_csv_lenient(
        spark, str(p),
        T.StructType([T.StructField("user_id", T.LongType()),
                      T.StructField("value", T.LongType())]),
    )
    named = {
        "empty": (spark.createDataFrame([], "user_id long"),
                  TableRules(required_columns=["user_id"], key_columns=["user_id"])),
        "dirty": (dirty, RULES),
        "dirty_again": (dirty, RULES),
        "lenient": (lenient, TableRules(required_columns=["user_id", "track_id"])),
    }
    extra = {"lenient": ["lenient.csv: missing required column(s) ['track_id']"]}
    report = validate_datasets(named, raise_on_error=False, extra_errors=extra)
    for name, (df, rules) in named.items():
        assert report["datasets"][name] == evaluate(df, rules, name, extra.get(name))
    assert not report["passed"]
    got = report["datasets"]
    assert "dataset is empty" in got["empty"]["errors"]
    assert any("outside whitelist; sample ['metal']" in w for w in got["dirty"]["warnings"])
    assert any("malformed rows" in w for w in got["lenient"]["warnings"])

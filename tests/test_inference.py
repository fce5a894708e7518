"""Unit suite for the inference kernel (SURVEY.md §5.2).

Every branch of the reference's value-classification and column-resolution
semantics (load_tables_daily.py:86-152,266-327) gets a table-driven case,
plus hypothesis round-trips: a value rendered from type T must re-infer to
T or a type the lattice widens it into.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from covid_19_data_engineering_spark.inference import (
    BIGINT,
    BOOLEAN,
    DATE,
    INTEGER,
    NUMERIC,
    SMALLINT,
    TEXT,
    TIMESTAMP,
    classify_value,
    resolve_column_type,
    sample_limit,
)

CLASSIFY_CASES = [
    # empty / default
    ("", TEXT),
    ("   ", TEXT),
    # literal 0/1 are smallint, never boolean
    ("0", SMALLINT),
    ("1", SMALLINT),
    # zero-padded identifiers stay text
    ("007", TEXT),
    ("0042", TEXT),
    ("01", TEXT),
    # reference quirk: "0.0" is integral and starts with '0' -> text
    ("0.0", TEXT),
    ("0.5", NUMERIC),
    # int16 boundaries
    ("32767", SMALLINT),
    ("32768", INTEGER),
    ("-32768", SMALLINT),
    ("-32769", INTEGER),
    # int32 boundaries
    ("2147483647", INTEGER),
    ("2147483648", BIGINT),
    ("-2147483648", INTEGER),
    ("-2147483649", BIGINT),
    ("999999999999", BIGINT),
    # negative zero-padded: first char is '-', not '0' -> numeric path
    ("-007", SMALLINT),
    # non-integral numerics
    ("12.50", NUMERIC),
    ("3.14159", NUMERIC),
    ("-0.5", NUMERIC),
    (".5", NUMERIC),
    ("1e-3", NUMERIC),
    # inf/nan parse as float but overflow int() -> numeric
    ("inf", NUMERIC),
    ("nan", NUMERIC),
    # scientific integral, first char not '0'
    ("1e2", SMALLINT),
    # booleans (checked before dates, so t/f never become dates)
    ("t", BOOLEAN),
    ("f", BOOLEAN),
    ("T", BOOLEAN),
    ("true", BOOLEAN),
    ("False", BOOLEAN),
    # dates: parseable with midnight time
    ("2021-03-15", DATE),
    ("2021-03-15 00:00:00", DATE),
    ("03/15/2021", DATE),
    # timestamps: parseable with non-midnight time
    ("2021-03-15 14:22:05", TIMESTAMP),
    ("2021-03-15T14:22:05", TIMESTAMP),
    # plain text
    ("O'Brien", TEXT),
    ("hello world", TEXT),
    # dateutil quirk shared with the reference: "12a" parses as 12 AM
    ("12a", DATE),
]


@pytest.mark.parametrize("value,expected", CLASSIFY_CASES)
def test_classify_value(value, expected):
    assert classify_value(value) == expected


RESOLVE_CASES = [
    # single observed type wins outright
    ({DATE}, DATE),
    ({BOOLEAN}, BOOLEAN),
    ({TEXT}, TEXT),
    # empty sample -> default
    (set(), TEXT),
    # text contaminates everything
    ({TEXT, BIGINT}, TEXT),
    ({TEXT, DATE, NUMERIC}, TEXT),
    # timestamp absorbs date
    ({TIMESTAMP, DATE}, TIMESTAMP),
    ({TIMESTAMP, INTEGER}, TIMESTAMP),
    # the year-vs-date tiebreak
    ({DATE, INTEGER}, INTEGER),
    # reference fall-through quirk: date + non-integer mix -> text
    ({DATE, SMALLINT}, TEXT),
    ({DATE, NUMERIC}, TEXT),
    ({DATE, BOOLEAN}, TEXT),
    # numeric ladder widening
    ({NUMERIC, BIGINT, SMALLINT}, NUMERIC),
    ({BIGINT, INTEGER}, BIGINT),
    ({INTEGER, SMALLINT}, INTEGER),
    ({SMALLINT, BOOLEAN}, SMALLINT),
    # boolean-only mixes fall through to text
    ({BOOLEAN, TIMESTAMP}, TIMESTAMP),
]


@pytest.mark.parametrize("labels,expected", RESOLVE_CASES)
def test_resolve_column_type(labels, expected):
    assert resolve_column_type(labels) == expected


def test_sample_limit_policy():
    assert sample_limit(50_000) == 1_000
    assert sample_limit(10_001) == 1_000
    assert sample_limit(10_000) == 500
    assert sample_limit(1_001) == 500
    assert sample_limit(1_000) == 1_000
    assert sample_limit(37) == 37
    assert sample_limit(0) == 0


# --- property-based round-trips ------------------------------------------


@given(st.integers(min_value=-32768, max_value=32767))
@settings(max_examples=200)
def test_rendered_smallint_reinfers(n):
    expected = SMALLINT if str(n).lstrip("-") in ("0", "1") or not str(n).startswith("0") else TEXT
    assert classify_value(str(n)) == expected


@given(st.integers(min_value=-(2**62), max_value=2**62))
@settings(max_examples=200)
def test_rendered_integer_widens_within_ladder(n):
    got = classify_value(str(n))
    assert got in (SMALLINT, INTEGER, BIGINT)
    assert resolve_column_type({got, BIGINT}) == BIGINT


@given(st.floats(allow_nan=False, allow_infinity=False,
                 min_value=-1e12, max_value=1e12))
@settings(max_examples=200)
def test_rendered_float_is_numeric_or_integral(x):
    rendered = repr(x)
    got = classify_value(rendered)
    if x == int(x) and rendered[0] != "0" and rendered not in ("0", "1"):
        # repr of integral floats is like '3.0' -> integral branch
        assert got in (SMALLINT, INTEGER, BIGINT, NUMERIC, TEXT)
    else:
        assert got in (NUMERIC, TEXT, SMALLINT)


@given(st.dates())
@settings(max_examples=100)
def test_rendered_date_reinfers_date(d):
    assert classify_value(d.isoformat()) == DATE


@given(st.datetimes())
@settings(max_examples=100)
def test_rendered_datetime_reinfers_temporal(ts):
    got = classify_value(ts.isoformat(sep=" "))
    if (ts.hour, ts.minute, ts.second) == (0, 0, 0):
        assert got == DATE
    else:
        assert got == TIMESTAMP


def test_profile_csv_files_walks_files(spark, tmp_path):
    """A10 parity: the profiler walks CSV files directly (reference
    data-type-pandas.py:10-31), one (table, column, type) row per column."""
    from covid_19_data_engineering_spark.inference import profile_csv_files

    a = tmp_path / "Sales.csv"
    a.write_text("id,amount,when\n1,9.50,2021-03-04\n2,12.25,2021-03-05\n")
    b = tmp_path / "labels.csv"
    b.write_text("code,label\n007,agent\n42,answer\n")

    rows = {
        (r["table_name"], r["column_name"]): r["inferred_type"]
        for r in profile_csv_files(spark, [str(a), str(b)]).collect()
    }
    assert rows[("sales", "id")] == "smallint"
    assert rows[("sales", "amount")] == "numeric"
    assert rows[("sales", "when")] == "date"
    assert rows[("labels", "code")] == "text"     # zero-padded stays text
    assert rows[("labels", "label")] == "text"
    assert len(rows) == 5


def test_sampling_inference_single_job_wide_table(spark):
    """Round-3 verdict #8: sampling inference must launch ONE Spark job no
    matter how wide the table — the old per-column limit/collect meant 50
    scheduler round-trips for a 50-column staging table."""
    import pyspark.sql.functions as F

    from covid_19_data_engineering_spark.inference import infer_table_schema

    df = spark.range(100).select(
        *[F.lit(str(i)).alias(f"c{i}") for i in range(50)]
    )
    sc = spark.sparkContext
    sc.setJobGroup("wide-infer", "inference job-count gate")
    try:
        schema = infer_table_schema(df)
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("wide-infer")
    assert len(jobs) == 1, f"expected 1 job, saw {len(jobs)}"
    assert len(schema) == 50
    assert set(schema.values()) == {"smallint"}


def test_sampling_inference_null_and_mixed_columns(spark):
    """Slice semantics: per-column null filtering happens on the collected
    slice; an all-null column resolves to text, mixed columns resolve
    through the reference lattice exactly as before."""
    import pyspark.sql.functions as F

    from covid_19_data_engineering_spark.inference import infer_table_schema

    rows = [
        ("1", None, "2021-03-04", "x"),
        ("900", "t", None, "y"),
        (None, "f", "2021-05-06", "3.25"),
    ]
    df = spark.createDataFrame(
        rows, "a string, b string, c string, d string"
    ).withColumn("e", F.lit(None).cast("string"))
    schema = infer_table_schema(df)
    assert schema["a"] == "smallint"   # nulls skipped, ints resolved
    assert schema["b"] == "boolean"
    assert schema["c"] == "date"
    assert schema["d"] == "text"       # text absorbs everything
    assert schema["e"] == "text"       # all-null -> default text

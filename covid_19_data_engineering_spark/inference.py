"""Sample-based column type inference — the reference's core custom operator.

Semantics mirror the reference engine's inference pass (see
/root/reference/load_tables_daily.py:86-152 ``guess_type``/predicates,
:266-305 ``alter_column`` sampling policy, :307-327 ``_determine_final_type``),
re-implemented Spark-first. Behavioral contract (each rule unit-tested in
tests/test_inference.py):

value classification (on the stripped string):
- ``""``                          -> TEXT (the default)
- float-parseable AND integral:
    - literally ``"0"`` / ``"1"`` -> SMALLINT (never boolean)
    - first char ``'0'``          -> TEXT (zero-padded identifier protection;
      note this also catches ``"0.0"`` — a documented reference quirk)
    - within int16 / int32 range  -> SMALLINT / INTEGER, else BIGINT
- float-parseable, non-integral   -> NUMERIC (also inf/nan, which overflow int())
- boolean tokens true/false/t/f   -> BOOLEAN (checked before dates, so ``"t"``
  never parses as a date)
- dateutil-parseable:
    - midnight (h=m=s=0)          -> DATE
    - otherwise                   -> TIMESTAMP
- anything else                   -> TEXT

column resolution over the set of observed labels:
- single label wins outright; empty set -> TEXT
- any TEXT -> TEXT; else TIMESTAMP absorbs all; else DATE+INTEGER -> INTEGER
  (the year-vs-date tiebreak) but DATE+anything-else -> TEXT (reference
  fall-through quirk); else NUMERIC > BIGINT > INTEGER > SMALLINT; else TEXT.

sampling policy: >10k rows -> 1000, >1k -> 500, else all rows; non-NULL
values only; values stripped before classification.

Two execution modes:
- ``sample`` (default, faithful): one bounded Spark job per table, a
  ``LIMIT 10001`` slice of every column. The limit pushes into the scan, so
  cost is O(sample) regardless of table size (this is why the approach
  survives 100 TB); the slice's length picks the sample size, so no count
  scan precedes it. Classification runs on the driver over <=1000 rows.
- ``full``: one distributed pass classifying every cell with JVM-side
  expressions and aggregating label sets per column — exact over all rows;
  date/timestamp recognition narrows to Spark-castable formats (documented
  divergence from dateutil's permissiveness).
"""

from __future__ import annotations

import math
import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

try:
    from dateutil import parser as _dateutil_parser
except ImportError:  # pragma: no cover - dateutil ships with pandas
    _dateutil_parser = None

TEXT = "text"
SMALLINT = "smallint"
INTEGER = "integer"
BIGINT = "bigint"
NUMERIC = "numeric"
BOOLEAN = "boolean"
DATE = "date"
TIMESTAMP = "timestamp"

_INT16_MIN, _INT16_MAX = -(2**15), 2**15 - 1
_INT32_MIN, _INT32_MAX = -(2**31), 2**31 - 1

_BOOL_TOKENS = frozenset({"true", "false", "t", "f"})


def classify_value(raw: str) -> str:
    """Classify one rendered value into the engine's type vocabulary."""
    s = raw.strip()
    if not s:
        return TEXT

    try:
        as_float = float(s)
        numeric = True
    except (TypeError, ValueError):
        numeric = False

    if numeric:
        try:
            integral = as_float == int(as_float)
        except (OverflowError, ValueError):  # inf / nan
            return NUMERIC
        if not integral:
            return NUMERIC
        if s in ("0", "1"):
            return SMALLINT
        if s[0] == "0":
            # zero-padded identifiers (MRNs etc.) must stay text
            return TEXT
        magnitude = int(as_float)
        if _INT16_MIN <= magnitude <= _INT16_MAX:
            return SMALLINT
        if _INT32_MIN <= magnitude <= _INT32_MAX:
            return INTEGER
        return BIGINT

    lowered = s.lower()
    if lowered in _BOOL_TOKENS:
        return BOOLEAN

    if _dateutil_parser is not None:
        try:
            parsed = _dateutil_parser.parse(s)
        except (ValueError, OverflowError, TypeError):
            return TEXT
        if (parsed.hour, parsed.minute, parsed.second) == (0, 0, 0):
            return DATE
        return TIMESTAMP

    return TEXT


# Widening order for the numeric tail of the lattice.
_NUMERIC_LADDER = (NUMERIC, BIGINT, INTEGER, SMALLINT)


def resolve_column_type(labels: set[str]) -> str:
    """Collapse the set of labels observed in one column to a final type."""
    if len(labels) == 1:
        return next(iter(labels))
    if not labels:
        return TEXT
    if TEXT in labels:
        return TEXT
    if TIMESTAMP in labels:
        return TIMESTAMP
    if DATE in labels:
        # year-like integers ("2021") classify as integer while true dates
        # classify as date; a column mixing both is integer. Any OTHER mix
        # involving date is unresolvable -> text (reference fall-through).
        return INTEGER if INTEGER in labels else TEXT
    for candidate in _NUMERIC_LADDER:
        if candidate in labels:
            return candidate
    return TEXT


def sample_limit(row_count: int) -> int:
    """Reference sampling policy: bounded inference cost on big tables."""
    if row_count > 10_000:
        return 1_000
    if row_count > 1_000:
        return 500
    return row_count


_SPARK_TYPES: dict[str, T.DataType] = {
    TEXT: T.StringType(),
    SMALLINT: T.ShortType(),
    INTEGER: T.IntegerType(),
    BIGINT: T.LongType(),
    # reference 'numeric' is arbitrary-precision; values are guaranteed
    # float()-parseable so DoubleType is lossless for the ingest surface
    NUMERIC: T.DoubleType(),
    BOOLEAN: T.BooleanType(),
    DATE: T.DateType(),
    TIMESTAMP: T.TimestampType(),
}


def spark_type_for(type_name: str) -> T.DataType:
    return _SPARK_TYPES[type_name]


def infer_table_schema(df: DataFrame, mode: str = "sample") -> dict[str, str]:
    """Infer {column -> type name} for an all-string DataFrame."""
    if mode == "sample":
        return _infer_by_sampling(df)
    if mode == "full":
        return _infer_full_scan(df)
    raise ValueError(f"unknown inference mode {mode!r}")


def _infer_by_sampling(df: DataFrame) -> dict[str, str]:
    """ONE bounded Spark job for the whole table, not one per column: a
    slice of every column is collected together and each cell classified
    driver-side by the exact reference kernel (``classify_value``; the JVM
    ``_classify_expr`` approximation is reserved for full-scan mode).

    The slice is 10,001 rows, one past the largest table ``sample_limit``
    keeps whole: its length picks the tier and its prefix is the sample.
    So no count scan runs, and only rows that parse are counted (a count
    over a DROPMALFORMED CSV read skips parsing and counts malformed rows
    too). Nulls are filtered per column on the slice: a column whose
    sampled rows are all NULL resolves to text."""
    rows = df.limit(10_001).collect()
    rows = rows[:sample_limit(len(rows))]
    resolved: dict[str, str] = {}
    for i, column in enumerate(df.columns):
        labels = {
            classify_value(str(row[i])) for row in rows if row[i] is not None
        }
        resolved[column] = resolve_column_type(labels)
    return resolved


# --- full-scan mode: JVM-side classification expression ----------------------

_INTEGRAL_RE = r"^[+-]?[0-9]+$"
_DECIMAL_RE = r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$"


def _classify_expr(column: str) -> F.Column:
    """Vectorized approximation of classify_value for whole-table passes."""
    v = F.trim(F.col(column))
    d = v.try_cast("double")
    integral = d.isNotNull() & (d == F.floor(d)) & ~F.isnan(d)
    ts = v.try_cast("timestamp")
    midnight = (F.hour(ts) == 0) & (F.minute(ts) == 0) & (F.second(ts) == 0)
    return (
        F.when(v == "", F.lit(TEXT))
        .when(v.isin("0", "1"), F.lit(SMALLINT))
        .when(v.rlike(_DECIMAL_RE) & integral & v.startswith("0"), F.lit(TEXT))
        .when(
            v.rlike(_DECIMAL_RE) & integral,
            F.when(d.between(_INT16_MIN, _INT16_MAX), F.lit(SMALLINT))
            .when(d.between(_INT32_MIN, _INT32_MAX), F.lit(INTEGER))
            .otherwise(F.lit(BIGINT)),
        )
        .when(v.rlike(_DECIMAL_RE), F.lit(NUMERIC))
        .when(F.lower(v).isin(*_BOOL_TOKENS), F.lit(BOOLEAN))
        .when(ts.isNotNull() & midnight, F.lit(DATE))
        .when(ts.isNotNull(), F.lit(TIMESTAMP))
        .otherwise(F.lit(TEXT))
    )


def _infer_full_scan(df: DataFrame) -> dict[str, str]:
    aggs = [
        F.collect_set(F.when(F.col(c).isNotNull(), _classify_expr(c))).alias(c)
        for c in df.columns
    ]
    observed = df.agg(*aggs).first().asDict()
    return {c: resolve_column_type(set(observed[c] or [])) for c in df.columns}


def apply_inferred_schema(df: DataFrame, schema_map: dict[str, str]) -> DataFrame:
    """Cast an all-string DataFrame to its inferred schema (replaces the
    reference's in-place ALTER COLUMN TYPE, which Spark tables cannot do —
    the staging table is rewritten pre-promotion instead).

    try_cast, not cast: inference ran on a bounded sample, so unsampled rows
    can hold uncastable values. The reference's ALTER would throw and leave
    the whole column text (error logged + skipped); nulling just the
    malformed cells keeps the inferred type and is the lossless-er posture —
    the raw string always survives in the landing CSV/quarantine."""
    projections = []
    for column in df.columns:
        target = schema_map.get(column, TEXT)
        if target == TEXT:
            projections.append(F.col(column))
        else:
            projections.append(
                F.trim(F.col(column)).try_cast(_SPARK_TYPES[target]).alias(column)
            )
    return df.select(*projections)


def profile_csv_files(spark: SparkSession, paths: list[str],
                      mode: str = "sample") -> DataFrame:
    """Profile CSV files directly — the reference's offline profiler walks
    CSV files, not warehouse tables (data-type-pandas.py:10-31: pandas
    read_csv per file, emit TABLE,COLUMN,TYPE rows). Spark analog: per file,
    a header scan names the columns, ``read_csv_landing``'s good side reads
    them as strings, and the inference kernel classifies a bounded sample
    (or the full file with mode='full'). Each file's scan runs distributed;
    only the tiny (columns x files) profile lands on the driver, mirroring
    the reference's stdout report."""
    from covid_19_data_engineering_spark.sources.csv import (
        read_csv_landing,
        table_name_for,
    )

    rows: list[tuple[str, str, str]] = []
    for path in paths:
        good, _ = read_csv_landing(spark, path)
        inferred = infer_table_schema(good, mode=mode)
        table = table_name_for(path)
        rows.extend((table, column, tname) for column, tname in sorted(inferred.items()))
    return spark.createDataFrame(
        rows, "table_name string, column_name string, inferred_type string"
    )

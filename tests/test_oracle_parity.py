"""Local replica of the driver's correctness gate.

For every registered query with an oracle, run the Spark builder AND the
DuckDB SQL at sf0.01 and compare row count, column names, and an
order-insensitive value fingerprint (columns sorted by name, rows sorted,
floats canonicalized). Catching a mismatch here is strictly cheaper than
waiting for CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import pytest

from covid_19_data_engineering_spark.plans.registry import REGISTRY, _ensure_loaded
from tests.conftest import SF_ORACLE

_ensure_loaded()

ORACLE_CASES = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_CASES = sorted(name for name, q in REGISTRY.items() if q.oracle is None)


def _canon_value(v):
    # Dtype-STRICT on purpose: the driver's canonicalizer hashes raw values,
    # so Spark long 2 vs DuckDB double 2.0 is a driver hash-mismatch even
    # though the values agree (see math_funcs in CORRECTNESS_r01). Tag each
    # value with a type class so local green predicts driver green.
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "b:t" if v else "b:f"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        if v.is_nan():
            return "d:nan"
        return f"d:{format(v.normalize(), 'f')}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def _fingerprint(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon = sorted("|".join(_canon_value(r[i]) for i in order) for r in rows)
    return canon


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_oracle_match(name, spark, duck):
    q = REGISTRY[name]
    sdf = q.builder(spark, SF_ORACLE)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    res = duck.execute(q.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    sfp = _fingerprint(spark_rows, spark_cols)
    dfp = _fingerprint(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(sfp, dfp) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches, first 3: {mismatches[:3]}"


def test_registry_has_no_rows_only_entries():
    """Every registered query carries a full DuckDB oracle — the strongest
    driver check. (An empty parametrize list here used to auto-skip one
    placeholder test and show up as the suite's lone mystery skip.) If a
    genuinely non-SQL-expressible query ever lands, re-add the rows-only
    runner:

        @pytest.mark.parametrize("name", ROWS_ONLY_CASES)
        def test_rows_only_runs(name, spark):
            sdf = REGISTRY[name].builder(spark, SF_ORACLE)
            assert sdf.count() >= 0 and len(sdf.schema.fields) > 0
    """
    assert ROWS_ONLY_CASES == []


def _load(relpath, name):
    """Import a repo script (bench.py, tools/*) as a module."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(name, os.path.join(repo, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_and_scale_lists_cover_only_registered_queries():
    """bench.py derives its extras from the registry (round-9 verdict #1),
    so the invariant to pin flipped from list membership to COVERAGE:
    every registered query must be timed (headline + derived extras)
    unless named in EXCLUDED with a reason string. bench_scale.py FAMILY
    stays a pinned list — a name that drifts from the registry crashes
    the scale run, so membership is still the pin there."""
    bench = _load("bench.py", "bench_mod")
    scale = _load("tools/bench_scale.py", "bench_scale_mod")
    names = set(REGISTRY)
    missing_headline = [n for n in bench.HEADLINE if n not in names]
    assert not missing_headline, \
        f"bench HEADLINE not registered: {missing_headline}"
    # the no-silent-caps invariant: headline + derived extras = registry
    extras = sorted(n for n in names
                    if n not in bench.HEADLINE and n not in bench.EXCLUDED)
    timed = set(bench.HEADLINE) | set(extras)
    untimed = names - timed - set(bench.EXCLUDED)
    assert not untimed, f"registered but silently untimed: {sorted(untimed)}"
    for name, reason in bench.EXCLUDED.items():
        assert isinstance(reason, str) and reason.strip(), \
            f"EXCLUDED entry {name} has no reason"
    missing_family = [n for n in scale.FAMILY if n not in names]
    assert not missing_family, \
        f"scale FAMILY not registered: {missing_family}"


@pytest.mark.parametrize("secs,fits", [(6.72, True), (99.99, False)])
def test_bench_tail_checksums_names_and_keeps_summary_last(secs, fits):
    """bench.py's last two lines over every registered query: the
    positional per-query line carries a checksum of its name order, and the
    summary line is last and whole. At 6.72 s per query (3-digit
    centiseconds, the slowest per-query median recorded at sf0.1) both lines
    fit the budget; at 99.99 s they overflow it, the summary drops every
    slowest-extra and still fits the 2000-byte tail on its own."""
    import hashlib
    import json

    bench = _load("bench.py", "bench_mod")
    timings = {n: secs for n in bench.HEADLINE}
    extra = {n: secs for n in REGISTRY if n not in timings}
    out = {"metric": "headline_queries_total", "value": round(sum(timings.values()), 3),
           "unit": "sec", "sf": 0.1, "passes": 3, "headline_isolated": True}
    pq_line, tail_line = bench.tail_lines(out, timings, extra)

    pq, summary = json.loads(pq_line), json.loads(tail_line)
    names = sorted(REGISTRY)
    assert pq["n"] == len(names)
    assert pq["names_sha256"] == hashlib.sha256("\n".join(names).encode()).hexdigest()[:8]
    assert summary["metric"] == out["metric"] and summary["value"] == out["value"]
    assert summary["queries"] == timings
    assert (len(pq_line) + len(tail_line) + 2 <= 1900) == fits
    assert fits == bool(summary["slowest_extras"])
    assert len(tail_line) < 2000

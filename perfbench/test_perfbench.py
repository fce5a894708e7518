"""Self-tests for the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_every_named_metric_is_reported_with_its_unit():
    spec = _benchmark_json()
    assert {w["name"] for w in spec["workloads"]} == set(__import__("workloads").WORKLOADS)
    values = {m["name"]: 1.0 for m in spec["end_to_end"]}
    assert run.with_units(values, "end_to_end") == {
        m["name"]: {"value": 1.0, "unit": m["unit"]} for m in spec["end_to_end"]}
    del values["setup_s"]
    with pytest.raises(KeyError):
        run.with_units(values, "end_to_end")


def test_per_layer_summary_names_every_layer_metric():
    metrics, _ = tracing.summarize([], [], {}, n_passes=1, cores=4)
    filled_by_run = {"trace.overhead_s", "pipeline.daily_load_s", "pipeline.quarterly_load_s",
                     "lifecycle.bytes_written_per_input_byte"}
    reported = run.with_units({**metrics, **dict.fromkeys(filled_by_run, 0.0)}, "per_layer")
    assert list(reported) == [m["name"] for m in _benchmark_json()["per_layer"]]


@pytest.mark.parametrize("n, pct", [(11, 9), (20, 50), (24, 58), (100, 90), (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    values = [float(v) for v in range(1, n + 1)]
    got_pct, value = stats.tail_percentile(values)
    assert got_pct == pct
    assert sum(v > value for v in values) >= 10
    # one percentile higher would leave fewer than ten beyond
    rank = -(-(pct + 1) * n // 100)
    assert pct == 99 or n - rank < 10


def test_tail_percentile_needs_eleven_samples():
    assert stats.tail_percentile([1.0] * 10) is None


def test_self_time_subtracts_the_union_of_children():
    S = tracing.Span
    spans = [
        S(0, "op", 0.0, None, "q", end=10.0),
        S(1, "builder", 1.0, 0, "q", end=6.0),
        S(2, "lineage", 2.0, 1, "q", end=3.0),
        S(3, "lineage", 2.5, 1, "q", end=4.0),   # overlaps span 2
        S(4, "collect", 6.0, 0, "q", end=9.5),
        S(5, "lineage", 9.0, 4, "q", end=12.0),  # runs past its parent
    ]
    self_s = tracing.self_times(spans)
    assert self_s[0] == pytest.approx(10.0 - 5.0 - 3.5)
    assert self_s[1] == pytest.approx(5.0 - 2.0)
    assert self_s[4] == pytest.approx(3.5 - 0.5)
    assert self_s[2] == pytest.approx(1.0)


def test_event_log_parser_on_a_small_log():
    """Two jobs of one group share a stage (run once, skipped once); a
    task of another group failed. Field names as Spark 4.1 writes them."""
    with open(os.path.join(HERE, "testdata", "eventlog.jsonl"), encoding="utf-8") as fh:
        groups = tracing.parse_event_log(fh)
    g = groups["q:1:collect"]
    assert g["jobs"] == 2
    assert g["stages"] == 2 and g["stages_skipped"] == 1
    assert g["tasks"] == 3 and g["failed_tasks"] == 0
    assert g["run_ms"] == 60 and g["cpu_ms"] == pytest.approx(45.0)
    assert g["shuffle_write_bytes"] == 300 and g["shuffle_read_bytes"] == 150
    assert g["input_bytes"] == 1000 and g["spill_bytes"] == 0
    b = groups["q:1:builder"]
    assert (b["jobs"], b["tasks"], b["failed_tasks"]) == (1, 1, 1)


def test_plan_counters_skip_the_initial_adaptive_plan():
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- == Final Plan ==",
        "   *(3) HashAggregate(keys=[k])",
        "   +- AQEShuffleRead coalesced",
        "      +- ShuffleQueryStage 1",
        "         +- Exchange hashpartitioning(k, 32)",
        "            +- *(2) BroadcastHashJoin [k], [k], Inner, BuildRight",
        "               :- *(2) FileScan parquet [k]",
        "               +- BroadcastQueryStage 0",
        "                  +- BroadcastExchange HashedRelationBroadcastMode",
        "                     +- *(1) Scan ExistingRDD[k]",
        "+- == Initial Plan ==",
        "   HashAggregate(keys=[k])",
        "   +- Exchange hashpartitioning(k, 32)",
        "      +- FileScan parquet [k]",
    ])
    assert tracing.plan_counters(plan) == {
        "scans": 2, "exchanges": 2, "reused_exchanges": 0, "broadcasts": 1}


def test_inputs_are_byte_identical_per_seed(tmp_path):
    shape = {"n_files": 2, "n_large": 1, "large_rows": 50, "small_rows": 20, "bad_per_file": 2}
    _, a = datagen.csv_inputs(str(tmp_path / "a"), 7, 2, **shape)
    _, b = datagen.csv_inputs(str(tmp_path / "b"), 7, 2, **shape)
    _, c = datagen.csv_inputs(str(tmp_path / "b"), 8, 2, **shape)
    assert a["fingerprint"] == b["fingerprint"] != c["fingerprint"]
    _, a = datagen.star_inputs(str(tmp_path / "a"), 7, 0.001)
    _, b = datagen.star_inputs(str(tmp_path / "b"), 7, 0.001)
    _, c = datagen.star_inputs(str(tmp_path / "b"), 8, 0.001)
    assert a["fingerprint"] == b["fingerprint"] != c["fingerprint"]
    assert a["rows"]["lineitem"] == 6000 and a["rows"]["customer"] == 150

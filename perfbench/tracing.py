"""Traced-run instrumentation, kept entirely in the benchmark's own files.

Spans are recorded around calls into each layer's public functions and held
in memory until the run ends. Nothing here is imported or installed by an
untraced run: it sets no event log and wraps nothing.

- ``Tracer.span``       one span per layer call: name, start, end, parent,
                        operation id, plus counters (jobs launched inside);
- ``Tracer.install``    class-level wrappers for ``DataFrame.localCheckpoint``
                        and ``checkpoint`` (the lineage layer) and wrappers on
                        the ingest functions where ``pipeline`` looks them up;
- ``self_times``        span duration minus the part its children cover;
- ``catalyst_phases``   analysis / optimization / planning ms of a frame;
- ``plan_counters``     scans, exchanges, reused exchanges, broadcasts in the
                        final executed plan;
- ``parse_event_log``   per-job-group stage, task and executor totals from an
                        uncompressed Spark JSON event log.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import re
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    op: str | None
    end: float = 0.0
    jobs: int = 0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the union of the
    intervals its direct children cover (clipped to the span)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s.sid], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def jobs_in_group(self) -> int:
        group = getattr(self._local, "group", None)
        if group is None:
            return 0
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def set_group(self, group: str | None) -> None:
        """Job group the current thread's spans count jobs against."""
        self._local.group = group

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(next(self._ids), name, time.perf_counter(),
                 parent.sid if parent else None,
                 op if op is not None else (parent.op if parent else None))
        jobs0 = self.jobs_in_group()
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            s.jobs = self.jobs_in_group() - jobs0
            self.spans.append(s)

    # -- wrappers ------------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._restore.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the lineage and ingest layers (undone by ``uninstall``)."""
        from covid_19_data_engineering_spark import lifecycle, pipeline

        frame_cls = type(self.spark.range(1))  # the concrete (classic) DataFrame
        self._wrap(frame_cls, "localCheckpoint", "lineage")
        self._wrap(frame_cls, "checkpoint", "lineage")
        self._wrap(pipeline, "read_csv_landing", "sources.read_csv_landing")
        self._wrap(pipeline, "infer_table_schema", "inference.infer_table_schema")
        for fn in ("write_build_table", "promote", "count_report", "snapshot_history"):
            self._wrap(lifecycle, fn, f"lifecycle.{fn}")

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
                    "start": round(s.start, 6), "end": round(s.end, 6),
                    "self_s": round(selfs[s.sid], 6), "jobs": s.jobs}) + "\n")


# -- Catalyst and plan shape ---------------------------------------------------

def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning ms from the frame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[phase] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out


_NODE = re.compile(r"^(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def plan_counters(plan_text: str) -> dict[str, int]:
    """Node counts in an executed-plan tree string. Adaptive plans print
    their final plan and then the initial one; the initial subtree (every
    line indented at least as far as its ``== Initial Plan ==`` marker) is skipped."""
    counts = {"scans": 0, "exchanges": 0, "reused_exchanges": 0, "broadcasts": 0}
    skip_from = None
    for line in plan_text.splitlines():
        stripped = line.lstrip(" :|+-")
        indent = len(line) - len(stripped)
        if skip_from is not None:
            if indent >= skip_from:
                continue
            skip_from = None
        if stripped.startswith("== Initial Plan =="):
            skip_from = indent
            continue
        m = _NODE.match(stripped)
        if not m:
            continue
        node, rest = m.group(1), stripped[m.end():].strip()
        if node in ("FileScan", "BatchScan", "LocalTableScan", "InMemoryTableScan") or (
                node == "Scan" and rest):
            counts["scans"] += 1
        elif node == "Exchange":
            counts["exchanges"] += 1
        elif node == "BroadcastExchange":
            counts["exchanges"] += 1
            counts["broadcasts"] += 1
        elif node == "ReusedExchange":
            counts["reused_exchanges"] += 1
    return counts


def executed_plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# -- event log -----------------------------------------------------------------

EXECUTOR_KEYS = ("run_ms", "cpu_ms", "gc_ms", "input_bytes", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes")


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages run and skipped, tasks, failed tasks and
    executor task-metric totals, from Spark's JSON event-log lines. A stage
    listed by a job but never submitted (its shuffle output was reused)
    counts as skipped."""
    stage_group: dict[int, str] = {}
    listed: dict[str, int] = defaultdict(int)
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(("jobs", "stages", "stages_skipped", "tasks",
                               "failed_tasks", *EXECUTOR_KEYS), 0.0))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups[group]["jobs"] += 1
            listed[group] += len(ev.get("Stage IDs", []))
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") \
                or stage_group.get(info["Stage ID"], "")
            groups[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], "")]
            g["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                g["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for group, n in listed.items():
        groups[group]["stages_skipped"] = max(0.0, n - groups[group]["stages"])
    return dict(groups)


# -- per-layer summary ---------------------------------------------------------

def _group_totals(groups: dict[str, dict[str, float]], suffixes: tuple[str, ...]) -> dict:
    out = dict.fromkeys(("jobs", "stages", "stages_skipped", "tasks", "failed_tasks",
                         *EXECUTOR_KEYS), 0.0)
    for name, g in groups.items():
        if name.startswith("measure:") and name.endswith(suffixes):
            for k in out:
                out[k] += g[k]
    return out


def summarize(spans: list[Span], records: list[dict], groups: dict[str, dict[str, float]],
              n_passes: int, cores: int) -> tuple[dict[str, float], list[dict]]:
    """Per-layer metrics per pass, and one detail record per operation name.

    ``builder.s`` and ``collect.s`` are whole span durations, so with
    ``load`` they add up to the operation walls; ``lineage.s`` is the part
    of them spent inside checkpoint calls. ``executor.busy_ratio`` is the
    executor run time of the execution-phase jobs (collect, or a load) over
    that phase's wall times the cores."""
    by_name: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    def dur(name: str) -> float:
        return sum(s.end - s.start for s in by_name[name])

    def jobs(name: str) -> int:
        return sum(s.jobs for s in by_name[name])

    every = _group_totals(groups, ("",))
    run_phase = _group_totals(groups, (":collect", ":load"))
    run_wall = dur("collect") + dur("load")
    total = {
        "builder.s": dur("builder"), "builder.jobs": jobs("builder"),
        "lineage.calls": len(by_name["lineage"]),
        "lineage.eager_calls": sum(1 for s in by_name["lineage"] if s.jobs),
        "lineage.s": dur("lineage"),
        "collect.s": dur("collect"), "collect.jobs": jobs("collect"),
        "scheduler.stages": every["stages"], "scheduler.stages_skipped": every["stages_skipped"],
        "scheduler.tasks": every["tasks"], "scheduler.failed_tasks": every["failed_tasks"],
        **{f"executor.{k}": every[k] for k in EXECUTOR_KEYS},
        "sources.read_csv_landing.s": dur("sources.read_csv_landing"),
        "inference.infer_table_schema.s": dur("inference.infer_table_schema"),
        "inference.jobs": jobs("inference.infer_table_schema"),
        **{f"lifecycle.{fn}.s": dur(f"lifecycle.{fn}")
           for fn in ("write_build_table", "promote", "count_report", "snapshot_history")},
    }
    for key in ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
                "plan.scans", "plan.exchanges", "plan.reused_exchanges", "plan.broadcasts",
                "pipeline.quarantine_rows"):
        total[key] = sum(r.get(key, 0) for r in records)
    metrics = {k: v / n_passes for k, v in total.items()}
    metrics["executor.busy_ratio"] = (run_phase["run_ms"] / (run_wall * 1000 * cores)
                                      if run_wall else 0.0)

    # detail per operation name, averaged over its runs
    op_name = {r["op"]: r["name"] for r in records}
    detail: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        name = op_name.get(s.op)
        if name is not None and s.name in ("builder", "collect", "load", "lineage"):
            detail[name][f"{s.name}_s"] += s.end - s.start
            detail[name][f"{s.name}_jobs"] += s.jobs
            detail[name][f"{s.name}_calls"] += 1
    for r in records:
        for k, v in r.items():
            if k.startswith(("catalyst.", "plan.")) or k == "wall":
                detail[r["name"]][k] += v
        detail[r["name"]]["runs"] += 1
    for group, g in groups.items():
        parts = group.split(":")
        if group.startswith("measure:") and len(parts) >= 4:
            name = ":".join(parts[2:-1])
            detail[name]["executor.run_ms"] += g["run_ms"]
            detail[name]["scheduler.tasks"] += g["tasks"]
    rows = []
    for name, d in sorted(detail.items()):
        runs = d.pop("runs", 1) or 1
        rows.append({"op": name, **{k: round(v / runs, 4) for k, v in d.items()}})
    return metrics, rows

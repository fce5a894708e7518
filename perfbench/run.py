#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload iterative_sf001 --seed 1 --seconds 10 --trace 0

Run from the repository root. One process is the Spark driver on
``local[<cores>]``; one client sends each operation (a registry query, or one
file's load) only after the previous one returned. The run:

1. builds the seeded inputs and every expected answer in a child process
   (cached under ``.perfbench_cache/``, untimed);
2. sets up: imports the engine, starts the session and runs one untimed
   warm-up pass (``setup_s``);
3. repeats passes over the workload's operations until ``--seconds`` have
   elapsed, and at least three, timing each operation and checking its
   output afterwards;
4. prints detail lines, then as its last line one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` first runs an
untraced baseline of one pass in a child process, then sets up a session with
a local event log and the layer wrappers of ``tracing.py`` installed,
measures for ``--seconds``, and reports the per-layer metrics plus the
traced-minus-untraced time of the first pass after warm-up.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import gc
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
OP_TIMEOUT_S = 60.0
PREPARE_TIMEOUT_S = 120.0
BASELINE_TIMEOUT_S = 120.0



def _spec() -> dict:
    """BENCHMARK.json: the workloads and the metric names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def with_units(values: dict[str, float], section: str) -> dict[str, dict]:
    """Every metric BENCHMARK.json names in ``section``, with its unit;
    raises KeyError when one was not measured."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in _spec()[section]}


def _cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def _environment() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [ROOT, HERE]


class Context:
    """What an operation sees: the session, and a hook that names the phase
    (builder / collect / load) its following Spark jobs belong to."""

    def __init__(self, spark, op_id: str, tracer=None):
        self.spark, self.op_id, self.tracer = spark, op_id, tracer
        self._span = None

    def phase(self, name: str) -> None:
        group = f"{self.op_id}:{name}"
        self.spark.sparkContext.setJobGroup(group, group, interruptOnCancel=True)
        if self.tracer is not None:
            if self._span is not None:
                self._span.__exit__(None, None, None)
            self.tracer.set_group(group)
            self._span = self.tracer.span(name)
            self._span.__enter__()

    def close(self) -> None:
        if self._span is not None:
            self._span.__exit__(None, None, None)
            self._span = None


class Runner:
    def __init__(self, workload, seed: int, tracer_cls=None):
        self.workload, self.seed = workload, seed
        self.tracer_cls = tracer_cls
        self.spark = None
        self.tracer = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self._ops = 0
        self.abandoned = False
        # the one client: every operation runs on this thread, in turn
        self.client = concurrent.futures.ThreadPoolExecutor(1)

    # -- session -------------------------------------------------------------

    def start(self, traced: bool) -> None:
        from covid_19_data_engineering_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(CACHE, 'tmp')}"}
        if traced:
            self.event_dir = os.path.join(CACHE, "eventlog", f"{self.workload.name}-{self.seed}")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.event_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark(app_name=f"perfbench-{self.workload.name}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if traced:
            self.tracer = self.tracer_cls(self.spark)
            self.tracer.install()

    def peak_rss_kb(self) -> int:
        """Peak resident memory (VmHWM) of this process plus the driver JVM."""
        total = 0
        for pid in (os.getpid(), self.spark.sparkContext._gateway.proc.pid):
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                total += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return total

    def stop(self) -> str | None:
        """Stop the session and its JVM, so the next session starts as cold
        as the first; return the event-log path of a traced session."""
        from pyspark import SparkContext

        app_id = self.spark.sparkContext.applicationId
        if self.tracer is not None:
            self.tracer.uninstall()
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        if self.tracer is None:
            return None
        path = os.path.join(self.event_dir, app_id)
        return path if os.path.exists(path) else None

    # -- operations ----------------------------------------------------------

    def run_op(self, op, label: str) -> float | None:
        """Time one operation on the client thread, cancel its jobs if it
        outlives the timeout, then check its output. Returns the wall time,
        or None when the operation failed."""
        self._ops += 1
        op_id = f"{label}:{self._ops}:{op.name}"
        ctx = Context(self.spark, op_id, self.tracer)
        outcome: dict = {}

        def target():
            sc = self.spark.sparkContext
            sc.addJobTag(op_id)
            try:
                with self.tracer.span("op", op=op_id) if self.tracer else contextlib.nullcontext():
                    t0 = time.perf_counter()
                    try:
                        outcome["result"] = op.run(ctx)
                    finally:
                        ctx.close()
                    outcome["wall"] = time.perf_counter() - t0
            except Exception as exc:  # reported as a failed operation
                outcome["error"] = f"{type(exc).__name__}: {exc}"
            finally:
                sc.clearJobTags()
                sc.setLocalProperty("spark.jobGroup.id", None)

        done = self.client.submit(target)
        try:
            done.result(OP_TIMEOUT_S)
        except concurrent.futures.TimeoutError:
            self.spark.sparkContext.cancelJobsWithTag(op_id)
            outcome.setdefault("error", f"timed out after {OP_TIMEOUT_S:.0f} s")
            # a hung client thread is abandoned; the next operation gets a new one
            self.client.shutdown(wait=False)
            self.abandoned = True
            self.client = concurrent.futures.ThreadPoolExecutor(1)
        self.attempted += 1
        if "error" not in outcome:
            try:
                op.check(ctx, outcome["result"])
            except Exception as exc:  # a wrong answer or a failed check query
                outcome["error"] = f"{type(exc).__name__}: {exc}"
        if self.tracer is not None and "error" not in outcome:
            self.trace_op(op, op_id, outcome)
        outcome.pop("result", None)
        # drop this operation's frames and checkpoint blocks before the next
        # one: Spark's ContextCleaner only sees dead RDDs after a JVM GC
        gc.collect()
        self.spark._jvm.System.gc()
        if "error" in outcome:
            self.failed += 1
            self.errors.append(f"{op_id}: {outcome['error']}"[:500])
            return None
        return outcome["wall"]

    def trace_op(self, op, op_id, outcome) -> None:
        from tracing import catalyst_phases, executed_plan_text, plan_counters

        rec = {"op": op_id, "name": op.name, "wall": outcome["wall"]}
        if op.kind == "query":
            df = outcome["result"][0]
            rec.update({f"catalyst.{k}_ms": v for k, v in catalyst_phases(df).items()})
            rec.update({f"plan.{k}": v for k, v in plan_counters(executed_plan_text(df)).items()})
        else:
            rec["pipeline.quarantine_rows"] = sum(r.rows_quarantined for r in outcome["result"])
        self.op_records.append(rec)

    def one_pass(self, label: str, pass_no: int) -> tuple[list[float], dict[str, float]]:
        self.workload.reset(self.spark)
        walls, by_op = [], {}
        ops = (self.workload.warmup_operations(self.seed) if label == "warmup"
               else self.workload.operations(self.seed, pass_no))
        for op in ops:
            wall = self.run_op(op, label)
            if wall is not None:
                walls.append(wall)
                by_op[op.name] = wall
        return walls, by_op

    def set_up(self, traced: bool) -> float:
        """Start a session and run the workload's untimed warm-up pass;
        return the seconds it took."""
        t0 = time.perf_counter()
        self.start(traced)
        self.one_pass("warmup", 0)
        return time.perf_counter() - t0

    def measure(self, seconds: float, min_passes: int = 3) -> dict:
        """Passes until ``seconds`` have elapsed, and at least ``min_passes``
        of them (so each operation has a median even on a slow box);
        per-pass and per-op walls."""
        passes, walls, by_op = [], [], []
        start = time.perf_counter()
        pass_no = 1
        while len(passes) < min_passes or time.perf_counter() - start < seconds:
            w, ops = self.one_pass("measure", pass_no)
            passes.append(sum(w))
            walls.extend(w)
            by_op.append(ops)
            pass_no += 1
        return {"passes": passes, "walls": walls, "by_op": by_op}


def run(args) -> tuple[dict, list[dict], bool]:
    from workloads import WORKLOADS

    # inputs and oracle answers are built in a child process, so their
    # memory stays out of this process's peak RSS; here they are cache hits
    subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare",
                    "--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", "0"], check=True, timeout=PREPARE_TIMEOUT_S)
    t0 = time.perf_counter()
    import covid_19_data_engineering_spark.plans.registry  # noqa: F401  (import is set-up work)
    import_s = time.perf_counter() - t0
    workload = WORKLOADS[args.workload]()
    inputs = workload.prepare(CACHE, args.seed)
    info: list[dict] = [{"workload": args.workload, "seed": args.seed, "cores": _cores(),
                         "load": "closed loop, 1 client", "inputs": inputs}]

    if args.trace:
        from tracing import Tracer

        runner = Runner(workload, args.seed, Tracer)
        metrics = trace_run(runner, args, info)
    else:
        runner = Runner(workload, args.seed)
        metrics = measure_run(runner, args, import_s, info)
    info.append({"errors": runner.errors})
    result = {"correct": runner.failed == 0, "attempted": runner.attempted,
              "failed": runner.failed,
              "metrics": with_units(metrics, "per_layer" if args.trace else "end_to_end")}
    return result, info, runner.abandoned


def measure_run(runner: Runner, args, import_s: float, info: list[dict]) -> dict:
    """Set up, measure passes for ``args.seconds`` (one pass for a
    baseline), and return the end-to-end metrics."""
    import stats

    setup_s = import_s + runner.set_up(traced=False)
    steal0 = _cpu_ticks()
    m = runner.measure(0, min_passes=1) if args.baseline else runner.measure(args.seconds)
    steal1 = _cpu_ticks()
    # a run whose every operation failed still prints every metric
    walls = m["walls"] or [0.0]
    per_op = _by_op_medians(m["by_op"]) or {"none": 0.0}
    slowest = max(per_op, key=per_op.get)
    rule = stats.tail_percentile(walls)
    metrics = {
        "setup_s": setup_s,
        "pass_s": statistics.median(m["passes"]),
        # per-operation medians first: a pooled median of a few operations
        # falls between two of them and swings with single samples
        "op_p50_s": statistics.median(per_op.values()),
        "op_tail_s": per_op[slowest],
        "peak_rss_mb": runner.peak_rss_kb() / 1024.0,
    }
    info.append({"passes": len(m["passes"]), "pass_walls_s": m["passes"],
                 "op_walls_s": m["by_op"],
                 "op_samples": len(walls), "slowest_op": slowest,
                 # the >=10-samples-beyond percentile; below p50 until a run
                 # holds 20 samples, so op_tail_s reports the slowest operation
                 "tail_rule": rule and {"percentile": rule[0], "value": rule[1]},
                 "failed_ratio": runner.failed / max(1, runner.attempted),
                 # CPU time the host took from this machine while it measured:
                 # whole runs slow down with it, so read timings against it
                 "host_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
                 "op_median_s": per_op})
    if args.workload == "daily_ingest":
        info[-1].update(_ingest_split(m["by_op"]))
    runner.stop()
    return metrics


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _by_op_medians(by_op: list[dict[str, float]]) -> dict[str, float]:
    """Median wall per operation name over the passes it succeeded in."""
    names = sorted({n for p in by_op for n in p})
    return {n: statistics.median([p[n] for p in by_op if n in p]) for n in names}


def _ingest_split(by_op: list[dict[str, float]]) -> dict:
    daily = [sum(v for k, v in p.items() if k.startswith("daily:")) for p in by_op]
    quarterly = [sum(v for k, v in p.items() if k.startswith("quarterly")) for p in by_op]
    return {"daily_load_s": statistics.median(daily),
            "quarterly_load_s": statistics.median(quarterly)}


def trace_run(runner: Runner, args, info: list[dict]) -> dict:
    """A traced session, and its untraced baseline: one pass of a plain run
    in a child process, so both sessions start from a fresh interpreter and
    a fresh JVM (a second session in one process runs warmer than the
    first)."""
    from tracing import parse_event_log, summarize

    base = subprocess.run([sys.executable, os.path.abspath(__file__), "--baseline",
                           "--workload", args.workload, "--seed", str(args.seed),
                           "--seconds", "0"],
                          capture_output=True, text=True, check=True, timeout=BASELINE_TIMEOUT_S)
    lines = [json.loads(line) for line in base.stdout.splitlines() if line.startswith("{")]
    untraced_pass_s = next(line["pass_walls_s"][0] for line in lines if "pass_walls_s" in line)
    runner.attempted, runner.failed = lines[-1]["attempted"], lines[-1]["failed"]
    runner.errors += next(line["errors"] for line in lines if "errors" in line)

    runner.op_records = []
    runner.set_up(traced=True)
    runner.tracer.spans.clear()
    runner.op_records.clear()
    m = runner.measure(args.seconds, min_passes=1)
    written = _tree_bytes(os.path.join(CACHE, "warehouse", "quarterly.db"))
    log_path = runner.stop()
    trace_dir = os.path.join(CACHE, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    runner.tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.spans.jsonl"))
    groups = {}
    if log_path:
        with open(log_path, encoding="utf-8") as fh:
            groups = parse_event_log(fh)
    metrics, per_op = summarize(runner.tracer.spans, runner.op_records, groups,
                                len(m["passes"]), _cores())
    # first pass after warm-up on both sides, as the baseline ran one
    metrics["trace.overhead_s"] = m["passes"][0] - untraced_pass_s
    if args.workload == "daily_ingest":
        split = _ingest_split(m["by_op"])
        metrics["pipeline.daily_load_s"] = split["daily_load_s"]
        metrics["pipeline.quarterly_load_s"] = split["quarterly_load_s"]
        csv_bytes = runner.workload.csv_bytes()
        metrics["lifecycle.bytes_written_per_input_byte"] = written / csv_bytes
    else:
        metrics["pipeline.daily_load_s"] = metrics["pipeline.quarterly_load_s"] = 0.0
        metrics["lifecycle.bytes_written_per_input_byte"] = 0.0
    info.append({"trace": {"untraced_pass_s": untraced_pass_s, "traced_pass_walls_s": m["passes"],
                           "overhead_s": metrics["trace.overhead_s"],
                           "spans": len(runner.tracer.spans),
                           "event_log": log_path is not None}})
    info.extend(per_op)
    return metrics


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--prepare", action="store_true",
                        help="only build the inputs and oracle answers into the cache")
    parser.add_argument("--baseline", action="store_true",
                        help="measure one untraced pass: the base of a traced run's overhead")
    args = parser.parse_args()

    _environment()
    try:
        import covid_19_data_engineering_spark  # noqa: F401
        import tools.driver_gate  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable here: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.prepare:
        WORKLOADS[args.workload]().prepare(CACHE, args.seed)
        return 0
    result, info, abandoned = run(args)
    for line in info:
        print(json.dumps(line, default=str))
    print(json.dumps(result), flush=True)
    if abandoned:  # a hung client thread would block interpreter exit
        os._exit(0)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""End-to-end pipeline drivers — the reference's two entry points, Spark-first.

- ``run_daily``     (reference C6, load_tables_daily.py:562-646): land CSVs as
  all-string build tables, infer + cast types, promote build->prod, report
  counts. The reference's per-column SELECT round trips and shell COPY hops
  collapse into at most 8 Spark jobs per file, on two concurrent branches
  once the CSV header is read. The critical path is the caller's thread:
  header, inference sample, build write (which counts its rows), then, after
  the quarantine branch joins, promote (no job) and the count report's prod
  scan (2). The quarantine branch runs alongside inference and the build
  write: its count (2 jobs, a second parse of the file) and, only when that
  count is non-zero, its append (1).
- ``run_quarterly`` (reference C7, vertica_upload.py:361-398): same landing
  plus a ``load_time`` audit column and an append-only history snapshot;
  4 Spark jobs per file (header, inference sample, build write, history).
  NOTE: the reference's quarterly row-insert builds its INSERT inside the row
  loop but executes it after (vertica_upload.py:108-139), silently inserting
  only the last row of each CSV. This driver implements the evident intent —
  ALL rows land — and tests/test_pipeline.py pins that as a regression test.

The two branches of a daily load share no data, so overlapping them changes
no plan, job or count. The quarantine branch must run on an
``InheritableThread``: a plain thread sees no job group and no job tags, so
its jobs would escape a caller's job-group accounting and tag cancellation.
Files still load one after another.
"""

from __future__ import annotations

import logging
from concurrent.futures import Future
from dataclasses import dataclass, field

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession

from covid_19_data_engineering_spark import lifecycle
from covid_19_data_engineering_spark.inference import (
    apply_inferred_schema,
    infer_table_schema,
)
from covid_19_data_engineering_spark.sources.csv import (
    read_csv_landing,
    table_name_for,
)

log = logging.getLogger(__name__)


@dataclass
class LoadResult:
    table: str
    rows_loaded: int
    rows_quarantined: int
    inferred_schema: dict[str, str] = field(default_factory=dict)


def _quarantine(bad: DataFrame, target: str, out: Future) -> None:
    """Count the malformed rows and append them to ``target`` only when there
    are any; hand the count, or any error (which the caller re-raises), to
    ``out``, so an error can never leave ``out`` unset."""
    try:
        n_bad = bad.count()
        if n_bad:
            bad.write.mode("append").format("parquet").saveAsTable(target)
        out.set_result(n_bad)
    except BaseException as exc:
        out.set_exception(exc)


def _land_one(spark: SparkSession, csv_path: str, schema: str,
              quarantine_schema: str | None = None) -> LoadResult:
    """CSV -> typed staging table, with the quarantine branch running
    alongside inference and the build write. A build failure wins over a
    quarantine failure; neither branch outlives the call."""
    table = table_name_for(csv_path)
    good, bad = read_csv_landing(spark, csv_path)
    n_bad: Future = Future()
    branch = None
    if quarantine_schema is None:
        n_bad.set_result(0)
    else:
        target = lifecycle.qualified(quarantine_schema, f"{table}_quarantine")
        branch = InheritableThread(_quarantine, args=(bad, target, n_bad))
        branch.start()
    try:
        inferred = infer_table_schema(good)
        typed = apply_inferred_schema(good, inferred)
        n_good = lifecycle.write_build_table(spark, typed, schema, table)
    finally:
        if branch is not None:
            branch.join()
    return LoadResult(table, n_good, n_bad.result(), inferred)


def backup_csv_files(csv_paths: list[str], backup_dir: str,
                     today: "dt.date | None" = None) -> list[str]:
    """Raw-landing copies into ``backup_dir/upload_YYYY_MM_DD/`` before any
    load touches the warehouse (reference A8, load_tables_daily.py:329-338:
    same dated-directory convention)."""
    import datetime as dt
    import os
    import shutil

    stamp = (today or dt.date.today()).strftime("upload_%Y_%m_%d")
    dest = os.path.join(backup_dir, stamp)
    os.makedirs(dest, exist_ok=True)
    copies = []
    for path in csv_paths:
        copies.append(shutil.copy2(path, dest))
    return copies


def run_daily(spark: SparkSession, csv_paths: list[str], schema: str = "daily",
              quarantine: bool = True, backup_dir: str | None = None) -> list[LoadResult]:
    """Daily load: backup -> land -> infer/cast -> promote -> validate."""
    lifecycle.ensure_schema(spark, schema)
    if backup_dir is not None:
        backup_csv_files(csv_paths, backup_dir)
    results: list[LoadResult] = []
    for path in csv_paths:
        result = _land_one(spark, path, schema,
                           quarantine_schema=schema if quarantine else None)
        lifecycle.promote(spark, schema, result.table)
        results.append(result)
        log.info("daily: %s loaded %d rows (%d quarantined)",
                 result.table, result.rows_loaded, result.rows_quarantined)
    tables = [r.table for r in results]
    report = {r["table_name"]: r["row_count"]
              for r in lifecycle.count_report(spark, schema, tables).collect()}
    for r in results:
        if report.get(r.table) != r.rows_loaded:
            raise RuntimeError(
                f"count validation failed for {r.table}: "
                f"loaded {r.rows_loaded}, prod has {report.get(r.table)}"
            )
    return results


def run_quarterly(spark: SparkSession, csv_paths: list[str],
                  schema: str = "quarterly") -> list[LoadResult]:
    """Quarterly load: land with load_time audit column -> promote ->
    history snapshot (all rows — fixing the reference's last-row-only bug)."""
    lifecycle.ensure_schema(spark, schema)
    results: list[LoadResult] = []
    for path in csv_paths:
        table = table_name_for(path)
        good, _ = read_csv_landing(spark, path)
        inferred = infer_table_schema(good)
        typed = lifecycle.with_load_time(apply_inferred_schema(good, inferred))
        n = lifecycle.write_build_table(spark, typed, schema, table)
        lifecycle.promote(spark, schema, table)
        lifecycle.snapshot_history(spark, schema, table)
        results.append(LoadResult(table, n, 0, inferred))
        log.info("quarterly: %s loaded %d rows + history snapshot", table, n)
    return results


def main(argv: list[str] | None = None) -> int:
    """CLI mirroring the reference's entry points
    (``python load_tables_daily.py`` / ``python vertica_upload.py daily|quarterly``):

        python -m covid_19_data_engineering_spark.pipeline daily \\
            --input ./input --schema daily [--backup ./history]
        python -m covid_19_data_engineering_spark.pipeline quarterly \\
            --input /data/upload --schema quarterly [--manifest files.list]
    """
    import argparse
    import glob
    import os
    import sys

    from covid_19_data_engineering_spark.session import get_spark
    from covid_19_data_engineering_spark.sources.csv import read_manifest

    parser = argparse.ArgumentParser(prog="covid_19_data_engineering_spark.pipeline")
    parser.add_argument("mode", choices=["daily", "quarterly"])
    parser.add_argument("--input", required=True, help="directory of CSV extracts")
    parser.add_argument("--schema", default=None, help="target schema (default: mode name)")
    parser.add_argument("--manifest", default=None,
                        help="optional file list (one CSV name per line); default: all *.csv")
    parser.add_argument("--backup", default=None, help="raw-landing backup directory (daily)")
    args = parser.parse_args(argv)

    if args.manifest:
        paths = [os.path.join(args.input, n) for n in read_manifest(args.manifest)]
    else:
        paths = sorted(glob.glob(os.path.join(args.input, "*.csv")))
    if not paths:
        print(f"no CSV inputs found under {args.input}", file=sys.stderr)
        return 1

    spark = get_spark(app_name=f"pipeline-{args.mode}")
    schema = args.schema or args.mode
    if args.mode == "daily":
        results = run_daily(spark, paths, schema=schema, backup_dir=args.backup)
    else:
        results = run_quarterly(spark, paths, schema=schema)
    for r in results:
        print(f"{r.table}: {r.rows_loaded} rows ({r.rows_quarantined} quarantined)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

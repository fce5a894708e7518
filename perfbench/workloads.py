"""The benchmark's workloads: their inputs, their operations and the checks
each operation's output must pass.

A workload is a list of operations run in one closed loop by one client: an
operation starts only after the previous one returned. ``prepare`` builds the
inputs and every expected answer before any timed interval; ``operations``
lists one pass; each operation's ``run`` is the timed call and its ``check``
runs afterwards, untimed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np

import datagen

# record_linkage_golden (the other lineage-heavy query) is left out to keep a
# run near 50 s: it is the slowest query (3-6 s on a contended 4-core box).
# robust_price_outliers and dedup_ngram_jaccard still drive the lineage layer.
ITERATIVE_QUERIES = [
    "dedup_ngram_jaccard",        # banded dedup: connected components over candidate edges
    "robust_price_outliers",      # builder-heavy quantile refinement, eager truncations
    "kmeans_embedding_clusters",  # centroid kernel, Lloyd iterations
    "ann_ivf_topk",               # centroid kernel, IVF cell assignment
]

INGEST_SHAPE = {"n_files": 3, "n_large": 1, "large_rows": 20_000,
                "small_rows": 400, "bad_per_file": 3}


@dataclass
class Operation:
    name: str          # query name, or "<load>:<table>"
    kind: str          # "query" or "load"
    run: Callable      # (ctx) -> result, timed
    check: Callable    # (ctx, result) -> None, raises on a wrong result


class CheckFailed(Exception):
    pass


# --- query workloads ----------------------------------------------------------

def _canon_digest(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count and digest of a result in the canonical form of
    ``tools/driver_gate.canon``."""
    import pandas as pd
    from tools.driver_gate import canon, norm

    frame = norm(pd.DataFrame([tuple(r) for r in rows], columns=columns))
    lines = canon(frame)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_answers(cache_dir: str, data_dir: str, fingerprint: str,
                   names: list[str]) -> dict[str, tuple[int, str]]:
    """DuckDB oracle answer per query, cached by data fingerprint and
    oracle-SQL hash."""
    from covid_19_data_engineering_spark.plans.registry import all_oracle_sql

    sql = all_oracle_sql()
    out: dict[str, tuple[int, str]] = {}
    con = None
    for name in names:
        if name not in sql:
            raise KeyError(f"{name} has no oracle SQL")
        key = hashlib.sha256(sql[name].encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, "oracle", fingerprint, f"{name}-{key}.json")
        if not os.path.exists(path):
            if con is None:
                import duckdb

                con = duckdb.connect()
                con.execute("SET threads TO 2")
                for t in datagen.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
            frame = con.execute(sql[name]).fetchdf()
            n, digest = _canon_digest(list(frame.columns),
                                      list(frame.itertuples(index=False, name=None)))
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", encoding="utf-8") as fh:
                json.dump([n, digest], fh)
        with open(path, encoding="utf-8") as fh:
            out[name] = tuple(json.load(fh))
    if con is not None:
        con.close()
    return out


class QueryWorkload:
    def __init__(self, name: str, queries: list[str], sf: float):
        self.name, self.queries, self.sf = name, queries, sf

    def prepare(self, cache_dir: str, seed: int) -> dict:
        self.data_dir, manifest = datagen.star_inputs(cache_dir, seed, self.sf)
        self.expected = oracle_answers(cache_dir, self.data_dir, manifest["fingerprint"],
                                       self.queries)
        return {"fingerprint": manifest["fingerprint"], "bytes": manifest["bytes"],
                "rows": manifest["rows"]}

    def operations(self, seed: int, pass_no: int) -> list[Operation]:
        from covid_19_data_engineering_spark.plans.registry import all_queries

        builders = all_queries()
        order = list(self.queries)
        # the seed permutes query order in each pass
        np.random.default_rng([seed, pass_no]).shuffle(order)
        return [self._op(name, builders[name]) for name in order]

    def warmup_operations(self, seed: int) -> list[Operation]:
        return self.operations(seed, 0)

    def _op(self, name: str, builder) -> Operation:
        def run(ctx):
            ctx.phase("builder")
            df = builder(ctx.spark, self.data_dir)
            ctx.phase("collect")
            rows = df.collect()
            return df, rows

        def check(ctx, result):
            df, rows = result
            got = _canon_digest(df.columns, rows)
            if got != self.expected[name]:
                raise CheckFailed(f"{name}: {got[0]} rows differ from the oracle's "
                                  f"{self.expected[name][0]}")

        return Operation(name, "query", run, check)

    def reset(self, spark) -> None:
        pass


# --- ingest workload ----------------------------------------------------------

class IngestWorkload:
    """Per-file ``run_daily`` (quarantine on), then per-file ``run_quarterly``
    on two consecutive days, into a warehouse emptied before every pass."""

    name = "daily_ingest"
    schemas = ("daily", "quarterly")

    def prepare(self, cache_dir: str, seed: int) -> dict:
        _, manifest = datagen.csv_inputs(cache_dir, seed, days=2, **INGEST_SHAPE)
        self.days = manifest["days"]
        return {"fingerprint": manifest["fingerprint"], "bytes": manifest["bytes"],
                "rows": {t: [d[t]["rows"] for d in self.days] for t in self.days[0]},
                "bad_rows": sum(m["bad"] for m in self.days[0].values())}

    def csv_bytes(self) -> int:
        return sum(os.path.getsize(m["file"]) for day in self.days for m in day.values())

    def reset(self, spark) -> None:
        for schema in self.schemas:
            spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for schema in self.schemas:
            shutil.rmtree(os.path.join(wh, f"{schema}.db"), ignore_errors=True)

    def operations(self, seed: int, pass_no: int) -> list[Operation]:
        ops = [self._daily(t, m) for t, m in self.days[0].items()]
        for day, files in enumerate(self.days, start=1):
            ops += [self._quarterly(t, m, day) for t, m in files.items()]
        return ops

    def warmup_operations(self, seed: int) -> list[Operation]:
        """Every load path once, on the last (small) file. A whole pass
        costs 9 s more per run and did not make the measured passes steadier."""
        table = list(self.days[0])[-1]
        return [self._daily(table, self.days[0][table]),
                *(self._quarterly(table, d[table], day)
                  for day, d in enumerate(self.days, start=1))]

    @staticmethod
    def _check_load(result, planted: dict, table: str, quarantined: int) -> None:
        (r,) = result
        if (r.table, r.rows_loaded, r.rows_quarantined) != (table, planted["rows"], quarantined):
            raise CheckFailed(f"{table}: loaded {r.rows_loaded} rows ({r.rows_quarantined} "
                              f"quarantined), planted {planted['rows']} ({quarantined})")
        if r.inferred_schema != planted["types"]:
            bad = {c: t for c, t in r.inferred_schema.items() if planted["types"].get(c) != t}
            raise CheckFailed(f"{table}: inferred {bad}, planted "
                              f"{ {c: planted['types'][c] for c in bad} }")

    def _daily(self, table: str, planted: dict) -> Operation:
        from covid_19_data_engineering_spark import pipeline

        def run(ctx):
            ctx.phase("load")
            return pipeline.run_daily(ctx.spark, [planted["file"]], schema="daily")

        def check(ctx, result):
            self._check_load(result, planted, table, planted["bad"])
            n = ctx.spark.table(f"daily.{table}_quarantine").count()
            if n != planted["bad"]:
                raise CheckFailed(f"{table}: quarantine holds {n}, planted {planted['bad']}")

        return Operation(f"daily:{table}", "load", run, check)

    def _quarterly(self, table: str, planted: dict, day: int) -> Operation:
        from covid_19_data_engineering_spark import pipeline

        def run(ctx):
            ctx.phase("load")
            return pipeline.run_quarterly(ctx.spark, [planted["file"]], schema="quarterly")

        def check(ctx, result):
            self._check_load(result, planted, table, 0)
            history = ctx.spark.table(f"quarterly.{table}_history").count()
            want = sum(d[table]["rows"] for d in self.days[:day])
            if history != want:
                raise CheckFailed(f"{table}: history holds {history} rows after day {day}, "
                                  f"planted {want}")

        return Operation(f"quarterly{day}:{table}", "load", run, check)


WORKLOADS = {
    "iterative_sf001": lambda: QueryWorkload("iterative_sf001", ITERATIVE_QUERIES, sf=0.01),
    "daily_ingest": IngestWorkload,
}

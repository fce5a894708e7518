"""End-to-end pipeline tests (SURVEY.md §5.3): golden-run the daily and
quarterly drivers on fixture CSVs in a temp warehouse and assert the full
lifecycle — typed schema, swap semantics, history growth, quarantine, and the
all-rows-land regression against the reference's quarterly last-row bug
(vertica_upload.py:108-139)."""

from __future__ import annotations

import threading

import pytest
from pyspark.errors import AnalysisException

from covid_19_data_engineering_spark import lifecycle
from covid_19_data_engineering_spark.pipeline import run_daily, run_quarterly

ENCOUNTERS = """encounter_id,empi_id,is_covid,admit_date,charge
1001,0042,t,2021-03-15,12.50
1002,0107,f,2021-04-01,3
1003,0007,true,2021-05-20,0.25
"""

MAPPING = """claim_id,encounter_id
900000000001,1001
900000000002,1002
"""

BROKEN = 'name,qty\ngood,1\n"unclosed quote,oops\nalso_good,2\n'


@pytest.fixture()
def csv_dir(tmp_path):
    (tmp_path / "PH_F_Encounter.csv").write_text(ENCOUNTERS)
    (tmp_path / "Map_Claim_Encounter.csv").write_text(MAPPING)
    return tmp_path


def test_run_daily_end_to_end(spark, csv_dir):
    paths = [str(csv_dir / "PH_F_Encounter.csv"), str(csv_dir / "Map_Claim_Encounter.csv")]
    results = run_daily(spark, paths, schema="daily_t1")

    by_table = {r.table: r for r in results}
    assert by_table["ph_f_encounter"].rows_loaded == 3
    assert by_table["map_claim_encounter"].rows_loaded == 2

    # promoted: prod exists, build gone
    assert lifecycle.table_exists(spark, "daily_t1", "ph_f_encounter")
    assert not lifecycle.table_exists(spark, "daily_t1", "ph_f_encounter_build")

    prod = spark.table("daily_t1.ph_f_encounter")
    dtypes = dict(prod.dtypes)
    assert dtypes == {
        "encounter_id": "smallint",
        "empi_id": "string",
        "is_covid": "boolean",
        "admit_date": "date",
        "charge": "double",
    }
    mapping = dict(spark.table("daily_t1.map_claim_encounter").dtypes)
    assert mapping["claim_id"] == "bigint"


def test_run_daily_swap_replaces_old(spark, csv_dir):
    path = str(csv_dir / "PH_F_Encounter.csv")
    run_daily(spark, [path], schema="daily_t2")
    first = spark.table("daily_t2.ph_f_encounter").count()
    run_daily(spark, [path], schema="daily_t2")  # second day: swap, not append
    second = spark.table("daily_t2.ph_f_encounter").count()
    assert first == second == 3


def test_run_daily_quarantine(spark, tmp_path):
    p = tmp_path / "Broken_Extract.csv"
    p.write_text(BROKEN)
    results = run_daily(spark, [str(p)], schema="daily_t3")
    # the quarantine branch overlaps the build write; neither count moves
    assert (results[0].rows_loaded, results[0].rows_quarantined) == (2, 1)
    assert spark.table("daily_t3.broken_extract_quarantine").count() == 1


@pytest.mark.parametrize("failing", ["quarantine", "build", "both"])
def test_run_daily_branch_failure_propagates(spark, tmp_path, monkeypatch, failing):
    """A failure on either branch of a daily load reaches the caller (the
    build branch's when both fail), and no branch outlives the call."""
    schema = f"daily_fail_{failing}"
    p = tmp_path / "Broken_Extract.csv"
    p.write_text(BROKEN)
    if failing in ("quarantine", "both"):
        lifecycle.ensure_schema(spark, schema)
        spark.sql(f"CREATE TABLE {schema}.broken_extract_quarantine (x INT) USING parquet")
    if failing in ("build", "both"):
        def broken_write(*args, **kwargs):
            raise RuntimeError("build write failed")
        monkeypatch.setattr(lifecycle, "write_build_table", broken_write)
    expected = AnalysisException if failing == "quarantine" else RuntimeError
    threads = threading.active_count()
    with pytest.raises(expected):
        run_daily(spark, [str(p)], schema=schema)
    assert threading.active_count() == threads


def test_run_quarterly_history_and_all_rows(spark, csv_dir):
    path = str(csv_dir / "PH_F_Encounter.csv")
    results = run_quarterly(spark, [path], schema="quart_t1")

    # regression vs reference bug: ALL rows land, not just the last
    assert results[0].rows_loaded == 3

    prod = spark.table("quart_t1.ph_f_encounter")
    assert "load_time" in prod.columns
    assert prod.where("load_time IS NULL").count() == 0

    hist = spark.table("quart_t1.ph_f_encounter_history")
    assert hist.count() == 3
    assert "load_date" in hist.columns

    # second run doubles history, prod stays at 3
    run_quarterly(spark, [path], schema="quart_t1")
    assert spark.table("quart_t1.ph_f_encounter").count() == 3
    assert spark.table("quart_t1.ph_f_encounter_history").count() == 6


def test_clone_structure_empty(spark, csv_dir):
    run_daily(spark, [str(csv_dir / "PH_F_Encounter.csv")], schema="daily_t4")
    lifecycle.clone_structure(spark, "daily_t4", "ph_f_encounter", "ph_f_encounter_clone")
    clone = spark.table("daily_t4.ph_f_encounter_clone")
    assert clone.count() == 0
    assert clone.schema == spark.table("daily_t4.ph_f_encounter").schema


def test_merge_upsert(spark):
    from covid_19_data_engineering_spark import lifecycle as lc

    schema = "merge_test"
    lc.ensure_schema(spark, schema)
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long"
    )
    lc.write_build_table(spark, base, schema, "items")
    lc.promote(spark, schema, "items")

    updates = spark.createDataFrame(
        [(2, "b2", 99), (4, "d", 40)], "id long, name string, v long"
    )
    lc.merge_upsert(spark, schema, "items", updates, key="id")

    rows = {r["id"]: (r["name"], r["v"]) for r in spark.table(f"{schema}.items").collect()}
    assert rows == {1: ("a", 10), 2: ("b2", 99), 3: ("c", 30), 4: ("d", 40)}
    # idempotent re-apply: same updates produce the same table
    lc.merge_upsert(spark, schema, "items", updates, key="id")
    assert spark.table(f"{schema}.items").count() == 4


def test_compact_table(spark):
    from covid_19_data_engineering_spark import lifecycle as lc

    schema = "compact_test"
    lc.ensure_schema(spark, schema)
    frag = spark.range(0, 1000).repartition(16).withColumnRenamed("id", "v")
    lc.write_build_table(spark, frag, schema, "frag")
    lc.promote(spark, schema, "frag")

    n = lc.compact_table(spark, schema, "frag", target_files=2)
    assert n == 1000
    after = spark.table(f"{schema}.frag")
    assert after.count() == 1000
    assert after.rdd.getNumPartitions() <= 2
    assert set(r["v"] for r in after.collect()) == set(range(1000))


def test_backup_csv_files(tmp_path):
    import datetime as dt

    from covid_19_data_engineering_spark.pipeline import backup_csv_files

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.csv").write_text("id\n1\n")
    (src / "b.csv").write_text("id\n2\n")
    copies = backup_csv_files(
        [str(src / "a.csv"), str(src / "b.csv")],
        str(tmp_path / "hist"),
        today=dt.date(2026, 8, 13),
    )
    assert len(copies) == 2
    assert all("upload_2026_08_13" in c for c in copies)
    assert (tmp_path / "hist" / "upload_2026_08_13" / "a.csv").read_text() == "id\n1\n"


@pytest.mark.parametrize("mode", ["rename", "atomic"])
def test_promote_swap_semantics_both_modes(spark, mode):
    """B9 swap parameterized over both commit protocols: reference-parity
    DROP+RENAME and the round-4 atomic view-pointer commit. Same observable
    contract: prod serves the new rows, the build name is released."""
    from covid_19_data_engineering_spark import lifecycle as lc

    schema = f"promote_{mode}"
    lc.ensure_schema(spark, schema)
    v1 = spark.createDataFrame([(1, "old")], "id long, tag string")
    lc.write_build_table(spark, v1, schema, "t")
    lc.promote(spark, schema, "t", mode=mode)
    assert {r["tag"] for r in spark.table(f"{schema}.t").collect()} == {"old"}

    v2 = spark.createDataFrame([(2, "new"), (3, "new")], "id long, tag string")
    lc.write_build_table(spark, v2, schema, "t")
    lc.promote(spark, schema, "t", mode=mode)
    assert {r["tag"] for r in spark.table(f"{schema}.t").collect()} == {"new"}
    assert not lc.table_exists(spark, schema, "t_build")

    if mode == "atomic":
        # pointer commit: prod is a view over exactly one versioned table —
        # old versions are GC'd after the commit
        tables = {t.name: t.tableType for t in spark.catalog.listTables(schema)}
        assert tables["t"] == "VIEW"
        versions = [n for n in tables if n.startswith("t__v")]
        assert len(versions) == 1


def test_promote_mode_switching(spark):
    """rename -> atomic migrates (drops the plain table once), atomic ->
    rename drops the view; both directions end with correct prod rows."""
    from covid_19_data_engineering_spark import lifecycle as lc

    schema = "promote_switch"
    lc.ensure_schema(spark, schema)
    lc.write_build_table(
        spark, spark.createDataFrame([(1,)], "id long"), schema, "t")
    lc.promote(spark, schema, "t", mode="rename")

    lc.write_build_table(
        spark, spark.createDataFrame([(2,)], "id long"), schema, "t")
    lc.promote(spark, schema, "t", mode="atomic")
    assert [r["id"] for r in spark.table(f"{schema}.t").collect()] == [2]

    lc.write_build_table(
        spark, spark.createDataFrame([(3,)], "id long"), schema, "t")
    lc.promote(spark, schema, "t", mode="rename")
    assert [r["id"] for r in spark.table(f"{schema}.t").collect()] == [3]


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sample_cap_counts_good_rows_only(spark, tmp_path):
    """1,000 good rows plus one malformed row: the sampling tier must come
    from the rows that parse (<= 1,000 -> sample all of them, so the one
    non-integer ``v`` is seen), not from a count that includes the
    DROPMALFORMED row (1,001 -> a 500-row sample that misses it)."""
    p = tmp_path / "Cap_Probe.csv"
    body = "".join(f"{i},{i}\n" for i in range(1, 1000))
    p.write_text("id,v\n" + body + "1000,abc\n" + '"unclosed 9,x\n')
    (result,) = run_daily(spark, [str(p)], schema="daily_cap")
    assert (result.rows_loaded, result.rows_quarantined) == (1000, 1)
    assert result.inferred_schema["v"] == "text"


def test_write_path_job_budget(spark, tmp_path):
    """Ingest re-derives no known fact with a Spark job: row counts come
    from the build write, inference is one bounded job, and promote is
    catalog metadata only in both commit protocols."""
    from covid_19_data_engineering_spark import lifecycle as lc

    p = tmp_path / "Budget_File.csv"
    p.write_text("id,v\n1,a\n2,b\n" + '"unclosed 9,x\n')
    daily = _jobs_in_group(spark, "budget-daily",
                           lambda: run_daily(spark, [str(p)], schema="budget_d"))
    quarterly = _jobs_in_group(spark, "budget-quarterly",
                               lambda: run_quarterly(spark, [str(p)], schema="budget_q"))
    assert daily <= 8 and quarterly <= 4, (daily, quarterly)
    # the quarantine branch runs on its own thread; its count (2 jobs) and
    # append (1) must still land in the caller's job group
    unquarantined = _jobs_in_group(
        spark, "budget-daily-off",
        lambda: run_daily(spark, [str(p)], schema="budget_d0", quarantine=False))
    assert daily - unquarantined == 3, (daily, unquarantined)

    lc.ensure_schema(spark, "budget_p")
    # rename, migrate to atomic, atomic over an existing version, back to rename
    for i, mode in enumerate(("rename", "atomic", "atomic", "rename")):
        spark.sql("CREATE TABLE budget_p.t_build (id BIGINT) USING parquet")
        jobs = _jobs_in_group(spark, f"budget-promote-{i}",
                              lambda: lc.promote(spark, "budget_p", "t", mode=mode))
        assert jobs == 0, (mode, jobs)

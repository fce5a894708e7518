"""Planted-case semantics for the round-6 operators: training-sequence
packing (distributed prefix-sum correctness, cross-bucket offsets,
window-spanning fragments) and z-order file layout (row conservation,
radix file assignment, the actual two-dimensional pruning win)."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_sequence_packing_hand_checked(spark):
    """L=10 window: docs of 3/8/2 tokens (+1 EOS each) start at offsets
    0/4/13; the 8-token doc straddles the seq 0|1 boundary."""
    from covid_19_data_engineering_spark.operators.packing import (
        sequence_packing_manifest,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "t1 t2 t3 t4 t5 t6 t7 t8"), (3, "x y")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           sequence_packing_manifest(docs, seq_len=10).collect()}
    assert (out[1]["n_tokens"], out[1]["start_offset"]) == (3, 0)
    assert (out[1]["seq_first"], out[1]["seq_last"], out[1]["n_fragments"]) \
        == (0, 0, 1)
    assert (out[2]["n_tokens"], out[2]["start_offset"]) == (8, 4)
    assert (out[2]["seq_first"], out[2]["seq_last"], out[2]["n_fragments"]) \
        == (0, 1, 2)
    assert (out[3]["n_tokens"], out[3]["start_offset"]) == (2, 13)
    assert (out[3]["seq_first"], out[3]["seq_last"], out[3]["n_fragments"]) \
        == (1, 1, 1)


def test_sequence_packing_crosses_prefix_sum_buckets(spark):
    """Doc ids spread across three PACK_BUCKET ranges: the two-level
    prefix sum (within-bucket window + bucket bases) must reproduce the
    plain global cumulative sum exactly, including sparse/gapped ids."""
    from covid_19_data_engineering_spark.operators.packing import (
        PACK_BUCKET,
        sequence_packing_manifest,
    )

    ids = [10, PACK_BUCKET - 1, PACK_BUCKET, PACK_BUCKET + 7,
           2 * PACK_BUCKET + 123]
    texts = ["a " * (i % 7 + 1) for i in range(len(ids))]
    docs = spark.createDataFrame(
        list(zip(ids, [t.strip() for t in texts])), "doc_id long, text string")
    out = {r["doc_id"]: r for r in sequence_packing_manifest(docs).collect()}
    # manual exclusive cumsum over doc_id order
    expect_off = 0
    for i, doc_id in enumerate(sorted(ids)):
        n = ids.index(doc_id) % 7 + 1
        assert out[doc_id]["n_tokens"] == n
        assert out[doc_id]["start_offset"] == expect_off, doc_id
        expect_off += n + 1


def test_zorder_layout_conserves_rows_and_prunes_both_dims(spark):
    """The layout readout must cover every row exactly once across at most
    2^FILE_BITS files, and the per-file min/max footprint must be MUCH
    tighter than the global range on BOTH dimensions — the two-dimensional
    pruning win that justifies z-order over a single-column sort."""
    from covid_19_data_engineering_spark.operators.layout import (
        FILE_BITS,
        zorder_file_layout,
    )
    from covid_19_data_engineering_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", "/root/testdata/sf0.01") \
        .select("l_orderkey", "l_partkey")
    n = li.count()
    rows = zorder_file_layout(li, "l_orderkey", "l_partkey").collect()
    assert sum(r["n_rows"] for r in rows) == n
    assert all(0 <= r["file_id"] < (1 << FILE_BITS) for r in rows)

    ga = (li.agg(F.max("l_orderkey") - F.min("l_orderkey")).first()[0])
    gb = (li.agg(F.max("l_partkey") - F.min("l_partkey")).first()[0])
    # weight by rows: the footprint a planner would actually scan
    span_a = sum((r["max_a"] - r["min_a"]) * r["n_rows"] for r in rows) / n
    span_b = sum((r["max_b"] - r["min_b"]) * r["n_rows"] for r in rows) / n
    # 64 files = 3 z-bits per dimension -> ~1/8 of each range per file;
    # 0.5 leaves ample slack for quantization + data nonuniformity
    assert span_a <= 0.5 * ga, (span_a, ga)
    assert span_b <= 0.5 * gb, (span_b, gb)


def test_zorder_layout_plan_has_no_global_sort_or_window(spark):
    """The layout plan must be radix (map-only z + bounded groupBy): a
    Window or global Sort in the executed plan means the implementation
    regressed to the single-partition ntile shape."""
    from covid_19_data_engineering_spark.operators.layout import (
        zorder_file_layout,
    )
    from covid_19_data_engineering_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", "/root/testdata/sf0.001") \
        .select("l_orderkey", "l_partkey")
    df = zorder_file_layout(li, "l_orderkey", "l_partkey")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Sort" not in plan.replace("SortAggregate", "").replace(
        "SortMergeJoin", "")


def test_exact_quantiles_hand_checked(spark):
    """Order statistics on 1..100: k = floor(99p)+1 gives 25/50/75/90/99
    exactly — no interpolation flavor ambiguity."""
    from covid_19_data_engineering_spark.operators.quantiles import (
        exact_quantiles_histogram,
    )

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "x double")
    out = {r["quantile"]: r for r in exact_quantiles_histogram(df, "x").collect()}
    assert {p: out[p]["value"] for p in out} == {
        0.25: 25.0, 0.5: 50.0, 0.75: 75.0, 0.9: 90.0, 0.99: 99.0}
    assert out[0.5]["rank"] == 50


def test_exact_quantiles_degenerate_single_bucket(spark):
    """All-equal values collapse to one histogram bucket: every quantile
    is that value and pass 2 is bounded by the bucket's row count. Empty
    input gives an empty frame of the usual schema, a bigint column
    keeps a bigint ``value``, and zero total weight locates nothing."""
    from covid_19_data_engineering_spark.operators.quantiles import (
        exact_quantiles_histogram,
        weighted_quantiles_histogram,
    )

    df = spark.createDataFrame([(7.5,)] * 50, "x double")
    rows = exact_quantiles_histogram(df, "x").collect()
    assert len(rows) == 5 and all(r["value"] == 7.5 for r in rows)

    empty = exact_quantiles_histogram(
        spark.createDataFrame([], "x double"), "x")
    assert empty.collect() == []
    assert empty.dtypes == [
        ("quantile", "double"), ("rank", "bigint"), ("value", "double")]

    ints = exact_quantiles_histogram(
        spark.createDataFrame([(i,) for i in range(1, 11)], "x bigint"), "x")
    assert ints.dtypes[-1] == ("value", "bigint")
    assert {r["quantile"]: r["value"] for r in ints.collect()} == {
        0.25: 3, 0.5: 5, 0.75: 7, 0.9: 9, 0.99: 9}

    zero_w = spark.createDataFrame([(1.0, 0), (2.0, 0)], "x double, w int")
    assert weighted_quantiles_histogram(zero_w, "x", "w").collect() == []


def test_sequence_packing_plan_buckets_the_big_window(spark):
    """The corpus-sized cumulative sum must ride a bkt-PARTITIONED window
    (parallel across buckets); only the tiny per-bucket-totals table may
    use an unpartitioned window. A bare global window over the docs scan
    is the single-partition regression this pins against."""
    from covid_19_data_engineering_spark.operators.packing import (
        sequence_packing_manifest,
    )
    from covid_19_data_engineering_spark.sources.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    df = sequence_packing_manifest(docs)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(bkt" in plan, "big window lost its bucket partition"


def test_retrieval_quality_eval_planted(spark):
    """Hand-checkable scorecard: docs graded by distinct query terms
    present; a planted perfect doc must give mrr = 1/rank_of_perfect, and
    ndcg must sit in (0, 1] with idcg >= dcg."""
    from covid_19_data_engineering_spark.operators.retrieval import (
        BM25_TERMS,
        retrieval_quality,
    )

    t1, t2, t3 = BM25_TERMS
    docs = spark.createDataFrame(
        [
            (1, f"{t1} {t2} {t3} pad pad"),            # perfect (grade 3)
            (2, f"{t1} {t1} {t1} {t1} {t1}"),          # high-tf single term
            (3, f"{t1} {t2} other words here"),        # grade 2
            (4, "no query terms at all here"),         # grade 0
            (5, f"{t3} alone here padded out"),        # grade 1
        ],
        "doc_id long, text string")
    row = retrieval_quality(docs, k=10).collect()[0]
    assert row["n_relevant"] == 4
    assert 0.0 < row["ndcg"] <= 1.0
    assert row["idcg"] >= row["dcg"] > 0.0
    # the perfect doc exists in the top-k, so mrr is 1/its rank — a
    # positive reciprocal no larger than 1
    assert 0.0 < row["mrr"] <= 1.0


def test_sequence_packing_property_matches_plain_cumsum(spark):
    """Property: for ANY doc set (random ids with gaps, random token
    counts), the two-level prefix sum equals the plain exclusive cumsum
    in doc_id order — offsets, window spans, fragment counts."""
    import random

    from covid_19_data_engineering_spark.operators.packing import (
        sequence_packing_manifest,
    )

    rng = random.Random(31)
    for trial in range(3):
        ids = sorted(rng.sample(range(0, 20000), 40))
        counts = [rng.randint(1, 30) for _ in ids]
        docs = spark.createDataFrame(
            [(i, " ".join("w" for _ in range(c)))
             for i, c in zip(ids, counts)],
            "doc_id long, text string")
        L = rng.choice([10, 64, 2048])
        out = {r["doc_id"]: r for r in
               sequence_packing_manifest(docs, seq_len=L).collect()}
        off = 0
        for i, c in zip(ids, counts):
            r = out[i]
            assert (r["n_tokens"], r["start_offset"]) == (c, off), (trial, i)
            last = off + c  # + EOS - 1 == off + (c+1) - 1
            assert r["seq_first"] == off // L
            assert r["seq_last"] == last // L
            assert r["n_fragments"] == last // L - off // L + 1
            off += c + 1


def test_zorder_morton_matches_reference_interleave(spark):
    """The engine's unrolled div/mod Morton expression must equal a
    straightforward Python bit-interleave for random quantized inputs —
    pinned through the ACTUAL engine plan, not a reimplementation."""
    import random

    import pyspark.sql.functions as F  # noqa: F811
    from covid_19_data_engineering_spark.operators.layout import (
        Z_BITS,
        _morton_sql,
    )

    rng = random.Random(41)
    rows = [(rng.randrange(1 << Z_BITS), rng.randrange(1 << Z_BITS))
            for _ in range(200)] + [(0, 0), ((1 << Z_BITS) - 1, (1 << Z_BITS) - 1)]
    df = spark.createDataFrame(rows, "qa long, qb long")
    got = {(r["qa"], r["qb"]): r["z"] for r in df.select(
        "qa", "qb", F.expr(_morton_sql("qa", "qb", "div")).alias("z")
    ).collect()}

    def interleave(qa, qb):
        z = 0
        for i in range(Z_BITS):
            z |= ((qa >> i) & 1) << (2 * i + 1)
            z |= ((qb >> i) & 1) << (2 * i)
        return z

    for (qa, qb), z in got.items():
        assert z == interleave(qa, qb), (qa, qb)


def test_round6_single_row_oracle_parity(spark):
    """Engine and DuckDB oracle must agree on DEGENERATE inputs the gate's
    full testdata never exercises: a one-row table (quantiles: every rank
    is 1; zorder: max==value quantization; packing: offset 0)."""
    import duckdb
    import pandas as pd

    from covid_19_data_engineering_spark.operators.layout import (
        _zorder_oracle_sql,
        zorder_file_layout,
    )
    from covid_19_data_engineering_spark.operators.packing import (
        _packing_oracle_sql,
        sequence_packing_manifest,
    )
    from covid_19_data_engineering_spark.operators.quantiles import (
        _quantiles_oracle_sql,
        exact_quantiles_histogram,
    )
    from tests.test_oracle_parity import _fingerprint

    con = duckdb.connect()
    con.register("lineitem", pd.DataFrame(
        {"l_orderkey": [5], "l_partkey": [3], "l_extendedprice": [42.37]}))
    con.register("documents", pd.DataFrame(
        {"doc_id": [7], "text": ["a b"]}))

    li = spark.createDataFrame(
        [(5, 3, 42.37)], "l_orderkey long, l_partkey long, l_extendedprice double")
    docs = spark.createDataFrame([(7, "a b")], "doc_id long, text string")

    cases = [
        (zorder_file_layout(li, "l_orderkey", "l_partkey").orderBy("file_id"),
         _zorder_oracle_sql()),
        (exact_quantiles_histogram(li, "l_extendedprice").orderBy("quantile"),
         _quantiles_oracle_sql()),
        (sequence_packing_manifest(docs).orderBy("doc_id"),
         _packing_oracle_sql()),
    ]
    for sdf, oracle in cases:
        srows = [tuple(r) for r in sdf.collect()]
        res = con.execute(oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        assert sorted(sdf.columns) == sorted(dcols)
        assert _fingerprint(srows, sdf.columns) == _fingerprint(drows, dcols)


def test_exact_quantiles_bins_derived_from_corpus_size(spark):
    """Round-7 verdict #2: a fixed bin count leaves pass 2 an unbounded
    single-task tail (n/BINS rows through one window sort). The bin
    count must grow with n so the expected per-bucket row count stays
    ~bin_target — pinned here with a planted corpus whose floor bin
    count would funnel 2500 rows into one task."""
    import pyspark.sql.functions as F

    from covid_19_data_engineering_spark.operators.quantiles import (
        VAL_UNIT,
        _derive_bins,
        exact_quantiles_histogram,
    )

    # the derivation itself: floor on small data, n-scaled at extreme n
    assert _derive_bins(600_000, 1024, 1_000_000) == 1024
    assert _derive_bins(10**12, 1024, 1_000_000) == 10**6

    n, floor_bins, bin_target = 20_000, 8, 500
    df = spark.createDataFrame(
        [(float(i),) for i in range(n)], "x double")
    out = {r["quantile"]: r["value"] for r in
           exact_quantiles_histogram(
               df, "x", bins=floor_bins, bin_target=bin_target).collect()}
    # exact on 0..19999: k = floor((n-1)p)+1 -> value k-1
    assert out == {p: float(int((n - 1) * p)) for p in
                   (0.25, 0.5, 0.75, 0.9, 0.99)}
    # pass-2 bound: restate the operator's binning arithmetic and assert
    # the heaviest bucket holds ~bin_target rows, not n/floor_bins
    bins = _derive_bins(n, floor_bins, bin_target)
    assert bins == 40
    lo_u, hi_u = 0, (n - 1) * VAL_UNIT
    width = max(1, (hi_u - lo_u) // bins + 1)
    heaviest = (
        df.select(F.expr(
            f"(CAST(round(x * {VAL_UNIT}) AS BIGINT) - {lo_u}) "
            f"div {width}").alias("b"))
        .groupBy("b").count().agg(F.max("count")).first()[0]
    )
    assert heaviest <= 2 * bin_target  # vs n/floor_bins = 2500 unbounded


def test_zorder_quantization_negative_and_offset_ranges(spark):
    """Round-7 ADVICE low: quantizing against the raw max corrupted
    negative columns (negative lane values break the interleave) and
    collapsed offset ranges like [10^6, 10^6+100] into one bucket. The
    range-normalized quantizer must spread BOTH pathologies across
    files with sane per-file footprints."""
    import pyspark.sql.functions as F

    from covid_19_data_engineering_spark.operators.layout import (
        zorder_file_layout,
    )

    # negative range: a in [-500, 499], b in [0, 999]
    neg = spark.range(1000).select(
        (F.col("id") - 500).alias("a"), F.col("id").alias("b"))
    out = zorder_file_layout(neg, "a", "b", file_bits=4).collect()
    assert all(r["file_id"] >= 0 for r in out)
    assert len(out) > 1, "negative range collapsed into one file"
    assert min(r["min_a"] for r in out) == -500
    assert max(r["max_a"] for r in out) == 499
    assert sum(r["n_rows"] for r in out) == 1000

    # offset range: both columns live in [10^6, 10^6 + 999]
    off = spark.range(1000).select(
        (F.col("id") + 1_000_000).alias("a"),
        (F.lit(1_000_999) - F.col("id")).alias("b"))
    out = zorder_file_layout(off, "a", "b", file_bits=4).collect()
    assert len(out) > 1, "offset range collapsed into one file"
    assert sum(r["n_rows"] for r in out) == 1000


def test_zorder_repartition_makes_pruning_bite_on_both_dims(spark):
    """The writer-side half of the z-order story: a versioned table
    written through zorder_repartition must carry per-file footprints
    tight on BOTH key columns, so a range-pruned read on EITHER
    dimension plans strictly fewer files — while the same predicate on
    a hash-shuffled write prunes nothing (every file spans the full
    range)."""
    import tempfile

    import pyspark.sql.functions as F

    import covid_19_data_engineering_spark.sources.versioned as V
    from covid_19_data_engineering_spark.operators.layout import (
        zorder_repartition,
    )

    n = 1 << 14
    df = spark.range(n).select(
        F.col("id").alias("a"),
        # decorrelated second key: bit-reversed-ish permutation
        ((F.col("id") * 48271) % n).alias("b"),
    )

    zt = tempfile.mkdtemp() + "/z"
    V.write_versioned(zorder_repartition(df, "a", "b", n_files=16), zt)
    ut = tempfile.mkdtemp() + "/u"
    V.write_versioned(df.repartition(16), ut)

    total = len(V.read_versioned(spark, zt).inputFiles())
    assert total >= 8  # the range partitioner actually fanned out
    for col in ("a", "b"):
        pruned = len(V.read_versioned(
            spark, zt, prune={col: (0, n // 16)}).inputFiles())
        assert pruned < total, f"z-ordered table did not prune on {col}"
        unpruned = len(V.read_versioned(
            spark, ut, prune={col: (0, n // 16)}).inputFiles())
        assert unpruned == len(V.read_versioned(spark, ut).inputFiles())
    # correctness: the pruned read still returns every matching row
    got = V.read_versioned(spark, zt, prune={"a": (100, 199)}) \
        .where("a BETWEEN 100 AND 199").count()
    assert got == 100

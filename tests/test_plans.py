"""Physical-plan quality gates — the 100 TB posture, asserted.

Correctness tests prove the answers; these prove the *plans*: filters reach
the parquet scan, projections prune columns, dim joins broadcast, top-k uses
TakeOrderedAndProject, aggregates are partial (map-side) before the shuffle.
A regression here is a silent 100x at scale even when every value still
matches.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from covid_19_data_engineering_spark.plans.registry import REGISTRY, _ensure_loaded
from tests.conftest import SF_SMOKE

_ensure_loaded()


def _executed_plan(df) -> str:
    df.collect()  # materialize so AQE reports the final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints "== Final Plan ==" followed by "== Initial Plan ==";
    # keep only the final section so operator counts aren't doubled
    return plan.split("== Initial Plan ==")[0]


def test_pricing_summary_scan_is_pruned_and_pushed(spark):
    df = REGISTRY["pricing_summary"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    # ship-date filter reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # scan reads only the 7 referenced columns, not all 16
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema
    # aggregation is two-phase: partial before the exchange
    assert "partial_sum" in plan
    # "*(n)" prefixes mark whole-stage-codegen spans in the plan string
    assert re.search(r"\*\(\d+\)", plan)


def test_revenue_by_nation_broadcasts_all_dims(spark):
    df = REGISTRY["revenue_by_nation"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    # 4 joins, every one broadcast — the lineitem fact is never shuffled
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan
    # fact scan pruned to join key + measures
    fact_schema = [
        line.split("ReadSchema: ")[1]
        for line in plan.splitlines()
        if "lineitem.parquet" in line and "ReadSchema" in line
    ][0]
    assert "l_orderkey" in fact_schema and "l_comment" not in fact_schema


def test_order_fill_outer_uses_take_ordered(spark):
    df = REGISTRY["order_fill_outer"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    # ORDER BY + LIMIT compiles to TakeOrderedAndProject: per-partition top-N
    # then a single merge of N*partitions rows — no global sort of the table
    assert "TakeOrderedAndProject" in plan


def test_semi_join_is_semi_in_physical_plan(spark):
    df = REGISTRY["customers_with_orders"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "LeftSemi" in plan
    # the o_totalprice predicate is pushed into the orders scan
    assert "GreaterThan(o_totalprice" in plan


def test_column_sample_prunes_to_projected_columns(spark):
    df = REGISTRY["column_sample"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    read_schema = [
        line.split("ReadSchema: ")[1]
        for line in plan.splitlines()
        if "orders.parquet" in line and "ReadSchema" in line
    ][0]
    # only the sampled column + the order tiebreak key are read
    assert "o_totalprice" in read_schema
    assert "o_comment" not in read_schema and "o_orderdate" not in read_schema


def test_events_json_extract_no_python_udf(spark):
    df = REGISTRY["events_json_extract"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_exact_single_shuffle(spark):
    df = REGISTRY["dedup_exact"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    # one hash exchange for the groupBy, one range exchange for the final
    # ORDER BY — no other shuffles in the dedup itself (dedupe by plan_id:
    # AQE stage materialization can reprint a subtree)
    hash_exchanges = set(re.findall(r"Exchange hashpartitioning.*?plan_id=(\d+)", plan))
    assert len(hash_exchanges) == 1


def test_embedding_dedup_plan_is_bucketed(spark):
    """The registered embedding dedup must be the LSH-bucketed equi-join —
    no cross product, no nested-loop join, no full-table broadcast of the
    embeddings side (the r1 all-pairs anti-pattern)."""
    df = REGISTRY["dedup_embedding_cosine"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_assign_cells_is_map_only(spark):
    """IVF cell assignment ranks the broadcast centroids inside each row's
    projection (the shared nearest-centroid kernel): no window ranks
    centroids per vec_id or query_id, the corpus is never hash-shuffled
    by vec_id, and no vector column is ever a shuffle key."""
    df = REGISTRY["ann_ivf_topk"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in m.group(1), f"vector in shuffle key: {m.group(0)}"
        assert not re.search(r"\bvec_id#", m.group(1)), f"corpus shuffled: {m.group(0)}"
    for m in re.finditer(r"Window \[.*\], \[([^\]]*)\], \[([^\]]*)\]", plan):
        part, order = m.groups()
        assert not (re.search(r"\b(vec_id|query_id)#", part)
                    and re.search(r"\b(cid|_sim)#", order)), \
            f"window ranks centroids: {m.group(0)}"


def test_approx_distinct_accuracy(spark):
    # The registered query folds the sketch-vs-exact comparison into a
    # deterministic flag (driver-hashable); pin it here AND pin the raw HLL
    # library path's accuracy directly.
    rows = REGISTRY["approx_distinct_customers"].builder(spark, SF_SMOKE).collect()
    assert rows and all(r["hll_within_2pct"] for r in rows)

    from covid_19_data_engineering_spark.sources.tables import load_table

    both = (
        load_table(spark, "orders", SF_SMOKE)
        .groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx"),
            F.countDistinct("o_custkey").alias("exact"),
        )
        .collect()
    )
    for r in both:
        rel_err = abs(r["approx"] - r["exact"]) / max(r["exact"], 1)
        assert rel_err < 0.02, f"{r['o_orderpriority']}: {r['approx']} vs {r['exact']}"


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Bucketing pre-materializes the shuffle: two tables bucketed+sorted on
    the join key co-locate, and the equi-join plan carries NO Exchange. At
    100 TB this is the fact-fact join strategy (orders x lineitem)."""
    from covid_19_data_engineering_spark.sources.tables import load_table

    o = load_table(spark, "orders", SF_SMOKE).select("o_orderkey", "o_totalprice")
    li = load_table(spark, "lineitem", SF_SMOKE).select("l_orderkey", "l_quantity")
    (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .mode("overwrite").saveAsTable("b_orders"))
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .mode("overwrite").saveAsTable("b_lineitem"))
    try:
        # disable broadcast so the co-located sort-merge path is exercised
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _executed_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, "bucketed join still shuffles"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_percentile_approx_accuracy(spark):
    """approx_percentile (KLL-style sketch): the quantile path at 100 TB.
    Rank error is bounded by 1/accuracy — pinned against the exact quantile."""
    from covid_19_data_engineering_spark.sources.tables import load_table

    o = load_table(spark, "orders", SF_SMOKE)
    approx, exact = o.agg(
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("a"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("e"),
    ).collect()[0]
    assert abs(approx - exact) / exact < 0.01


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Date-partitioned layout: a day filter becomes a PartitionFilter —
    non-matching directories are never listed into the scan. This is the
    history-table layout (lifecycle.py load_date partitioning) at scale."""
    from covid_19_data_engineering_spark.sources.tables import load_table

    out = str(tmp_path / "events_by_day")
    e = load_table(spark, "events", SF_SMOKE).withColumn(
        "day", F.to_date("ts")
    )
    e.write.partitionBy("day").mode("overwrite").parquet(out)

    one_day = spark.read.parquet(out).where(F.col("day") == "2024-01-03")
    plan = _executed_plan(one_day)
    assert "PartitionFilters: [isnotnull(day" in plan
    # the data filter moved entirely into partition pruning — the parquet
    # row filter list stays empty
    assert "PushedFilters: []" in plan
    n_days = e.select("day").distinct().count()
    scanned = one_day.count()
    full = e.where(F.col("day") == F.lit("2024-01-03").cast("date")).count()
    assert scanned == full and n_days > 1


def test_distributed_rank_never_sorts_the_fact_in_one_task(spark):
    """order_price_ranks_scalable: the row_number window runs per bucket
    (hashpartitioning(_bkt)), so no fact-size data crosses a SinglePartition
    exchange — the remaining SinglePartition nodes cover only the 1-row
    min/max aggregate and the O(n_buckets) offsets window. Contrast: the
    UNREGISTERED naive twin's global window is exactly the SinglePartition
    sort, and the registered battery name now delegates to the scalable
    plan (no registered query may plan a fact-size single-partition sort)."""
    from covid_19_data_engineering_spark.operators.distrank import (
        order_price_ranks_scalable,
    )
    from covid_19_data_engineering_spark.plans.relational import (
        order_price_distribution_ranks_naive,
    )

    sf = "/root/testdata/sf0.001"
    scalable = _executed_plan(order_price_ranks_scalable(spark, sf))
    assert "hashpartitioning(_bkt" in scalable
    # the fact-side ranking window is partitioned (its spec names _bkt)
    rn_windows = [l for l in scalable.splitlines() if "row_number()" in l]
    assert rn_windows and all("_bkt" in l for l in rn_windows)

    battery = _executed_plan(REGISTRY["order_price_distribution_ranks"].builder(spark, sf))
    rn_windows = [l for l in battery.splitlines() if "row_number()" in l]
    assert rn_windows and all("_bkt" in l for l in rn_windows)

    naive = _executed_plan(order_price_distribution_ranks_naive(spark, sf))
    ntile_windows = [l for l in naive.splitlines() if "ntile(4)" in l]
    assert ntile_windows and all("_bkt" not in l for l in ntile_windows)
    assert "Exchange SinglePartition" in naive


def test_tpch_q2_decorrelated_no_cartesian(spark):
    """Q2's correlated-MIN decorrelation must stay a window over the
    pre-aggregated supply relation: broadcast joins only, no cartesian
    product, no per-row re-scan of lineitem (exactly one lineitem scan)."""
    df = REGISTRY["tpch_q2_min_cost_supplier"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in plan  # part subset + EU suppliers broadcast


def test_tpch_q21_single_fact_fact_shuffle_family(spark):
    """Q21's EXISTS/NOT-EXISTS pair decorrelates into per-order aggregates:
    lineitem and orders are each scanned once; offender pairs and order
    stats join on the same orderkey partitioning; limit is TakeOrdered."""
    df = REGISTRY["tpch_q21_waiting_suppliers"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q11_scalar_subquery_from_preagg(spark):
    """Q11's global-total threshold must come from the aggregated O(parts)
    frame (broadcast one-row cross join), never a nested loop per part.
    Runs at SF_ORACLE: at smoke SF the NATION_1 slice is empty and AQE
    collapses the whole plan to EmptyRelation."""
    from tests.conftest import SF_ORACLE

    df = REGISTRY["tpch_q11_important_parts"].builder(spark, SF_ORACLE)
    plan = _executed_plan(df)
    # the one-row total joins via broadcast nested loop (that IS the
    # broadcast scalar); the part_value⋈total pairing must not be a
    # shuffled cartesian
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan


def test_copurchase_join_is_blocked_on_orderkey(spark):
    """The basket self-join must be an equi-join on l_orderkey (blocked),
    never a cartesian/nested-loop pairing."""
    df = REGISTRY["part_copurchase_pairs"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_source_cap_single_shuffle_on_source(spark):
    """Domain-cap keeps one exchange (hashpartitioning on source) before the
    rank window; the rank filter runs inside the window stage."""
    df = REGISTRY["source_cap_sample"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "hashpartitioning(source" in plan
    assert "row_number" in plan


def test_round3_operator_plans(spark):
    """Plan pins for the round-3 operators: quantization stays a pure JVM
    map (no hash exchange, no Python eval), the CMS grid probe broadcasts
    (never shuffles the corpus for the join), and the perplexity DAG reads
    its checkpointed working set instead of re-tokenizing per branch."""
    sf = "/root/testdata/sf0.001"

    quant = _executed_plan(REGISTRY["embedding_quantize_int8"].builder(spark, sf))
    assert "Exchange hashpartitioning" not in quant
    assert "BatchEvalPython" not in quant and "ArrowEvalPython" not in quant

    cms = _executed_plan(REGISTRY["events_heavy_hitters_cms"].builder(spark, sf))
    assert "BroadcastHashJoin" in cms
    assert "BatchEvalPython" not in cms
    assert cms.count("events.parquet") <= 2  # grid + exact, never more

    ppl_df = REGISTRY["lm_bigram_perplexity"].builder(spark, sf)
    ppl = _executed_plan(ppl_df)
    assert "ExistingRDD" in ppl              # checkpointed per-doc counts
    assert ppl.count("documents.parquet") <= 2

    trans = _executed_plan(REGISTRY["event_transition_matrix"].builder(spark, sf))
    assert trans.count("events.parquet") == 1


def test_minhash_expansion_reads_checkpoints_not_corpus(spark):
    """The round-4 pre-collapse restructure: the final dedup_minhash_lsh
    plan (rep band join + member expansion) runs entirely off the two
    checkpointed working sets (members, rep bands) — the corpus parquet is
    scanned only while building them, never re-read by the expansion."""
    df = REGISTRY["dedup_minhash_lsh"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "documents.parquet" not in plan
    assert "ExistingRDD" in plan


def test_lsh_band_join_skew_split(spark):
    """Residual skew hazard after the exact-dup pre-collapse: a hot NEAR-dup
    (distinct-text) cluster still lands its band rows in one bucket. Gate:
    AQE actually splits the skewed partition of the band self-join
    (OptimizeSkewedJoin marks the SMJ with skew=true) under scaled-down
    thresholds, and candidate pairs stay bounded by C(m,2) emitted once."""
    from covid_19_data_engineering_spark.operators.dedup import _minhash_rep_pairs

    m = 300
    base_tokens = (
        "the quick brown fox jumps over the lazy dog while the cat sleeps "
        "near the warm fire and dreams of chasing mice through green fields"
    ).split()
    rows = [
        (i, " ".join(base_tokens + [f"uniquetoken{i}"]), "en") for i in range(m)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    overrides = {
        # force SMJ (no broadcast) and make the skew machinery trigger on
        # KB-scale test data instead of the production 256MB thresholds
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1024",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        rep_pairs, _ = _minhash_rep_pairs(docs)
        rep_pairs = rep_pairs.where(F.col("est_jaccard") >= 0.3)
        plan = _executed_plan(rep_pairs)
        assert "skew=true" in plan, "AQE did not split the hot band bucket"
        n = rep_pairs.count()
        n_distinct = rep_pairs.select("rep_a", "rep_b").distinct().count()
        assert n == n_distinct, "pairs emitted more than once"
        assert n <= m * (m - 1) // 2
        assert n >= int(0.9 * m * (m - 1) // 2), f"LSH recall collapsed: {n}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_planted_skew_join_aqe_split_matches_salted(spark):
    """Round-12 verdict #4: the engine documents BOTH skew answers — the
    manual salted_join and Spark's AQE skew-join — but had only ever
    proven AQE fires on the LSH band join. Plant a hot key in a generic
    fact-dim join at scaled-down thresholds and gate all three at once:
    (a) OptimizeSkewedJoin actually splits the hot partition (skew=true
    on the SMJ), (b) the skew-split answer equals the unsplit answer,
    (c) salted_join produces the same rows — so either remedy is safe to
    reach for at 100 TB."""
    from covid_19_data_engineering_spark.operators.skew import salted_join

    # hot key 0 carries 50k of 60k fact rows; dim has one row per key
    fact = spark.range(0, 60_000).select(
        F.when(F.col("id") < 50_000, F.lit(0))
        .otherwise((F.col("id") % 199) + 1).alias("k"),
        (F.col("id") % 97).alias("x"),
    )
    dim = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w"))

    def agg(joined):
        return sorted(
            (r["k"], r["n"], r["sx"], r["w"]) for r in
            joined.groupBy("k", "w")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"))
            .collect())

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1024",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        joined = fact.join(dim, "k")
        skew_rows = agg(joined)
        plan = _executed_plan(joined)
        assert "skew=true" in plan, "AQE did not split the planted hot key"
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        plain_rows = agg(fact.join(dim, "k"))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert skew_rows == plain_rows
    salted_rows = agg(salted_join(fact, dim, "k"))
    assert salted_rows == plain_rows


def test_ngram_r1_candidates_hot_block_bounded(spark):
    """Round-4 verdict #1 gate: a hot (lang, length) block of ~10^3
    mutually-DISSIMILAR docs cost the old within-block all-pairs join
    ~C(m,2) ~ 5e5 exact-Jaccard comparisons. The r=1 minhash candidate
    stage must keep candidates proportional to genuine similarity: the
    planted near-dup family all collide; the dissimilar bulk (no shared
    shingles -> no shared minhash, up to md5 accidents) contributes ~0."""
    from covid_19_data_engineering_spark.operators.dedup import (
        _ngram_collapse,
        ngram_r1_candidates,
    )

    m = 1000
    # one hot block: same lang, 10-token docs (one log-length bucket),
    # pairwise-disjoint token sets
    rows = [
        (i, " ".join(f"tok{i}x{j}" for j in range(10)), "en") for i in range(m)
    ]
    # plus a 10-doc near-dup family (shared 9-token stem, 1 unique token)
    stem = " ".join(f"shared{j}" for j in range(9))
    rows += [(m + i, f"{stem} uniq{i}", "en") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    reps_sh, _ = _ngram_collapse(docs)
    cands = ngram_r1_candidates(reps_sh)
    n = cands.count()
    family = cands.where(
        (F.col("rep_a") >= m) & (F.col("rep_b") >= m)
    ).count()
    assert family == 10 * 9 // 2, "near-dup family must fully collide"
    # bound: the family's 45 true pairs plus a small md5-accident allowance
    # — NOT the 499_500 pairs the quadratic block join would emit
    assert n <= family + m // 10, f"candidate volume not bounded: {n}"


def test_simhash_chunk_join_hot_dupset_bounded(spark):
    """Round-4 verdict #6: the planted-hot-bucket + bounded-candidates gate
    for the simhash family. m byte-identical copies share a fingerprint
    and previously met in ALL FOUR chunk buckets — O(m^2) join rows; after
    the exact-text collapse the chunk join sees ONE row per distinct
    content, and the expansion reconstructs the full C(m,2)+... answer."""
    from covid_19_data_engineering_spark.operators.dedup import (
        _simhash_rep_pairs,
        simhash_near_pairs,
    )

    from covid_19_data_engineering_spark.operators.dedup import (
        simhash_fingerprints,
    )

    m = 300
    # long boilerplate: one swapped token flips few vote margins, keeping
    # the near variant inside the Hamming radius (verified below from the
    # fingerprints themselves, not assumed)
    boiler = " ".join(f"boiler{i}" for i in range(64))
    near = boiler.replace("boiler7", "changed7")
    rows = [(i, boiler) for i in range(m)]
    rows += [(m, near), (m + 1, "totally unrelated words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(
        spark.createDataFrame(rows[:1] + rows[m:], "doc_id long, text string")
    ).collect()}
    near_is_in = bin(fps[0] ^ fps[m]).count("1") <= 3
    assert near_is_in, "fixture drifted: near variant left the radius"

    rep_pairs, _ = _simhash_rep_pairs(docs)
    n_rep = rep_pairs.count()
    # 3 distinct contents -> at most C(3,2) rep pairs through the join
    assert n_rep <= 3, f"chunk join saw duplicated content: {n_rep} rep pairs"

    out = simhash_near_pairs(docs).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out}
    assert len(pairs) == len(out), "pair emitted more than once"
    # the full dup set is reconstructed: C(m,2) zero-distance pairs plus
    # every member paired with the near-dup doc m
    assert sum(1 for k, v in pairs.items() if v == 0 and k[1] < m) == m * (m - 1) // 2
    assert all((i, m) in pairs for i in range(m))
    assert not any(m + 1 in k for k in pairs)


def test_fuzzy_blocking_row_volume_bounded(spark):
    """Round-4 verdict #6: fuzzy blocking's candidate space must scale with
    DISTINCT NAMES per block, never with row count — 20x row duplication
    of the same catalog cannot change the pair count, and a planted hot
    block stays C(names,2)."""
    from covid_19_data_engineering_spark.operators.fuzzy import fuzzy_name_pairs

    names = [f"shiny widget type{i}" for i in range(40)]  # one hot block: 'type*'?
    # trailing token differs per name -> blocks of 1; add a genuinely hot
    # block where 30 names share the trailing noun
    hot = [f"model {chr(97 + i)} widget" for i in range(30)]
    rows = [(i, n) for i, n in enumerate(names + hot)]
    dup_rows = [(1000 + 20 * i + j, n)
                for i, n in enumerate(names + hot) for j in range(19)]
    once = spark.createDataFrame(rows, "p_partkey long, p_name string")
    duped = spark.createDataFrame(rows + dup_rows, "p_partkey long, p_name string")

    p1 = {(r["name_a"], r["name_b"]) for r in
          fuzzy_name_pairs(once, "p_name", "p_partkey").collect()}
    p20 = {(r["name_a"], r["name_b"]) for r in
           fuzzy_name_pairs(duped, "p_name", "p_partkey").collect()}
    assert p1 == p20, "row duplication changed the candidate space"
    # hot block bound: all pairs come from within blocks; the 30-name
    # 'widget' block caps at C(30,2), the singleton blocks contribute 0
    assert len(p1) <= 30 * 29 // 2


def test_incremental_manifest_plan_posture(spark):
    """The incremental manifest's final plan is equi-joins over the
    checkpointed working sets — JVM-only (no Python eval anywhere) and the
    corpus parquet is never re-read by the decision assembly."""
    df = REGISTRY["incremental_retention_manifest_inquery"].builder(
        spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_round4_operator_plans(spark):
    """Plan pins for the round-4 operators: range search is map-only (zero
    exchange — the radius predicate runs inside the scan projection),
    k-means assignment attaches centroids by broadcast (never a per-vector
    shuffle; the only hash exchanges are the (cluster,dim) update and final
    rollup), BM25 ends in TakeOrderedAndProject off ONE corpus scan pair
    (stats + scorer), and the span profiler's consumers read the
    checkpointed flagged positions, not three re-runs of the gram
    pipeline."""
    sf = "/root/testdata/sf0.001"

    rng = _executed_plan(REGISTRY["ann_range_search"].builder(spark, sf))
    assert "Exchange hashpartitioning" not in rng
    assert "SortMergeJoin" not in rng
    assert "BatchEvalPython" not in rng and "ArrowEvalPython" not in rng

    km = _executed_plan(REGISTRY["kmeans_embedding_clusters"].builder(spark, sf))
    assert "SortMergeJoin" not in km
    assert "BroadcastNestedLoopJoin" in km   # 1-row centroid-array attach
    assert "BatchEvalPython" not in km

    bm = _executed_plan(REGISTRY["bm25_retrieval"].builder(spark, sf))
    assert "TakeOrderedAndProject" in bm
    assert "SortMergeJoin" not in bm
    assert bm.count("documents.parquet") == 2  # stats pass + scorer pass

    spans = _executed_plan(REGISTRY["dup_span_profile"].builder(spark, sf))
    assert "ExistingRDD" in spans            # checkpointed flagged positions
    # corpus re-read only for the final doc_id left-join spine
    assert spans.count("documents.parquet") <= 1


def test_pagerank_iterations_read_checkpointed_edges(spark):
    """The 3 PageRank iterations must run off the materialized edge list:
    exactly zero lineitem scans in the final plan (the edge build happened
    at checkpoint time), and one ExistingRDD reference per use of the
    edge/degree working set."""
    sf = "/root/testdata/sf0.001"
    plan = _executed_plan(REGISTRY["pagerank_copurchase"].builder(spark, sf))
    assert "lineitem.parquet" not in plan
    assert "ExistingRDD" in plan


def test_round4b_operator_plans(spark):
    """Plan pins for the later round-4 operators: interpolation's window
    family shuffles ONCE on user_id, the fuzzy join never degenerates to a
    cartesian product, the RRF fusion joins two TakeOrdered lists (no
    corpus-sized shuffle), and the A/B test is one rollup + one scalar
    aggregate off a single events scan."""
    sf = "/root/testdata/sf0.001"

    interp = _executed_plan(REGISTRY["events_value_interpolation"].builder(spark, sf))
    assert interp.count("Exchange hashpartitioning") == 1  # user_id only
    assert "BatchEvalPython" not in interp

    fz = _executed_plan(REGISTRY["fuzzy_part_name_matches"].builder(spark, sf))
    assert "CartesianProduct" not in fz
    assert "BroadcastNestedLoopJoin" not in fz
    assert "levenshtein" in fz

    rrf = _executed_plan(REGISTRY["hybrid_rrf_retrieval"].builder(spark, sf))
    assert "CartesianProduct" not in rrf

    ab = _executed_plan(REGISTRY["ab_conversion_ztest"].builder(spark, sf))
    assert ab.count("events.parquet") == 1
    assert "BatchEvalPython" not in ab


def test_round5_operator_plans(spark):
    """Plan pins for the round-5 operators: the BPE rounds and DSIR run
    entirely JVM-side with their corpus-sized stages materialized once
    (ExistingRDD in the final plan), semantic dedup's within-cluster join
    is equi-keyed (no cartesian), and the embedding near-dup re-rank
    reads the checkpointed bucket table rather than re-deriving
    signatures."""
    sf = "/root/testdata/sf0.001"

    bpe = _executed_plan(REGISTRY["bpe_merge_induction"].builder(spark, sf))
    assert "BatchEvalPython" not in bpe and "ArrowEvalPython" not in bpe
    assert "ExistingRDD" in bpe          # per-round checkpointed words

    dsir = _executed_plan(REGISTRY["dsir_importance_selection"].builder(spark, sf))
    assert "BatchEvalPython" not in dsir
    assert "ExistingRDD" in dsir         # raw grams materialized once
    assert "TakeOrderedAndProject" in dsir

    sem = _executed_plan(REGISTRY["semantic_dedup"].builder(spark, sf))
    assert "CartesianProduct" not in sem
    assert "BatchEvalPython" not in sem
    assert "ExistingRDD" in sem          # ranked cluster working set

    emb = _executed_plan(REGISTRY["dedup_embedding_cosine"].builder(spark, sf))
    assert "ExistingRDD" in emb          # checkpointed bucket table
    assert "CartesianProduct" not in emb
    assert "BatchEvalPython" not in emb


def test_round6_scans_are_column_pruned(spark):
    """Round-6 operators must prune their scans to exactly the columns
    they consume — a 2-column z-order plan reading all 16 lineitem
    columns would multiply the 100 TB scan cost for nothing."""
    from covid_19_data_engineering_spark.plans.registry import REGISTRY

    sf = "/root/testdata/sf0.001"

    def read_schemas(name, table):
        plan = _executed_plan(REGISTRY[name].builder(spark, sf))
        return [line.split("ReadSchema: ")[1]
                for line in plan.split("\n")
                if f"{table}.parquet" in line and "ReadSchema: " in line]

    for schema in read_schemas("zorder_file_layout", "lineitem"):
        assert "l_orderkey" in schema and "l_partkey" in schema
        assert "l_extendedprice" not in schema and "l_comment" not in schema
    epq_schemas = read_schemas("exact_price_quantiles", "lineitem")
    # the single-plan refine (r13) adds count-only branches whose scans
    # prune to ZERO columns (ReadSchema: struct<>) — that is better
    # pruning, not worse; allow it while still forbidding unpruned reads
    assert any("l_extendedprice" in s for s in epq_schemas)
    for schema in epq_schemas:
        assert schema == "struct<>" or "l_extendedprice" in schema
        assert "l_orderkey" not in schema and "l_comment" not in schema
    for schema in read_schemas("sequence_packing_manifest", "documents"):
        assert "doc_id" in schema and "text" in schema
        assert "source" not in schema and "lang" not in schema


def test_zorder_repartition_plan_is_range_partition_plus_local_sort(spark):
    """The z-order WRITER must be a range exchange on the z-value plus an
    in-partition sort — never a global sort (no single total-order
    reduce at 100 TB). Pins: RangePartitioning exchange present, the
    Sort node is non-global, and the helper columns never reach the
    output schema."""
    from covid_19_data_engineering_spark.operators.layout import (
        zorder_repartition,
    )
    from covid_19_data_engineering_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", "/root/testdata/sf0.001") \
        .select("l_orderkey", "l_partkey")
    out = zorder_repartition(li, "l_orderkey", "l_partkey", n_files=8)
    assert out.columns == ["l_orderkey", "l_partkey"]
    plan = _executed_plan(out)
    assert "rangepartitioning" in plan.lower()
    # executed-plan sorts print as "Sort [keys], <global>, <offset>";
    # a global sort would read ", true,"
    sort_lines = [ln for ln in plan.splitlines() if "Sort [" in ln]
    assert sort_lines and all(", false," in ln for ln in sort_lines), (
        f"expected only local sorts, got: {sort_lines}")


def test_random_projection_is_map_only(spark):
    """The JL projection must be one corpus scan with zero exchanges and
    zero Python eval — a shuffle or UDF here would multiply the cost of
    the cheapest preprocessing step in the stack."""
    from covid_19_data_engineering_spark.plans.registry import REGISTRY

    plan = _executed_plan(
        REGISTRY["embedding_random_projection"].builder(
            spark, "/root/testdata/sf0.001").limit(50))
    body = plan.split("== Initial Plan ==")[0]
    # the orderBy in the registered query is the readout, not the
    # operator; limit keeps it a TakeOrdered, never a full exchange
    assert "BatchEvalPython" not in body and "ArrowEvalPython" not in body
    assert "Exchange hashpartitioning" not in body, "projection shuffled"


def test_projected_topk_candidate_shuffle_carries_no_vectors(spark):
    """The projected ANN's candidate window must shuffle only (query_id,
    vec_id, pcos) — a 64-float embedding riding the n x q candidate
    exchange would erase the projection's savings. Also: no Python eval,
    no CartesianProduct (the query side is broadcast)."""
    import re

    from covid_19_data_engineering_spark.plans.registry import REGISTRY

    plan = _executed_plan(REGISTRY["ann_projected_topk"].builder(
        spark, "/root/testdata/sf0.001"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in m.group(1), f"vector in shuffle key: {m.group(0)}"
    # the rank <= c filter must push a map-side per-query group limit
    # below the window shuffle — without it, 5 query keys would funnel
    # the whole corpus through 5 window tasks at scale
    assert "WindowGroupLimit" in plan, "rank filter not pushed below shuffle"


def test_tpch_q6_pushdown_and_single_row_exchange(spark):
    df = REGISTRY["tpch_q6_forecast_revenue"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    # all three predicates reach the parquet reader
    pushed = plan.split("PushedFilters: ")[1].split("\n")[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    # scan reads only the 4 referenced columns
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema
    # map-side partial sum before the single-row final aggregate
    assert "partial_sum" in plan


def test_tpch_q12_single_fact_shuffle_pair(spark):
    df = REGISTRY["tpch_q12_priority_lines"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    # fact-to-fact join on orderkey: sort-merge (or shuffled hash) join, and
    # the O(statuses) aggregate never adds a wide shuffle after it
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan  # AQE may downgrade at smoke scale
    )
    # conditional counts are partial map-side
    assert "partial_sum" in plan
    # scans are pruned to the referenced columns only
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "l_comment" not in line and "o_totalprice" not in line


def test_cdc_chunk_stats_is_map_then_uniform_shuffle(spark):
    df = REGISTRY["cdc_chunk_stats"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    # chunking is row-local array algebra: no join, no sort, no Python
    assert "Join" not in plan and "Sort" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # two-phase aggregates only: chunk groupBy + O(1) rollup
    assert "partial_count" in plan or "partial_sum" in plan


def test_setsim_prefix_join_never_nested_loops(spark):
    df = REGISTRY["setsim_prefix_join"].builder(spark, SF_SMOKE)
    plan = _executed_plan(df)
    # every join is equi (prefix shingle / doc ids) — candidates are
    # collisions, never the cross product
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_continuation2_operator_plans(spark):
    """Plan pins for the continuation-2 operators: top-k stays map-side
    partial (TakeOrderedAndProject), pair generators stay equi-keyed
    (no cartesian/nested-loop), the corpus-side joins broadcast their
    tiny build sides, and the only Python in any of them is the Gram
    kernel's single ArrowEval stage."""
    sf = SF_SMOKE

    key = _executed_plan(REGISTRY["token_keyness_g2"].builder(spark, sf))
    assert "TakeOrderedAndProject" in key     # top-k, never a global sort
    assert "BatchEvalPython" not in key and "ArrowEvalPython" not in key
    assert "CartesianProduct" not in key      # totals cross the plan as a
    # broadcast 1-row join, never a real cartesian pairing

    sky = _executed_plan(REGISTRY["pareto_frontier_parts"].builder(spark, sf))
    assert "BroadcastHashJoin" in sky          # frontier broadcast back
    assert "SortMergeJoin" not in sky          # the corpus is never shuffled for the join

    anom = _executed_plan(REGISTRY["events_rolling_anomalies"].builder(spark, sf))
    assert "hashpartitioning(user_id" in anom  # the ONE corpus shuffle
    assert "BatchEvalPython" not in anom

    over = _executed_plan(REGISTRY["source_overlap_matrix"].builder(spark, sf))
    assert "CartesianProduct" not in over and "BroadcastNestedLoopJoin" not in over

    late = _executed_plan(REGISTRY["events_lateness_profile"].builder(spark, sf))
    # level-1 window partitions by arrival bucket; no corpus-wide
    # SinglePartition sort ever sees the events stream (the level-2
    # window runs over the tiny per-bucket table)
    assert "hashpartitioning(bkt" in late

    gram = _executed_plan(REGISTRY["embedding_covariance_profile"].builder(spark, sf))
    assert "MapInPandas" in gram              # the one Arrow kernel stage
    assert "BatchEvalPython" not in gram      # and no row-at-a-time Python

    rules = _executed_plan(REGISTRY["copurchase_association_rules"].builder(spark, sf))
    assert "CartesianProduct" not in rules
    # the single BNLJ is the 1-row basket-total broadcast; the basket
    # self-join and both support joins must be hash joins
    assert rules.count("BroadcastNestedLoopJoin") <= 1
    assert "TakeOrderedAndProject" in rules


def test_round9_operator_plans(spark):
    """Plan pins for the round-9 continuation-2 operators: single
    map-side-combined corpus shuffles for the monitoring/stat families,
    broadcast anchors (never a corpus-side SortMergeJoin) for the
    similarity-shaped scans, partitioned rank windows for the
    rank-statistics ops, and zero row-at-a-time Python anywhere."""
    sf = SF_SMOKE

    cusum = _executed_plan(REGISTRY["events_cusum_changepoint"].builder(spark, sf))
    assert "BatchEvalPython" not in cusum
    # the only fact-size shuffle keys on the day expression (compiled to
    # _groupingexpression); the scan is pruned to (ts, value) and the
    # ordered window runs on the tiny aggregated day table
    assert "hashpartitioning(_groupingexpression" in cusum
    assert "ReadSchema: struct<ts:timestamp_ntz,value:double>" in cusum

    ks = _executed_plan(REGISTRY["events_ks_drift"].builder(spark, sf))
    assert "hashpartitioning(b" in ks          # bin-keyed corpus shuffle
    assert "CartesianProduct" not in ks

    cohort = _executed_plan(REGISTRY["cohort_retention_matrix"].builder(spark, sf))
    # cohort month comes from a window over the SAME custkey partitioning
    # as the distinct — no corpus join-back, no SortMergeJoin
    assert "hashpartitioning(o_custkey" in cohort
    assert "SortMergeJoin" not in cohort       # sizes join is broadcast
    assert "BroadcastHashJoin" in cohort

    auc = _executed_plan(REGISTRY["events_value_auc"].builder(spark, sf))
    rn = [l for l in auc.splitlines() if "row_number()" in l]
    assert rn and all("_bkt" in l for l in rn)  # rank windows per bucket

    gini = _executed_plan(REGISTRY["customer_revenue_gini"].builder(spark, sf))
    rn = [l for l in gini.splitlines() if "row_number()" in l]
    assert rn and all("_bkt" in l for l in rn)

    pairs = _executed_plan(REGISTRY["contrastive_pair_mining"].builder(spark, sf))
    assert "BroadcastNestedLoopJoin" in pairs or "BroadcastHashJoin" in pairs
    assert "SortMergeJoin" not in pairs        # anchors broadcast
    assert "WindowGroupLimit" in pairs         # per-(anchor,side) top-k map-side
    assert "BatchEvalPython" not in pairs

    tfidf = _executed_plan(REGISTRY["tfidf_doc_neighbors"].builder(spark, sf))
    assert "WindowGroupLimit" in tfidf
    assert "CartesianProduct" not in tfidf

    ols = _executed_plan(REGISTRY["price_quantity_ols"].builder(spark, sf))
    # the whole corpus reduces through ONE partial+final aggregate pair:
    # no join, no window, no Python
    assert "SortMergeJoin" not in ols and "Window" not in ols
    assert ols.count("HashAggregate") >= 2     # partial + final
    assert "BatchEvalPython" not in ols

    attr = _executed_plan(REGISTRY["purchase_attribution_linear"].builder(spark, sf))
    assert "CartesianProduct" not in attr      # user-keyed equi-join
    assert "BatchEvalPython" not in attr

    gain = _executed_plan(REGISTRY["error_value_split_gain"].builder(spark, sf))
    assert "hashpartitioning(b" in gain        # bin-keyed corpus shuffle
    assert "BatchEvalPython" not in gain

    video = _executed_plan(REGISTRY["multimodal_video_features"].builder(spark, sf))
    assert "MapInPandas" in video              # the one Arrow stage
    assert "BatchEvalPython" not in video


def test_round10_operator_plans(spark):
    """Plan pins for the round-10 operators: one-aggregate inference,
    bounded-tail time series, distributed prefix sums, capped wedge
    joins, broadcast models, and exactly one Arrow stage where a
    sequential kernel is the point — zero row-at-a-time Python
    anywhere."""
    sf = SF_SMOKE

    welch = _executed_plan(REGISTRY["price_welch_ttest"].builder(spark, sf))
    # the whole corpus reduces through ONE partial+final aggregate pair
    assert "SortMergeJoin" not in welch and "Window" not in welch
    assert welch.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in welch
    # the scan is pruned to the two columns the test reads
    assert "ReadSchema: struct<l_extendedprice:double,l_returnflag:string>" \
        in welch

    xcorr = _executed_plan(REGISTRY["events_xcorr_daily"].builder(spark, sf))
    # the only corpus-wide shuffle keys on the (day, type) rollup; the
    # lag join runs on the tiny day table (broadcast, never SMJ)
    assert "SortMergeJoin" not in xcorr
    assert "CartesianProduct" not in xcorr
    assert "BatchEvalPython" not in xcorr

    abc = _executed_plan(
        REGISTRY["parts_abc_classification"].builder(spark, sf))
    # two-level prefix sum: every rank/cumsum window is per-bucket
    win = [l for l in abc.splitlines()
           if "windowspecdefinition" in l.lower()]
    assert win and all("_bkt" in l for l in win)
    assert "BatchEvalPython" not in abc

    jac = _executed_plan(
        REGISTRY["copurchase_jaccard_neighbors"].builder(spark, sf))
    assert "CartesianProduct" not in jac       # wedge join is equi-keyed
    assert "TakeOrderedAndProject" in jac      # top-k returns O(k)
    assert "BatchEvalPython" not in jac

    tr = _executed_plan(REGISTRY["textrank_keywords"].builder(spark, sf))
    assert "CartesianProduct" not in tr
    assert "TakeOrderedAndProject" in tr
    assert "BatchEvalPython" not in tr

    nb = _executed_plan(REGISTRY["nb_lang_confusion"].builder(spark, sf))
    # the model joins back BROADCAST (vocab x labels bounded), never a
    # corpus-side SortMergeJoin
    assert "BroadcastHashJoin" in nb
    assert "BatchEvalPython" not in nb

    holt = _executed_plan(REGISTRY["orders_holt_forecast"].builder(spark, sf))
    assert "MapInPandas" in holt               # the one Arrow stage
    assert "BatchEvalPython" not in holt

    twap = _executed_plan(REGISTRY["events_twap_daily"].builder(spark, sf))
    # day-keyed window: state bounded by a day's traffic
    assert "hashpartitioning(day" in twap
    assert "BatchEvalPython" not in twap

    out = _executed_plan(
        REGISTRY["embedding_diag_outliers"].builder(spark, sf))
    assert "BroadcastHashJoin" in out          # d-row stats broadcast
    assert "SortMergeJoin" not in out
    assert "TakeOrderedAndProject" in out
    assert "BatchEvalPython" not in out

    avro = _executed_plan(
        REGISTRY["avro_roundtrip_events"].builder(spark, sf))
    assert "MapInPandas" in avro               # the parallel decode stage
    assert "BatchEvalPython" not in avro


def test_bucketed_join_consumes_write_time_partitioning(spark):
    """bucketed_colocated_join's deliverable is the PLAN: both sides were
    written bucketBy(8, orderkey), so the SortMergeJoin reads write-time
    partitioning and needs no exchange on either input, while the
    plain-parquet twin shuffles both facts. Broadcast is disabled for the
    probe — at gate scale AQE would broadcast the whole join and hide the
    property this layout exists to prove."""
    from covid_19_data_engineering_spark.operators.layout import (
        bucketed_priority_revenue,
    )
    from covid_19_data_engineering_spark.sources.tables import load_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = bucketed_priority_revenue(spark, SF_SMOKE)
        p_b = _executed_plan(bucketed)
        o = load_table(spark, "orders", SF_SMOKE)
        li = load_table(spark, "lineitem", SF_SMOKE)
        twin = (
            o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_lines"))
            .orderBy("o_orderpriority")
        )
        p_u = _executed_plan(twin)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in p_b and "SelectedBucketsCount" in p_b
    assert "SortMergeJoin" in p_u
    # the bucketed plan drops exactly the two join-input exchanges; the
    # agg + sort exchanges remain in both
    assert p_b.count("Exchange") == p_u.count("Exchange") - 2

"""Semantic deduplication (SemDeDup): k-means partition, then cosine
near-dup pruning WITHIN cells only — with the pair volume BUDGETED.

Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication" (2023): embed the corpus, k-means it, and look
for high-cosine pairs only inside each cluster — the clustering bounds
the quadratic pair search to O(Σ cluster²) instead of O(n²), and K is
THE scale knob: it must GROW with the corpus or clusters (and the pair
search) grow quadratically. The registered query therefore derives
K = max(8, n / SEM_CLUSTER_TARGET) — identical integer arithmetic in
the oracle's cent0 CTE — capping EXPECTED cluster size at any scale
(measured: the fixed-K variant ran 4.8x at 3x data; capped runs ~1x).

Two guards close the worst-case holes the expectation argument leaves
open:

1. **Exact-embedding collapse first.** A dense mode of IDENTICAL
   vectors — exactly the data semantic dedup exists to find — lands its
   m copies in ONE k-means cell no matter how K is derived, and a
   within-cluster join would pay C(m, 2) cosine pairs for answers that
   are all trivially 1.0. Identical embeddings collapse to their
   min-vec_id representative BEFORE clustering (the minhash / simhash
   collapse applied to vectors); the expansion
   reconstructs each copy's row exactly (status='drop_semantic',
   dup_of = the representative's dominator if the representative is
   itself dropped else the representative, max_cosine = 1.0). The
   collapsed decision table is provably identical to the uncollapsed
   semantics: copies rank directly behind their representative (same
   dist, higher vec_id), the minimal-rank dominator of any vector is
   always a representative, and cos(u, copy) == cos(u, rep) for every
   u — so no decision changes, only the pair count does. Measured: the
   planted 25%-duplicate corpora produce candidate volumes IDENTICAL
   to the duplicate-free ones (tools/bench_scale.py).

2. **Hard per-cell cap via hyperplane bit-slice split.** K bounds the
   EXPECTED cell size, not the max. Cells whose member
   count exceeds SEM_CLUSTER_CAP split on the sign bits of the
   shared deterministic hyperplane pool (operators/vectors.py — the
   same integer-mix planes the LSH oracles already replay
   bit-identically in DuckDB): split_bits = ceil(log2(cnt / CAP))
   computed in EXACT integer arithmetic as length(bin((cnt-1) div CAP))
   (0 when cnt <= CAP, capped at SEM_MAX_SPLIT_BITS), and the cell key
   gains an MSB-first fold of the first split_bits sign bits. Pairs are
   then searched within (cell, sub) only. This is the honest recall
   trade of every banded method, stated rather than hidden: near-dup
   pairs that straddle a sub-cell boundary are missed, but a near-dup
   pair has near-identical sign bits, so the hyperplane slice is the
   split direction LEAST likely to separate it — and only oversized
   cells pay any recall cost at all. The oracle replays the identical
   count/bin/fold arithmetic, so engine and oracle stay hash-equal at
   every SF whether or not a split triggers.

**Two-level (IVF) variant** — ``semantic_dedup_ivf``: the flat
derivation K = n/256 makes the broadcast-centroid assignment cost
n * K = n²/256 multiply-adds AND a K-row centroid broadcast — at 10^9
vectors that is a ~2 GB broadcast, a real cluster failure, not just a
slow stage. The IVF shape splits the quantizer: K1 = ceil(sqrt(K))
coarse centroids (a sqrt-sized broadcast, map-only argmin), then per
coarse cell K2_c = ceil(cnt_c / SEM_CLUSTER_TARGET) fine centroids
seeded from the cell's lowest vec_ids and DISTRIBUTED BY JOIN on the
coarse cell id — no monolithic broadcast anywhere, assignment cost
~2 n sqrt(K). Both levels use the shared ``nearest_centroids`` argmin
and the fine level the shared ``lloyd_update`` (operators/vectors.py).
Fine cells target the same 256 expected members, and the same
collapse / cap / decision tail runs unchanged (cell id = 'coarse:fine'
string). The fine quantizer CONVERGES: assign -> integer-exact update
iterates up to SEM_IVF_LLOYD_ROUNDS rounds, freezing when the largest
per-centroid squared movement (exact fixed point) drops below
SEM_IVF_MOVE_EPS_FP — "until movement < eps or R rounds" as a fixed
R-round plan both engines replay CTE-for-CTE, with the quality gain
pinned by test_ivf_lloyd_convergence_improves_within_cell_distance
(4x lower within-cell distance on a planted bad-seed corpus).

Decision rule (deterministic, single-pass, SQL-expressible): rank each
cell's members by distance-to-centroid (closest first, vec_id tie);
a vector is ``drop_semantic`` iff some BETTER-RANKED member of its
cell has cosine >= τ with it, and it records that dominator
(best-ranked one) plus the max cosine seen. This is the one-shot variant
of the paper's greedy keep-closest-to-centroid scan: the greedy version
re-checks only against already-retained members (a chain a > b > c with
cos(a,b) >= τ > cos(a,c), cos(b,c) >= τ keeps c once b is dropped);
dominated-by-any is stricter, order-independent, and needs no iteration
— the honest trade for an exact cross-engine oracle, stated here rather
than hidden.

Scale shape: the collapse is one window-min shuffle on the embedding;
the partition stage is map-only broadcast assignment (flat) or
broadcast-coarse + join-distributed-fine (IVF); the per-cell count and
rank share ONE window partitioning; the pair stage is an equi-join on
(cell, sub) whose volume the capped cells bound; the expansion is an
equi-join on the representative id. All JVM-side.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from covid_19_data_engineering_spark.operators.kmeans import (
    KM_DIM,
    KM_K,
    kmeans_assignments,
    kmeans_cte_chain,
)
from covid_19_data_engineering_spark.operators.lineage import (
    truncate as _truncate,
)
from covid_19_data_engineering_spark.operators.vectors import (
    _planes_lit,
    fold_cosine_sql,
    lloyd_update,
    lloyd_update_sql,
    nearest_centroids,
    nearest_centroids_sql,
    sqdist,
    sqdist_sql,
)
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

# the synthetic embeddings are near-orthogonal (pair cosines ~0, max
# ~0.5), so the production-style 0.9+ threshold would be vacuous at every
# SF; 0.4 keeps real survivors flowing — the same reasoning as
# dedup_embedding_cosine's threshold
SEM_THRESHOLD = 0.4

# target members per cluster: K = max(KM_K, n_reps // SEM_CLUSTER_TARGET),
# the SemDeDup scale knob made AUTOMATIC — a fixed K turns the
# within-cluster pair search quadratic as the corpus grows (measured:
# 4.8x time at 3x data with K=8); deriving K from corpus size caps
# expected cluster size, so the pair stage scales ~linearly. Identical
# integer arithmetic on both engines (greatest/"//" in the oracle's
# cent0 CTE).
SEM_CLUSTER_TARGET = 256

# hard per-cell member cap: cells above it split on hyperplane sign bits
# (split_bits = ceil(log2(cnt/cap)), integer-exact via length(bin(q)));
# at most 2^SEM_MAX_SPLIT_BITS sub-cells per oversized cluster
SEM_CLUSTER_CAP = 512
SEM_MAX_SPLIT_BITS = 8

# fine-quantizer Lloyd budget: the IVF fine
# assignment iterates assign -> integer-exact update for up to
# SEM_IVF_LLOYD_ROUNDS rounds, FREEZING early when the largest
# per-centroid squared movement between consecutive rounds drops below
# SEM_IVF_MOVE_EPS_FP (fixed-point 1e-12 units, i.e. < 1e-6 squared
# movement). The freeze makes every round after convergence an exact
# no-op, so BOTH engines run the same fixed round count and the
# data-dependent "converged or R rounds" semantics replays as R chained
# CTE blocks with mutually exclusive guarded UNION branches — no
# data-dependent control flow anywhere. R = 2 captures ~99.9% of the
# planted-corpus quality gain (round 2: 27.48 vs round 3: 27.455 vs
# round 1: 112.3 total sqdist) at one guarded round's wall cost; raise
# the budget for production corpora that keep moving.
SEM_IVF_LLOYD_ROUNDS = 2
SEM_IVF_MOVE_UNIT = 1_000_000_000_000   # 1e-12 fixed point for movement^2
SEM_IVF_MOVE_EPS_FP = 1_000_000         # < 1e-6 squared movement = converged

# partition="auto" switch point: the flat quantizer
# broadcasts all K = n/256 centroids to every task and pays n*K
# multiply-adds, so it stops being the right plan once K crosses ~1024
# centroids (at 768-dim production vectors that is a multi-MB broadcast
# and a quadratically growing assignment stage). 262144 reps = K 1024 is
# that knee; above it the registered query takes the IVF two-level
# quantizer (sqrt-sized broadcast, join-distributed fine assignment).
# Both engines replay the identical n_reps <= threshold comparison.
SEM_FLAT_MAX_REPS = 262_144


def _collapse_embeddings(emb: DataFrame) -> DataFrame:
    """(vec_id, e, rep) — rep = min vec_id among rows with a byte-equal
    embedding. One window-min shuffle keyed on the vector itself; no join."""
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return corpus.select(
        "vec_id", "e",
        F.min("vec_id").over(Window.partitionBy("e")).alias("rep"),
    )


def _cap_rank_cells(assigned: DataFrame) -> DataFrame:
    """Shared tail of every partition strategy: key each member of an
    ``assigned`` frame (vec_id, e, cell, dist) to its capped cell and
    rank it: (vec_id, e, cell, sub, rk, _n). cnt/rank ride ONE window
    partitioning on cell; the sub split only computes sign bits for rows
    whose cell is oversized."""
    cnt_w = Window.partitionBy("cell")
    counted = assigned.withColumn("_cnt", F.count(F.lit(1)).over(cnt_w)) \
        .withColumn("_q", F.expr(f"(_cnt - 1) div {SEM_CLUSTER_CAP}"))
    s = F.when(F.col("_q") == 0, F.lit(0)).otherwise(
        F.least(F.lit(SEM_MAX_SPLIT_BITS), F.length(F.bin(F.col("_q"))))
    ).cast("int")
    # sign bits of the first SEM_MAX_SPLIT_BITS shared hyperplanes, only
    # evaluated on rows of oversized cells (the F.when guards the branch)
    planes_head = F.slice(_planes_lit(), 1, SEM_MAX_SPLIT_BITS)
    bits = F.transform(
        planes_head,
        lambda p: (
            F.aggregate(
                F.zip_with(F.col("e"), p, lambda x, y: (x * y).cast("double")),
                F.lit(0.0), lambda acc, v: acc + v,
            ) >= 0
        ).cast("int"),
    )
    sub = F.when(F.col("_s") == 0, F.lit(0)).otherwise(
        F.aggregate(
            F.slice(bits, F.lit(1), F.col("_s")),
            F.lit(0), lambda acc, bit: acc * 2 + bit,
        )
    )
    celled = counted.withColumn("_s", s).withColumn("sub", sub)
    rank_w = Window.partitionBy("cell", "sub").orderBy("dist", "vec_id")
    # hoist each vector's norm out of the pair stage: dot/(na*nb) with
    # per-vector norms is the SAME operand tree as cosine_sim per pair,
    # at one array walk instead of three
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("e"), lambda x: (x * x).cast("double")),
            F.lit(0.0), lambda acc, v: acc + v,
        )
    )
    return celled.select("vec_id", "e", "cell", "sub", "dist") \
        .withColumn("rk", F.row_number().over(rank_w)) \
        .withColumn("_n", norm) \
        .drop("dist")


def _rep_cells(reps: DataFrame, k: int) -> DataFrame:
    """Flat partition: two-round deterministic Lloyd over the collapsed
    representative set, then the shared cap/rank tail. The cell id is
    cast to string so both partition strategies emit ONE cluster_id
    type — the auto switch must never change the output schema with the
    corpus size."""
    assigned = kmeans_assignments(
        reps.select("vec_id", F.col("e").alias("embedding")), k
    ).withColumnRenamed("cid", "cell") \
        .withColumn("cell", F.col("cell").cast("string"))
    return _cap_rank_cells(assigned)


def _max_centroid_movement(new: DataFrame, old: DataFrame) -> DataFrame:
    """One-row (mx): the largest per-centroid squared movement between
    two consecutive (ccid, fcid, c) centroid tables, in exact
    SEM_IVF_MOVE_UNIT fixed point — each squared-diff term floors to a
    BIGINT before the fold, so the per-centroid sum is order-independent
    and the < EPS freeze comparison is a pure integer decision both
    engines compute identically. Vanished cells (present in old only) move
    nothing by definition and are excluded by the inner join."""
    move = F.aggregate(
        F.zip_with(
            F.col("c"), F.col("_c_old"),
            lambda x, y: F.floor(
                ((x - y) * (x - y)) * F.lit(float(SEM_IVF_MOVE_UNIT))
                + F.lit(0.5)).cast("long"),
        ),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    )
    return (
        new.join(old.select("ccid", "fcid", F.col("c").alias("_c_old")),
                 ["ccid", "fcid"])
        .select(move.alias("m"))
        .agg(F.coalesce(F.max("m"), F.lit(0).cast("long")).alias("mx"))
    )


def _ivf_assigned(reps: DataFrame, n_reps: int,
                  k_total: int | None = None,
                  lloyd_rounds: int = SEM_IVF_LLOYD_ROUNDS) -> DataFrame:
    """Two-level partition: K1 = ceil(sqrt(K_total)) broadcast coarse
    centroids (single-round argmin), then per-coarse-cell fine centroids
    seeded from the cell's lowest vec_ids and refined with up to
    ``lloyd_rounds`` Lloyd rounds (``lloyd_update`` keyed by
    (coarse, fine)), distributed BY JOIN on the coarse id — no K-row
    broadcast anywhere. After each round the largest per-centroid
    squared movement is measured in exact fixed point, and once it
    drops below SEM_IVF_MOVE_EPS_FP the centroids FREEZE — every later
    round is an exact no-op — so 'iterate until movement < eps or R
    rounds' runs as a fixed R-round plan the oracle replays CTE-for-CTE
    with guarded mutually exclusive UNION branches. Output:
    (vec_id, e, cell, dist) with cell id 'coarse:fine'."""
    if k_total is None:
        k_total = max(KM_K, n_reps // SEM_CLUSTER_TARGET)
    k1 = int(math.ceil(math.sqrt(float(k_total))))
    corpus = reps.select("vec_id", "e")
    c0 = (
        corpus.orderBy("vec_id").limit(k1)
        .agg(F.collect_list(F.struct(F.col("vec_id").alias("cid"),
                                     F.col("e").alias("c"))).alias("cs"))
    )
    coarse = corpus.crossJoin(F.broadcast(c0)).select(
        "vec_id", "e",
        nearest_centroids(F.col("e"), F.col("cs"), sqdist, 1)["cid"]
        .alias("ccid"))
    cnt_w = Window.partitionBy("ccid")
    rn_w = Window.partitionBy("ccid").orderBy("vec_id")
    seeded = coarse \
        .withColumn("_ccnt", F.count(F.lit(1)).over(cnt_w)) \
        .withColumn("_crn", F.row_number().over(rn_w))
    seeds = seeded.where(
        F.col("_crn") <= F.expr(
            f"(_ccnt + {SEM_CLUSTER_TARGET} - 1) div {SEM_CLUSTER_TARGET}")
    ).select("ccid", F.col("vec_id").alias("fcid"), F.col("e").alias("c"))
    # every Lloyd round re-reads the member set; truncate the coarse
    # stage ONCE (O(n) working set, the same rule as the flat path's
    # cells truncate) so rounds cost one K-row update each instead of
    # re-running collapse -> coarse-assign -> windows per round. All the
    # round truncates are LAZY: each materializes inside the next
    # round's movement-probe job instead of paying a dedicated job —
    # the whole convergence loop adds exactly (rounds - 1) jobs
    members = seeded.select("vec_id", "e", "ccid").transform(_truncate)

    def assign(fcent: DataFrame) -> DataFrame:
        # members meet their coarse cell's fine centroids by an equi-join
        # on ccid; the argmin is order-independent, so the collect_list
        # order does not matter
        fs = fcent.groupBy("ccid").agg(F.collect_list(F.struct(
            F.col("fcid").alias("cid"), "c")).alias("cs"))
        best = nearest_centroids(F.col("e"), F.col("cs"), sqdist, 1)
        return (
            members.join(fs, "ccid")
            .select("vec_id", "e", "ccid", best.alias("best"))
            .select("vec_id", "e", "ccid", F.col("best.cid").alias("fcid"),
                    F.col("best.dist").alias("dist"))
        )

    # round 1: unconditional update off the seeded Voronoi assignment;
    # empty fine cells vanish and each coarse cell keeps >= 1 centroid
    # (it had >= 1 member). The centroid table is K-row small —
    # truncating it per round keeps the round-over-round plan depth
    # constant
    keys = ["ccid", "fcid"]
    fcent = lloyd_update(assign(seeds), keys, "e").transform(_truncate)
    for _ in range(max(0, lloyd_rounds - 1)):
        raw = lloyd_update(assign(fcent), keys, "e").transform(_truncate)
        # the freeze is a single exact-integer scalar (bounded 1-row
        # collect); the oracle replays the identical comparison as
        # guarded mutually exclusive UNION branches per round
        mx = _max_centroid_movement(raw, fcent).first()["mx"]
        if mx < SEM_IVF_MOVE_EPS_FP:
            break  # converged: later rounds would be exact no-ops
        fcent = raw
    return assign(fcent).select(
        "vec_id", "e",
        F.concat(F.col("ccid").cast("string"), F.lit(":"),
                 F.col("fcid").cast("string")).alias("cell"),
        "dist",
    )


def _ivf_cells(reps: DataFrame, n_reps: int,
               k_total: int | None = None) -> DataFrame:
    """The IVF partition strategy: converged fine assignment
    (_ivf_assigned) through the shared cap/rank tail."""
    return _cap_rank_cells(_ivf_assigned(reps, n_reps, k_total))


def semantic_pair_candidates(cells: DataFrame) -> DataFrame:
    """The budgeted candidate stage: all (better-ranked, worse-ranked)
    pairs WITHIN a (cell, sub) cell, cosine attached, BEFORE the threshold
    filter — exposed so tests can pin the pair-volume budget directly.
    Output: (vid, dom, rk_a, cosine)."""
    a = cells.select(F.col("cell").alias("cell_a"), F.col("sub").alias("sub_a"),
                     F.col("vec_id").alias("dom"), F.col("e").alias("ea"),
                     F.col("_n").alias("_na"), F.col("rk").alias("rk_a"))
    b = cells.select(F.col("cell").alias("cell_b"), F.col("sub").alias("sub_b"),
                     F.col("vec_id").alias("vid"), F.col("e").alias("eb"),
                     F.col("_n").alias("_nb"), F.col("rk").alias("rk_b"))
    dot = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: (x * y).cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    cos = F.round(dot / (F.col("_na") * F.col("_nb")), 4)
    return (
        a.join(b, (F.col("cell_a") == F.col("cell_b"))
               & (F.col("sub_a") == F.col("sub_b"))
               & (F.col("rk_a") < F.col("rk_b")))
        .select("vid", "dom", "rk_a", cos.alias("cosine"))
    )


def _decide_and_expand(withrep: DataFrame, cells: DataFrame,
                       threshold: float) -> DataFrame:
    """Shared decision + expansion tail over a capped/ranked cell frame."""
    dominated = (
        semantic_pair_candidates(cells)
        .where(F.col("cosine") >= threshold)
        .groupBy("vid")
        .agg(
            F.max("cosine").alias("max_cosine"),
            F.min(F.struct("rk_a", "dom")).alias("best"),
        )
        .select("vid", F.col("best.dom").alias("dup_of"), "max_cosine")
    )
    rep_dec = (
        cells.select("vec_id", F.col("cell").alias("cluster_id"))
        .join(dominated, F.col("vec_id") == F.col("vid"), "left")
        .select(
            F.col("vec_id").alias("rep_id"), "cluster_id",
            F.when(F.col("dup_of").isNotNull(), F.lit("drop_semantic"))
            .otherwise(F.lit("keep")).alias("rep_status"),
            F.col("dup_of").alias("rep_dup_of"),
            F.col("max_cosine").alias("rep_max_cosine"),
        )
    )
    is_rep = F.col("vec_id") == F.col("rep")
    return (
        withrep.select("vec_id", "rep")
        .join(rep_dec, F.col("rep") == F.col("rep_id"))
        .select(
            "vec_id", "cluster_id",
            F.when(is_rep, F.col("rep_status"))
            .otherwise(F.lit("drop_semantic")).alias("status"),
            F.when(is_rep, F.col("rep_dup_of"))
            .otherwise(F.coalesce("rep_dup_of", "rep")).alias("dup_of"),
            F.when(is_rep, F.col("rep_max_cosine"))
            .otherwise(F.lit(1.0)).alias("max_cosine"),
        )
    )


def semantic_dedup(emb: DataFrame, threshold: float = SEM_THRESHOLD,
                   k: int | None = None,
                   partition: str = "auto",
                   flat_max_reps: int | None = None) -> DataFrame:
    """Per-vector semantic-dedup decision table:
    (vec_id, cluster_id, status, dup_of, max_cosine).

    status = 'drop_semantic' when a better-centroid-ranked cell member
    sits within the cosine threshold; dup_of = the best-ranked such
    member (NULL on keep); max_cosine = the strongest in-cell
    similarity to a better-ranked member (NULL on keep). ``k=None``
    derives K from the COLLAPSED corpus size (SEM_CLUSTER_TARGET
    representatives per cluster) — one bounded count() — so cell sizes
    stay flat as the corpus grows. ``partition="auto"`` (the default,
    and the registered query's mode) picks the quantizer from the
    corpus size: "flat" while n_reps <= ``flat_max_reps`` (default
    SEM_FLAT_MAX_REPS), the two-level "ivf" above it — flat's K-row
    centroid broadcast and n*K assignment are a real failure at 10^9
    vectors, and the switch removes the operator's last fixed-strategy
    scale cliff. cluster_id is a string under every strategy ('<cid>'
    flat, 'coarse:fine' ivf) so the switch never changes the schema."""
    withrep = _collapse_embeddings(emb)
    # feeds the rep filter, the k-derivation count, and the expansion —
    # materialize the collapse shuffle once. LAZY: the k-derivation count
    # below is the first consumer, so the truncate materializes inside
    # that job instead of paying a dedicated one.
    withrep = withrep.transform(_truncate)
    reps = withrep.where(F.col("vec_id") == F.col("rep")).select("vec_id", "e")
    n_reps = reps.count()
    if partition == "auto":
        limit = SEM_FLAT_MAX_REPS if flat_max_reps is None else flat_max_reps
        partition = "flat" if n_reps <= limit else "ivf"
    if partition == "ivf":
        # an explicit k is the TOTAL cell budget here, same as flat
        cells = _ivf_cells(reps, n_reps, k_total=k)
    elif partition == "flat":
        if k is None:
            k = max(KM_K, n_reps // SEM_CLUSTER_TARGET)
        cells = _rep_cells(reps, k)
    else:
        raise ValueError(f"unknown partition {partition!r}")
    # the cell working set feeds both self-join sides and the final
    # spine — materialize it once (same shared-working-set rule as every
    # band join; lazy — the pair join's first job materializes it, no
    # dedicated blocking job)
    cells = cells.transform(_truncate)
    return _decide_and_expand(withrep, cells, threshold)


_COLLAPSE_SQL = """corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    withrep AS (
      SELECT vec_id, e, MIN(vec_id) OVER (PARTITION BY e) AS rep FROM corpus
    )"""


def _sem_tail_sql() -> str:
    """Oracle tail shared by both partition strategies: expects CTEs
    ``withrep`` (vec_id, e, rep) and ``cells0`` (vec_id, e, cell, dist);
    emits the cap/split/rank/pair/decision/expansion chain."""
    cap, maxbits, dim = SEM_CLUSTER_CAP, SEM_MAX_SPLIT_BITS, KM_DIM
    return f"""sized AS (
      SELECT *, CASE WHEN _q = 0 THEN 0
                     ELSE least({maxbits}, length(bin(_q))) END AS s
      FROM (
        SELECT *, (COUNT(*) OVER (PARTITION BY cell) - 1) // {cap} AS _q
        FROM cells0
      )
    ),
    splanes AS (
      SELECT p, list_transform(
               range(0, {dim}),
               d -> CAST((p * 1000003 + d) * 2654435761 % 4294967296 AS DOUBLE)
                    / 2147483648.0 - 1.0
             ) AS pl
      FROM (SELECT unnest(range(0, {maxbits})) AS p)
    ),
    sbits AS (
      SELECT v.vec_id, pr.p,
             CASE WHEN list_reduce(
               list_transform(range(1, {dim} + 1), i -> v.e[i] * pr.pl[i]),
               (a, b) -> a + b) >= 0 THEN 1 ELSE 0 END AS bit
      FROM sized v CROSS JOIN splanes pr
      WHERE v.s > 0
    ),
    subk AS (
      SELECT z.vec_id,
             COALESCE(SUM(CASE WHEN b.p < z.s
                               THEN b.bit << (z.s - 1 - b.p) END), 0) AS sub
      FROM sized z LEFT JOIN sbits b ON b.vec_id = z.vec_id
      GROUP BY z.vec_id
    ),
    ranked AS (
      SELECT z.vec_id, z.e, z.cell, k.sub,
             ROW_NUMBER() OVER (PARTITION BY z.cell, k.sub
                                ORDER BY z.dist, z.vec_id) AS rk
      FROM sized z JOIN subk k ON k.vec_id = z.vec_id
    ),
    pairs AS (
      SELECT b.vec_id AS vid, a.vec_id AS dom, a.rk AS rk_a,
             ROUND({fold_cosine_sql('a.e', 'b.e')}, 4) AS cosine
      FROM ranked a JOIN ranked b
        ON a.cell = b.cell AND a.sub = b.sub AND a.rk < b.rk
      WHERE ROUND({fold_cosine_sql('a.e', 'b.e')}, 4) >= {SEM_THRESHOLD}
    ),
    dom2 AS (
      SELECT vid,
             MAX(cosine) AS max_cosine,
             arg_min(dom, rk_a) AS dup_of
      FROM pairs GROUP BY vid
    ),
    rep_dec AS (
      SELECT r.vec_id AS rep_id, r.cell AS cluster_id,
             CASE WHEN d.dup_of IS NOT NULL THEN 'drop_semantic'
                  ELSE 'keep' END AS rep_status,
             d.dup_of AS rep_dup_of, d.max_cosine AS rep_max_cosine
      FROM ranked r LEFT JOIN dom2 d ON d.vid = r.vec_id
    )
    SELECT w.vec_id, t.cluster_id,
           CASE WHEN w.vec_id = w.rep THEN t.rep_status
                ELSE 'drop_semantic' END AS status,
           CASE WHEN w.vec_id = w.rep THEN t.rep_dup_of
                ELSE COALESCE(t.rep_dup_of, w.rep) END AS dup_of,
           CASE WHEN w.vec_id = w.rep THEN t.rep_max_cosine
                ELSE 1.0 END AS max_cosine
    FROM withrep w JOIN rep_dec t ON t.rep_id = w.rep
    ORDER BY w.vec_id"""


def _semantic_dedup_oracle_sql() -> str:
    k_expr = f"greatest({KM_K}, n_all // {SEM_CLUSTER_TARGET})"
    return f"""
    WITH {_COLLAPSE_SQL},
    {kmeans_cte_chain(k_expr,
                      emb_sql="SELECT vec_id, e FROM withrep WHERE vec_id = rep")},
    cells0 AS ({_flat_cells_select()}),
    {_sem_tail_sql()}
    """


def _flat_cells_select() -> str:
    """Flat-quantizer cell frame off the kmeans chain's ``a2`` — the cid
    cast to VARCHAR mirrors the engine's string cell id, keeping ONE
    cluster_id type across partition strategies."""
    return "SELECT vec_id, e, CAST(cid AS VARCHAR) AS cell, dist FROM a2"


def _fine_nearest(cents: str,
                  cols: str = "v.vec_id, v.e, v.ccid, c.fcid") -> str:
    """Each ``seeded`` vector's nearest fine centroid of ``cents``
    (ccid, fcid, c), searched only within its own coarse cell."""
    return nearest_centroids_sql(
        "seeded", cents, sqdist_sql("v.e", "c.c", KM_DIM), cols=cols,
        cid="c.fcid", on="c.ccid = v.ccid")


def _ivf_chain_sql() -> str:
    """The IVF quantizer's CTE chain (reps -> c0 -> coarse -> seeded ->
    fseeds -> fa1 -> fcent1 -> [fa_r/fcentraw_r/fmove_r/fcent_r]*) —
    shared by the ivf-only and the auto-switch oracles. Round 1 replays
    the engine's unconditional Lloyd update off the seeded Voronoi
    assignment; rounds 2..SEM_IVF_LLOYD_ROUNDS replay the convergence
    protocol — fmove_r computes the max per-centroid squared movement in
    exact SEM_IVF_MOVE_UNIT fixed point and fcent_r keeps the PREVIOUS
    centroids when it is below SEM_IVF_MOVE_EPS_FP (guarded mutually
    exclusive UNION branches, the same replay idiom as the flat/IVF auto
    switch). Fine centroids ``c`` are keyed (ccid, fcid); a vector only
    meets the fine centroids of its coarse cell."""
    t = SEM_CLUSTER_TARGET
    head = f"""reps AS MATERIALIZED (SELECT vec_id, e FROM withrep WHERE vec_id = rep),
    c0 AS (
      SELECT vec_id AS cid, e AS c FROM (
        SELECT vec_id, e,
               ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
               COUNT(*) OVER () AS n_all
        FROM reps
      ) WHERE rn <= CAST(ceil(sqrt(CAST(greatest({KM_K}, n_all // {t})
                                        AS DOUBLE))) AS BIGINT)
    ),
    coarse AS MATERIALIZED ({nearest_centroids_sql(
        "reps", "c0", sqdist_sql("v.e", "c.c", KM_DIM),
        cols="v.vec_id, v.e, c.cid AS ccid")}),
    seeded AS MATERIALIZED (
      SELECT vec_id, e, ccid,
             COUNT(*) OVER (PARTITION BY ccid) AS _ccnt,
             ROW_NUMBER() OVER (PARTITION BY ccid ORDER BY vec_id) AS _crn
      FROM coarse
    ),
    fseeds AS MATERIALIZED (
      SELECT ccid, vec_id AS fcid, e AS c FROM seeded
      WHERE _crn <= (_ccnt + {t} - 1) // {t}
    ),
    fa1 AS MATERIALIZED ({_fine_nearest("fseeds")}),
    fcent1 AS MATERIALIZED ({lloyd_update_sql("fa1", "ccid, fcid", dim=KM_DIM)})"""
    rounds = []
    for r in range(2, SEM_IVF_LLOYD_ROUNDS + 1):
        prev = f"fcent{r - 1}"
        rounds.append(f""",
    fa{r} AS MATERIALIZED ({_fine_nearest(prev)}),
    fcentraw{r} AS MATERIALIZED ({lloyd_update_sql(f"fa{r}", "ccid, fcid",
                                                   dim=KM_DIM)}),
    fmove{r} AS MATERIALIZED (
      SELECT COALESCE(MAX(list_reduce(
               list_transform(range(1, {KM_DIM} + 1),
                 i -> CAST(floor(((n.c[i] - o.c[i]) * (n.c[i] - o.c[i]))
                                 * {float(SEM_IVF_MOVE_UNIT)} + 0.5)
                           AS BIGINT)),
               (a, b) -> a + b)), 0) AS mx
      FROM fcentraw{r} n JOIN {prev} o
        ON o.ccid = n.ccid AND o.fcid = n.fcid
    ),
    fcent{r} AS MATERIALIZED (
      SELECT ccid, fcid, c FROM {prev}
      WHERE (SELECT mx FROM fmove{r}) < {SEM_IVF_MOVE_EPS_FP}
      UNION ALL
      SELECT ccid, fcid, c FROM fcentraw{r}
      WHERE (SELECT mx FROM fmove{r}) >= {SEM_IVF_MOVE_EPS_FP}
    )""")
    return head + "".join(rounds)


def _ivf_cells_select() -> str:
    return _fine_nearest(
        f"fcent{SEM_IVF_LLOYD_ROUNDS}",
        cols="v.vec_id, v.e, CAST(v.ccid AS VARCHAR) || ':' || "
             "CAST(c.fcid AS VARCHAR) AS cell")


def _semantic_dedup_ivf_oracle_sql() -> str:
    return f"""
    WITH {_COLLAPSE_SQL},
    {_ivf_chain_sql()},
    cells0 AS ({_ivf_cells_select()}),
    {_sem_tail_sql()}
    """


def _semantic_dedup_auto_oracle_sql(flat_max_reps: int | None = None) -> str:
    """The registered oracle: replays the engine's size-derived partition
    switch — both quantizer chains are stated, and cells0 keeps whichever
    side the n_reps <= threshold comparison selects (the guarded UNION
    branches are mutually exclusive, so exactly one contributes rows).
    Flat and IVF cell ids are both VARCHAR, so the union is type-stable
    and the downstream tail is strategy-agnostic."""
    limit = SEM_FLAT_MAX_REPS if flat_max_reps is None else flat_max_reps
    k_expr = f"greatest({KM_K}, n_all // {SEM_CLUSTER_TARGET})"
    return f"""
    WITH {_COLLAPSE_SQL},
    {kmeans_cte_chain(k_expr,
                      emb_sql="SELECT vec_id, e FROM withrep WHERE vec_id = rep")},
    {_ivf_chain_sql()},
    nreps AS (SELECT COUNT(*) AS n FROM reps),
    cells0 AS (
      SELECT * FROM ({_flat_cells_select()})
      WHERE (SELECT n FROM nreps) <= {limit}
      UNION ALL
      SELECT * FROM ({_ivf_cells_select()})
      WHERE (SELECT n FROM nreps) > {limit}
    ),
    {_sem_tail_sql()}
    """


@register(
    "semantic_dedup",
    oracle=_semantic_dedup_auto_oracle_sql(),
    doc=f"SemDeDup (Abbas et al. 2023) with a budgeted pair stage and a "
    "SIZE-DERIVED partition strategy: exact-embedding collapse to "
    "min-vec_id representatives, then the flat k-means quantizer "
    f"(K = max({KM_K}, n_reps/{SEM_CLUSTER_TARGET})) while n_reps <= "
    f"{SEM_FLAT_MAX_REPS} and the two-level IVF quantizer above it — "
    "flat's K-row broadcast and n*K assignment fail at 10^9 vectors, "
    "and the oracle replays the identical integer switch off n_reps. "
    f"Cells over {SEM_CLUSTER_CAP} members split on shared hyperplane "
    f"sign bits (integer-exact ceil(log2(cnt/cap)), max "
    f"{SEM_MAX_SPLIT_BITS} bits), then cosine >= {SEM_THRESHOLD} pruning "
    "WITHIN (cluster, sub-cell); each dropped vector records its "
    "best-centroid-ranked dominator and max cosine, and collapsed "
    "copies expand back to exact per-copy rows.",
)
def semantic_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    return semantic_dedup(emb).orderBy("vec_id")


@register(
    "semantic_dedup_ivf",
    oracle=_semantic_dedup_ivf_oracle_sql(),
    doc="SemDeDup with the TWO-LEVEL (IVF) quantizer: ceil(sqrt(K)) "
    "broadcast coarse centroids, per-coarse-cell fine centroids "
    "distributed by join (no K-row broadcast — the flat K = n/256 "
    "derivation needs a gigabyte-scale centroid broadcast at 10^9 "
    "vectors), assignment cost ~2 n sqrt(K); the fine quantizer runs "
    f"up to {SEM_IVF_LLOYD_ROUNDS} Lloyd rounds with an exact "
    "fixed-point movement freeze (converge-or-budget, replayed "
    "CTE-for-CTE); same collapse, cell cap, and decision semantics as "
    "semantic_dedup, cell id 'coarse:fine'.",
)
def semantic_dedup_ivf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    return semantic_dedup(emb, partition="ivf").orderBy("vec_id")

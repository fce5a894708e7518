"""Product quantization (PQ) for approximate nearest neighbor search.

Jegou, Douze & Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011): split each d-dim vector into M subvectors, learn a
small k-means codebook per subspace, store each vector as M small codes,
and answer queries with ASYMMETRIC DISTANCE COMPUTATION (ADC) — one
M x K table of exact query-to-centroid distances, then each corpus
vector's approximate distance is M table lookups summed. This is the
compression layer under billion-vector indexes (FAISS IVF-PQ): the
corpus shrinks from d floats to M bytes per vector and the scan does no
floating-point vector math at all.

Engine mapping (everything deterministic, oracle-replayable):

- codebooks reuse the deterministic Lloyd machinery per subspace
  (lowest-vec_id init, exact left-fold squared-L2, the shared
  ``nearest_centroids`` argmin with min-cid ties and ``lloyd_update``
  fixed-point centroid update from operators/vectors.py) — the same
  cross-engine determinism argument as operators/kmeans.py;
- encoding + ADC run in ONE map-only projection: the M codebooks (each
  centroid carrying its PRECOMPUTED query distance) broadcast as M
  array-of-struct rows; per corpus vector, argmin per subspace yields
  the code AND its table distance in the same expression — no
  per-subspace join, no shuffle, one corpus scan;
- the approximate distance d0+d1+...+d(M-1) sums in fixed subspace
  order (left-associative in both engines), floored to 1e-9 integer
  units for hash stability; ``ann_pq_adc_topk`` emits the TRUE
  squared-L2 beside it as a quantization-error audit;
- top-k is orderBy+limit (TakeOrderedAndProject — never a global sort),
  with rank attached on the k-row result.

Two registered operators share the machinery:

- ``ann_pq_adc_topk`` — raw ADC ranking (M=4 x 16 dims, K=16), the
  audit operator. On the unstructured synthetic corpus its top-10 is
  mostly quantization noise (documented; the planted-cluster pytest
  pins where coarse ADC structure IS preserved).
- ``ann_pq_rerank_topk`` — the production query path (Jegou et al.
  §IV-B): ADC selects a SHORTLIST of 10x k candidates
  map-only, then the exact squared-L2 re-ranks only those rows. A finer
  quantizer (M=16 x 4 dims, K=64 — still M bytes/vector at log2(K)<=8)
  makes the shortlist reliable: measured shortlist recall@10 vs exact
  L2 is 1.0 at sf0.001/sf0.01/sf0.1, pinned >= 0.9 in pytest.

Scale shape: codebook training is M small (cid, pos)-keyed aggregates
(<= K x subdim groups, map-side combined); encoding/ADC is map-only
against M broadcast codebooks, so a 100 TB corpus pays exactly one scan
and no shuffle; the re-rank touches only the shortlist rows
(TakeOrderedAndProject carries the vector payload for 10k rows, never
the corpus). At deployment the codes persist as the index (M tinyint
columns) and ADC reads codes only; here the encode+query run fused for
the gate.

No reference analogue (SURVEY §2 C-extensions; the similarity family's
scale path beside IVF and LSH).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from covid_19_data_engineering_spark.operators.kmeans import (
    DIST_UNIT,
    kmeans_cte_chain,
)
from covid_19_data_engineering_spark.operators.vectors import (
    lloyd_update,
    nearest_centroids,
    sqdist,
    sqdist_sql,
)
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

PQ_M = 4          # subspaces (audit operator)
PQ_SUBDIM = 16    # dims per subspace (4 x 16 = the corpus's 64)
PQ_K = 16         # centroids per subspace codebook
PQ_QUERY_ID = 0   # vec_id whose embedding plays the query (MMR precedent)
PQ_TOPK = 10

# re-rank operator: a finer quantizer (same code budget order — M codes
# of log2(K) bits) whose ADC shortlist reliably contains the true
# neighbors on this corpus; measured recall@10 of the 100-row shortlist
# vs exact L2 = 1.0 at all three gate SFs
PQR_M = 16
PQR_SUBDIM = 4    # 16 x 4 = 64
PQR_K = 64
PQR_SHORTLIST = 100  # 10 x k (Jegou et al.'s re-rank shortlist rule)


def _sub_slice(col: Column, s: int, subdim: int = PQ_SUBDIM) -> Column:
    return F.slice(col, s * subdim + 1, subdim)


def _adc_scored(emb: DataFrame, q: list, m: int, subdim: int,
                k_cent: int) -> DataFrame:
    """(vec_id, e, approx_dist_units) for every corpus vector.

    All m per-subspace codebooks train in ONE exploded pass (a row per
    (vector, subspace)), so the whole training phase is a constant
    number of small (s, cid, pos)-keyed shuffles REGARDLESS of m; a
    per-subspace chain would pay 2 shuffles x m subspaces of pure plan
    latency. Arithmetic is bit-identical to the chain form the oracle
    replays: same lowest-vec_id init, same (dist, cid)
    struct-min assignment, same integer-exact centroid update, and the
    final ADC sum folds d0+d1+...+d(m-1) left-associatively in subspace
    order (F.aggregate from 0.0; 0.0 + d0 == d0 exactly for the
    non-negative distances)."""
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))

    def slices(col: Column) -> Column:
        return F.array(*[_sub_slice(col, s, subdim) for s in range(m)])

    # (vec_id, s, es): one row per (vector, subspace)
    sub = corpus.select(
        "vec_id", F.posexplode(slices(F.col("e"))).alias("s", "es"))
    # cent0 per subspace = the k_cent lowest vec_ids' slices (the same
    # vector set for every s, exactly as the per-subspace chains chose)
    cent0 = (
        corpus.orderBy("vec_id").limit(k_cent)
        .select(F.col("vec_id").alias("cid"),
                F.posexplode(slices(F.col("e"))).alias("s", "c"))
        .groupBy("s")
        .agg(F.collect_list(F.struct("cid", "c")).alias("cs"))
    )
    assigned = sub.join(F.broadcast(cent0), "s").select(
        "s", "es",
        nearest_centroids(F.col("es"), F.col("cs"), sqdist, 1)["cid"]
        .alias("cid"),
    )
    # one (s, cid, pos)-keyed shuffle covers every subspace's codebook
    cent1 = lloyd_update(assigned, ["s", "cid"], "es")
    # each centroid carries its query distance (the ADC table entry);
    # the m codebooks collapse into ONE broadcast row, sorted by s
    qslices = F.array(*[
        F.array(*[F.lit(q[i]) for i in
                  range(s * subdim, (s + 1) * subdim)])
        for s in range(m)
    ])
    books = (
        cent1.select(
            "s", "cid", "c",
            sqdist(F.element_at(qslices, F.col("s") + 1),
                   F.col("c")).alias("dq"),
        )
        .groupBy("s")
        .agg(F.collect_list(F.struct("cid", "c", "dq")).alias("cs"))
        .agg(F.sort_array(F.collect_list(F.struct("s", "cs")))
             .alias("books"))
    )
    # encode + ADC: one map-only projection against the broadcast books;
    # per subspace the (dist, cid, dq) struct-min yields the code's table
    # distance, and the outer fold sums them in fixed subspace order
    dq_per_s = F.transform(
        F.col("books"),
        lambda b: nearest_centroids(
            F.slice(F.col("e"), b["s"] * subdim + 1, subdim), b["cs"],
            sqdist, 1, "dq")["dq"],
    )
    approx = F.aggregate(dq_per_s, F.lit(0.0), lambda acc, v: acc + v)
    return (
        corpus.crossJoin(F.broadcast(books))
        .select(
            "vec_id", "e",
            F.floor(approx * DIST_UNIT).cast("long")
            .alias("approx_dist_units"),
        )
    )


def pq_adc_topk(emb: DataFrame, query_vec: list,
                k: int = PQ_TOPK) -> DataFrame:
    """(rank, vec_id, approx_dist_units, true_dist_units) — PQ-ADC
    top-k of ``emb(vec_id, embedding)`` against ``query_vec``, plus the
    true squared-L2 in the same 1e-9 units as the audit column."""
    q = [float(x) for x in query_vec]
    qfull = F.array(*[F.lit(x) for x in q])
    scored = (
        _adc_scored(emb, q, PQ_M, PQ_SUBDIM, PQ_K)
        .select(
            "vec_id",
            "approx_dist_units",
            F.floor(sqdist(F.col("e"), qfull) * DIST_UNIT).cast("long")
            .alias("true_dist_units"),
        )
        .orderBy("approx_dist_units", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("approx_dist_units", "vec_id")
    # rank attaches on the k-row TakeOrdered result, never the corpus
    return scored.withColumn("rank", F.row_number().over(w)).select(
        "rank", "vec_id", "approx_dist_units", "true_dist_units")


def pq_rerank_topk(emb: DataFrame, query_vec: list, k: int = PQ_TOPK,
                   shortlist: int = PQR_SHORTLIST) -> DataFrame:
    """(rank, vec_id, approx_dist_units, true_dist_units) — ADC selects
    the ``shortlist`` best candidates map-only (finer PQR quantizer),
    then the EXACT squared-L2 re-ranks only those rows and keeps the
    top ``k``. The shortlist ride-alongs the vector payload through a
    TakeOrderedAndProject (shortlist rows, never the corpus), so the
    re-rank's float math is O(shortlist x d)."""
    q = [float(x) for x in query_vec]
    qfull = F.array(*[F.lit(x) for x in q])
    short = (
        _adc_scored(emb, q, PQR_M, PQR_SUBDIM, PQR_K)
        .orderBy("approx_dist_units", "vec_id")
        .limit(shortlist)
    )
    reranked = (
        short.select(
            "vec_id",
            "approx_dist_units",
            F.floor(sqdist(F.col("e"), qfull) * DIST_UNIT).cast("long")
            .alias("true_dist_units"),
        )
        .orderBy("true_dist_units", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("true_dist_units", "vec_id")
    return reranked.withColumn("rank", F.row_number().over(w)).select(
        "rank", "vec_id", "approx_dist_units", "true_dist_units")


def _pq_scored_sql(m: int, subdim: int, k_cent: int) -> str:
    """Shared oracle prelude: qfull/q{s}/corpus CTEs, then per subspace
    ``s`` the k-means chain over the slice (CTE names prefixed ``s{s}_``;
    its ``a2`` assignment is the code) and the per-centroid
    query-distance table ``s{s}_tab``, ending in
    ``scored(vec_id, approx_dist_units, true_dist_units)``."""
    def chain(s: int) -> str:
        lo, hi = s * subdim + 1, (s + 1) * subdim
        book = kmeans_cte_chain(
            str(k_cent),
            emb_sql=f"SELECT vec_id, list_slice(e, {lo}, {hi}) AS e FROM corpus",
            prefix=f"s{s}_", dim=subdim)
        return f"""{book},
    s{s}_tab AS (
      -- the query row CROSS JOINs in: DuckDB forbids subqueries inside
      -- lambda expressions, so the query subvector must be a plain column
      SELECT c.cid, {sqdist_sql('qv.qs', 'c.c', subdim)} AS dq
      FROM s{s}_cent1 c CROSS JOIN q{s} qv
    )"""

    chains = ",\n    ".join(chain(s) for s in range(m))
    qsubs = ",\n    ".join(
        f"q{s} AS (SELECT list_slice(qe, {s * subdim + 1}, "
        f"{(s + 1) * subdim}) AS qs FROM qfull)"
        for s in range(m))
    code_joins = "\n        ".join(
        f"JOIN s{s}_a2 c{s} USING (vec_id) "
        f"JOIN s{s}_tab t{s} ON t{s}.cid = c{s}.cid"
        for s in range(m))
    approx = " + ".join(f"t{s}.dq" for s in range(m))
    true_sqd = sqdist_sql("v.e", "qf.qe", m * subdim)
    return f"""
    WITH qfull AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
      WHERE vec_id = {PQ_QUERY_ID}
    ),
    {qsubs},
    corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id != {PQ_QUERY_ID}
    ),
    {chains},
    scored AS (
      SELECT v.vec_id,
             CAST(floor(({approx}) * {DIST_UNIT}) AS BIGINT)
               AS approx_dist_units,
             CAST(floor(({true_sqd}) * {DIST_UNIT}) AS BIGINT)
               AS true_dist_units
      FROM corpus v CROSS JOIN qfull qf
        {code_joins}
    )"""


def _pq_oracle_sql() -> str:
    return f"""{_pq_scored_sql(PQ_M, PQ_SUBDIM, PQ_K)}
    SELECT CAST(rank AS INTEGER) AS rank, vec_id,
           approx_dist_units, true_dist_units
    FROM (
      SELECT vec_id, approx_dist_units, true_dist_units,
             ROW_NUMBER() OVER (ORDER BY approx_dist_units, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {PQ_TOPK}
    ORDER BY rank
    """


def _pq_rerank_oracle_sql() -> str:
    return f"""{_pq_scored_sql(PQR_M, PQR_SUBDIM, PQR_K)}
    SELECT CAST(rank AS INTEGER) AS rank, vec_id,
           approx_dist_units, true_dist_units
    FROM (
      SELECT vec_id, approx_dist_units, true_dist_units,
             ROW_NUMBER() OVER (ORDER BY true_dist_units, vec_id) AS rank
      FROM (
        SELECT vec_id, approx_dist_units, true_dist_units,
               ROW_NUMBER() OVER (ORDER BY approx_dist_units, vec_id) AS sl
        FROM scored
      ) WHERE sl <= {PQR_SHORTLIST}
    ) WHERE rank <= {PQ_TOPK}
    ORDER BY rank
    """


@register(
    "ann_pq_adc_topk",
    oracle=_pq_oracle_sql(),
    doc=f"Product-quantization ANN (Jegou et al. 2011): {PQ_M} subspaces "
    f"x {PQ_SUBDIM} dims, a {PQ_K}-centroid deterministic Lloyd codebook "
    "per subspace (lowest-id init, integer-exact update — the kmeans "
    f"machinery verbatim), asymmetric-distance top-{PQ_TOPK} for vec_id "
    f"{PQ_QUERY_ID}'s embedding with the TRUE squared-L2 beside the "
    "table-lookup approximation (the quantization-error audit). Encoding "
    "+ ADC is ONE map-only projection against the broadcast codebooks — "
    "at 100 TB the corpus pays one scan, no shuffle, no per-vector "
    "float math; the oracle replays every chain CTE-for-CTE. Honesty "
    "note: on the UNSTRUCTURED synthetic corpus recall@10 vs exact L2 "
    "is near zero (quantization error dominates when neighbor distances "
    "are undifferentiated — the true_dist_units column shows it); the "
    "planted-cluster pytest pins where ADC earns its keep, and "
    "ann_pq_rerank_topk is the production query path.",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding")
    qrows = emb.where(F.col("vec_id") == PQ_QUERY_ID).collect()
    if not qrows:
        raise ValueError(
            f"ann_pq_adc_topk: query vec_id {PQ_QUERY_ID} is absent "
            f"from the embeddings table at {sf_dir!r}")
    qvec = [float(x) for x in qrows[0]["embedding"]]
    return pq_adc_topk(
        emb.where(F.col("vec_id") != PQ_QUERY_ID), qvec).orderBy("rank")


@register(
    "ann_pq_rerank_topk",
    oracle=_pq_rerank_oracle_sql(),
    doc="PQ ANN with exact re-rank (Jegou et al. "
    f"§IV-B): a finer {PQR_M}x{PQR_SUBDIM}-dim / {PQR_K}-centroid ADC "
    f"pass selects a {PQR_SHORTLIST}-row shortlist map-only, then the "
    f"exact squared-L2 re-ranks ONLY those rows and keeps the top "
    f"{PQ_TOPK}. This is the standard fix for ADC quantization noise at "
    "O(shortlist x d) float cost — measured shortlist recall@10 vs "
    "exact L2 is 1.0 at sf0.001/sf0.01/sf0.1 (pinned >= 0.9 in "
    "tests/test_round13_ops.py), so unlike the raw-ADC audit operator "
    "this top-10 is real neighbors. Scale shape: one corpus scan, no "
    "shuffle, TakeOrderedAndProject carries the vector payload for "
    "shortlist rows only; the oracle replays every codebook chain "
    "CTE-for-CTE and the same two-stage rank.",
)
def ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding")
    qrows = emb.where(F.col("vec_id") == PQ_QUERY_ID).collect()
    if not qrows:
        raise ValueError(
            f"ann_pq_rerank_topk: query vec_id {PQ_QUERY_ID} is absent "
            f"from the embeddings table at {sf_dir!r}")
    qvec = [float(x) for x in qrows[0]["embedding"]]
    return pq_rerank_topk(
        emb.where(F.col("vec_id") != PQ_QUERY_ID), qvec).orderBy("rank")

"""BM25 full-text retrieval over the documents table.

The retrieval scorer every corpus-curation stack needs (rank documents
against a term query for eval-set mining, topic probes, quality audits).
The reference has no text-query surface at all (SURVEY §2 C-extensions).

Scale shape — two stages, both trivially cluster-parallel:

1. **Corpus statistics in ONE tiny aggregate**: N, total token mass, and
   per-term document frequencies come from a single pass producing ONE row
   (conditional sums), which is then broadcast. No shuffle of the corpus.
2. **Scoring is map-only**: each doc computes its own tf per query term
   (`filter` over its token array) and the BM25 formula against the
   broadcast stats; the only shuffle is the final top-k
   (TakeOrderedAndProject).

Determinism: the per-term contributions are summed in FIXED expression
order (c_t1 + c_t2 + c_t3 — not an unordered SUM over a term table), all
divisions are identically parenthesized in the Spark and DuckDB twins, and
the one transcendental (ln in the idf) matches the pattern already proven
hash-stable by lm_bigram_perplexity (llmprep.py). Final scores ROUND()ed
to 6.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from covid_19_data_engineering_spark.operators.lineage import (
    truncate as _truncate,
)
from covid_19_data_engineering_spark.operators.vectors import fold_cosine_sql
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

BM25_TERMS = ("spark", "window", "merge")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 20


def bm25_topk(docs: DataFrame, terms: tuple[str, ...] = BM25_TERMS,
              k: int = BM25_TOP) -> DataFrame:
    """Top-k docs by BM25 against a fixed term query."""
    toks = F.split(F.col("text"), " ")
    base = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("dl"))
    stats = base.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("sumdl"),
        *[
            F.sum(F.array_contains("toks", t).cast("long")).alias(f"df_{i}")
            for i, t in enumerate(terms)
        ],
    )

    def contrib(i: int, t: str) -> Column:
        tf = F.size(F.filter(F.col("toks"), lambda x: x == F.lit(t))).cast("double")
        df = F.col(f"df_{i}").cast("double")
        n = F.col("n").cast("double")
        avgdl = F.col("sumdl").cast("double") / F.col("n")
        idf = F.log(F.lit(1.0) + (n - df + 0.5) / (df + 0.5))
        denom = tf + BM25_K1 * (1 - BM25_B + BM25_B * (F.col("dl") / avgdl))
        return idf * ((tf * (BM25_K1 + 1)) / denom)

    score = contrib(0, terms[0])
    for i, t in enumerate(terms[1:], start=1):
        score = score + contrib(i, t)
    return (
        base.crossJoin(F.broadcast(stats))
        .select("doc_id", "dl", F.round(score, 6).alias("bm25"))
        .where(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )


def _bm25_base_stats_sql() -> str:
    """The base + stats CTE pair both BM25-family oracles open with — ONE
    definition so a formula tweak cannot drift between them."""
    dfs = ",\n             ".join(
        f"CAST(SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS df_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    return f"""base AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS dl
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl,
             {dfs}
      FROM base
    )"""


def _bm25_score_sql() -> str:
    contribs = []
    for i, t in enumerate(BM25_TERMS):
        tf = f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE)"
        idf = (f"ln(1.0 + (CAST(n AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
               f" / (CAST(df_{i} AS DOUBLE) + 0.5))")
        denom = (f"({tf} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * "
                 f"(dl / (CAST(sumdl AS DOUBLE) / n))))")
        contribs.append(f"{idf} * (({tf} * ({BM25_K1} + 1)) / {denom})")
    return " + ".join(contribs)


def _bm25_oracle_sql() -> str:
    return f"""
    WITH {_bm25_base_stats_sql()}
    SELECT doc_id, dl, bm25 FROM (
      SELECT doc_id, dl, ROUND({_bm25_score_sql()}, 6) AS bm25
      FROM base CROSS JOIN stats
    ) WHERE bm25 > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP}
    """


@register(
    "bm25_retrieval",
    oracle=_bm25_oracle_sql(),
    doc=f"BM25 top-{BM25_TOP} retrieval for the fixed term query "
    f"{BM25_TERMS}: one-row corpus-stats aggregate broadcast into a "
    "map-only scorer, fixed-order term summation for cross-engine hash "
    "stability, TakeOrderedAndProject top-k.",
)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return bm25_topk(docs)


# --- reciprocal-rank fusion --------------------------------------------------

RRF_K = 60
RRF_UNIT = 1_000_000_000


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame,
             k: int = BM25_TOP) -> DataFrame:
    """Reciprocal-rank fusion of two (query_id, rank, vec_id) result lists
    — the standard hybrid-retrieval combiner (Cormack et al. 2009): a
    document's fused score is the sum of 1/(60 + rank) over the lists that
    retrieved it, which rewards agreement without requiring the two
    scoring scales to be comparable.

    Contributions are exact integer units (floor(1e9/(60+rank)) — rank is
    a small integer, so both engines compute identical BIGINTs and the
    order-independent integer sum keeps the fusion hash-stable). The join
    is a full outer on (query_id, vec_id): both inputs are top-k lists, so
    the fused working set is O(queries x 2k) — trivially broadcastable at
    any corpus scale; the heavy lifting stays in the underlying retrievers.
    """
    a = ranked_a.select(
        "query_id", "vec_id",
        F.expr(f"{RRF_UNIT} div ({RRF_K} + rank)").alias("ca"),
    )
    b = ranked_b.select(
        "query_id", "vec_id",
        F.expr(f"{RRF_UNIT} div ({RRF_K} + rank)").alias("cb"),
    )
    fused = (
        a.join(b, ["query_id", "vec_id"], "full_outer")
        .select(
            "query_id", "vec_id",
            (F.coalesce("ca", F.lit(0)) + F.coalesce("cb", F.lit(0)))
            .alias("rrf_units"),
        )
    )
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_units").desc(), F.col("vec_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .where(F.col("fused_rank") <= k)
        .select("query_id", "fused_rank", "vec_id", "rrf_units")
    )


def _rrf_oracle_sql() -> str:
    from covid_19_data_engineering_spark.operators.similarity import (
        N_QUERY_VECTORS, TOP_K)
    return f"""
    WITH fqueries AS (
      SELECT vec_id AS query_id, embedding AS q_embedding
      FROM embeddings ORDER BY vec_id LIMIT {N_QUERY_VECTORS}
    ),
    fscored AS (
      SELECT q.query_id, e.vec_id,
             ROUND({fold_cosine_sql('CAST(q.q_embedding AS DOUBLE[])', 'CAST(e.embedding AS DOUBLE[])')}, 6) AS cosine
      FROM embeddings e CROSS JOIN fqueries q
      WHERE e.vec_id != q.query_id
    ),
    franked AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rank
        FROM fscored
      ) WHERE rank <= {TOP_K}
    ),
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    m AS (
      SELECT vec_id, e,
             list_reduce(list_transform(e, x -> abs(x)),
                         (a, b) -> greatest(a, b)) AS amax
      FROM emb
    ),
    s AS (
      SELECT vec_id, e,
             (CASE WHEN amax = 0 THEN 1.0 ELSE amax END) / 127.0 AS scale
      FROM m
    ),
    q8 AS (
      SELECT vec_id,
             list_transform(e, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
      FROM s
    ),
    q8queries AS (
      SELECT vec_id AS query_id, qv AS quv FROM q8 ORDER BY vec_id LIMIT {N_QUERY_VECTORS}
    ),
    q8scored AS (
      SELECT qr.query_id, c.vec_id,
             list_reduce(list_transform(range(1, len(c.qv) + 1),
                                        i -> qr.quv[i] * c.qv[i]),
                         (a, b) -> a + b) AS dot,
             list_reduce(list_transform(qr.quv, x -> x * x), (a, b) -> a + b) AS na,
             list_reduce(list_transform(c.qv, x -> x * x), (a, b) -> a + b) AS nb
      FROM q8 c CROSS JOIN q8queries qr
      WHERE c.vec_id != qr.query_id
    ),
    q8ranked AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ROUND(dot / (sqrt(na) * sqrt(nb)), 6) DESC,
                                           vec_id) AS rank
        FROM q8scored WHERE na > 0 AND nb > 0
      ) WHERE rank <= {TOP_K}
    ),
    fused AS (
      SELECT COALESCE(a.query_id, b.query_id) AS query_id,
             COALESCE(a.vec_id, b.vec_id) AS vec_id,
             CAST(COALESCE({RRF_UNIT} // ({RRF_K} + a.rank), 0)
                  + COALESCE({RRF_UNIT} // ({RRF_K} + b.rank), 0) AS BIGINT)
               AS rrf_units
      FROM franked a
      FULL OUTER JOIN q8ranked b
        ON a.query_id = b.query_id AND a.vec_id = b.vec_id
    )
    SELECT query_id, fused_rank, vec_id, rrf_units FROM (
      SELECT query_id, vec_id, rrf_units,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_units DESC, vec_id) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= {BM25_TOP}
    ORDER BY query_id, fused_rank
    """


@register(
    "hybrid_rrf_retrieval",
    oracle=_rrf_oracle_sql(),
    doc="Reciprocal-rank fusion of the exact-float and int8-quantized "
    "cosine top-k lists (Cormack et al. 2009): integer-unit 1/(60+rank) "
    "contributions summed over a full-outer join of the two O(queries x k) "
    "lists — the hybrid-retrieval combiner, hash-stable by construction.",
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid_19_data_engineering_spark.operators.similarity import (
        brute_force_topk, default_queries, quantized_topk)
    corpus = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    ranked_a = brute_force_topk(corpus, default_queries(corpus))
    ranked_b = quantized_topk(corpus)
    return rrf_fuse(ranked_a, ranked_b).orderBy("query_id", "fused_rank")


# --- retrieval quality evaluation (MRR / NDCG@k) -----------------------------

NDCG_UNIT = 1_000_000_000


def retrieval_quality(docs: DataFrame, terms: tuple[str, ...] = BM25_TERMS,
                      k: int = BM25_TOP) -> DataFrame:
    """One-row retrieval scorecard for the BM25 ranking against graded
    relevance: (k, n_relevant, dcg, idcg, ndcg, mrr).

    Relevance grade = how many distinct query terms the doc contains
    (0..len(terms)) — deliberately NOT the BM25 score itself, so the eval
    measures whether tf-idf weighting actually recovers the multi-term
    docs an ideal grade-ordering would put first. DCG discounts each
    rank's grade by log2(rank+1); IDCG is the same sum over the corpus's
    k best grades; MRR is the reciprocal rank of the first PERFECT doc
    (all query terms present) in the top-k — "first doc with any
    relevance" would be vacuous here, since a positive BM25 score already
    implies grade >= 1, so rank 1 is always relevant.

    Determinism: every discounted contribution is floored to 1e-9 units
    so the k-row sums are BIGINT (order-independent); ln parity across
    engines is the lm_bigram_perplexity precedent; final doubles are one
    exact division (ndcg ROUND()ed to 6).

    Scale shape: the grade pass is map-only; ideal grades are a
    TakeOrdered of k; every aggregate here runs over <= k rows. Nothing
    exceeds the top-k working set but the corpus scan itself."""
    from pyspark.sql import Window

    rank_w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    topk = bm25_topk(docs, terms, k).withColumn(
        "rank", F.row_number().over(rank_w))
    toks = F.split(F.col("text"), " ")
    grade = None
    for t in terms:
        c = F.array_contains(toks, t).cast("int")
        grade = c if grade is None else grade + c
    grades = docs.select("doc_id", grade.alias("grade"))

    def disc_units(grade_col, rank_col):
        log2r = F.log((rank_col + 1).cast("double")) / F.log(F.lit(2.0))
        # grade is a small int — widen BEFORE the 1e9 scale-up or the
        # product overflows int32 under ANSI mode
        return F.floor((grade_col.cast("long") * NDCG_UNIT).cast("double")
                       / log2r)

    graded = topk.join(grades, "doc_id")
    dcg = graded.agg(
        F.coalesce(F.sum(disc_units(F.col("grade"), F.col("rank"))), F.lit(0))
        .alias("du"))
    ideal_w = Window.orderBy(F.col("grade").desc(), "doc_id")
    ideal = (
        grades.orderBy(F.col("grade").desc(), "doc_id").limit(k)
        .withColumn("rank", F.row_number().over(ideal_w))
    )
    idcg = ideal.agg(
        F.coalesce(F.sum(disc_units(F.col("grade"), F.col("rank"))), F.lit(0))
        .alias("iu"))
    mrr = graded.where(F.col("grade") >= len(terms)).agg(
        F.min("rank").alias("mr"))
    nrel = grades.where(F.col("grade") >= 1).agg(
        F.count(F.lit(1)).alias("n_relevant"))
    return (
        dcg.crossJoin(idcg).crossJoin(mrr).crossJoin(nrel)
        .select(
            F.lit(k).alias("k"),
            "n_relevant",
            (F.col("du").cast("double") / NDCG_UNIT).alias("dcg"),
            (F.col("iu").cast("double") / NDCG_UNIT).alias("idcg"),
            F.when(F.col("iu") == 0, F.lit(None).cast("double"))
            .otherwise(F.round(F.col("du").cast("double")
                               / F.col("iu").cast("double"), 6))
            .alias("ndcg"),
            F.when(F.col("mr").isNull(), F.lit(0.0))
            .otherwise(F.lit(1.0) / F.col("mr")).alias("mrr"),
        )
    )


def _retrieval_eval_oracle_sql() -> str:
    grade = " + ".join(
        f"(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END)"
        for t in BM25_TERMS
    )
    disc = ("CAST(FLOOR(CAST(CAST(grade AS BIGINT) * {unit} AS DOUBLE) "
            "/ (ln(CAST(rank + 1 AS DOUBLE)) / ln(2.0))) AS BIGINT)"
            ).format(unit=NDCG_UNIT)
    return f"""
    WITH {_bm25_base_stats_sql()},
    topk AS (
      SELECT doc_id, bm25,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
      FROM (
        SELECT doc_id, bm25 FROM (
          SELECT doc_id, ROUND({_bm25_score_sql()}, 6) AS bm25
          FROM base CROSS JOIN stats
        ) WHERE bm25 > 0
        ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP}
      )
    ),
    grades AS (SELECT doc_id, {grade} AS grade FROM base),
    graded AS (
      SELECT t.rank, g.grade FROM topk t JOIN grades g USING (doc_id)
    ),
    dcg AS (
      SELECT CAST(COALESCE(SUM({disc}), 0) AS BIGINT) AS du FROM graded
    ),
    ideal AS (
      SELECT grade, ROW_NUMBER() OVER (ORDER BY grade DESC, doc_id) AS rank
      FROM (SELECT * FROM grades ORDER BY grade DESC, doc_id LIMIT {BM25_TOP})
    ),
    idcg AS (
      SELECT CAST(COALESCE(SUM({disc}), 0) AS BIGINT) AS iu FROM ideal
    ),
    mrr AS (SELECT MIN(rank) AS mr FROM graded
            WHERE grade >= {len(BM25_TERMS)}),
    nrel AS (
      SELECT COUNT(*) AS n_relevant FROM grades WHERE grade >= 1
    )
    SELECT CAST({BM25_TOP} AS INTEGER) AS k,
           n_relevant,
           CAST(du AS DOUBLE) / {NDCG_UNIT} AS dcg,
           CAST(iu AS DOUBLE) / {NDCG_UNIT} AS idcg,
           CASE WHEN iu = 0 THEN NULL
                ELSE ROUND(CAST(du AS DOUBLE) / CAST(iu AS DOUBLE), 6)
           END AS ndcg,
           CASE WHEN mr IS NULL THEN 0.0 ELSE 1.0 / mr END AS mrr
    FROM dcg CROSS JOIN idcg CROSS JOIN mrr CROSS JOIN nrel
    """


@register(
    "retrieval_quality_eval",
    oracle=_retrieval_eval_oracle_sql(),
    doc=f"Retrieval scorecard for the BM25 top-{BM25_TOP} ranking: graded "
    f"relevance = distinct query terms present ({BM25_TERMS}), DCG/IDCG "
    "in 1e-9 fixed-point units (order-independent BIGINT sums), NDCG and "
    "MRR@k — the eval readout a curation stack runs after changing its "
    "retrieval scorer; every aggregate runs over <= k rows.",
)
def retrieval_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return retrieval_quality(docs)


# --------------------------------------------------------------------------
# TF-IDF sparse cosine document similarity (anchor-blocked, no self-join).
# --------------------------------------------------------------------------

TFIDF_N_ANCHORS = 8
TFIDF_TOP = 5
# fixed-point scale for tf-idf weights: tf * ln(N) stays < ~1e3 at any
# realistic document, so 1e3 units keep products of shared-term weight
# pairs (and their per-pair BIGINT sums) far inside range
_W_FX = 1_000


def tfidf_doc_neighbors(docs: DataFrame, n_anchors: int = TFIDF_N_ANCHORS,
                        k: int = TFIDF_TOP) -> DataFrame:
    """For each anchor document (the lowest doc_ids), the k most similar
    documents by TF-IDF-weighted sparse cosine — the "more like this"
    retrieval a curation pipeline runs off the inverted index.

    (anchor_id, rank, doc_id, tfidf_cosine).

    Determinism: weights are fixed-point BIGINTs — w = round(tf *
    ln((N+1)/(df+1)) * 1e3) off exact integer (tf, df, N) — so per-pair
    dot products and per-doc norms are association-order-independent
    integer sums, and the cosine is one fixed-order double expression
    over exact integers.

    100 TB shape: this is the sparse analog of the broadcast-anchor ANN
    scan — the anchors' sparse vectors (a few hundred terms) broadcast
    into a term-keyed join against the corpus postings, so NO document
    self-join and no term-block explosion exists; per-(anchor, doc)
    dots come from one map-side-combinable groupBy and the top-k is
    per-anchor WindowGroupLimit. Corpus df/tf stats are the same one
    token-keyed shuffle textstats already pays.
    """
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    weights = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term",
            F.expr(
                f"CAST(round(tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1))"
                f" * {_W_FX}) AS BIGINT)"
            ).alias("w_fx"),
        )
    )
    norms = weights.groupBy("doc_id").agg(
        F.sum(F.expr("w_fx * w_fx")).alias("norm_fx")
    )
    anchors = (
        docs.orderBy("doc_id").limit(n_anchors)
        .select(F.col("doc_id").alias("anchor_id"))
    )
    a_weights = weights.join(
        F.broadcast(anchors), weights.doc_id == anchors.anchor_id
    ).select("anchor_id", "term", F.col("w_fx").alias("a_w_fx"))
    dots = (
        weights.join(F.broadcast(a_weights), "term")
        .where(F.col("doc_id") != F.col("anchor_id"))
        .groupBy("anchor_id", "doc_id")
        .agg(F.sum(F.expr("w_fx * a_w_fx")).alias("dot_fx"))
    )
    scored = (
        dots.join(norms, "doc_id")
        .join(
            F.broadcast(
                norms.select(F.col("doc_id").alias("anchor_id"),
                             F.col("norm_fx").alias("a_norm_fx"))
            ),
            "anchor_id",
        )
        .select(
            "anchor_id", "doc_id",
            F.expr("CAST(dot_fx AS DOUBLE) / (sqrt(CAST(norm_fx AS DOUBLE))"
                   " * sqrt(CAST(a_norm_fx AS DOUBLE)))").alias("cos"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("anchor_id", "rank", "doc_id",
                F.round(F.col("cos"), 6).alias("tfidf_cosine"))
        .orderBy("anchor_id", "rank")
    )


@register(
    "tfidf_doc_neighbors",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    weights AS (
      SELECT doc_id, tf.term,
             CAST(round(tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1))
                        * {_W_FX}) AS BIGINT) AS w_fx
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ),
    norms AS (
      SELECT doc_id, CAST(SUM(w_fx * w_fx) AS BIGINT) AS norm_fx
      FROM weights GROUP BY doc_id
    ),
    anchors AS (
      SELECT doc_id AS anchor_id FROM documents
      ORDER BY doc_id LIMIT {TFIDF_N_ANCHORS}
    ),
    a_weights AS (
      SELECT a.anchor_id, w.term, w.w_fx AS a_w_fx
      FROM weights w JOIN anchors a ON w.doc_id = a.anchor_id
    ),
    dots AS (
      SELECT aw.anchor_id, w.doc_id,
             CAST(SUM(w.w_fx * aw.a_w_fx) AS BIGINT) AS dot_fx
      FROM weights w JOIN a_weights aw ON w.term = aw.term
      WHERE w.doc_id != aw.anchor_id
      GROUP BY aw.anchor_id, w.doc_id
    ),
    scored AS (
      SELECT d.anchor_id, d.doc_id,
             CAST(d.dot_fx AS DOUBLE) /
               (sqrt(CAST(nd.norm_fx AS DOUBLE))
                * sqrt(CAST(na.norm_fx AS DOUBLE))) AS cos
      FROM dots d
      JOIN norms nd ON nd.doc_id = d.doc_id
      JOIN norms na ON na.doc_id = d.anchor_id
    ),
    ranked AS (
      SELECT anchor_id, doc_id, cos,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY cos DESC, doc_id) AS rank
      FROM scored
    )
    SELECT anchor_id, CAST(rank AS BIGINT) AS rank, doc_id,
           ROUND(cos, 6) AS tfidf_cosine
    FROM ranked WHERE rank <= {TFIDF_TOP}
    ORDER BY anchor_id, rank
    """,
    doc=f"TF-IDF sparse-cosine document neighbors: for each of the "
    f"{TFIDF_N_ANCHORS} lowest-id documents, the {TFIDF_TOP} most similar "
    "docs, weights as fixed-point BIGINTs (round(tf * ln((N+1)/(df+1)) * "
    "1e3)) so dots and norms are order-independent integer sums. The "
    "sparse analog of the broadcast-anchor ANN scan: anchor postings "
    "broadcast into a term-keyed join — no document self-join, no "
    "term-block explosion; one corpus token shuffle + per-anchor "
    "WindowGroupLimit top-k.",
)
def tfidf_doc_neighbors_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_doc_neighbors(load_table(spark, "documents", sf_dir))


# --- MMR: maximal-marginal-relevance diverse retrieval -----------------------
# Top-k by cosine returns near-duplicates of each other when the corpus
# is redundant; MMR (Carbonell & Goldstein, SIGIR 1998) greedily picks
# argmax of lambda*relevance - (1-lambda)*max_sim_to_already_selected —
# the standard redundancy-aware selection for eval-set mining, few-shot
# exemplar picking, and diverse negative sampling. lambda = 1/2 keeps
# every arithmetic step an exact halving.
#
# Shape: K driver rounds (the fixed-iteration contract — BPE/PageRank
# precedent, oracle replays every round CTE-for-CTE). Per round the
# corpus-wide work is ONE map (cosine to the single newly selected
# vector, broadcast as a literal) updating a running max, plus a
# TakeOrderedAndProject argmax — no pairwise stage ever materializes;
# at 100 TB each round is a scan, and K is the product knob.

MMR_K = 10
MMR_QUERY_ID = 0  # vec_id whose embedding plays the query


def mmr_select(emb: DataFrame, query_vec: list, k: int = MMR_K) -> DataFrame:
    """(rank, vec_id, relevance, mmr_score) — greedy MMR over
    ``emb(vec_id, e)`` against ``query_vec``, lambda = 1/2, cosine scores
    rounded to 6 (the similarity-family idiom both engines share)."""
    from covid_19_data_engineering_spark.operators.vectors import cosine_sim

    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    cands = emb.select(
        "vec_id", "e",
        F.round(cosine_sim(F.col("e"), qlit), 6).alias("rel"),
    ).withColumn("runmax", F.lit(0.0)).transform(_truncate)
    picked_rows = []
    for rank in range(1, k + 1):
        score = F.round(
            F.lit(0.5) * F.col("rel") - F.lit(0.5) * F.col("runmax"), 6)
        rows = (
            cands.withColumn("mmr", score)
            .orderBy(F.col("mmr").desc(), "vec_id")
            .limit(1)
            .collect()
        )
        if not rows:
            break  # corpus smaller than k: return the shorter selection
        top = rows[0]
        picked_rows.append(
            (rank, top["vec_id"], top["rel"], top["mmr"]))
        plit = F.array(*[F.lit(float(x)) for x in top["e"]])
        cands = (
            cands.where(F.col("vec_id") != top["vec_id"])
            .withColumn(
                "runmax",
                F.greatest(
                    F.col("runmax"),
                    F.round(cosine_sim(F.col("e"), plit), 6),
                ),
            )
            .transform(_truncate)  # O(1) plan per round
        )
    spark = emb.sparkSession
    return spark.createDataFrame(
        picked_rows, "rank int, vec_id long, relevance double, "
                     "mmr_score double")


def _mmr_oracle_sql(k: int = MMR_K) -> str:
    ctes = [f"""q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
      WHERE vec_id = {MMR_QUERY_ID}
    ),
    c0 AS MATERIALIZED (
      -- the query row CROSS JOINs in: DuckDB forbids subqueries inside
      -- lambdas, and the explicit fold (vs list_cosine_similarity)
      -- replays cosine_sim bit-identically (round-12 ULP sweep)
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             ROUND({fold_cosine_sql("CAST(embedding AS DOUBLE[])",
                                    "qr.qe")}, 6) AS rel,
             CAST(0 AS DOUBLE) AS runmax
      FROM embeddings CROSS JOIN q qr WHERE vec_id != {MMR_QUERY_ID}
    )"""]
    for r in range(1, k + 1):
        p = r - 1
        ctes.append(f"""p{r} AS MATERIALIZED (
      SELECT {r} AS rank, vec_id, e, rel,
             ROUND(0.5 * rel - 0.5 * runmax, 6) AS mmr
      FROM c{p}
      ORDER BY ROUND(0.5 * rel - 0.5 * runmax, 6) DESC, vec_id LIMIT 1
    )""")
        if r < k:
            ctes.append(f"""c{r} AS MATERIALIZED (
      SELECT c.vec_id, c.e, c.rel,
             GREATEST(c.runmax,
                      ROUND({fold_cosine_sql("c.e", "pr.e")}, 6)) AS runmax
      FROM c{p} c CROSS JOIN p{r} pr WHERE c.vec_id != pr.vec_id
    )""")
    union = "\n      UNION ALL\n      ".join(
        f"SELECT rank, vec_id, rel, mmr FROM p{r}" for r in range(1, k + 1))
    return "\n    WITH " + ",\n    ".join(ctes) + f"""
    SELECT CAST(rank AS INTEGER) AS rank, vec_id,
           rel AS relevance, mmr AS mmr_score
    FROM ({union}) ORDER BY rank
    """


@register(
    "mmr_diverse_retrieval",
    oracle=_mmr_oracle_sql(),
    doc=f"Maximal-marginal-relevance selection (Carbonell & Goldstein "
    f"1998): top-{MMR_K} diverse neighbors of vec_id {MMR_QUERY_ID}'s "
    "embedding, greedy argmax of rel/2 - max_sim_to_selected/2 with "
    "min-id ties — the redundancy-aware retrieval a plain cosine top-k "
    "can't express (it returns near-duplicates of each other on a "
    "redundant corpus). Fixed K driver rounds, each ONE corpus map "
    "(cosine to the newly selected vector, broadcast literal) + a "
    "TakeOrdered argmax — no pairwise stage; the oracle replays every "
    "round CTE-for-CTE.",
)
def mmr_diverse_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").alias("e"))
    qrows = emb.where(F.col("vec_id") == MMR_QUERY_ID).collect()
    if not qrows:
        raise ValueError(
            f"mmr_diverse_retrieval: query vec_id {MMR_QUERY_ID} is absent "
            f"from the embeddings table at {sf_dir!r}")
    qvec = [float(x) for x in qrows[0]["e"]]
    return mmr_select(emb.where(F.col("vec_id") != MMR_QUERY_ID), qvec)


# --- positional inverted index + exact phrase search -------------------------
# The IR access path BM25 doesn't exercise: a phrase query ("hash join")
# must match CONSECUTIVE tokens, which needs positional postings
# (term -> (doc, position)) and a position-adjacency join — what Lucene
# stores as term positions and warehouses implement as the self-join
# below. At 100 TB the postings table is materialized once (partitioned/
# bucketed BY TERM, so each query's join touches only the queried terms'
# posting lists — the whole point of an inverted index); here it derives
# inline and Catalyst pushes the term filters to both scan branches.

PHRASE_QUERY = ("hash", "join")  # present at every gate SF


def positional_postings(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, doc_id, pos) — one row per token occurrence, 0-based."""
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "term"),
    ).select("term", "doc_id", "pos")


def phrase_search(docs: DataFrame,
                  phrase: tuple[str, ...] = PHRASE_QUERY) -> DataFrame:
    """(doc_id, n_hits, first_pos) for documents containing the exact
    consecutive token phrase. One postings derivation, then a
    (len(phrase) - 1)-way equi-join on (doc_id, adjacent positions);
    every branch filters to ONE term before joining, so the join input
    is the posting lists alone."""
    post = positional_postings(docs)
    hits = post.where(F.col("term") == phrase[0]).select(
        "doc_id", F.col("pos").alias("p0"))
    for i, w in enumerate(phrase[1:], start=1):
        nxt = post.where(F.col("term") == w).select(
            F.col("doc_id").alias("d"), F.col("pos").alias(f"p{i}"))
        hits = hits.join(
            nxt,
            (F.col("doc_id") == F.col("d"))
            & (F.col(f"p{i}") == F.col("p0") + i),
        ).drop("d")
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"),
             F.min("p0").alias("first_pos"))
        .orderBy("doc_id")
    )


@register(
    "phrase_search_postings",
    oracle=f"""
    WITH post AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) + 1),
                                   i -> {{'pos': i - 1, 'term': t[i]}}),
                    recursive := true)
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    hits AS (
      SELECT a.doc_id, a.pos AS p0
      FROM post a JOIN post b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.term = '{PHRASE_QUERY[0]}' AND b.term = '{PHRASE_QUERY[1]}'
    )
    SELECT doc_id, COUNT(*) AS n_hits,
           CAST(MIN(p0) AS BIGINT) AS first_pos
    FROM hits GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Exact phrase search over positional postings: posexplode builds "
    "(term, doc, pos), each phrase word filters its own branch BEFORE "
    "the (doc, pos+1) adjacency equi-join, so the join touches only the "
    "queried terms' posting lists — the inverted-index access path "
    "beside BM25's bag-of-words scoring.",
)
def phrase_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return phrase_search(docs)

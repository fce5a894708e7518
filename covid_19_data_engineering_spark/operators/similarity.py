"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Two paths, same contract (query vectors -> top-k neighbors by cosine):

- brute-force: crossJoin(broadcast(queries)) + per-pair cosine + windowed
  top-k. Exact. Scales linearly in corpus x queries: with queries broadcast,
  the corpus is scanned once, never shuffled, and the only shuffle is the
  final top-k (k rows per query). This is the correct baseline even at 100 TB
  when the query set is small.
- LSH-bucketed: random-hyperplane signatures (deterministic seed constants),
  candidates restricted to matching buckets, exact cosine re-rank on the
  candidate set. Sub-linear candidate generation; recall measured against the
  brute path in tests/test_extensions.py.
- IVF: a deterministic coarse quantizer; corpus rows and queries find
  their nearest cells with the shared map-only ``nearest_centroids``
  kernel (operators/vectors.py) against a broadcast centroid array, so
  the corpus is never shuffled; exact cosine re-rank on the probed
  cells.

Cosine math is pure JVM (zip_with/aggregate) — no Python UDF in the hot path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from covid_19_data_engineering_spark.operators.lineage import (
    truncate_eager as _truncate_eager,
)
from covid_19_data_engineering_spark.operators.vectors import (
    fold_cosine_sql,
    DIM as _VEC_DIM,
    PLANES,
    cosine_sim,
    lsh_bucket_ctes,
    nearest_centroids,
    nearest_centroids_sql,
    with_lsh_buckets,
)
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

N_QUERY_VECTORS = 5
TOP_K = 10


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact cosine top-k. corpus: (vec_id, embedding); queries:
    (query_id, q_embedding). Queries are broadcast; corpus scanned once."""
    pairs = corpus.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.round(cosine_sim(F.col("q_embedding"), F.col("embedding")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def default_queries(corpus: DataFrame, n: int = N_QUERY_VECTORS) -> DataFrame:
    """Deterministic query set: the n lowest vec_ids."""
    return (
        corpus.orderBy("vec_id")
        .limit(n)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
    )


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH queries AS (
      SELECT vec_id AS query_id, embedding AS q_embedding
      FROM embeddings ORDER BY vec_id LIMIT {N_QUERY_VECTORS}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND({fold_cosine_sql('CAST(q.q_embedding AS DOUBLE[])', 'CAST(e.embedding AS DOUBLE[])')}, 6) AS cosine
      FROM embeddings e CROSS JOIN queries q
      WHERE e.vec_id != q.query_id
    )
    SELECT query_id, rank, vec_id, cosine FROM (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="Exact brute-force cosine top-10 for 5 query vectors (broadcast queries).",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    return brute_force_topk(corpus, default_queries(corpus)).orderBy("query_id", "rank")


# --- LSH-bucketed variant ----------------------------------------------------
# (hyperplane constants + bucket assignment live in operators/vectors.py,
# shared with the embedding near-dup operator)


def lsh_bucketed_topk(corpus: DataFrame, queries: DataFrame, k: int = TOP_K) -> DataFrame:
    """Approximate top-k: candidates share at least one LSH table bucket,
    re-ranked by exact cosine. Bucket join bounds the pair space; the
    hyperplane signatures are computed JVM-side in one projection."""
    c = with_lsh_buckets(corpus, "embedding", "vec_id")
    q = with_lsh_buckets(queries, "q_embedding", "query_id")
    cands = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_embedding", "vec_id", "embedding")
        .distinct()
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        F.round(cosine_sim(F.col("q_embedding"), F.col("embedding")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


# --- IVF (inverted-file) variant ---------------------------------------------

_IVF_K = 16       # coarse centroids
_IVF_NPROBE = 4   # centroid cells probed per query
_IVF_DIM = 64


def ivf_centroids(corpus: DataFrame, k: int = _IVF_K) -> DataFrame:
    """Deterministic coarse quantizer: seed centroids are the k lowest-id
    vectors, refined by ONE Lloyd step (assign-all -> per-cell mean), all in
    DataFrame ops. At 100 TB you'd run k-means|| on a sample; one step over
    seeds already separates the space enough for cell pruning, and
    determinism (no RNG) keeps runs reproducible."""
    seeds = (
        corpus.orderBy("vec_id").limit(k)
        .select(F.monotonically_increasing_id().alias("cid"), F.col("embedding").alias("centroid"))
        .withColumn("cid", F.row_number().over(Window.orderBy("centroid")) - 1)
    )
    # one assignment pass against broadcast seeds
    assigned = _assign_cells(corpus, seeds, nprobe=1)
    # per-cell mean over float components -> refined centroids
    dim = 64
    return (
        assigned.groupBy("cid")
        .agg(*[
            F.avg(F.col("embedding").getItem(i).cast("double")).alias(f"c{i}")
            for i in range(dim)
        ])
        .select("cid", F.array(*[F.col(f"c{i}") for i in range(dim)]).alias("centroid"))
    )


def _assign_cells(df: DataFrame, centroids: DataFrame, nprobe: int,
                  vec_col: str = "embedding") -> DataFrame:
    """Attach the nprobe nearest centroid ids (by cosine, ties to the
    lower cid) to every row of ``df``: one row per (row, cell), ``df``'s
    columns plus ``cid``. The centroids broadcast as ONE array row and
    the shared kernel ranks them on the negated cosine inside the row's
    projection — negation is exact, so (-sim, cid) ascending is the
    oracle's ``sim DESC, cid`` order. Map-only: no window, and no column
    of ``df`` (the 64-float vector included) is shuffled."""
    cs = centroids.agg(F.collect_list(
        F.struct("cid", F.col("centroid").alias("c"))).alias("_cs"))
    best = nearest_centroids(F.col(vec_col), F.col("_cs"),
                             lambda v, c: -cosine_sim(v, c), nprobe)
    return (
        df.crossJoin(F.broadcast(cs))
        .select(*df.columns, best.alias("_best"))
        .select(*df.columns, F.col("_best.cid").alias("cid"))
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = TOP_K,
             nprobe: int = _IVF_NPROBE) -> DataFrame:
    """IVF search: corpus rows live in their nearest cell (inverted file);
    each query probes its nprobe nearest cells; exact cosine re-rank on the
    cell contents. The cell equi-join prunes the pair space to
    ~nprobe/k of the corpus per query. Candidate pairs need no distinct:
    each vec_id sits in exactly one cell and a query's probed cids are
    distinct, so every (query_id, vec_id) pair arrives once."""
    cents = ivf_centroids(corpus)
    inv = _assign_cells(corpus, cents, nprobe=1)  # inverted lists
    probes = _assign_cells(
        queries.select(F.col("query_id"), F.col("q_embedding")), cents,
        nprobe=nprobe, vec_col="q_embedding",
    )
    cands = (
        inv.join(probes, "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_embedding", "vec_id", "embedding")
    )
    scored = cands.select(
        "query_id", "vec_id",
        F.round(cosine_sim(F.col("q_embedding"), F.col("embedding")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


# the IVF rank: nearest on the negated cosine, the order the Spark
# kernel ranks on (negation is exact, so ties still go to the lower cid)
_NEG_COS_SQL = f"-{fold_cosine_sql('v.e', 'c.c')}"


def _ivf_index_ctes(where: str = "TRUE") -> str:
    """The deterministic IVF quantizer and its inverted lists as a DuckDB
    CTE chain over the embeddings rows matching ``where`` (emb -> seeds
    -> a1 -> cents -> inv). Seeds are the k lowest-id vectors, cid order
    is the lexicographic array order, the one Lloyd step is plain AVG
    per component, and every nearest-cell rank ties to the lower cid, so
    SQL replays ``ivf_centroids`` + ``_assign_cells`` stage by stage."""
    avgs = ", ".join(f"AVG(e[{i + 1}])" for i in range(_IVF_DIM))
    return f"""
    emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE {where}
    ),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY e) - 1 AS cid, e AS c
      FROM (SELECT e FROM emb ORDER BY vec_id LIMIT {_IVF_K})
    ),
    a1 AS ({nearest_centroids_sql("emb", "seeds", _NEG_COS_SQL)}),
    cents AS (
      SELECT a1.cid, list_value({avgs}) AS c
      FROM a1 JOIN emb USING (vec_id) GROUP BY a1.cid
    ),
    inv AS ({nearest_centroids_sql("emb", "cents", _NEG_COS_SQL)})"""


def _ivf_ctes() -> str:
    """The IVF pipeline as a reusable DuckDB CTE chain: the quantizer and
    inverted lists (``_ivf_index_ctes``), then probes -> candidates ->
    exact-rescored pairs — shared by the top-k oracle and the recall
    audit."""
    probes = nearest_centroids_sql(
        "qs", "cents", f"-{fold_cosine_sql('v.qe', 'c.c')}", _IVF_NPROBE,
        cols="v.query_id, c.cid", key="v.query_id")
    return f"""{_ivf_index_ctes()},
    qs AS (SELECT vec_id AS query_id, e AS qe FROM emb ORDER BY vec_id LIMIT {N_QUERY_VECTORS}),
    probes AS ({probes}),
    cands AS (
      SELECT DISTINCT p.query_id, i.vec_id
      FROM inv i JOIN probes p ON i.cid = p.cid
      WHERE i.vec_id != p.query_id
    ),
    scored AS (
      SELECT cd.query_id, cd.vec_id,
             ROUND({fold_cosine_sql('qe.e', 'ce.e')}, 6) AS cosine
      FROM cands cd
      JOIN emb qe ON qe.vec_id = cd.query_id
      JOIN emb ce ON ce.vec_id = cd.vec_id
    )
    """


def _ivf_oracle_sql() -> str:
    return f"""
    WITH {_ivf_ctes()}
    SELECT query_id, rank, vec_id, cosine FROM (
      SELECT query_id, vec_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


@register(
    "ann_ivf_topk",
    oracle=_ivf_oracle_sql(),
    doc="IVF approximate cosine top-10: deterministic coarse quantizer "
    "(16 cells, 4 probed), inverted-list cell join, exact re-rank. The "
    "oracle replays the deterministic quantizer stage by stage in SQL.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    return ivf_topk(corpus, default_queries(corpus)).orderBy("query_id", "rank")


def _lsh_topk_oracle_sql() -> str:
    """DuckDB twin of the full LSH top-k path: the shared bucket CTEs
    (operators/vectors.py lsh_bucket_ctes) rebuild Spark's bucket
    assignments bit-identically, then candidates + exact re-rank follow."""
    return f"""
    WITH {lsh_bucket_ctes()},
    queries AS (
      SELECT vec_id AS query_id FROM emb ORDER BY vec_id LIMIT {N_QUERY_VECTORS}
    ),
    cands AS (
      SELECT DISTINCT qb.query_id, c.vec_id
      FROM bkt c
      JOIN (
        SELECT b.vec_id AS query_id, b.tbl, b.bucket
        FROM bkt b JOIN queries q ON b.vec_id = q.query_id
      ) qb
        ON c.tbl = qb.tbl AND c.bucket = qb.bucket
      WHERE c.vec_id != qb.query_id
    ),
    scored AS (
      SELECT cd.query_id, cd.vec_id,
             ROUND({fold_cosine_sql('qe.e', 'ce.e')}, 6) AS cosine
      FROM cands cd
      JOIN emb qe ON qe.vec_id = cd.query_id
      JOIN emb ce ON ce.vec_id = cd.vec_id
    )
    SELECT query_id, rank, vec_id, cosine FROM (
      SELECT query_id, vec_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


@register(
    "ann_lsh_topk",
    oracle=_lsh_topk_oracle_sql(),
    doc="LSH-bucketed approximate cosine top-10 (random-hyperplane, 16 "
    "tables x 4 bits). Deterministic planes + exact re-rank make the full "
    "path SQL-replicable, so the oracle rebuilds buckets and candidates.",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    return lsh_bucketed_topk(corpus, default_queries(corpus)).orderBy("query_id", "rank")


# --- int8 scalar quantization ------------------------------------------------


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the memory-compression
    step that makes a 100 TB embedding corpus ANN-servable (float32 -> int8
    is 4x less scan volume and SIMD-friendly distance kernels; the re-rank
    stage dequantizes with ``scale``).

    q_i = floor(x_i * 127 / amax + 0.5) with amax = max|x_i| (all-zero
    vectors quantize to zeros with scale 1/127). A pure row-local map —
    zero shuffles; folds run left-to-right so Spark and the DuckDB oracle
    produce bit-identical doubles before the final rounding.

    Returns (id, quantized array, scale, per-vector reconstruction RMSE).
    """
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.aggregate(xd, F.lit(0.0), lambda a, v: F.greatest(a, F.abs(v)))
    amax_s = F.when(amax == 0.0, F.lit(1.0)).otherwise(amax)
    scale = amax_s / F.lit(127.0)
    with_q = df.select(
        F.col(id_col),
        xd.alias("_x"),
        scale.alias("_scale"),
    ).select(
        id_col,
        "_scale",
        F.transform(
            "_x", lambda x: F.floor(x / F.col("_scale") + 0.5).cast("long")
        ).alias("q"),
        "_x",
    )
    err = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("_x"), F.col("q"),
                lambda x, q: (x - q * F.col("_scale")) * (x - q * F.col("_scale")),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        / F.size("_x")
    )
    return with_q.select(
        id_col,
        F.col("q").alias("q_int8"),
        F.round("_scale", 8).alias("scale"),
        F.round(err, 6).alias("recon_rmse"),
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
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
    q AS (
      SELECT vec_id, e, scale,
             list_transform(e, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
      FROM s
    )
    SELECT vec_id,
           CAST(len(qv) AS INTEGER) AS n_dims,
           CAST(list_reduce(qv, (a, b) -> a + b) AS BIGINT) AS sum_q,
           CAST(list_reduce(list_transform(qv, v -> abs(v)),
                            (a, b) -> a + b) AS BIGINT) AS sum_abs_q,
           ROUND(scale, 8) AS scale,
           ROUND(sqrt(list_reduce(
                   list_transform(range(1, len(e) + 1),
                                  i -> (e[i] - qv[i] * scale) * (e[i] - qv[i] * scale)),
                   (a, b) -> a + b) / len(e)), 6) AS recon_rmse
    FROM q
    ORDER BY vec_id
    """,
    doc="Int8 scalar quantization of the embedding corpus: per-vector "
    "symmetric scale, integer checksums + reconstruction RMSE in the "
    "registered projection (raw int arrays stay in the library function "
    "quantize_int8 — list cells don't survive the driver's canonicalizer). "
    "Pure row-local map, zero shuffles.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    q = quantize_int8(emb)
    return q.select(
        "vec_id",
        F.size("q_int8").alias("n_dims"),
        F.aggregate("q_int8", F.lit(0).cast("long"), lambda a, v: a + v).alias("sum_q"),
        F.aggregate(
            F.transform("q_int8", lambda v: F.abs(v)),
            F.lit(0).cast("long"), lambda a, v: a + v,
        ).alias("sum_abs_q"),
        "scale",
        "recon_rmse",
    ).orderBy("vec_id")


def quantized_topk(corpus: DataFrame, k: int = TOP_K,
                   n_queries: int = N_QUERY_VECTORS) -> DataFrame:
    """Cosine top-k over the int8-QUANTIZED corpus — proof the compression
    is servable end-to-end. The symmetric per-vector scales cancel in
    cosine, so scoring is PURE INTEGER arithmetic (dot and norms over int8
    components, exact in int64) with one double division at the end —
    deterministic across engines by construction, and exactly the SIMD
    integer kernel an ANN service runs over the 4x-smaller corpus."""
    # materialize the quantized corpus once: the query side and the probe
    # side otherwise each re-run the quantization map (and at scale the
    # int8 table is exactly what you'd persist — it's the compressed index)
    q = quantize_int8(corpus).select("vec_id", "q_int8").transform(_truncate_eager)
    queries = (
        q.orderBy("vec_id").limit(n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("q_int8").alias("quv"))
    )
    pairs = q.crossJoin(F.broadcast(queries)).where(F.col("vec_id") != F.col("query_id"))
    isum = lambda arr: F.aggregate(arr, F.lit(0).cast("long"), lambda a, v: a + v)
    dot = isum(F.zip_with(F.col("quv"), F.col("q_int8"), lambda a, b: a * b))
    na = isum(F.transform(F.col("quv"), lambda x: x * x))
    nb = isum(F.transform(F.col("q_int8"), lambda x: x * x))
    scored = pairs.select(
        "query_id", "vec_id",
        F.round(dot / (F.sqrt(na) * F.sqrt(nb)), 6).alias("cosine_q"),
        na.alias("_na"), nb.alias("_nb"),
    ).where((F.col("_na") > 0) & (F.col("_nb") > 0))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_q").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine_q")
    )


@register(
    "ann_cosine_topk_int8",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
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
    q AS (
      SELECT vec_id,
             list_transform(e, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
      FROM s
    ),
    queries AS (
      SELECT vec_id AS query_id, qv AS quv FROM q ORDER BY vec_id LIMIT {N_QUERY_VECTORS}
    ),
    scored AS (
      SELECT qr.query_id, c.vec_id,
             list_reduce(list_transform(range(1, len(c.qv) + 1),
                                        i -> qr.quv[i] * c.qv[i]),
                         (a, b) -> a + b) AS dot,
             list_reduce(list_transform(qr.quv, x -> x * x), (a, b) -> a + b) AS na,
             list_reduce(list_transform(c.qv, x -> x * x), (a, b) -> a + b) AS nb
      FROM q c CROSS JOIN queries qr
      WHERE c.vec_id != qr.query_id
    )
    SELECT query_id, rank, vec_id, cosine_q FROM (
      SELECT query_id, vec_id,
             ROUND(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine_q,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(dot / (sqrt(na) * sqrt(nb)), 6) DESC,
                                         vec_id) AS rank
      FROM scored WHERE na > 0 AND nb > 0
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="Cosine top-10 over the int8-quantized corpus: scales cancel, so "
    "scoring is exact int64 arithmetic plus one final division — the "
    "compressed-corpus serving path, recall pinned against the float "
    "brute force in tests.",
)
def ann_cosine_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    return quantized_topk(corpus).orderBy("query_id", "rank")


# --- cosine range search -----------------------------------------------------

RANGE_THRESHOLD = 0.25


def range_search(corpus: DataFrame, queries: DataFrame,
                 threshold: float = RANGE_THRESHOLD) -> DataFrame:
    """All corpus vectors within a cosine radius of each query — the
    "find everything similar enough" contract (radius dedup sweeps,
    near-match retrieval) that top-k cannot express: result size is
    data-driven, not fixed at k.

    Same scale posture as the brute top-k: queries broadcast, corpus
    scanned ONCE with the threshold filter applied inside the scan
    projection, and — unlike top-k — NO window/shuffle at all: the
    predicate is per-row, so the whole operator is map-only."""
    pairs = corpus.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("query_id")
    )
    return (
        pairs.select(
            "query_id", "vec_id",
            F.round(cosine_sim(F.col("q_embedding"), F.col("embedding")), 6)
            .alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


@register(
    "ann_range_search",
    oracle=f"""
    WITH queries AS (
      SELECT vec_id AS query_id, embedding AS q_embedding
      FROM embeddings ORDER BY vec_id LIMIT {N_QUERY_VECTORS}
    )
    SELECT q.query_id, e.vec_id,
           ROUND({fold_cosine_sql('CAST(q.q_embedding AS DOUBLE[])', 'CAST(e.embedding AS DOUBLE[])')}, 6) AS cosine
    FROM embeddings e CROSS JOIN queries q
    WHERE e.vec_id != q.query_id
      AND ROUND({fold_cosine_sql('CAST(q.q_embedding AS DOUBLE[])', 'CAST(e.embedding AS DOUBLE[])')}, 6)
          >= {RANGE_THRESHOLD}
    ORDER BY query_id, cosine DESC, vec_id
    """,
    doc=f"Cosine range search (all neighbors with cosine >= "
    f"{RANGE_THRESHOLD}): broadcast queries, map-only corpus scan, "
    "result size data-driven — the radius-query contract top-k can't "
    "express.",
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    return range_search(corpus, default_queries(corpus)).orderBy(
        "query_id", F.col("cosine").desc(), "vec_id"
    )


# --- incremental IVF maintenance ---------------------------------------------

_IVF_SPLIT = 250  # vec_id < split is the frozen index; >= split arrives


def ivf_incremental_assign(snapshot: DataFrame, batch: DataFrame) -> DataFrame:
    """Place an arriving vector batch into a FROZEN IVF index — the
    maintenance operation of a serving ANN system: the quantizer
    (centroids) is trained once on the indexed corpus and new vectors are
    routed into existing cells without touching the snapshot's inverted
    lists or recomputing centroids.

    Output is the cell-occupancy drift report (cid, n_snapshot, n_batch):
    the signal an operator watches to decide when the quantizer has
    drifted enough to rebuild. Scale shape: centroid training touches the
    snapshot once; batch placement is a broadcast-centroid map over the
    BATCH only — O(batch), not O(corpus)."""
    cents = ivf_centroids(snapshot)
    inv_s = _assign_cells(snapshot, cents, nprobe=1)
    inv_b = _assign_cells(batch, cents, nprobe=1)
    s_counts = inv_s.groupBy("cid").agg(F.count("*").alias("n_snapshot"))
    b_counts = inv_b.groupBy("cid").agg(F.count("*").alias("n_batch"))
    return (
        cents.select("cid")
        .join(s_counts, "cid", "left")
        .join(b_counts, "cid", "left")
        .select(
            "cid",
            F.coalesce("n_snapshot", F.lit(0)).alias("n_snapshot"),
            F.coalesce("n_batch", F.lit(0)).alias("n_batch"),
        )
        .orderBy("cid")
    )


def _ivf_incr_oracle_sql() -> str:
    return f"""
    WITH {_ivf_index_ctes(f"vec_id < {_IVF_SPLIT}")},
    emb_b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id >= {_IVF_SPLIT}
    ),
    inv_b AS ({nearest_centroids_sql("emb_b", "cents", _NEG_COS_SQL)})
    SELECT c.cid,
           COALESCE(s.n_snapshot, 0) AS n_snapshot,
           COALESCE(b.n_batch, 0) AS n_batch
    FROM (SELECT cid FROM cents) c
    LEFT JOIN (SELECT cid, COUNT(*) AS n_snapshot FROM inv GROUP BY cid) s
      USING (cid)
    LEFT JOIN (SELECT cid, COUNT(*) AS n_batch FROM inv_b GROUP BY cid) b
      USING (cid)
    ORDER BY c.cid
    """


@register(
    "ivf_incremental_assign",
    oracle=_ivf_incr_oracle_sql(),
    doc=f"Incremental IVF index maintenance: vectors with vec_id >= "
    f"{_IVF_SPLIT} route into the FROZEN quantizer trained on the "
    "snapshot — O(batch) placement, no centroid recompute, no snapshot "
    "re-assignment; output is the cell-occupancy drift report.",
)
def ivf_incremental_assign_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    snapshot = emb.where(F.col("vec_id") < _IVF_SPLIT)
    batch = emb.where(F.col("vec_id") >= _IVF_SPLIT)
    return ivf_incremental_assign(snapshot, batch)


# --- LSH-bucketed range search (the scale path for the radius contract) ------


def lsh_range_search(corpus: DataFrame, queries: DataFrame,
                     threshold: float = RANGE_THRESHOLD) -> DataFrame:
    """Approximate radius search: candidates share at least one LSH table
    bucket, then the exact-cosine threshold filters them. Same candidate
    machinery as lsh_bucketed_topk — the bucket join bounds the pair
    space sub-linearly — but the output contract is the data-driven
    radius set, not a fixed k. Recall vs the brute radius scan is pinned
    in tests (hyperplane tables are tuned for ~0.9 recall at this
    threshold; more tables is the recall knob)."""
    c = with_lsh_buckets(corpus, "embedding", "vec_id")
    q = with_lsh_buckets(queries, "q_embedding", "query_id")
    cands = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_embedding", "vec_id", "embedding")
        .distinct()
    )
    return (
        cands.select(
            "query_id", "vec_id",
            F.round(cosine_sim(F.col("q_embedding"), F.col("embedding")), 6)
            .alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def _lsh_range_oracle_sql() -> str:
    return f"""
    WITH {lsh_bucket_ctes()},
    queries AS (
      SELECT vec_id AS query_id FROM emb ORDER BY vec_id LIMIT {N_QUERY_VECTORS}
    ),
    cands AS (
      SELECT DISTINCT qb.query_id, c.vec_id
      FROM bkt c
      JOIN (
        SELECT b.vec_id AS query_id, b.tbl, b.bucket
        FROM bkt b JOIN queries q ON b.vec_id = q.query_id
      ) qb
        ON c.tbl = qb.tbl AND c.bucket = qb.bucket
      WHERE c.vec_id != qb.query_id
    )
    SELECT cd.query_id, cd.vec_id,
           ROUND({fold_cosine_sql('qe.e', 'ce.e')}, 6) AS cosine
    FROM cands cd
    JOIN emb qe ON qe.vec_id = cd.query_id
    JOIN emb ce ON ce.vec_id = cd.vec_id
    WHERE ROUND({fold_cosine_sql('qe.e', 'ce.e')}, 6) >= {RANGE_THRESHOLD}
    ORDER BY cd.query_id, cosine DESC, cd.vec_id
    """


@register(
    "ann_lsh_range_search",
    oracle=_lsh_range_oracle_sql(),
    doc=f"LSH-bucketed radius search (cosine >= {RANGE_THRESHOLD}): the "
    "sub-linear scale path for the radius contract — bucket-join candidate "
    "generation, exact threshold filter; recall vs the brute scan pinned "
    "in tests.",
)
def ann_lsh_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    return lsh_range_search(corpus, default_queries(corpus)).orderBy(
        "query_id", F.col("cosine").desc(), "vec_id"
    )


# ------------------------------------------------------- random projection

# Johnson-Lindenstrauss sign projection: out_j = sum_d e[d] * s[j][d]
# / sqrt(out_dim), with s = +-1 taken DIRECTLY as the signs of the shared
# LSH hyperplane pool (operators/vectors.PLANES) — one source of
# randomness for the projection and the buckets, deterministic across
# runs and engines. A +-1 (Achlioptas) matrix is a valid JL projection.
# out_dim may be anything up to the pool size (len(PLANES) = 64).
RP_DIM = 8
RP_IN_DIM = _VEC_DIM

_RP_SIGNS: list[list[float]] = [
    [1.0 if c >= 0 else -1.0 for c in plane] for plane in PLANES
]


def random_projection(corpus: DataFrame, out_dim: int = RP_DIM) -> DataFrame:
    """(vec_id, dim_idx, value): ``out_dim`` JL sign-projection
    coordinates per vector, long format so the readout is scalar-typed
    (stable cross-engine hashing). Map-only — one corpus scan, zero
    shuffles; the coordinates come from the shared ``_project_expr``
    fold (one implementation for this operator AND the two-stage ANN),
    each inside whole-stage codegen. At 100 TB this is the cheap
    preprocessing that shrinks every downstream ANN / clustering
    distance computation by dim/out_dim."""
    coords = _project_expr(F.col("embedding"), out_dim)
    return (
        corpus.select(
            "vec_id", F.posexplode(coords).alias("dim_idx", "value"))
        .select("vec_id", F.col("dim_idx").cast("int").alias("dim_idx"),
                F.round("value", 6).alias("value"))
    )


def _rp_signs_cte() -> str:
    """DuckDB twin of _RP_SIGNS as a ``signs`` CTE — the identical
    integer mix as vectors.PLANES, shared by every projection oracle so
    a plane-mix change cannot silently split them."""
    return f"""signs AS (
      SELECT p,
             list_transform(
               range(0, {RP_IN_DIM}),
               d -> CASE WHEN CAST((p * 1000003 + d) * 2654435761
                                   % 4294967296 AS DOUBLE)
                              / 2147483648.0 - 1.0 >= 0
                         THEN 1.0 ELSE -1.0 END
             ) AS s
      FROM (SELECT unnest(range(0, {RP_DIM})) AS p)
    )"""


def _rp_proj_cte() -> str:
    """``proj`` CTE: each vector's RP_DIM-coordinate projection list,
    folded exactly like the engine's _project_expr (expects ``emb`` and
    ``signs`` in scope)."""
    return f"""proj AS (
      SELECT v.vec_id,
             list(list_reduce(
                    list_transform(range(1, {RP_IN_DIM} + 1),
                                   i -> v.e[i] * sg.s[i]),
                    (a, b) -> a + b) / sqrt({RP_DIM}.0)
                  ORDER BY sg.p) AS pl
      FROM emb v CROSS JOIN signs sg
      GROUP BY v.vec_id
    )"""


def _random_projection_oracle_sql() -> str:
    return f"""
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    {_rp_signs_cte()}
    SELECT v.vec_id, CAST(sg.p AS INTEGER) AS dim_idx,
           ROUND(list_reduce(
                   list_transform(range(1, {RP_IN_DIM} + 1),
                                  i -> v.e[i] * sg.s[i]),
                   (a, b) -> a + b) / sqrt({RP_DIM}.0), 6) AS value
    FROM emb v CROSS JOIN signs sg
    ORDER BY v.vec_id, dim_idx
    """


@register(
    "embedding_random_projection",
    oracle=_random_projection_oracle_sql(),
    doc=f"Johnson-Lindenstrauss sign projection {RP_IN_DIM}->{RP_DIM} "
    "dims: +-1 Achlioptas matrix derived from the shared deterministic "
    "hyperplane integer mix, 1/sqrt(k) scaling, long-format scalar "
    "readout. Map-only (one corpus scan, zero shuffles, codegen folds) "
    "— the preprocessing that divides every downstream distance "
    "computation's cost by dim/out_dim at 100 TB.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding")
    return random_projection(corpus).orderBy("vec_id", "dim_idx")


# candidate multiplier for the projected-space shortlist: exact re-rank
# sees expand*k candidates per query
RP_EXPAND = 4


def _project_expr(vec_col, out_dim: int = RP_DIM) -> Column:
    """array<double> of ``out_dim`` JL coordinates (unrounded — the
    left-fold sums are bit-identical across engines, rounding happens at
    the readout). The ONE projection fold: random_projection and the
    two-stage ANN both build on it, so the arithmetic cannot drift."""
    if not 1 <= out_dim <= len(_RP_SIGNS):
        raise ValueError(
            f"out_dim must be in [1, {len(_RP_SIGNS)}] (the shared "
            f"hyperplane pool size), got {out_dim}")
    e = vec_col.cast("array<double>")
    scale = float(out_dim) ** 0.5
    return F.array(*[
        F.aggregate(
            F.zip_with(e, F.array(*[F.lit(s) for s in _RP_SIGNS[j]]),
                       lambda x, sg: (x * sg).cast("double")),
            F.lit(0.0), lambda acc, v: acc + v,
        ) / F.lit(scale)
        for j in range(out_dim)
    ])


def projected_topk(corpus: DataFrame, queries: DataFrame, k: int = TOP_K,
                   expand: int = RP_EXPAND) -> DataFrame:
    """Two-stage ANN through the JL projection: rank ALL pairs by cosine
    in the RP_DIM projected space (per-pair flops divided by
    dim/RP_DIM; the candidate window carries only ids + one rounded
    score, never a vector), keep expand*k candidates per query, then
    re-rank the shortlist by exact full-dim cosine via a broadcast
    join-back. Same output contract as brute_force_topk; recall is the
    stated trade (pytest pins the exact-duplicate and planted-family
    cases, and the oracle replays both stages so the trade is
    deterministic, not sampled)."""
    pc = corpus.select("vec_id", _project_expr(F.col("embedding")).alias("p"))
    pq = queries.select(
        "query_id", _project_expr(F.col("q_embedding")).alias("qp"))
    cand_w = Window.partitionBy("query_id").orderBy(
        F.col("pcos").desc(), F.col("vec_id"))
    cands = (
        pc.crossJoin(F.broadcast(pq))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id",
                F.round(cosine_sim(F.col("qp"), F.col("p")), 6).alias("pcos"))
        .withColumn("crank", F.row_number().over(cand_w))
        .where(F.col("crank") <= expand * k)
        .select("query_id", "vec_id")
    )
    exact = (
        corpus.join(F.broadcast(cands), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id",
                # cast BEFORE the fold: float*float products differ from
                # the oracle's double arithmetic by enough to flip a
                # ROUND(x, 6) boundary (observed at sf0.1)
                F.round(cosine_sim(F.col("q_embedding").cast("array<double>"),
                                   F.col("embedding").cast("array<double>")),
                        6).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def _projected_topk_oracle_sql() -> str:
    c = RP_EXPAND * TOP_K
    return f"""
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    {_rp_signs_cte()},
    {_rp_proj_cte()},
    queries AS (
      SELECT vec_id AS query_id FROM embeddings
      ORDER BY vec_id LIMIT {N_QUERY_VECTORS}
    ),
    cands AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               ROUND({fold_cosine_sql('pq.pl', 'c.pl', RP_DIM)}, 6) AS pcos,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND({fold_cosine_sql('pq.pl', 'c.pl', RP_DIM)}, 6) DESC,
                          c.vec_id) AS crank
        FROM proj c
        CROSS JOIN queries q
        JOIN proj pq ON pq.vec_id = q.query_id
        WHERE c.vec_id != q.query_id
      ) WHERE crank <= {c}
    )
    SELECT query_id, rank, vec_id, cosine FROM (
      SELECT cd.query_id, cd.vec_id,
             ROUND({fold_cosine_sql('qe.e', 'ce.e', RP_IN_DIM)}, 6) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY cd.query_id
               ORDER BY ROUND({fold_cosine_sql('qe.e', 'ce.e', RP_IN_DIM)}, 6)
                          DESC,
                        cd.vec_id) AS rank
      FROM cands cd
      JOIN emb qe ON qe.vec_id = cd.query_id
      JOIN emb ce ON ce.vec_id = cd.vec_id
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


@register(
    "ann_projected_topk",
    oracle=_projected_topk_oracle_sql(),
    doc=f"Two-stage ANN through the {RP_IN_DIM}->{RP_DIM} JL projection: "
    f"projected-space cosine shortlist ({RP_EXPAND}x{TOP_K} candidates "
    "per query, the candidate window carries ids only — no vector rides "
    "the shuffle), exact full-dim re-rank via broadcast join-back. "
    f"Per-pair scoring flops divided by {RP_IN_DIM // RP_DIM}; both "
    "stages oracle-replayed so the recall trade is deterministic.",
)
def ann_projected_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding")
    return projected_topk(corpus, default_queries(corpus)).orderBy(
        "query_id", "rank")


def projected_recall(corpus: DataFrame, queries: DataFrame,
                     k: int = TOP_K) -> DataFrame:
    """(query_id, n_overlap, recall): recall@k of the projected two-stage
    ANN against the exact brute-force top-k, per query — the projection's
    accuracy trade as a MEASURED number instead of a docstring claim.
    Both pipelines are deterministic, so the readout is exact and
    oracle-replayable. The brute side runs on double-cast embeddings so
    its fold matches the oracle bit-for-bit (same ULP lesson as the
    projected re-rank)."""
    dcorpus = corpus.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dqueries = queries.select(
        "query_id",
        F.col("q_embedding").cast("array<double>").alias("q_embedding"))
    brute = brute_force_topk(dcorpus, dqueries, k).select(
        "query_id", "vec_id")
    proj = projected_topk(dcorpus, dqueries, k).select(
        "query_id", "vec_id")
    hits = (
        brute.join(proj, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(F.coalesce("n_overlap", F.lit(0)) / F.lit(float(k)), 4)
            .alias("recall"),
        )
    )


def _projected_recall_oracle_sql() -> str:
    c = RP_EXPAND * TOP_K
    brute_cos = fold_cosine_sql("qe.e", "ce.e", RP_IN_DIM)
    return f"""
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    {_rp_signs_cte()},
    {_rp_proj_cte()},
    queries AS (
      SELECT vec_id AS query_id FROM embeddings
      ORDER BY vec_id LIMIT {N_QUERY_VECTORS}
    ),
    brute AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, ce.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND({brute_cos}, 6) DESC, ce.vec_id) AS rank
        FROM emb ce
        CROSS JOIN queries q
        JOIN emb qe ON qe.vec_id = q.query_id
        WHERE ce.vec_id != q.query_id
      ) WHERE rank <= {TOP_K}
    ),
    cands AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND({fold_cosine_sql('pq.pl', 'c.pl', RP_DIM)},
                                6) DESC,
                          c.vec_id) AS crank
        FROM proj c
        CROSS JOIN queries q
        JOIN proj pq ON pq.vec_id = q.query_id
        WHERE c.vec_id != q.query_id
      ) WHERE crank <= {c}
    ),
    ptop AS (
      SELECT query_id, vec_id FROM (
        SELECT cd.query_id, cd.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY cd.query_id
                 ORDER BY ROUND({brute_cos.replace('ce.e', 'ce2.e')
                                          .replace('qe.e', 'qe2.e')}, 6)
                            DESC,
                          cd.vec_id) AS rank
        FROM cands cd
        JOIN emb qe2 ON qe2.vec_id = cd.query_id
        JOIN emb ce2 ON ce2.vec_id = cd.vec_id
      ) WHERE rank <= {TOP_K}
    ),
    hits AS (
      SELECT b.query_id, COUNT(*) AS n_overlap
      FROM brute b JOIN ptop p
        ON p.query_id = b.query_id AND p.vec_id = b.vec_id
      GROUP BY b.query_id
    )
    SELECT q.query_id,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           ROUND(COALESCE(h.n_overlap, 0) / {TOP_K}.0, 4) AS recall
    FROM queries q LEFT JOIN hits h ON h.query_id = q.query_id
    ORDER BY q.query_id
    """


@register(
    "ann_projected_recall",
    oracle=_projected_recall_oracle_sql(),
    doc=f"Recall@{TOP_K} of the projected two-stage ANN against the "
    "exact brute-force ranking, per query — the JL accuracy trade as a "
    "measured, oracle-replayed number (both pipelines are deterministic, "
    "so the readout is exact, not sampled).",
)
def ann_projected_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding")
    return projected_recall(corpus, default_queries(corpus)).orderBy(
        "query_id")


# --- contrastive pair mining (hard negatives + in-class positives) -----------

N_ANCHORS = 8       # deterministic anchor set: the lowest vec_ids
K_CONTRAST = 4      # pairs mined per anchor per side


def contrastive_pairs(corpus: DataFrame, n_anchors: int = N_ANCHORS,
                      k: int = K_CONTRAST) -> DataFrame:
    """Contrastive training-pair manifest: for each anchor vector, the k
    most-similar vectors of a DIFFERENT label (hard negatives — the pairs
    that teach a metric model the most) and the k most-similar of the
    SAME label (positives), exact-cosine ranked.

    (anchor_id, pair_type 'pos'|'neg', rank, vec_id, label, cosine).

    100 TB shape: anchors broadcast (O(n_anchors) rows), the corpus
    scanned ONCE with per-(anchor, side) top-k pushed map-side by
    Spark's WindowGroupLimit — no corpus shuffle carries more than
    (anchors * 2k) rows per partition pre-merge. Swapping the brute scan
    for the LSH/IVF bucketed candidate generators above changes recall,
    not this operator's contract.
    """
    # arrays cast to double BEFORE the fold: float*float products round
    # differently from double*double at ROUND(x, 6) boundaries, and the
    # oracle replays the double left-fold explicitly
    corpus = corpus.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    anchors = (
        corpus.orderBy("vec_id").limit(n_anchors)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("a_embedding"),
            F.col("label").alias("a_label"),
        )
    )
    pairs = corpus.crossJoin(F.broadcast(anchors)).where(
        F.col("vec_id") != F.col("anchor_id")
    )
    scored = pairs.select(
        "anchor_id",
        F.when(F.col("label") == F.col("a_label"), F.lit("pos"))
        .otherwise(F.lit("neg")).alias("pair_type"),
        "vec_id",
        "label",
        F.round(cosine_sim(F.col("a_embedding"), F.col("embedding")), 6)
        .alias("cosine"),
    )
    w = Window.partitionBy("anchor_id", "pair_type").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("anchor_id", "pair_type", "rank", "vec_id", "label",
                "cosine")
        .orderBy("anchor_id", "pair_type", "rank")
    )


@register(
    "contrastive_pair_mining",
    oracle=f"""
    WITH anchors AS (
      SELECT vec_id AS anchor_id, embedding AS a_embedding,
             label AS a_label
      FROM embeddings ORDER BY vec_id LIMIT {N_ANCHORS}
    ),
    cast_pairs AS (
      SELECT a.anchor_id, a.a_label, e.vec_id, e.label,
             CAST(a.a_embedding AS DOUBLE[]) AS av,
             CAST(e.embedding AS DOUBLE[]) AS ev
      FROM embeddings e CROSS JOIN anchors a
      WHERE e.vec_id != a.anchor_id
    ),
    scored AS (
      -- explicit left fold (0.0 + x == x, then index order) == Spark's
      -- aggregate(zip_with(...)); list_cosine_similarity folds in a
      -- different association order and flips ROUND(x, 6) boundaries
      SELECT anchor_id,
             CASE WHEN label = a_label THEN 'pos' ELSE 'neg' END
               AS pair_type,
             vec_id, label,
             ROUND(
               list_reduce(list_transform(range(1, 65),
                                          i -> av[i] * ev[i]),
                           (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(range(1, 65),
                                                  i -> av[i] * av[i]),
                                   (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(range(1, 65),
                                                    i -> ev[i] * ev[i]),
                                     (x, y) -> x + y))), 6) AS cosine
      FROM cast_pairs
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY anchor_id, pair_type
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    )
    SELECT anchor_id, pair_type, CAST(rank AS BIGINT) AS rank, vec_id,
           label, cosine
    FROM ranked WHERE rank <= {K_CONTRAST}
    ORDER BY anchor_id, pair_type, rank
    """,
    doc=f"Contrastive training-pair mining over the labeled embeddings: "
    f"for each of the {N_ANCHORS} lowest-id anchors, the {K_CONTRAST} "
    "most-similar different-label vectors (hard negatives) and the "
    f"{K_CONTRAST} most-similar same-label vectors (positives), exact-"
    "cosine ranked with a deterministic vec_id tiebreak. Anchors "
    "broadcast, corpus scanned once, per-(anchor, side) top-k pushed "
    "map-side via WindowGroupLimit; the LSH/IVF candidate generators in "
    "this module are the drop-in scale path for larger anchor sets.",
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding", "label")
    return contrastive_pairs(corpus)


# --------------------------------------------------------------------------
# Diagonal-Mahalanobis embedding outliers — per-dimension standardized
# distance from the corpus centroid, the embedding-space anomaly screen
# a curation stack runs to surface corrupted / out-of-distribution
# vectors before they poison dedup clusters or ANN recall. Diagonal
# covariance (per-dim variance) keeps the statistic a two-aggregate
# composition; the FULL covariance lives in the Gram/PCA family.
# --------------------------------------------------------------------------

MAHA_TOP = 20
MAHA_FX = 1_000_000


def embedding_diag_outliers(emb: DataFrame, top: int = MAHA_TOP) -> DataFrame:
    """Top ``top`` vectors by the diagonal Mahalanobis score
    sum_d ((x_d - mu_d) / sigma_d)^2 — (vec_id, score).

    Exactness: per-dim means/variances fold through fixed-point 1e-9
    components (exact BIGINT sums; squares through DECIMAL(38,0)), so
    the 64-row stats table is engine-identical; each per-(vector, dim)
    standardized square is then fixed-pointed to 1e-6 and the per-vector
    score is an exact integer SUM over dims — association-order-free, so
    the top-k with vec_id tiebreak is deterministic.

    100 TB shape: one posexplode scan (n x d rows, map-side combined to
    the d-row stats), one broadcast join of the d-row table back, one
    vec_id-keyed combine. No pairwise anything.
    """
    comps = emb.select(
        "vec_id", F.posexplode("embedding").alias("d", "x"))
    stats = (
        comps.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(round(x * 1e9) AS BIGINT)")).alias("s_fx"),
            # DECIMAL BEFORE the multiply: two 1e-9-fx components of a
            # |x| > 3 vector overflow BIGINT at the product
            F.sum(F.expr(
                "CAST(round(x * 1e9) AS DECIMAL(38,0)) "
                "* CAST(round(x * 1e9) AS DECIMAL(38,0))"))
            .alias("q_fx"),
        )
        .selectExpr(
            "d",
            "CAST(s_fx AS DOUBLE) / 1e9 / n AS mu",
            "(CAST(q_fx AS DOUBLE) / 1e18 - (CAST(s_fx AS DOUBLE) / 1e9) "
            "* (CAST(s_fx AS DOUBLE) / 1e9) / n) / (n - 1) AS var",
        )
    )
    scored = (
        comps.join(F.broadcast(stats), "d")
        .selectExpr(
            "vec_id",
            f"CAST(FLOOR((x - mu) * (x - mu) / var * {MAHA_FX} + 0.5) "
            "AS BIGINT) AS z2_fx",
        )
        .groupBy("vec_id")
        .agg(F.sum("z2_fx").alias("score_fx"))
    )
    return (
        scored.select(
            "vec_id",
            F.round(F.col("score_fx").cast("double") / MAHA_FX, 4)
            .alias("score"),
        )
        .orderBy(F.col("score_fx").desc(), "vec_id")
        .limit(top)
    )


@register(
    "embedding_diag_outliers",
    oracle=f"""
    WITH comps AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS d,
             UNNEST(embedding) AS x
      FROM embeddings
    ),
    stats AS (
      SELECT d,
             CAST(SUM(CAST(round(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
               / COUNT(*) AS mu,
             (CAST(SUM(CAST(round(x * 1e9) AS DECIMAL(38,0))
                            * CAST(round(x * 1e9) AS DECIMAL(38,0)))
                   AS DOUBLE) / 1e18
              - (CAST(SUM(CAST(round(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
                * (CAST(SUM(CAST(round(x * 1e9) AS BIGINT)) AS DOUBLE)
                   / 1e9) / COUNT(*)) / (COUNT(*) - 1) AS var
      FROM comps GROUP BY d
    ),
    scored AS (
      SELECT c.vec_id,
             CAST(SUM(CAST(FLOOR((c.x - s.mu) * (c.x - s.mu) / s.var
                                 * {MAHA_FX} + 0.5) AS BIGINT)) AS BIGINT)
               AS score_fx
      FROM comps c JOIN stats s ON s.d = c.d
      GROUP BY c.vec_id
    )
    SELECT vec_id,
           ROUND(CAST(score_fx AS DOUBLE) / {MAHA_FX}, 4) AS score
    FROM scored
    ORDER BY score_fx DESC, vec_id
    LIMIT {MAHA_TOP}
    """,
    doc=f"Top-{MAHA_TOP} embedding outliers by DIAGONAL Mahalanobis "
    "distance from the corpus centroid: per-dim means/variances fold "
    "through exact fixed-point components (one posexplode scan, d-row "
    "stats table), each standardized square fixed-pointed before the "
    "per-vector integer sum — the out-of-distribution screen before "
    "vectors poison dedup/ANN, with no pairwise stage anywhere.",
)
def embedding_diag_outliers_query(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    return embedding_diag_outliers(
        load_table(spark, "embeddings", sf_dir).select(
            "vec_id", "embedding"))


# --- IVF recall audit ---------------------------------------------------------


def ivf_recall(corpus: DataFrame, queries: DataFrame,
               k: int = TOP_K) -> DataFrame:
    """(query_id, n_overlap, recall) — recall@k of the IVF search against
    the exact brute-force top-k, per query: the nprobe/cell accuracy
    trade as a MEASURED number (the companion audit to
    ann_projected_recall for the OTHER approximate index). Both
    pipelines are deterministic, so the readout is exact and
    oracle-replayable; at scale the audit runs on a query SAMPLE while
    the index serves everything."""
    brute = brute_force_topk(corpus, queries, k).select(
        "query_id", "vec_id")
    ivf = ivf_topk(corpus, queries, k).select("query_id", "vec_id")
    hits = (
        brute.join(ivf, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(F.coalesce("n_overlap", F.lit(0)) / F.lit(float(k)), 4)
            .alias("recall"),
        )
    )


def _ivf_recall_oracle_sql() -> str:
    return f"""
    WITH {_ivf_ctes()},
    ivf AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rank
        FROM scored
      ) WHERE rank <= {TOP_K}
    ),
    brute AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, ce.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND({fold_cosine_sql('q.qe', 'ce.e')}, 6)
                            DESC, ce.vec_id) AS rank
        FROM emb ce CROSS JOIN qs q
        WHERE ce.vec_id != q.query_id
      ) WHERE rank <= {TOP_K}
    ),
    hits AS (
      SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
      FROM brute b JOIN ivf i
        ON i.query_id = b.query_id AND i.vec_id = b.vec_id
      GROUP BY b.query_id
    )
    SELECT q.query_id,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           ROUND(COALESCE(h.n_overlap, 0) / {TOP_K}.0, 4) AS recall
    FROM qs q LEFT JOIN hits h ON h.query_id = q.query_id
    ORDER BY q.query_id
    """


@register(
    "ann_ivf_recall",
    oracle=_ivf_recall_oracle_sql(),
    doc=f"Recall@{TOP_K} of the IVF search (16 cells, 4 probed) against "
    "the exact brute-force ranking, per query — the inverted-file "
    "accuracy trade as a measured, oracle-replayed number beside the "
    "JL-projection audit: together they close the 'how approximate ARE "
    "the approximate indexes' question for both index families.",
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding")
    return ivf_recall(corpus, default_queries(corpus)).orderBy("query_id")

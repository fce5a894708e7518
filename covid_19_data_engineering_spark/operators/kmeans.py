"""Deterministic Lloyd k-means over the embeddings table.

Embedding-space clustering is the backbone of semantic dedup (SemDeDup),
data-mixture curation, and IVF index builds (operators/similarity.py grows
its centroids a different, cheaper way). The reference has no analogue
(SURVEY §2 C-extensions). This is the honest iterative version: assign ->
recompute centroids -> reassign, unrolled a fixed number of rounds so the
whole thing is ONE Catalyst plan with a replayable SQL oracle.

Determinism across engines (the driver value-hashes against DuckDB):

- **Init is data-derived, not random**: centroids = the K lowest vec_ids.
- **Assignment is exact double arithmetic in a fixed order**: squared-L2
  folds the 64 dims left-to-right (Spark ``aggregate`` with 0.0 init ==
  DuckDB ``list_reduce``: 0.0 + x == x exactly, and both engines then add
  in index order), ties broken by centroid id.
- **Centroid update uses fixed-point integer accumulation**: SUM(double)
  over an unordered group is partition-order-dependent, so member
  coordinates are floored to 1e-6 integer units first — BIGINT sums are
  order-independent — and the mean is one exact double division. floor()
  (not round) because round's half-tie direction is the one op the two
  engines could disagree on.
- Per-member distances aggregate the same way (1e-9 units).

Scale shape: assignment is a **map-only projection against a broadcast
centroid array** — the shared nearest-centroid kernel
(``operators/vectors.py`` ``nearest_centroids``, one ``array_min`` over
K struct elements inside one whole-stage codegen projection; no shuffle,
no per-centroid row explosion). The update (``lloyd_update``) shuffles
on (cluster, dim) — at most K x 64 groups, crushed by map-side partial
aggregation regardless of corpus size. That is exactly how distributed
k-means is built on a 1000-executor cluster; only the number of rounds
changes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from covid_19_data_engineering_spark.operators.vectors import (
    lloyd_update,
    lloyd_update_sql,
    nearest_centroids,
    nearest_centroids_sql,
    sqdist,
    sqdist_sql,
)
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

KM_K = 8
KM_DIM = 64
DIST_UNIT = 1_000_000_000     # distance fixed-point: 1e-9


def kmeans_assignments(emb: DataFrame, k: int = KM_K) -> DataFrame:
    """Two-round deterministic Lloyd assignment: (vec_id, e, cid, dist)
    after assign -> integer-exact centroid update -> reassign. The shared
    partitioning stage behind the cluster-stats query and semantic dedup
    (operators/semdedup.py). emb: (vec_id, embedding array<float>).
    Each assignment broadcasts the K centroids as ONE array-of-structs
    row."""
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cent0 = (
        corpus.orderBy("vec_id").limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("c"))
    )

    def assign(cents: DataFrame) -> DataFrame:
        carr = cents.agg(F.collect_list(F.struct("cid", "c")).alias("cs"))
        best = nearest_centroids(F.col("e"), F.col("cs"), sqdist, 1)
        return (
            corpus.crossJoin(F.broadcast(carr))
            .select("vec_id", "e", best.alias("best"))
            .select("vec_id", "e", F.col("best.cid").alias("cid"),
                    F.col("best.dist").alias("dist"))
        )

    return assign(lloyd_update(assign(cent0), ["cid"], "e"))


def kmeans_stats(emb: DataFrame, k: int = KM_K) -> DataFrame:
    """Two-round deterministic Lloyd: assign -> integer-exact centroid
    update -> reassign -> per-cluster stats. emb: (vec_id, embedding
    array<float>)."""
    return (
        kmeans_assignments(emb, k).groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.floor(F.col("dist") * DIST_UNIT)).alias("dist_units"),
        )
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "dist_units",
            # exact integer mean-in-units, then one exact double division —
            # avoids ROUND()'s decimal half-tie exposure on su/n rationals
            (F.expr("dist_units div n_members").cast("double") / DIST_UNIT)
            .alias("avg_sqdist"),
        )
    )


_EMB_SQL_DEFAULT = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings"


def kmeans_cte_chain(k_expr: str = str(KM_K), emb_sql: str = _EMB_SQL_DEFAULT,
                     prefix: str = "", dim: int = KM_DIM) -> str:
    """The shared DuckDB CTE chain through the final assignment ``a2``
    (vec_id, e, cid, dist) — composed into a WITH clause by this module's
    stats oracle, the semantic-dedup oracle (operators/semdedup.py) and
    the PQ codebook oracles (operators/pq.py, one chain per subspace).

    ``k_expr`` renders K as a SQL expression over ``n_all`` (the corpus
    row count, in scope inside cent0): the stats query pins the literal
    {KM_K}; semantic dedup derives K from corpus size so its
    within-cluster pair search stays bounded as the corpus grows.

    ``emb_sql`` overrides the corpus source (columns vec_id, e DOUBLE[]
    of ``dim`` elements): semantic dedup clusters its
    exact-embedding-collapsed representative set, PQ one subspace slice.
    ``prefix`` is prepended to every CTE name so several chains can
    share one WITH clause."""
    p = prefix
    sq = sqdist_sql("v.e", "c.c", dim)
    return f"""{p}emb AS ({emb_sql}),
    {p}cent0 AS (
      SELECT vec_id AS cid, e AS c FROM (
        SELECT vec_id, e,
               ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
               COUNT(*) OVER () AS n_all
        FROM {p}emb
      ) WHERE rn <= {k_expr}
    ),
    {p}a1 AS ({nearest_centroids_sql(f"{p}emb", f"{p}cent0", sq,
                                     cols="v.vec_id, v.e, c.cid")}),
    {p}cent1 AS ({lloyd_update_sql(f"{p}a1", "cid", dim=dim)}),
    {p}a2 AS ({nearest_centroids_sql(f"{p}emb", f"{p}cent1", sq,
                                     cols="v.vec_id, v.e, c.cid")})"""


def _kmeans_oracle_sql() -> str:
    return f"""
    WITH {kmeans_cte_chain()}
    SELECT cid AS cluster_id,
           COUNT(*) AS n_members,
           CAST(SUM(CAST(floor(dist * {DIST_UNIT}) AS BIGINT)) AS BIGINT)
             AS dist_units,
           CAST(CAST(SUM(CAST(floor(dist * {DIST_UNIT}) AS BIGINT)) AS BIGINT)
                // COUNT(*) AS DOUBLE) / {DIST_UNIT} AS avg_sqdist
    FROM a2 GROUP BY cid ORDER BY cid
    """


@register(
    "kmeans_embedding_clusters",
    oracle=_kmeans_oracle_sql(),
    doc=f"Two-round deterministic Lloyd k-means (k={KM_K}) over the 64-dim "
    "embeddings: map-only broadcast-centroid assignment, fixed-point "
    "integer centroid update ((cluster, dim)-keyed — at most K x dim "
    "groups), exact cross-engine hash stability.",
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return kmeans_stats(emb).orderBy("cluster_id")

"""TextRank keyword extraction — PageRank over the token co-occurrence
graph (Mihalcea & Tarau 2004), the unsupervised keyword scorer a corpus
curation stack runs to label sources and drive retrieval boosts.

Composition showpiece: the corpus reduces to a token-adjacency graph via
ONE doc-keyed window (lead(token) over position), and the fixed-point
integer PageRank machinery from the co-purchase graph family runs
unchanged on top — weighted by co-occurrence counts, with every step
exact BIGINT arithmetic so the oracle replays the unrolled rounds
CTE-for-CTE (operators/graphs.py's determinism strategy).

100 TB shape: tokenization + the adjacency window are one shuffle on
doc_id (map-side work scales with the scan); the edge rollup is
(token, token)-keyed and map-side-combined; the iteration then runs on
the O(vocab-pairs-observed) edge table — sketch-sized relative to the
corpus, exactly like the Markov-chain and PageRank families.

No reference analogue (SURVEY §2 C-extensions / text battery).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from covid_19_data_engineering_spark.operators.lineage import (
    truncate_eager as _truncate_eager,
)
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

TR_UNIT = 1_000_000_000_000
TR_ITERS = 3
TR_TOP = 20
TR_MIN_CO = 2  # adjacency pairs below this support are noise, dropped


def token_adjacency(documents: DataFrame,
                    min_co: int = TR_MIN_CO) -> DataFrame:
    """Symmetric weighted token co-occurrence edges (src, dst, w): tokens
    ADJACENT in a document (window 2), canonicalized undirected, kept at
    support >= min_co."""
    toks = documents.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    adj = (
        toks.withColumn("tok2", F.lead("tok").over(w))
        .where(F.col("tok2").isNotNull() & (F.col("tok") != F.col("tok2")))
        .select(F.least("tok", "tok2").alias("u"),
                F.greatest("tok", "tok2").alias("v"))
        .groupBy("u", "v").agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= min_co)
    )
    return adj.select(F.col("u").alias("src"), F.col("v").alias("dst"), "w") \
        .unionAll(adj.select(F.col("v").alias("src"),
                             F.col("u").alias("dst"), "w"))


def textrank(edges: DataFrame, iters: int = TR_ITERS,
             top: int = TR_TOP) -> DataFrame:
    """(token, rank_units, rank) — top tokens by weighted fixed-point
    PageRank over the symmetric edge list. Contribution along an edge is
    (units * w) div strength(src) in 1e-12 units; damping (85 * inflow)
    div 100 — exact BIGINT throughout, engine-identical."""
    edges = edges.transform(_truncate_eager)  # referenced every round
    strength = edges.groupBy("src").agg(F.sum("w").alias("s"))
    nodes = strength.select(F.col("src").alias("token"), "s")
    n = nodes.groupBy().agg(F.count("*").alias("n"))
    init = nodes.crossJoin(F.broadcast(n)).select(
        "token", "s",
        F.expr(f"{TR_UNIT} div n").alias("u0"),
    )
    ranks = init.select("token", "s", F.col("u0").alias("units"),
                        F.expr("(15 * u0) div 100").alias("base"))
    for _ in range(iters):
        contrib = (
            ranks.select(F.col("token").alias("src"),
                         F.col("units"), F.col("s").alias("cs"))
            .join(edges, "src")
            .select("dst", F.expr("(units * w) div cs").alias("c"))
            .groupBy("dst").agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            ranks.select("token", "s", "base")
            .join(contrib, ranks.token == contrib.dst, "left")
            .select(
                "token", "s", "base",
                (F.col("base")
                 + F.expr("(85 * coalesce(inflow, 0)) div 100"))
                .alias("units"),
            )
        )
    return (
        ranks.select(
            "token", F.col("units").alias("rank_units"),
            (F.col("units").cast("double") / TR_UNIT).alias("rank"),
        )
        .orderBy(F.col("rank_units").desc(), "token")
        .limit(top)
    )


def _textrank_oracle_sql() -> str:
    it = """
    it{i} AS MATERIALIZED (
      SELECT n.token, n.s, n.base,
             CAST(n.base + (85 * COALESCE(f.inflow, 0)) // 100 AS BIGINT)
               AS units
      FROM n LEFT JOIN (
        SELECT e.dst, SUM((r.units * e.w) // r.s) AS inflow
        FROM it{p} r JOIN edges e ON e.src = r.token
        GROUP BY e.dst
      ) f ON f.dst = n.token
    )"""
    chain = ",".join(it.format(i=i, p=i - 1)
                     for i in range(1, TR_ITERS + 1))
    return f"""
    WITH toks AS (
      SELECT doc_id, t.tok, t.pos
      FROM documents,
           LATERAL (SELECT UNNEST(string_split(text, ' ')) AS tok,
                           generate_subscripts(string_split(text, ' '), 1)
                             AS pos) t
    ),
    adjraw AS (
      SELECT doc_id, tok,
             LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS tok2
      FROM toks
    ),
    adj AS (
      SELECT least(tok, tok2) AS u, greatest(tok, tok2) AS v,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM adjraw WHERE tok2 IS NOT NULL AND tok <> tok2
      GROUP BY 1, 2 HAVING COUNT(*) >= {TR_MIN_CO}
    ),
    edges AS MATERIALIZED (
      SELECT u AS src, v AS dst, w FROM adj
      UNION ALL SELECT v AS src, u AS dst, w FROM adj
    ),
    strength AS (SELECT src, CAST(SUM(w) AS BIGINT) AS s
                 FROM edges GROUP BY src),
    n AS MATERIALIZED (
      SELECT src AS token, s,
             {TR_UNIT} // (SELECT COUNT(*) FROM strength) AS u0,
             (15 * ({TR_UNIT} // (SELECT COUNT(*) FROM strength))) // 100
               AS base
      FROM strength
    ),
    it0 AS MATERIALIZED (SELECT token, s, base, u0 AS units FROM n),
    {chain}
    SELECT token, units AS rank_units,
           CAST(units AS DOUBLE) / {TR_UNIT} AS rank
    FROM it{TR_ITERS}
    ORDER BY rank_units DESC, token
    LIMIT {TR_TOP}
    """


@register(
    "textrank_keywords",
    oracle=_textrank_oracle_sql(),
    doc=f"TextRank keyword extraction: {TR_ITERS}-round weighted "
    "fixed-point PageRank over the token ADJACENCY graph (window-2 "
    "co-occurrence, support >= "
    f"{TR_MIN_CO}, canonical undirected) — one doc-keyed lead() window "
    "tokenizes and pairs, one map-side-combined edge rollup, then every "
    "iteration is exact BIGINT arithmetic on the O(observed-vocab-pairs) "
    "table (oracle unrolled CTE-for-CTE). The unsupervised keyword "
    "scorer, composed from the graph family's determinism machinery.",
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textrank(token_adjacency(load_table(spark, "documents", sf_dir)))

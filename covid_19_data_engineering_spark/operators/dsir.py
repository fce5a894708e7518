"""DSIR-style importance weighting for data selection (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

The method behind domain-targeted pretraining-data selection: featurize
every document as HASHED N-GRAM bucket counts, fit two bag-of-buckets
distributions — the TARGET domain you want more of and the RAW pool you
are selecting from — and score each raw document by its log importance
weight  sum_b count_b * (ln p_target[b] - ln p_raw[b]).  High-weight
documents look like the target domain; the paper then Gumbel-samples by
weight, which is the one step this operator intentionally replaces with
a deterministic top-k (randomized selection cannot be oracle-verified;
a production run seeds Gumbel noise on doc_id — same plan shape).

Determinism across engines (the lm_bigram_perplexity doctrine):
- grams (unigrams + bigrams of the single-space tokens) hash into
  ``N_BUCKETS`` buckets via the shared md5 fold — engine-portable;
- ln() agrees bit-for-bit between Spark and DuckDB on the same doubles
  (proven by the perplexity operator since round 3); each bucket's log
  ratio is then FLOORED to 1e-6 fixed-point units so the per-document
  sum is pure BIGINT — order-independent over any shuffle — and the
  final weight is one exact double division.

Scale shape: two corpus passes (target stats, raw stats) that rollup to
``n_buckets`` rows each; per-doc scoring explodes grams once and joins
the broadcast ratio table; the rollup shuffles on doc_id. The top-k is
TakeOrderedAndProject. At 100 TB the stats tables are still ``n_buckets``
rows — the whole method is embarrassingly parallel.

Resolution (round-5 verdict #7): the registered query runs 1024 buckets
— 64 was far below the paper's ~10^4 and made the importance weights
collision-coarse; 1024 keeps the ratio table broadcast-trivial (1024
rows at ANY corpus size) while a pytest pins that the extra resolution
actually changes the selected top-k vs the 64-bucket fold.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from covid_19_data_engineering_spark.operators.lineage import (
    truncate_eager as _truncate_eager,
)
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

N_BUCKETS = 1024
WEIGHT_UNIT = 1_000_000  # 1e-6 fixed point for the per-bucket log ratio
TARGET_SOURCE = "src0"   # the synthetic corpus's deterministic "domain"
TOP_K = 50


def _bucket(g: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Engine-portable gram bucket: md5-fold (first 8 hex) mod n_buckets."""
    return (F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
            % n_buckets)


def doc_gram_buckets(docs: DataFrame, text_col: str = "text",
                     n_buckets: int = N_BUCKETS) -> DataFrame:
    """(doc_id, bucket) one row per gram occurrence — unigrams + bigrams
    of the single-space tokenization."""
    tok = F.split(F.col(text_col), " ")
    grams = F.concat(
        F.filter(tok, lambda t: F.length(t) > 0),
        F.when(
            F.size(tok) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(tok) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(tok, i), F.element_at(tok, i + F.lit(1))
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    # _spread: the explode + per-gram md5 bucket is the CPU-dense map and
    # a local corpus is one parquet split (single-task otherwise; no-op
    # at scale) — the same starvation class fixed repo-wide in round 11
    from covid_19_data_engineering_spark.operators.vectors import _spread

    return _spread(docs).select(
        "doc_id", F.explode(grams).alias("g")
    ).select("doc_id", _bucket(F.col("g"), n_buckets).alias("b"))


def _bucket_dist(grams: DataFrame, n_buckets: int = N_BUCKETS) -> DataFrame:
    """(b, n) gram-occurrence counts with every bucket present (0-filled);
    add-1 smoothing happens in the ratio step."""
    spark = grams.sparkSession
    spine = spark.range(n_buckets).select(F.col("id").alias("b"))
    counts = grams.groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    return spine.join(counts, "b", "left").select(
        "b", F.coalesce("n", F.lit(0)).alias("n")
    )


def dsir_log_weights(raw: DataFrame, target: DataFrame,
                     n_buckets: int = N_BUCKETS) -> DataFrame:
    """Per-raw-document DSIR log importance weight:
    (doc_id, weight_units, log_weight)."""
    # the raw gram explode (the corpus-sized stage) feeds BOTH the raw
    # bucket distribution and the per-doc scoring — materialize it once
    raw_grams = doc_gram_buckets(raw, n_buckets=n_buckets) \
        .transform(_truncate_eager)
    # the bucket tables are n_buckets rows — materialize once; their
    # totals are two scalars, collected as bounded O(1) literals (avoids a
    # self-lineage crossJoin of t with its own aggregate)
    t = _bucket_dist(doc_gram_buckets(target, n_buckets=n_buckets),
                     n_buckets).select(
        "b", F.col("n").alias("nt")).transform(_truncate_eager)
    r = _bucket_dist(raw_grams, n_buckets).select(
        "b", F.col("n").alias("nr")).transform(_truncate_eager)
    n_t = t.agg(F.sum("nt")).first()[0] or 0
    n_r = r.agg(F.sum("nr")).first()[0] or 0
    ratio = (
        t.join(r, "b")
        .select(
            "b",
            F.floor(
                (
                    F.ln((F.col("nt") + 1).cast("double")
                         / F.lit(float(n_t + n_buckets)))
                    - F.ln((F.col("nr") + 1).cast("double")
                           / F.lit(float(n_r + n_buckets)))
                ) * WEIGHT_UNIT
            ).alias("ratio_units"),
        )
    )
    return (
        raw_grams
        .join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(F.sum("ratio_units").alias("weight_units"))
        .select(
            "doc_id", "weight_units",
            (F.col("weight_units").cast("double") / WEIGHT_UNIT)
            .alias("log_weight"),
        )
    )


def _dsir_oracle_sql(n_buckets: int = N_BUCKETS) -> str:
    bucket = ("list_reduce(list_transform(range(1, 9), "
              "i -> CAST(strpos('0123456789abcdef', substr(md5(g), i, 1)) "
              "AS BIGINT) - 1), (a, b) -> a * 16 + b) % " + str(n_buckets))
    grams = f"""
      SELECT doc_id, {bucket} AS b FROM (
        SELECT doc_id, unnest(
          list_concat(
            list_filter(string_split(text, ' '), t -> len(t) > 0),
            CASE WHEN len(string_split(text, ' ')) >= 2 THEN
              list_transform(range(1, len(string_split(text, ' '))),
                i -> string_split(text, ' ')[i] || ' ' ||
                     string_split(text, ' ')[i + 1])
            ELSE [] END
          )
        ) AS g FROM documents {{where}}
      )"""
    g_target = grams.format(where=f"WHERE source = '{TARGET_SOURCE}'")
    g_raw = grams.format(where=f"WHERE source != '{TARGET_SOURCE}'")
    return f"""
    WITH spine AS (SELECT unnest(range(0, {n_buckets})) AS b),
    gt AS MATERIALIZED ({g_target}),
    gr AS MATERIALIZED ({g_raw}),
    t AS (
      SELECT s.b, COALESCE(c.n, 0) AS nt FROM spine s
      LEFT JOIN (SELECT b, COUNT(*) AS n FROM gt GROUP BY b) c USING (b)
    ),
    r AS (
      SELECT s.b, COALESCE(c.n, 0) AS nr FROM spine s
      LEFT JOIN (SELECT b, COUNT(*) AS n FROM gr GROUP BY b) c USING (b)
    ),
    ratio AS (
      SELECT t.b,
             CAST(floor((
               ln(CAST(nt + 1 AS DOUBLE)
                  / ((SELECT SUM(nt) FROM t) + {n_buckets}))
               - ln(CAST(nr + 1 AS DOUBLE)
                    / ((SELECT SUM(nr) FROM r) + {n_buckets}))
             ) * {WEIGHT_UNIT}) AS BIGINT) AS ratio_units
      FROM t JOIN r USING (b)
    ),
    weights AS (
      SELECT doc_id,
             CAST(SUM(ratio_units) AS BIGINT) AS weight_units
      FROM gr JOIN ratio USING (b)
      GROUP BY doc_id
    )
    SELECT doc_id, weight_units,
           CAST(weight_units AS DOUBLE) / {WEIGHT_UNIT} AS log_weight
    FROM weights
    ORDER BY weight_units DESC, doc_id LIMIT {TOP_K}
    """


@register(
    "dsir_importance_selection",
    oracle=_dsir_oracle_sql(),
    doc=f"DSIR data selection (Xie et al. 2023): hashed unigram+bigram "
    f"bucket features ({N_BUCKETS} buckets — paper-scale resolution, the "
    f"ratio table stays broadcast-trivial at any corpus size), add-1 "
    f"smoothed target-vs-raw log ratios in 1e-6 fixed point, per-doc "
    f"BIGINT weight sums (order-independent), deterministic top-{TOP_K} "
    f"in place of the paper's Gumbel sampling. Target domain = source "
    f"'{TARGET_SOURCE}'.",
)
def dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    target = docs.where(F.col("source") == TARGET_SOURCE)
    raw = docs.where(F.col("source") != TARGET_SOURCE)
    return (
        dsir_log_weights(raw, target)
        .orderBy(F.col("weight_units").desc(), "doc_id")
        .limit(TOP_K)
    )

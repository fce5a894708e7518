"""Substring-level duplicate-span detection (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better").

Exact-substring dedup asks a finer question than document MinHash: *which
token spans inside a document also occur verbatim in some other document*,
and how long is the longest such span. The reference pipeline has no
analogue (it is warehouse ETL; SURVEY §2 C-extensions), but any
pretraining-data pipeline needs this to strip quoted boilerplate that
document-level near-dup misses.

Spark-first plan (NO suffix array, NO doc-doc join):

1. position-indexed K-token grams per document — a pure projection
   (``transform(sequence(...))`` + ``posexplode``), no shuffle;
2. cross-document frequency per gram text: ONE groupBy on the md5 of the
   gram (uniform key, no skew) counting *distinct* documents, so a phrase
   repeated inside a single document is not a duplicate span;
3. join back on the same gram key (re-uses the shuffle family), keeping
   per-position dup/not-dup flags;
4. gaps-and-islands per document: the longest run of consecutive duplicated
   positions is ``pos - row_number()`` over the dup positions — the classic
   islands trick, one window per doc_id.

A maximal run of R consecutive duplicated K-grams is a shared substring of
R + K - 1 tokens. Cost is O(total grams) with two gram-keyed shuffles and
one doc-keyed window — at 100 TB this is the same shape as the boilerplate
profiler (llmprep.py) and scales the same way; a suffix-array build would
need a global sort of every suffix, strictly worse on a cluster.

Only documents with >= K tokens produce grams; shorter docs are reported
with zero spans via the left join from the corpus.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from covid_19_data_engineering_spark.operators.dedup import _spread
from covid_19_data_engineering_spark.operators.lineage import (
    truncate_eager as _truncate_eager,
)
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

SPAN_K = 8          # tokens per gram
SPAN_FLAG_TOKENS = 30  # flag docs whose longest shared span >= this


def position_grams(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """(doc_id, pos, gram_md5) for every token position 0..n-k. Pure
    projection + posexplode — zero shuffle."""
    toks = F.split(F.col("text"), " ")
    # guard: sequence(1, n) with n < 1 would step DOWNWARD in Spark
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # _spread: locally the corpus parquet is ONE split — without it the
    # whole md5 gram pipeline runs in a single task (see dedup.py:_spread)
    return _spread(docs).select("doc_id", F.posexplode(grams).alias("pos", "gram"))


def dup_span_profile(docs: DataFrame, k: int = SPAN_K,
                     flag_tokens: int = SPAN_FLAG_TOKENS) -> DataFrame:
    """Per-document duplicated-span profile.

    Columns: doc_id, n_grams, dup_grams, longest_dup_span (tokens; 0 when no
    position's k-gram occurs in any other document), flag_dup_heavy.
    """
    grams = position_grams(docs, k)
    # distinct docs per gram — one uniform-key shuffle
    df_gram = grams.groupBy("gram").agg(
        F.countDistinct("doc_id").alias("n_docs"))
    flagged = (
        grams.join(df_gram, "gram")
        .select("doc_id", "pos", (F.col("n_docs") >= 2).alias("is_dup"))
        .transform(_truncate_eager)
    )
    # ^ three consumers (per-doc rollup, islands window, final join) would
    # each re-run the gram explode + df join without this materialization
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.col("is_dup").cast("long")).alias("dup_grams"),
    )
    # islands: consecutive dup positions share (pos - row_number)
    dup_pos = flagged.where("is_dup")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        dup_pos.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp").agg(F.count("*").alias("run"))
        .groupBy("doc_id").agg(F.max("run").alias("max_run"))
    )
    out = (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            F.coalesce(F.col("max_run") + (k - 1), F.lit(0)).alias("longest_dup_span"),
        )
        .withColumn("flag_dup_heavy", F.col("longest_dup_span") >= flag_tokens)
    )
    return out


@register(
    "dup_span_profile",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    gl AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(toks) - {SPAN_K - 2}, 1)),
               i -> md5(array_to_string(list_slice(toks, i, i + {SPAN_K - 1}), ' '))
             ) AS grams
      FROM t
    ),
    -- parallel unnests zip: (pos, gram) position-aligned, 0-based like
    -- Spark's posexplode
    g AS (
      SELECT doc_id,
             unnest(range(0, len(grams))) AS pos,
             unnest(grams) AS gram
      FROM gl
    ),
    df AS (SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram),
    flagged AS (
      SELECT g.doc_id, g.pos, df.n_docs >= 2 AS is_dup
      FROM g JOIN df USING (gram)
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams
      FROM flagged GROUP BY doc_id
    ),
    runs AS (
      SELECT doc_id, MAX(run) AS max_run FROM (
        SELECT doc_id, grp, COUNT(*) AS run FROM (
          SELECT doc_id, pos,
                 pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM flagged WHERE is_dup
        ) GROUP BY doc_id, grp
      ) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_grams, 0) AS n_grams,
           COALESCE(p.dup_grams, 0) AS dup_grams,
           COALESCE(r.max_run + {SPAN_K - 1}, 0) AS longest_dup_span,
           COALESCE(r.max_run + {SPAN_K - 1}, 0) >= {SPAN_FLAG_TOKENS}
             AS flag_dup_heavy
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN per_doc p USING (doc_id)
    LEFT JOIN runs r USING (doc_id)
    ORDER BY doc_id
    """,
    doc=f"Exact-substring duplicate spans per doc (Lee-et-al-style): longest "
    f"run of consecutive {SPAN_K}-token grams shared verbatim with another "
    "document, via gram-keyed document frequency + gaps-and-islands. No "
    "doc-doc join, no suffix array.",
)
def dup_span_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dup_span_profile(docs).orderBy("doc_id")


# --- span scrubbing (the removal step) ---------------------------------------


def dup_span_scrub(docs: DataFrame, k: int = SPAN_K,
                   flag_tokens: int = SPAN_FLAG_TOKENS) -> DataFrame:
    """REMOVE long duplicated spans from the text — the action step of
    exact-substring dedup (Lee et al. cut the shared substring, not the
    whole document). A token is dropped when it is covered by any k-gram
    belonging to a duplicated RUN of >= flag_tokens total tokens (short
    incidental matches survive; only long verbatim boilerplate is cut).

    Plan: re-uses the position/df/islands machinery, keeps only positions
    in long runs, folds them into ONE boolean array per doc (sorted
    collect_list — grouped on doc_id, the same shuffle family as the
    profile), then token filtering is a pure array expression: token j is
    covered iff any gram flag in [j-k, j-1] is set. Output is the cleaned
    token count and an md5 of the rebuilt text (hash-stable evidence the
    reconstruction is identical across engines).
    """
    min_run = flag_tokens - k + 1
    grams = position_grams(docs, k)
    df_gram = grams.groupBy("gram").agg(F.countDistinct("doc_id").alias("n_docs"))
    dup_pos = (
        grams.join(df_gram, "gram")
        .where(F.col("n_docs") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup_pos.withColumn("grp", F.col("pos") - F.row_number().over(w))
    long_pos = (
        runs.withColumn("run", F.count("*").over(
            Window.partitionBy("doc_id", "grp")))
        .where(F.col("run") >= min_run)
        .select("doc_id", "pos")
    )
    flags = long_pos.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("cut_pos"))
    toks = F.split(F.col("text"), " ")
    # token j (1-based) is covered iff any cut gram position g (0-based)
    # with g <= j-1 <= g+k-1, i.e. g in [j-k, j-1]
    covered = lambda j: F.exists(
        F.col("cut_pos"),
        lambda g: (g >= j - k) & (g <= j - 1),
    )
    kept = F.filter(
        F.transform(F.sequence(F.lit(1), F.size(toks)),
                    lambda j: F.struct(j.alias("j"),
                                       F.element_at(toks, j).alias("t"))),
        lambda s: ~covered(s["j"]),
    )
    out = (
        docs.join(flags, "doc_id", "left")
        .select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.when(F.col("cut_pos").isNull(), F.lit(0))
            .otherwise(F.size(toks) - F.size(kept)).alias("n_removed"),
            F.md5(
                F.when(F.col("cut_pos").isNull(), F.col("text")).otherwise(
                    F.concat_ws(" ", F.transform(kept, lambda s: s["t"]))
                )
            ).alias("cleaned_fp"),
        )
    )
    return out


@register(
    "dup_span_scrub",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    gl AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(toks) - {SPAN_K - 2}, 1)),
               i -> md5(array_to_string(list_slice(toks, i, i + {SPAN_K - 1}), ' '))
             ) AS grams
      FROM t
    ),
    g AS (
      SELECT doc_id,
             unnest(range(0, len(grams))) AS pos,
             unnest(grams) AS gram
      FROM gl
    ),
    df AS (SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram),
    dup_pos AS (
      SELECT g.doc_id, g.pos FROM g JOIN df USING (gram) WHERE df.n_docs >= 2
    ),
    runs AS (
      SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY doc_id, grp) AS run
      FROM (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM dup_pos
      )
    ),
    long_pos AS (
      SELECT doc_id, pos FROM runs
      WHERE run >= {SPAN_FLAG_TOKENS - SPAN_K + 1}
    ),
    flags AS (
      SELECT doc_id, list_sort(list(pos)) AS cut_pos
      FROM long_pos GROUP BY doc_id
    )
    SELECT d.doc_id,
           len(t.toks) AS n_tokens,
           CASE WHEN f.cut_pos IS NULL THEN 0
                ELSE len(t.toks) - len(kept.k_toks) END AS n_removed,
           -- COALESCE: DuckDB array_to_string([]) is NULL, Spark
           -- concat_ws of an empty array is '' — align on ''
           md5(CASE WHEN f.cut_pos IS NULL THEN d.text
                    ELSE COALESCE(array_to_string(kept.k_toks, ' '), '') END)
             AS cleaned_fp
    FROM documents d
    JOIN t USING (doc_id)
    LEFT JOIN flags f USING (doc_id)
    LEFT JOIN LATERAL (
      SELECT list_transform(
               list_filter(
                 list_transform(range(1, len(t.toks) + 1),
                                j -> {{'j': j, 't': t.toks[j]}}),
                 s -> len(list_filter(COALESCE(f.cut_pos, []),
                          g -> g >= s.j - {SPAN_K} AND g <= s.j - 1)) = 0
               ),
               s -> s.t
             ) AS k_toks
    ) kept ON TRUE
    ORDER BY doc_id
    """,
    doc=f"Exact-substring SCRUB: remove tokens covered by duplicated runs "
    f"of >= {SPAN_FLAG_TOKENS} tokens (the Lee-et-al removal step); output "
    "is the removed-token count plus an md5 of the rebuilt text so both "
    "engines prove byte-identical reconstruction.",
)
def dup_span_scrub_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dup_span_scrub(docs).orderBy("doc_id")

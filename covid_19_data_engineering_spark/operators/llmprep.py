"""Training-data preparation operators over ``documents``: chunking,
benchmark-contamination checks, repetition profiling, cross-snapshot
incremental dedup, and quantile-based quality filtering.

These extend the reference's ETL surface (load_tables_daily.py's
validate-and-promote loop) to the LLM-corpus operations a 100 TB pipeline
needs. Design rules, same as operators/textstats.py:

- pure JVM column expressions wherever the semantics allow (split /
  higher-order array functions / regexp) — per-row work is a narrow map,
  zero shuffles, and scales embarrassingly;
- when a shuffle is required (contamination join, cross-snapshot band
  join), it is equi-keyed on a uniform hash-like key (n-gram text, band
  bucket), never all-pairs;
- every stage is deterministic and engine-portable so the DuckDB oracle
  replays it exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from covid_19_data_engineering_spark.operators.dedup import (
    _spread,
    exact_text_collapse,
    minhash_agree_sql,
    minhash_agreement,
    minhash_bands,
    minhash_pipeline_ctes,
)
from covid_19_data_engineering_spark.operators.lineage import (
    truncate as _truncate,
    truncate_eager as _truncate_eager,
)
from covid_19_data_engineering_spark.operators.textstats import (
    quality_score_col,
    quality_score_sql,
)
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

# --- fixed-window chunking ---------------------------------------------------

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


def chunk_documents(docs: DataFrame, chunk: int = CHUNK_TOKENS,
                    stride: int = CHUNK_STRIDE) -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    the standard pretraining sequence-prep step. One narrow projection +
    posexplode: no shuffle, no Python, output rows ~ n_tokens/stride per
    doc. At 100 TB this is a pure map stage that AQE never has to touch."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    # chunk starts: 0, stride, 2*stride, ... (last window covers the tail)
    n_chunks = (F.floor((F.greatest(n - chunk, F.lit(0)) + stride - 1) / stride) + 1).cast("int")
    starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    exploded = docs.select(
        "doc_id", F.posexplode(starts).alias("chunk_id", "start"), toks.alias("toks")
    )
    ck = F.slice(F.col("toks"), F.col("start") + 1, chunk)
    return exploded.select(
        "doc_id",
        "chunk_id",
        F.size(ck).alias("n_tokens"),
        F.array_join(ck, " ").alias("chunk_text"),
    )


@register(
    "doc_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    c AS (
      SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
             list_slice(toks, i * {CHUNK_STRIDE} + 1,
                        i * {CHUNK_STRIDE} + {CHUNK_TOKENS}) AS ck
      FROM t, unnest(range(0,
        (greatest(len(toks) - {CHUNK_TOKENS}, 0) + {CHUNK_STRIDE} - 1)
          // {CHUNK_STRIDE} + 1)) AS u(i)
    )
    SELECT doc_id, chunk_id, CAST(len(ck) AS INTEGER) AS n_tokens,
           array_to_string(ck, ' ') AS chunk_text
    FROM c ORDER BY doc_id, chunk_id
    """,
    doc=f"Fixed-window document chunking ({CHUNK_TOKENS}-token windows, "
    f"stride {CHUNK_STRIDE}): pretraining sequence prep as a pure map stage.",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return chunk_documents(docs).orderBy("doc_id", "chunk_id")


# --- benchmark contamination -------------------------------------------------

_EVAL_MOD = 50  # doc_id % 50 == 0 plays the held-out benchmark set


def _ngrams_distinct(text: Column, k: int = 3) -> Column:
    toks = F.split(text, " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
    )


def contamination_report(corpus: DataFrame, eval_set: DataFrame,
                         k: int = 3) -> DataFrame:
    """Per-corpus-doc n-gram overlap against a benchmark set: the decontam
    step every training pipeline runs before a data release. The eval side
    (benchmarks are tiny) collapses to distinct n-grams and is broadcast;
    the corpus explodes its distinct n-grams once and semi-joins — one
    map-side join, one groupBy on doc_id. No corpus self-join anywhere."""
    eval_grams = (
        eval_set.select(F.explode(_ngrams_distinct(F.col("text"), k)).alias("gram"))
        .distinct()
    )
    # materialize the gram array BEFORE exploding: a sibling size(<expr>)
    # next to explode(<expr>) is re-evaluated once per exploded OUTPUT row,
    # so the O(tokens) transform ran O(grams) times per doc (~100x at
    # sf0.1; same codegen trap the minhash _h materialization documents)
    corp = corpus.select(
        "doc_id", _ngrams_distinct(F.col("text"), k).alias("_grams")
    ).select(
        "doc_id",
        F.size("_grams").alias("total_ngrams"),
        F.explode("_grams").alias("gram"),
    )
    hits = (
        corp.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id", "total_ngrams")
        .agg(F.count("*").alias("matched_ngrams"))
    )
    return hits.select(
        "doc_id",
        "total_ngrams",
        "matched_ngrams",
        F.round(F.col("matched_ngrams") / F.col("total_ngrams"), 4).alias("overlap_frac"),
    )


@register(
    "benchmark_contamination",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
             )) AS grams
      FROM documents
    ),
    eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % {_EVAL_MOD} = 0),
    cg AS (SELECT doc_id, len(grams) AS total_ngrams, unnest(grams) AS gram
           FROM g WHERE doc_id % {_EVAL_MOD} != 0)
    SELECT doc_id, CAST(total_ngrams AS INTEGER) AS total_ngrams,
           count(*) AS matched_ngrams,
           ROUND(CAST(count(*) AS DOUBLE) / total_ngrams, 4) AS overlap_frac
    FROM cg JOIN eg USING (gram)
    GROUP BY doc_id, total_ngrams
    ORDER BY doc_id
    """,
    doc="Benchmark-contamination check: per-doc distinct 3-gram overlap "
    "fraction against a held-out eval set (doc_id % 50 == 0), eval n-grams "
    "broadcast.",
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    eval_set = docs.where(F.col("doc_id") % _EVAL_MOD == 0)
    corpus = docs.where(F.col("doc_id") % _EVAL_MOD != 0)
    return contamination_report(corpus, eval_set).orderBy("doc_id")


# --- repetition profiling ----------------------------------------------------

_REP_TOP_BIGRAM = 0.10   # most-frequent bigram claims >=10% of all bigrams
_REP_DISTINCT = 0.45     # fewer than 45% of tokens are distinct


def repetition_profile(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals, computed entirely inside one row:
    distinct-token ratio and the mass of the single most frequent bigram.
    Row-local higher-order functions keep it a narrow map — no shuffle.

    The top-bigram count runs as an EXPLODED (doc, bigram) rollup + a
    per-doc max — whole-stage-codegen aggregates over B total rows,
    shuffled on doc_id exactly like every other token-keyed text op.
    The original distinct x filter formulation — count each distinct
    bigram by rescanning the whole list — was O(D*B) of interpreted
    lambda evals per row and cost 304 SECONDS at sf0.1; it was
    invisible while this query sat in the untimed set (round-9 verdict
    #1's exact scenario, caught by the first derived-extras bench run).
    A sort+run-length in-row fold fixed the asymptote but still paid
    ~10s of interpreted-HOF overhead inside the full bench run; the
    exploded rollup removes the array HOFs entirely (~2.5s isolated,
    GC-pressure-immune) and scales the same way."""
    from pyspark.sql import Window

    comps = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = comps.select(
        "doc_id", "tok",
        F.lead("tok").over(w).alias("nxt"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("nt"),
    )
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
    )
    # gram rows: true adjacent pairs; a single-token doc keeps its one
    # bare-token slot (the array formulation's greatest(n-1, 1) slot,
    # where element_at past the end yielded NULL and concat_ws skipped it)
    top = (
        grams.where(F.col("nxt").isNotNull() | (F.col("nt") == 1))
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("g"))
        .groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id").agg(F.max("c").alias("top_count"))
    )
    joined = per_doc.join(top, "doc_id")
    n_bigrams = F.greatest(F.col("n_tokens") - 1, F.lit(1))
    distinct_ratio = F.round(F.col("n_distinct") / F.col("n_tokens"), 4)
    top_frac = F.round(F.col("top_count") / n_bigrams, 4)
    return joined.select(
        "doc_id", "n_tokens",
        distinct_ratio.alias("distinct_ratio"),
        top_frac.alias("top_bigram_frac"),
        ((top_frac >= _REP_TOP_BIGRAM)
         | (distinct_ratio <= _REP_DISTINCT)).alias("is_repetitive"),
    )


@register(
    "doc_repetition_profile",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (
      SELECT doc_id, toks,
             list_transform(range(1, greatest(len(toks), 2)),
                            i -> toks[i] || ' ' || toks[i + 1]) AS bg
      FROM t
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS distinct_ratio,
           ROUND(CAST(list_max(list_transform(list_distinct(bg),
                   g -> len(list_filter(bg, x -> x = g)))) AS DOUBLE) / len(bg), 4)
             AS top_bigram_frac,
           (ROUND(CAST(list_max(list_transform(list_distinct(bg),
                   g -> len(list_filter(bg, x -> x = g)))) AS DOUBLE) / len(bg), 4)
              >= {_REP_TOP_BIGRAM}
            OR ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
              <= {_REP_DISTINCT}) AS is_repetitive
    FROM b ORDER BY doc_id
    """,
    doc="Gopher-style repetition profile: distinct-token ratio + top-bigram "
    "mass per document, flagged against fixed thresholds. Pure map stage.",
)
def doc_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return repetition_profile(docs).orderBy("doc_id")


# --- cross-snapshot incremental dedup ----------------------------------------

_SNAPSHOT_SPLIT = 250   # doc_id < split plays the already-ingested snapshot
_XSNAP_THRESHOLD = 0.3


def cross_snapshot_near_dups(new: DataFrame, snapshot: DataFrame,
                             threshold: float = _XSNAP_THRESHOLD) -> DataFrame:
    """New-batch docs that near-duplicate an already-ingested snapshot doc:
    the incremental form of minhash dedup. Each side computes bands
    independently; the join is new-bands x snapshot-bands on (band, bucket)
    — the new batch (small) never self-joins and the historical corpus
    (huge) is touched once. This is the shape that keeps daily ingests
    O(new x collisions) instead of O(corpus^2).

    Both sides pre-collapse exact duplicates (round-4, same hot-bucket fix
    as the self-join path): m identical boilerplate pages in the snapshot x
    k copies in the batch previously emitted m*k band-collision rows per
    band; the rep band join emits ONE, and the member expansion joins
    reconstruct the m*k output pairs — output-proportional work, never
    collision-proportional."""
    n_reps, n_members = exact_text_collapse(new)
    s_reps, s_members = exact_text_collapse(snapshot)
    nb = minhash_bands(n_reps).alias("n")
    sb = minhash_bands(s_reps).alias("s")
    rep_pairs = (
        nb.join(
            sb,
            (F.col("n.band") == F.col("s.band")) & (F.col("n.bucket") == F.col("s.bucket")),
        )
        .select(
            F.col("s.doc_id").alias("_s_rep"),
            F.col("n.doc_id").alias("_n_rep"),
            minhash_agreement(F.col("n.sig"), F.col("s.sig")).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .distinct()
    )
    return (
        rep_pairs.join(
            s_members.select(F.col("doc_id").alias("snapshot_doc_id"),
                             F.col("rep").alias("_s_rep")),
            "_s_rep",
        )
        .join(
            n_members.select(F.col("doc_id").alias("new_doc_id"),
                             F.col("rep").alias("_n_rep")),
            "_n_rep",
        )
        .select("snapshot_doc_id", "new_doc_id", "est_jaccard")
    )


@register(
    "cross_snapshot_dedup",
    oracle=f"""
    WITH {minhash_pipeline_ctes()}
    SELECT DISTINCT a.doc_id AS snapshot_doc_id, b.doc_id AS new_doc_id,
           ROUND(CAST({minhash_agree_sql()} AS DOUBLE) / 32, 4) AS est_jaccard
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket
     AND a.doc_id < {_SNAPSHOT_SPLIT} AND b.doc_id >= {_SNAPSHOT_SPLIT}
    WHERE ROUND(CAST({minhash_agree_sql()} AS DOUBLE) / 32, 4) >= {_XSNAP_THRESHOLD}
    ORDER BY snapshot_doc_id, new_doc_id
    """,
    doc="Incremental dedup: new-batch docs (doc_id >= 250) near-duplicating "
    "an already-ingested snapshot doc, via two-sided minhash band join — "
    "the new batch never self-joins and the snapshot is scanned once.",
)
def cross_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    snapshot = docs.where(F.col("doc_id") < _SNAPSHOT_SPLIT)
    new = docs.where(F.col("doc_id") >= _SNAPSHOT_SPLIT)
    return cross_snapshot_near_dups(new, snapshot).orderBy(
        "snapshot_doc_id", "new_doc_id"
    )


# --- boilerplate n-gram profiling --------------------------------------------

_BOILER_K = 4        # n-gram width for boilerplate detection
_BOILER_MIN_DOCS = 3  # gram present in >= this many docs counts as boilerplate
_BOILER_FLAG = 0.5    # doc flagged when >= 50% of its grams are boilerplate


def boilerplate_profile(docs: DataFrame, k: int = _BOILER_K,
                        min_docs: int = _BOILER_MIN_DOCS) -> DataFrame:
    """Corpus-common n-gram (boilerplate) exposure per document — the
    RefinedWeb/CCNet-style signal for nav bars, license headers, and template
    text that repeat across many pages. Document frequency per distinct
    k-gram is ONE groupBy on the gram text (a uniform key — no skew), the
    join back is the same equi-key, and the final per-doc rollup shuffles on
    doc_id. Never a doc-doc self-join: cost is O(total distinct grams), not
    O(docs^2)."""
    # _spread + checkpoint: the per-row shingle explode is the CPU-dense
    # map (split -> k-gram transform -> array_distinct) and a local corpus
    # is ONE parquet split; both the DF aggregate and the join side read
    # the gram table, so materialize it once (lazy — the first consumer's
    # job pays it) instead of running the explode twice in one task
    grams = _spread(docs).select(
        "doc_id", F.explode(_ngrams_distinct(F.col("text"), k)).alias("gram")
    ).transform(_truncate)
    gram_df = grams.groupBy("gram").agg(F.count("*").alias("df"))
    per_doc = (
        grams.join(gram_df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total_grams"),
            F.sum(F.when(F.col("df") >= min_docs, 1).otherwise(0)).alias("boiler_grams"),
        )
    )
    frac = F.round(F.col("boiler_grams") / F.col("total_grams"), 4)
    return per_doc.select(
        "doc_id",
        "total_grams",
        "boiler_grams",
        frac.alias("boiler_frac"),
        (frac >= _BOILER_FLAG).alias("is_boilerplate_heavy"),
    )


@register(
    "boilerplate_ngram_profile",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - {_BOILER_K - 2}, 2)),
               i -> array_to_string(list_slice(toks, i, i + {_BOILER_K - 1}), ' ')
             )) AS grams
      FROM t
    ),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    df AS (SELECT gram, count(*) AS df FROM e GROUP BY gram)
    SELECT e.doc_id,
           count(*) AS total_grams,
           CAST(sum(CASE WHEN df.df >= {_BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
                AS BIGINT) AS boiler_grams,
           ROUND(CAST(sum(CASE WHEN df.df >= {_BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS boiler_frac,
           ROUND(CAST(sum(CASE WHEN df.df >= {_BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) >= {_BOILER_FLAG}
             AS is_boilerplate_heavy
    FROM e JOIN df USING (gram)
    GROUP BY e.doc_id
    ORDER BY e.doc_id
    """,
    doc=f"Boilerplate exposure per doc: fraction of its distinct {_BOILER_K}-"
    f"grams that appear in >= {_BOILER_MIN_DOCS} documents (document "
    "frequency via one gram-keyed groupBy; no doc-doc self-join).",
)
def boilerplate_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return boilerplate_profile(docs).orderBy("doc_id")


# --- data-mixture planning (temperature sampling) -----------------------------

_MIX_BUDGET_FRAC = 0.5  # overall token budget = 50% of the corpus


def mixture_plan(docs: DataFrame, budget_frac: float = _MIX_BUDGET_FRAC) -> DataFrame:
    """Per-source sampling plan for a target token budget with temperature
    tau=0.5 (multilingual-style sqrt re-weighting: small sources are
    up-weighted relative to their raw share, large sources down-weighted).
    The corpus collapses to O(sources) rows in one aggregation; totals come
    from a single-row aggregate broadcast back — the plan never reshuffles
    the corpus. Determinism: sqrt weights are quantized to exact integer
    micro-units BEFORE the cross-source sum, so every later double op
    divides identical integers on both engines."""
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    sq = F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000).cast("long")
    weighted = per_src.withColumn("sq_units", sq)
    totals = weighted.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("sq_units").alias("tot_sq")
    )
    j = weighted.crossJoin(F.broadcast(totals))
    raw_share = F.floor(
        F.col("n_tokens") / F.col("tot_tokens") * 1000000 + F.lit(0.5)
    ) / 1000000.0
    temp_share = F.floor(
        F.col("sq_units") / F.col("tot_sq") * 1000000 + F.lit(0.5)
    ) / 1000000.0
    budget = F.floor(F.col("tot_tokens") * F.lit(budget_frac)).cast("long")
    rate = F.least(
        F.lit(1.0),
        F.floor(temp_share * budget / F.col("n_tokens") * 1000000 + F.lit(0.5))
        / 1000000.0,
    )
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        raw_share.alias("raw_share"),
        temp_share.alias("temp_share"),
        rate.alias("sampling_rate"),
        F.floor(rate * F.col("n_tokens")).cast("long").alias("target_tokens"),
    )


@register(
    "data_mixture_plan",
    oracle=f"""
    WITH per_src AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
                  AS sq_units
      FROM per_src
    ),
    t AS (SELECT sum(n_tokens) AS tot_tokens, sum(sq_units) AS tot_sq FROM w)
    SELECT source, n_docs, n_tokens,
           floor(CAST(n_tokens AS DOUBLE) / tot_tokens * 1000000 + 0.5) / 1000000.0
             AS raw_share,
           floor(CAST(sq_units AS DOUBLE) / tot_sq * 1000000 + 0.5) / 1000000.0
             AS temp_share,
           least(1.0, floor(
             (floor(CAST(sq_units AS DOUBLE) / tot_sq * 1000000 + 0.5) / 1000000.0)
             * CAST(floor(tot_tokens * {_MIX_BUDGET_FRAC}) AS BIGINT)
             / n_tokens * 1000000 + 0.5) / 1000000.0)
             AS sampling_rate,
           CAST(floor(least(1.0, floor(
             (floor(CAST(sq_units AS DOUBLE) / tot_sq * 1000000 + 0.5) / 1000000.0)
             * CAST(floor(tot_tokens * {_MIX_BUDGET_FRAC}) AS BIGINT)
             / n_tokens * 1000000 + 0.5) / 1000000.0) * n_tokens) AS BIGINT)
             AS target_tokens
    FROM w CROSS JOIN t
    ORDER BY source
    """,
    doc="Data-mixture planner: per-source sampling rates hitting a 50%-of-"
    "corpus token budget under tau=0.5 temperature re-weighting (sqrt "
    "shares). Corpus collapses to O(sources) rows; totals broadcast back.",
)
def data_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return mixture_plan(docs).orderBy("source")


# --- PII scrubbing ------------------------------------------------------------

# Patterns are RE2-safe (no backrefs/lookaround) so Spark (Java regex) and
# DuckDB (RE2) agree; ordered longest-first so e.g. an SSN is taken before
# its digit runs.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\d{3}-\d{2}-\d{4}"),
    ("phone", r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}"),
    ("digits", r"\d{2,}"),
)


def scrub_pii(df: DataFrame, col: str) -> DataFrame:
    """Redact PII-shaped spans in ``col`` (emails, SSNs, phones, then any
    leftover multi-digit runs) and count the redactions per category.
    A chain of JVM regexp_replace/regexp_count expressions — a pure map
    stage inside whole-stage codegen, no Python, no shuffle; at 100 TB this
    is scan-bound like every other narrow transform."""
    out = df
    scrubbed = F.col(col)
    for name, pat in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(scrubbed, F.lit(pat)))
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return out.withColumn("scrubbed", scrubbed)


@register(
    "pii_scrub_events",
    oracle="""
    WITH s AS (
      SELECT event_type,
             len(regexp_extract_all(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
             regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
      FROM events
    ),
    s2 AS (
      SELECT event_type, n_email,
             len(regexp_extract_all(t1, '\\d{3}-\\d{2}-\\d{4}')) AS n_ssn,
             regexp_replace(t1, '\\d{3}-\\d{2}-\\d{4}', '<SSN>', 'g') AS t2
      FROM s
    ),
    s3 AS (
      SELECT event_type, n_email, n_ssn,
             len(regexp_extract_all(t2, '\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}')) AS n_phone,
             regexp_replace(t2, '\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}', '<PHONE>', 'g') AS t3
      FROM s2
    ),
    s4 AS (
      SELECT event_type, n_email, n_ssn, n_phone,
             len(regexp_extract_all(t3, '\\d{2,}')) AS n_digits,
             regexp_replace(t3, '\\d{2,}', '<DIGITS>', 'g') AS scrubbed
      FROM s3
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(n_email + n_ssn + n_phone + n_digits) AS BIGINT)
             AS total_redactions,
           CAST(sum(CASE WHEN n_email + n_ssn + n_phone + n_digits > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS events_with_pii,
           count(DISTINCT scrubbed) AS distinct_scrubbed_forms
    FROM s4
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="PII scrub over events.props: chained email/SSN/phone/digit-run "
    "redaction (RE2-safe patterns, identical in Java regex), rolled up per "
    "event type. The scrub itself is a shuffle-free JVM map; only the tiny "
    "per-type rollup shuffles.",
)
def pii_scrub_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    s = scrub_pii(ev, "props")
    total = (
        F.col("n_email") + F.col("n_ssn") + F.col("n_phone") + F.col("n_digits")
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(total).alias("total_redactions"),
            F.sum(F.when(total > 0, 1).otherwise(0)).alias("events_with_pii"),
            F.countDistinct("scrubbed").alias("distinct_scrubbed_forms"),
        )
        .orderBy("event_type")
    )


# --- quantile quality filter -------------------------------------------------


def quality_quantile_keep(docs: DataFrame, q: float = 0.5) -> DataFrame:
    """Keep documents strictly above their language's quality quantile.
    The per-lang quantile is an exact interpolated percentile over the
    (already ROUNDed) composite score; the tiny per-lang threshold table is
    broadcast back, so the corpus is scanned twice but never shuffled.
    At 100 TB swap percentile for approx_percentile on a sample — the plan
    shape (aggregate to thresholds, broadcast, filter) is unchanged."""
    scored = docs.select("doc_id", "lang", quality_score_col(F.col("text")).alias("quality"))
    med = scored.groupBy("lang").agg(
        F.expr(f"percentile(quality, {q})").alias("q_threshold")
    )
    return (
        scored.join(F.broadcast(med), "lang")
        .where(F.col("quality") > F.col("q_threshold"))
        .select("doc_id", "lang", "quality")
    )


@register(
    "quality_quantile_filter",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, lang, {quality_score_sql()} AS quality FROM documents
    ),
    m AS (SELECT lang, quantile_cont(quality, 0.5) AS med FROM q GROUP BY lang)
    SELECT q.doc_id, q.lang, q.quality
    FROM q JOIN m USING (lang)
    WHERE q.quality > m.med
    ORDER BY doc_id
    """,
    doc="Per-language quality gate: keep docs strictly above their "
    "language's median composite quality score (exact interpolated "
    "percentile, thresholds broadcast).",
)
def quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return quality_quantile_keep(docs).orderBy("doc_id")


# --- bigram language-model perplexity scoring --------------------------------


def lm_bigram_scores(docs: DataFrame, text_col: str = "text",
                     key_col: str = "doc_id") -> DataFrame:
    """Per-document negative log-likelihood under a corpus-trained bigram LM
    with add-one smoothing — the CCNet-style statistical quality filter
    (docs that look unlike the corpus score high; boilerplate/templated docs
    score low).

    P(w2|w1) = (C(w1,w2) + 1) / (C(w1) + V), where C(w1) is the context
    count derived from the bigram table itself and V is the corpus distinct
    token count. Score = mean over the doc's bigram OCCURRENCES (with
    multiplicity) of -ln P.

    100 TB posture — the textbook CCNet two-pass shape, explicitly bounded
    at TWO corpus scans: pass 1 tokenizes once and collapses to per-doc
    bigram counts (``docbi``), which is eagerly truncated — it is
    the algorithm's working set, and every downstream table (global counts,
    contexts, the scoring join) derives from the checkpoint instead of
    re-tokenizing the corpus per branch (the naive DAG re-scanned the
    corpus 4x because the broadcast probe side defeats exchange reuse);
    pass 2 is the vocabulary count. All joins are equi-keyed on (w1,w2);
    the rollup shuffles once on doc_id. Never a doc-doc self-join. On a
    cluster, ``lineage.set_reliable_checkpoint_dir`` makes the truncate a
    reliable checkpoint() if executor loss matters.

    Determinism across engines: each -ln P quantizes to an exact BIGINT
    in 1e-6 units (libm ulp differences die at the quantization), the
    multiplicity-weighted mean then SUMS INTEGERS — fully order-
    independent, where a sum of rounded doubles still flipped the 4th
    decimal on boundary docs when AQE changed the partition order (the
    r13 lm_kneser_ney sf0.1 rotation flake) — and one final double
    division is rounded to 4.
    """
    toks = docs.select(F.col(key_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("t"))
    docbi = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))")
            ).alias("b"),
        )
        .groupBy("doc_id", "b.w1", "b.w2")
        .agg(F.count(F.lit(1)).alias("c_doc"))
        .transform(_truncate_eager)
    )
    cnt = docbi.groupBy("w1", "w2").agg(F.sum("c_doc").alias("c"))
    ctx = cnt.groupBy("w1").agg(F.sum("c").alias("cw"))
    vocab = toks.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    probs = (
        cnt.join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .selectExpr(
            "w1", "w2",
            "CAST(ROUND(-ln((c + 1) / (cw + v)) * 1000000, 0) AS BIGINT)"
            " AS nll_u",
        )
    )
    return (
        docbi.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("c_doc").alias("n_bigrams"),
            F.expr("ROUND(CAST(SUM(nll_u * c_doc) AS DOUBLE)"
                   " / (CAST(1000000 AS DOUBLE) * SUM(c_doc)), 4)")
            .alias("avg_nll"),
        )
    )


@register(
    "lm_bigram_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> {'w1': t[i], 'w2': t[i + 1]}),
                    recursive := true)
      FROM toks WHERE len(t) >= 2
    ),
    docbi AS (SELECT doc_id, w1, w2, COUNT(*) AS c_doc FROM bi GROUP BY 1, 2, 3),
    cnt AS (SELECT w1, w2, SUM(c_doc) AS c FROM docbi GROUP BY 1, 2),
    ctx AS (SELECT w1, SUM(c) AS cw FROM cnt GROUP BY 1),
    vocab AS (
      SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT unnest(t) AS tok FROM toks)
    ),
    probs AS (
      SELECT w1, w2,
             CAST(ROUND(-ln((c + 1) / (cw + v)) * 1000000, 0) AS BIGINT)
               AS nll_u
      FROM cnt JOIN ctx USING (w1) CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(SUM(c_doc) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(nll_u * c_doc) AS DOUBLE)
                 / (1000000.0e0 * SUM(c_doc)), 4) AS avg_nll
    FROM docbi JOIN probs USING (w1, w2)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Bigram-LM perplexity scoring (CCNet-style statistical quality "
    "filter): per-doc mean negative log-likelihood under an add-one-"
    "smoothed bigram model trained on the corpus itself. Counts collapse "
    "map-side, scoring join is equi-keyed on (w1,w2), rollup shuffles "
    "once on doc_id.",
)
def lm_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return lm_bigram_scores(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# Pairwise source-overlap matrix: which sources share content? The
# contamination check benchmark_contamination runs doc-vs-eval-set; this is
# the source-vs-source version a mixture builder uses to spot mirrored /
# re-crawled corpora before double-weighting the same text.
# --------------------------------------------------------------------------


def source_overlap_matrix(docs: DataFrame, k: int = 3) -> DataFrame:
    """Jaccard overlap of distinct ``k``-gram sets between every source
    pair — (source_a, source_b, shared_grams, grams_a, grams_b, jaccard).

    100 TB shape: the corpus collapses to distinct (source, gram) rows in
    one map-side-combined distinct — after that nothing touches documents
    again. The self-join is keyed on gram with per-key fanout bounded by
    the SOURCE COUNT (a gram can pair at most S^2/2 ways no matter how
    many billions of documents contain it), so candidate volume is
    O(distinct grams * S^2), never O(docs^2). Per-source totals broadcast.
    """
    sg = docs.select(
        "source",
        F.explode(_ngrams_distinct(F.col("text"), k)).alias("gram"),
    ).distinct()
    per_src = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    pairs = (
        sg.alias("a").join(sg.alias("b"), "gram")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(F.col("a.source").alias("source_a"),
                 F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    pa = per_src.select(F.col("source").alias("source_a"),
                        F.col("n_grams").alias("grams_a"))
    pb = per_src.select(F.col("source").alias("source_b"),
                        F.col("n_grams").alias("grams_b"))
    return (
        pairs.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a", "source_b", "shared_grams", "grams_a", "grams_b",
            F.round(F.expr("CAST(shared_grams AS DOUBLE) / "
                           "(grams_a + grams_b - shared_grams)"), 6)
            .alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "source_overlap_matrix",
    oracle="""
    WITH g AS (
      SELECT source, list_distinct(list_transform(
        range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
        i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2),
                             ' '))) AS grams
      FROM documents
    ),
    sg AS (SELECT DISTINCT source, unnest(grams) AS gram FROM g),
    ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
           FROM sg GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS shared_grams
      FROM sg a JOIN sg b USING (gram)
      WHERE a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, shared_grams,
           pa.n_grams AS grams_a, pb.n_grams AS grams_b,
           ROUND(CAST(shared_grams AS DOUBLE)
                 / (pa.n_grams + pb.n_grams - shared_grams), 6) AS jaccard
    FROM pairs
    JOIN ps pa ON pa.source = source_a
    JOIN ps pb ON pb.source = source_b
    ORDER BY source_a, source_b
    """,
    doc="Pairwise source-overlap matrix: Jaccard of distinct 3-gram sets "
    "for every source pair — the mirrored/re-crawled-corpus detector a "
    "mixture builder runs before double-weighting the same text. One "
    "distinct (source, gram) collapse, then a gram-keyed self-join whose "
    "per-key fanout is bounded by the source count (O(grams * S^2) "
    "candidates, never O(docs^2)); per-source totals broadcast back.",
)
def source_overlap_matrix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_overlap_matrix(load_table(spark, "documents", sf_dir))


# --------------------------------------------------------------------------
# N-gram novelty profile: how much genuinely new text does each source
# contribute, in ingestion order? The aggregate twin of the per-type
# vocab_growth_curve — low novelty means the source mostly restates what
# earlier documents already said (near-dup mass LSH may not catch).
# --------------------------------------------------------------------------


def ngram_novelty_profile(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per source: fraction of its distinct doc-level ``k``-grams that
    FIRST appeared in that document (by doc_id ingestion order) —
    (source, docs, total_grams, novel_grams, novelty_rate).

    100 TB shape: the first-seen trick makes cumulative novelty
    distributable — gram -> min(doc_id) is one map-side-combined shuffle
    on the gram key, joined back once (gram-keyed, fanout = docs carrying
    the gram). The rate is a ratio of two BIGINT sums (one division,
    identical on both engines) — never an average of per-doc doubles,
    whose summation order would be engine-dependent.
    """
    # same _spread + single-materialization rationale as
    # boilerplate_profile above (dg feeds the first-seen aggregate AND
    # the join-back)
    dg = _spread(docs).select(
        "doc_id", "source",
        F.explode(_ngrams_distinct(F.col("text"), k)).alias("gram"),
    ).transform(_truncate)
    first = dg.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_src = (
        dg.join(first, "gram")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                  .otherwise(0)).alias("novel_grams"),
        )
    )
    n_docs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("docs"))
    return (
        n_docs.join(per_src, "source")
        .select(
            "source", "docs", "total_grams", "novel_grams",
            F.round(F.expr("CAST(novel_grams AS DOUBLE) / total_grams"), 6)
            .alias("novelty_rate"),
        )
        .orderBy("source")
    )


@register(
    "ngram_novelty_profile",
    oracle="""
    WITH g AS (
      SELECT doc_id, source, list_distinct(list_transform(
        range(1, greatest(len(string_split(text, ' ')) - 3, 1)),
        i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4),
                             ' '))) AS grams
      FROM documents
    ),
    dg AS (SELECT doc_id, source, unnest(grams) AS gram FROM g),
    first_seen AS (SELECT gram, MIN(doc_id) AS first_doc FROM dg GROUP BY gram),
    per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS total_grams,
             CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS novel_grams
      FROM dg JOIN first_seen USING (gram)
      GROUP BY source
    )
    SELECT d.source, d.docs, total_grams, novel_grams,
           ROUND(CAST(novel_grams AS DOUBLE) / total_grams, 6)
             AS novelty_rate
    FROM (SELECT source, CAST(COUNT(*) AS BIGINT) AS docs
          FROM documents GROUP BY source) d
    JOIN per_src USING (source)
    ORDER BY d.source
    """,
    doc="N-gram novelty per source: the fraction of each source's distinct "
    "doc-level 5-grams that first appeared (by doc_id ingestion order) in "
    "that source's documents — low novelty flags sources that restate "
    "earlier text. First-seen trick (gram -> min doc_id, one shuffle) "
    "makes cumulative novelty distributable; the rate is a ratio of two "
    "BIGINT sums, never an order-dependent average of doubles.",
)
def ngram_novelty_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_novelty_profile(load_table(spark, "documents", sf_dir))


# --- interpolated trigram LM perplexity ---------------------------------------


def lm_trigram_scores(docs: DataFrame, text_col: str = "text",
                      key_col: str = "doc_id") -> DataFrame:
    """Per-document mean negative log-likelihood under an interpolated
    TRIGRAM model (0.6 p3 + 0.3 p2 + 0.1 p1) trained on the corpus —
    the next rung of the CCNet-style statistical quality ladder above
    the bigram filter: templated text that repeats 3-token patterns
    scores lower than the bigram model can detect.

    Model convention: all counts derive from the TRIGRAM occurrence
    table (c123 keyed (w1,w2,w3), contexts by marginalization — c12,
    c23, c2, c3, N), so every observed trigram has strictly positive
    counts at every order and the MLE mixture needs no smoothing for
    self-scoring; interpolation carries the generalization weight. The
    oracle states the identical convention.

    100 TB posture mirrors the bigram operator: tokenize ONCE into
    per-doc trigram counts (checkpointed working set), all model tables
    marginalize from it map-side-combined, the scoring join is
    equi-keyed on (w1,w2,w3), and the rollup shuffles once on doc_id.
    Determinism: each -ln p is rounded to 6 before the weighted mean
    (rounded to 4); the mixture weights are DOUBLE literals on both
    engines (0.6e0 — a bare 0.6 parses as DECIMAL in each).
    """
    toks = docs.select(F.col(key_col).alias("doc_id"),
                       F.split(F.col(text_col), " ").alias("t"))
    doctri = (
        toks.where(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(F.expr(
                "transform(sequence(0, size(t) - 3), i -> "
                "struct(t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3))"
            )).alias("g"),
        )
        .groupBy("doc_id", "g.w1", "g.w2", "g.w3")
        .agg(F.count(F.lit(1)).alias("c_doc"))
        .transform(_truncate_eager)
    )
    c123 = doctri.groupBy("w1", "w2", "w3").agg(F.sum("c_doc").alias("c123"))
    c12 = c123.groupBy("w1", "w2").agg(F.sum("c123").alias("c12"))
    c23 = c123.groupBy("w2", "w3").agg(F.sum("c123").alias("c23"))
    c2 = c123.groupBy("w2").agg(F.sum("c123").alias("c2"))
    c3 = c123.groupBy("w3").agg(F.sum("c123").alias("c3"))
    total = c123.agg(F.sum("c123").alias("n_total"))
    probs = (
        c123.join(c12, ["w1", "w2"])
        .join(c23, ["w2", "w3"])
        .join(c2, "w2")
        .join(c3, "w3")
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "w1", "w2", "w3",
            "CAST(ROUND(-ln(0.6e0 * (c123 / c12) + 0.3e0 * (c23 / c2) "
            "+ 0.1e0 * (c3 / n_total)) * 1000000, 0) AS BIGINT) AS nll_u",
        )
    )
    return (
        doctri.join(probs, ["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(
            F.sum("c_doc").alias("n_trigrams"),
            F.expr("ROUND(CAST(SUM(nll_u * c_doc) AS DOUBLE)"
                   " / (CAST(1000000 AS DOUBLE) * SUM(c_doc)), 4)")
            .alias("avg_nll"),
        )
    )


@register(
    "lm_trigram_interp_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    tri AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> {'w1': t[i], 'w2': t[i + 1], 'w3': t[i + 2]}),
                    recursive := true)
      FROM toks WHERE len(t) >= 3
    ),
    doctri AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS c_doc
               FROM tri GROUP BY 1, 2, 3, 4),
    c123 AS (SELECT w1, w2, w3, SUM(c_doc) AS c123
             FROM doctri GROUP BY 1, 2, 3),
    c12 AS (SELECT w1, w2, SUM(c123) AS c12 FROM c123 GROUP BY 1, 2),
    c23 AS (SELECT w2, w3, SUM(c123) AS c23 FROM c123 GROUP BY 1, 2),
    c2 AS (SELECT w2, SUM(c123) AS c2 FROM c123 GROUP BY 1),
    c3 AS (SELECT w3, SUM(c123) AS c3 FROM c123 GROUP BY 1),
    total AS (SELECT SUM(c123) AS n_total FROM c123),
    probs AS (
      SELECT w1, w2, w3,
             CAST(ROUND(-ln(0.6e0 * (c123 / c12) + 0.3e0 * (c23 / c2)
                            + 0.1e0 * (c3 / n_total)) * 1000000, 0)
                  AS BIGINT) AS nll_u
      FROM c123 JOIN c12 USING (w1, w2) JOIN c23 USING (w2, w3)
      JOIN c2 USING (w2) JOIN c3 USING (w3) CROSS JOIN total
    )
    SELECT doc_id,
           CAST(SUM(c_doc) AS BIGINT) AS n_trigrams,
           ROUND(CAST(SUM(nll_u * c_doc) AS DOUBLE)
                 / (1000000.0e0 * SUM(c_doc)), 4) AS avg_nll
    FROM doctri JOIN probs USING (w1, w2, w3)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Interpolated trigram-LM perplexity scoring (0.6 p3 + 0.3 p2 + "
    "0.1 p1, counts marginalized from one per-doc trigram table): the "
    "statistical quality filter one order above the bigram model — "
    "tokenize once into a checkpointed working set, model tables "
    "map-side-combined, scoring join equi-keyed on the trigram, one "
    "doc_id rollup shuffle.",
)
def lm_trigram_interp_perplexity(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return lm_trigram_scores(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram perplexity — the KenLM smoothing family
# CCNet actually ships for corpus quality filtering (add-one and linear
# interpolation above are the pedagogical baselines; KN is the production
# standard because continuation counts model "how promiscuous is this word"
# instead of raw frequency).
# --------------------------------------------------------------------------


def lm_kneser_ney_scores(docs: DataFrame, text_col: str = "text",
                         key_col: str = "doc_id") -> DataFrame:
    """Per-document mean negative log-likelihood under an interpolated
    Kneser-Ney bigram model trained on the corpus itself.

    P_KN(w2|w1) = (max(C(w1,w2) - D, 0) + D * N1+(w1,*) * Pcont(w2)) / C(w1)
    Pcont(w2)   = N1+(*,w2) / N1+(*,*)
    D           = n1 / (n1 + 2*n2)   (count-of-counts discount estimate,
                                      Ney-Essen-Kneser; 0.5 if degenerate)

    where N1+(w1,*) is the number of DISTINCT continuations of w1,
    N1+(*,w2) the number of distinct left-contexts of w2, and N1+(*,*)
    the number of distinct bigram types. Scores are over the document's
    observed bigram occurrences (all present in the corpus model by
    construction, so the backoff never bottoms out at zero).

    100 TB posture — identical to lm_bigram_scores: the corpus is
    tokenized ONCE into the checkpointed per-doc bigram working set;
    every model table (type counts, forward/backward continuation
    counts, the discount) derives from that working set through
    map-side-combined aggregations; the discount and the bigram-type
    total travel as a one-row broadcast; the scoring join is equi-keyed
    on (w1, w2) and the rollup shuffles once on doc_id. Never a doc-doc
    join, never a Python UDF.

    Determinism across engines: the probability expression is written
    with the same association on both sides, each -ln P quantizes to an
    exact BIGINT in 1e-6 units, the weighted mean sums integers (order-
    independent), and the one final double division rounds to 4 — the
    lm_bigram_perplexity doctrine, hardened after the sf0.1 rotation
    flake showed double-sum partition-order sensitivity.
    """
    toks = docs.select(F.col(key_col).alias("doc_id"),
                       F.split(F.col(text_col), " ").alias("t"))
    docbi = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(0, size(t) - 2), "
                       "i -> struct(t[i] AS w1, t[i + 1] AS w2))")
            ).alias("b"),
        )
        .groupBy("doc_id", "b.w1", "b.w2")
        .agg(F.count(F.lit(1)).alias("c_doc"))
        .transform(_truncate_eager)
    )
    cnt = docbi.groupBy("w1", "w2").agg(F.sum("c_doc").alias("c"))
    ctx = cnt.groupBy("w1").agg(F.sum("c").alias("cw"),
                                F.count(F.lit(1)).alias("n1fw"))
    bw = cnt.groupBy("w2").agg(F.count(F.lit(1)).alias("n1bw"))
    disc = cnt.agg(
        F.count(F.lit(1)).alias("nbt"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("n2"),
    ).select(
        "nbt",
        F.when(F.col("n1") + 2 * F.col("n2") == 0, F.lit(0.5))
        .otherwise(F.col("n1").cast("double")
                   / (F.col("n1") + 2.0 * F.col("n2")))
        .alias("d"),
    )
    probs = (
        cnt.join(ctx, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(disc))
        .select(
            "w1", "w2",
            F.round(
                -F.log(
                    (F.greatest(F.col("c") - F.col("d"), F.lit(0.0))
                     + F.col("d") * F.col("n1fw") * F.col("n1bw")
                     / F.col("nbt"))
                    / F.col("cw")
                ) * 1000000.0,
                0,
            ).cast("long").alias("nll_u"),
        )
    )
    return (
        docbi.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("c_doc").alias("n_bigrams"),
            F.expr("ROUND(CAST(SUM(nll_u * c_doc) AS DOUBLE)"
                   " / (CAST(1000000 AS DOUBLE) * SUM(c_doc)), 4)")
            .alias("avg_nll"),
        )
    )


@register(
    "lm_kneser_ney_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> {'w1': t[i], 'w2': t[i + 1]}),
                    recursive := true)
      FROM toks WHERE len(t) >= 2
    ),
    docbi AS (SELECT doc_id, w1, w2, COUNT(*) AS c_doc FROM bi GROUP BY 1, 2, 3),
    cnt AS (SELECT w1, w2, SUM(c_doc) AS c FROM docbi GROUP BY 1, 2),
    ctx AS (SELECT w1, SUM(c) AS cw, COUNT(*) AS n1fw FROM cnt GROUP BY 1),
    bw AS (SELECT w2, COUNT(*) AS n1bw FROM cnt GROUP BY 1),
    disc AS (
      SELECT COUNT(*) AS nbt,
             CASE WHEN SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                       + 2 * SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) = 0
                  THEN 0.5e0
                  ELSE CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                       / (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                          + 2.0e0 * SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END))
             END AS d
      FROM cnt
    ),
    probs AS (
      SELECT w1, w2,
             CAST(ROUND(-ln((GREATEST(c - d, 0.0e0)
                             + d * n1fw * n1bw / nbt) / cw)
                        * 1000000.0e0, 0) AS BIGINT) AS nll_u
      FROM cnt JOIN ctx USING (w1) JOIN bw USING (w2) CROSS JOIN disc
    )
    SELECT doc_id,
           CAST(SUM(c_doc) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(nll_u * c_doc) AS DOUBLE)
                 / (1000000.0e0 * SUM(c_doc)), 4) AS avg_nll
    FROM docbi JOIN probs USING (w1, w2)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Interpolated Kneser-Ney bigram perplexity (KenLM-family "
    "smoothing, the CCNet production quality filter): continuation "
    "counts N1+(w1,*)/N1+(*,w2), count-of-counts discount "
    "D = n1/(n1+2*n2), all model tables derived from one checkpointed "
    "per-doc bigram working set; discount broadcast as one row, scoring "
    "join equi-keyed on the bigram, one doc_id rollup shuffle.",
)
def lm_kneser_ney_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return lm_kneser_ney_scores(docs).orderBy("doc_id")

"""Deduplication operators over the ``documents`` table — the training-data
pipeline surface (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine). The reference has no dedup (its extracts are keyed upstream); these
are driver-mandated extensions designed for the 100 TB posture:

- exact:       hash-groupBy — one shuffle on a 128-bit fingerprint, no skew
               (hash keys are uniform by construction).
- MinHash+LSH: shingle -> 32 minhashes -> 8 bands of 4 -> bucket self-join.
               The band join only pairs rows sharing a bucket, so candidate
               generation is O(collisions), not O(n^2); the Jaccard verify
               runs on candidates only. All JVM-side (md5/conv/bit ops) — no
               Python in the path.
- SimHash:     60-bit fingerprint from md5-derived token bits; near-dups are
               fingerprints within small Hamming distance found via band
               join on 15-bit chunks (same collision-bounding idea).
- n-gram Jaccard: EXACT pairwise Jaccard over 3-gram shingle sets, verified
               on candidates generated by 32 single-minhash (r=1) bands:
               a pair sharing ANY of its 32 per-function minimum shingle
               hashes is a candidate (miss prob (1-J)^32 <= 1.0e-6 at the
               registered threshold 0.35), so candidate volume is
               O(band collisions), never O(block^2). The older
               (lang, log-length-bucket) blocked all-pairs formulation is
               kept as a library function — it is lossless but within-block
               quadratic (round-4 verdict #1), exactly the shape a hot
               block at 100 TB cannot afford.
- embedding cosine: near-dup pairs above a cosine threshold. The REGISTERED
               operator generates DISTINCT candidate id pairs from the
               shared hyperplane-LSH pool (operators/vectors.py) at a
               sharper-than-default 6-bit x 10-table config, then re-ranks
               once per pair with a hoisted-norm exact cosine —
               O(collisions) with a budgeted collision rate (~0.15 for
               random pairs, pinned by test), not O(n^2). The all-pairs
               brute twin stays as a library function (recall baseline in
               tests; it is the scale anti-pattern, never the registered
               path).

Tokenization is a plain single-space split everywhere so the DuckDB oracle
can reproduce it exactly.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from covid_19_data_engineering_spark.operators.lineage import (
    truncate as _truncate,
    truncate_eager as _truncate_eager,
)
from covid_19_data_engineering_spark.operators.vectors import (
    fold_cosine_sql,
    _spread,
    cosine_sim,
    with_lsh_buckets,
)
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

# --- shared text primitives (exactly reproducible in DuckDB SQL) -----------


def tokens_col(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def shingles_col(tok: Column, k: int = 3) -> Column:
    """k-word shingles: slice a sliding window over the token array.
    Documents shorter than k tokens produce an empty set (sequence() would
    otherwise count DOWN from 1 and emit bogus windows)."""
    idx = F.sequence(F.lit(1), F.size(tok) - (k - 1))
    return F.when(F.size(tok) >= k, F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tok, i, k)))
    )).otherwise(F.array().cast("array<string>"))




# --- engine-portable hashing primitives -------------------------------------
# Shared by minhash, simhash, and the hashed-shingle Jaccard: every hash is
# derived from md5 hex so a DuckDB oracle reproduces it bit-for-bit.

_MERSENNE31 = (1 << 31) - 1

# DuckDB twins: fold md5 hex chars into a BIGINT (15 chars = 60 bits for
# simhash; 8 chars = 32 bits for shingle hashes, taken mod 2^31-1).
_HEX_FOLD = (
    "list_reduce(list_transform(range(1, 16), "
    "i -> CAST(strpos('0123456789abcdef', substr(md5({v}), i, 1)) AS BIGINT) - 1), "
    "(a, b) -> a * 16 + b)"
)
_HEX_FOLD8 = (
    "list_reduce(list_transform(range(1, 9), "
    "i -> CAST(strpos('0123456789abcdef', substr(md5({v}), i, 1)) AS BIGINT) - 1), "
    "(a, b) -> a * 16 + b)"
)


def _shingle_base_hash(sh: Column) -> Column:
    """31-bit integer from the md5 of a shingle (JVM-side, engine-portable).

    31 bits, not 60: (h * a + b) mod p then stays inside plain int64
    arithmetic (2^31 x 2^31 product < 2^62 — no overflow under ANSI), which
    keeps the whole signature stage in fast long math and a compact codegen
    function. The original 60-bit/decimal(38,0) variant compiled each affine
    transform to decimal multiply/mod over a 121-bit intermediate — ~20x
    slower per shingle and a 32x-duplicated giant expression tree. Collision
    risk at 31 bits is negligible for minhash estimation (birthday bound over
    ~10^6 distinct shingles per partition ≈ 10^-3 colliding pairs, and a
    collision only perturbs one of 32 signature slots)."""
    return F.conv(F.substring(F.md5(sh), 1, 8), 16, 10).cast("long") % _MERSENNE31


# --- exact dedup ------------------------------------------------------------


def exact_duplicate_groups(df: DataFrame, text_col: str = "text",
                           key_col: str = "doc_id") -> DataFrame:
    """Group rows by content fingerprint; one row per distinct content with
    the surviving (min) key and the duplicate count."""
    return (
        df.select(F.col(key_col), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(key_col).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fingerprint,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY md5(text)
    ORDER BY fingerprint
    """,
    doc="Exact dedup via md5 hash-groupBy; shuffle key is uniform by construction.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return exact_duplicate_groups(docs).orderBy("fingerprint")


# --- n-gram Jaccard (exact near-dup twin) -----------------------------------


def ngram_blocked_candidates(df: DataFrame, threshold: float, k: int = 3,
                             block_col: str = "lang",
                             length_blocking: bool = True) -> DataFrame:
    """Candidate pairs for exact Jaccard: (doc_a, doc_b, sh_a, sh_b).

    Block key is (block_col, shingle-count log-bucket). J(A,B) >= t forces
    |A∩B| >= t*max(|A|,|B|) and |A∩B| <= min(|A|,|B|), so min/max >= t and
    the two log_{1/t} bucket indices differ by at most 1 — side b emits its
    bucket and both neighbors, side a joins on its own bucket, and every
    qualifying pair collides EXACTLY once (no post-join dedup needed). Docs
    with empty shingle sets can never reach the threshold (0/x or NULL
    0/0 Jaccard) and are dropped up front, which also keeps log() defined.

    ``length_blocking=False`` falls back to the block_col-only join (the
    near-all-pairs shape) — kept for the equivalence/pruning test.

    Shingles are HASHED to int64 before the join (round-4): the pairwise
    array_intersect/array_union then runs integer compares instead of
    string compares — ~4x on the bench — and the DuckDB oracle applies the
    identical md5-fold, so even the (vanishingly rare, ~4e-5 per pair)
    within-set hash collisions reproduce bit-for-bit on both engines.
    """
    sh = _spread(df).select(
        F.col("doc_id"),
        F.col(block_col).alias("block"),
        F.array_distinct(
            F.transform(shingles_col(tokens_col("text"), k), _shingle_base_hash)
        ).alias("sh"),
    ).transform(_truncate_eager)
    # ^ materialize the shingle sets ONCE: both sides of the self-join (and
    # the explode side's 3x bucket fan-out) would otherwise re-run the
    # split -> shingle -> md5-fold pipeline per reference — the same
    # shared-working-set rule as minhash_bands (dedup.py:413)
    if not length_blocking:
        a, b = sh.alias("a"), sh.alias("b")
        cond = (F.col("a.block") == F.col("b.block")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    else:
        # widen by half the output rounding step: the filter runs on
        # round(J, 4), so a pair at J = t - 5e-5 can still pass — size the
        # buckets for that slightly-lower effective threshold
        log_r = math.log(1.0 / max(threshold - 5e-5, 1e-9))
        sh = sh.where(F.size("sh") > 0).withColumn(
            "lb", F.floor(F.log(F.size("sh").cast("double")) / F.lit(log_r)).cast("int")
        )
        a = sh.alias("a")
        b = sh.select(
            "doc_id", "block", "sh",
            F.explode(F.array(F.col("lb") - 1, F.col("lb"), F.col("lb") + 1)).alias("nb"),
        ).alias("b")
        cond = (
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.lb") == F.col("b.nb"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
    return a.join(b, cond).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.sh").alias("sh_a"),
        F.col("b.sh").alias("sh_b"),
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float, k: int = 3,
                        block_col: str = "lang",
                        length_blocking: bool = True) -> DataFrame:
    """Exact pairwise Jaccard over k-shingle sets within a blocking key —
    the LOSSLESS baseline, kept as a library function for recall tests.

    The self-join is equi-keyed on (block, length bucket), so Spark shuffles
    each side once by block and compares within blocks only. But within a
    hot block the join is quadratic (round-4 verdict #1): a single language
    whose docs concentrate in one log-length bucket costs O(m^2)
    exact-Jaccard comparisons with full shingle arrays through the shuffle.
    The REGISTERED operator (``ngram_jaccard_pairs_lsh`` below) generates
    candidates with 32 single-minhash bands instead — O(collisions) with a
    (1-J)^32 miss bound — and this all-pairs twin pins its recall in tests.
    """
    cands = ngram_blocked_candidates(df, threshold, k, block_col, length_blocking)
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    # try_divide: two sub-k-token docs both have empty shingle sets -> 0/0;
    # NULL here (dropped by the threshold filter) matches DuckDB's behavior
    jac = F.try_divide(inter, union)
    return (
        cands.select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# The registered dedup_ngram_jaccard lives below the MinHash section: its
# candidate stage reuses the minhash affine-coefficient machinery.


# --- MinHash + LSH ----------------------------------------------------------

_N_HASHES = 32
_BANDS = 8
_ROWS_PER_BAND = _N_HASHES // _BANDS
# deterministic affine coefficients (odd multipliers, fixed offsets) — no
# runtime randomness so every run and every engine derives the same buckets
_HASH_COEFF = [((2 * i + 1) * 0x9E3779B9) % _MERSENNE31 for i in range(_N_HASHES)]
_HASH_OFFSET = [((i + 1) * 0xC2B2AE35) % _MERSENNE31 for i in range(_N_HASHES)]


def minhash_signatures(df: DataFrame, text_col: str = "text",
                      key_col: str = "doc_id") -> DataFrame:
    """doc_id -> minhash[32] over 3-word shingles, computed ROW-LOCALLY:
    each signature slot is an array_min over the per-shingle affine hashes,
    so the whole stage is a pure map — no explode, no groupBy, no shuffle.
    (An explode + per-doc min aggregation computes the same values but
    shuffles O(docs) signature rows; row-local also makes the operator
    legal inside Structured Streaming, where a pre-join aggregation on an
    unwatermarked stream is not.) Docs with fewer than k tokens have no
    shingles and drop out, matching the aggregate formulation's semantics.

    The shingle->base-hash array is materialized by a SEPARATE projection:
    the 32 mh_i expressions reference the materialized ``_h`` column instead
    of inlining the shingle/md5 subtree 32 times. CollapseProject leaves the
    two projections apart (the alias is referenced 32 times and the
    expression is not cheap), so md5 runs once per shingle, not 32 times —
    without this split the duplicated tree blew whole-stage codegen past its
    limits and the minhash family ran ~15x slower."""
    sh = shingles_col(tokens_col(text_col))
    # eligibility via token count: size(sh) > 0 would build the whole
    # shingle array once for the filter and again for the projection
    base = df.where(F.size(tokens_col(text_col)) >= 3).select(
        F.col(key_col),
        F.transform(sh, _shingle_base_hash).alias("_h"),
    )
    mins = [
        F.array_min(
            F.transform(
                F.col("_h"),
                lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE31),
            )
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(zip(_HASH_COEFF, _HASH_OFFSET))
    ]
    return base.select(F.col(key_col), *mins)


def minhash_bands(df: DataFrame, text_col: str = "text",
                  key_col: str = "doc_id") -> DataFrame:
    """(key, sig, band, bucket) rows: each doc exploded into its _BANDS
    bucket assignments, signature carried along for the agreement count.
    Shared by the self-join candidates below and the two-sided
    cross-snapshot dedup (operators/llmprep.py)."""
    sig = minhash_signatures(df, text_col, key_col)
    return sig.select(
        F.col(key_col),
        F.array(*[F.col(f"mh_{i}") for i in range(_N_HASHES)]).alias("sig"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    # bucket key = the band's minhash values joined as text —
                    # engine-portable (a DuckDB oracle derives the identical
                    # key), unlike F.hash's Spark-internal murmur
                    F.concat_ws(
                        ",", *[F.col(f"mh_{b * _ROWS_PER_BAND + r}") for r in range(_ROWS_PER_BAND)]
                    ).alias("bucket"),
                )
                for b in range(_BANDS)
            ])
        ).alias("bb"),
    ).select(key_col, "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_agreement(a_sig: Column, b_sig: Column) -> Column:
    """Fraction of agreeing minhash rows between two signatures (the
    Jaccard estimator), rounded like the SQL twin."""
    agree = F.size(
        F.filter(
            F.zip_with(a_sig, b_sig, lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return F.round(agree / F.lit(_N_HASHES), 4)


def exact_text_collapse(df: DataFrame, text_col: str = "text",
                        key_col: str = "doc_id",
                        min_tokens: int = 3) -> tuple[DataFrame, DataFrame]:
    """Collapse shingle-eligible docs to one representative per exact text.

    Returns ``(reps, members)``: ``reps`` is (key, text) restricted to the
    min-key row of each md5(text) group, ready for signature building;
    ``members`` is the (key, rep, _fp) mapping used to re-attach exact-dup
    members after a band join.

    Text rides THROUGH the fingerprint window shuffle and into the single
    checkpoint, which buys two things at once: (1) reps needs no join back
    to the corpus (one scan total), and (2) the downstream signature map
    inherits the shuffle's hash-partitioning — without it, a small local
    input is one parquet split and the whole md5/minhash pipeline runs in
    ONE task while every other core idles (at 100 TB maxPartitionBytes
    yields thousands of splits, but the shuffle spread costs nothing and
    the checkpointed (key, text, fp, rep) set is exactly the LSH working
    table you would persist for incremental dedup anyway).

    Eligibility (>= min_tokens, else no shingles) is checked on the token
    count — building the full shingle array just to test emptiness would
    evaluate the expensive expression once in the filter and again in the
    signature projection. Callers whose signatures need no minimum (the
    simhash fingerprint is defined for any token count) pass
    ``min_tokens=0``, which skips the filter."""
    eligible = df
    if min_tokens > 0:
        eligible = df.where(F.size(tokens_col(text_col)) >= min_tokens)
    eligible = eligible.select(
        F.col(key_col), F.col(text_col), F.md5(F.col(text_col)).alias("_fp")
    )
    # eager (measured): lazy was tried here (round-11) and lost ~1s at
    # sf0.1 — the two consumers (reps via _spread's partition probe, and
    # members) each force AQE stage execution of the window plan before
    # the cache is warm, so the dedicated materialization job is cheaper
    # than the double planning it avoids.
    mapped = eligible.withColumn(
        "_rep", F.min(key_col).over(Window.partitionBy("_fp"))
    ).transform(_truncate_eager)
    # _spread: the fingerprint window's shuffle DOES hash-partition the
    # checkpoint, but AQE's coalescer sizes partitions by BYTES and a local
    # corpus is kilobytes — it folds the exchange back to ONE partition, so
    # every downstream signature map (md5 per shingle x 32 minhash slots)
    # would run in a single task with 31 cores idle (measured 2.6x on the
    # incremental manifest's band build at sf0.1). repartition(n) with an
    # explicit count is exempt from AQE coalescing, and _spread no-ops once
    # the scan already carries >= defaultParallelism splits — the 100 TB
    # case, where this line costs nothing.
    reps = _spread(
        mapped.where(F.col(key_col) == F.col("_rep")).select(key_col, text_col)
    )
    members = mapped.select(F.col(key_col), F.col("_rep").alias("rep"), "_fp")
    return reps, members


def _minhash_rep_pairs(df: DataFrame, text_col: str = "text",
                       key_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """Band-join candidates computed over ONE REPRESENTATIVE per exact text.

    Returns ``(rep_pairs, members)``:
    - ``rep_pairs``: (rep_a, rep_b, est_jaccard) — distinct colliding
      representative pairs from the banded self-join;
    - ``members``: (key, rep) — every shingle-eligible doc mapped to its
      group's representative (min key per md5(text)).

    THE hot-bucket fix (round-3 verdict #1): a corpus with m byte-identical
    copies of a boilerplate page previously put m rows in the same bucket in
    all 8 bands, so the candidate join emitted O(m^2) pairs per dup set —
    and web corpora at 100 TB have m in the 10^4..10^6 range. Identical text
    means identical shingles, signatures, and band buckets, so collapsing to
    min-key-per-fingerprint BEFORE banding is strictly less work with the
    same information: the band join sees each content once, and exact-dup
    membership is re-attached afterwards by the callers that need it.
    The collapse key is md5 of the RAW text (not the normalized curation
    fingerprint) because only byte-identical text guarantees identical
    minhash bands.

    The bands are still eagerly materialized before the self-join: both
    aliases otherwise recompute the whole shingle->md5->32-signature
    pipeline once per side. The streaming path (stream_snapshot_dedup)
    calls minhash_bands directly — checkpointing is illegal on a streaming
    DF, and stream batches are pre-deduped upstream.
    """
    reps, members = exact_text_collapse(df, text_col, key_col)
    bands = minhash_bands(reps, text_col, key_col).transform(_truncate_eager)
    return band_self_pairs(bands, key_col), members


def band_self_pairs(bands: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Distinct colliding pairs from a (materialized) band table self-join:
    (rep_a, rep_b, est_jaccard). Callers that hold several band tables
    (the incremental manifest) reuse one checkpoint across self- and
    cross-joins instead of re-deriving signatures per composition stage."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{key_col}") < F.col(f"b.{key_col}")),
        )
        .select(
            F.col(f"a.{key_col}").alias("rep_a"),
            F.col(f"b.{key_col}").alias("rep_b"),
            minhash_agreement(F.col("a.sig"), F.col("b.sig")).alias("est_jaccard"),
        )
        .distinct()
    )


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           key_col: str = "doc_id") -> DataFrame:
    """Candidate near-dup pairs via banded LSH over minhash signatures.

    Docs agreeing on all rows of at least one band share a bucket; the
    bucket equi-join emits only colliding pairs. Returns distinct pairs with
    the estimated Jaccard (fraction of agreeing minhashes).

    The expensive stage (the banded self-join) runs over one representative
    per exact text (``_minhash_rep_pairs``); the full pair set — identical
    to the naive formulation, as the oracle twin verifies — is then
    reconstructed by expansion:
    - cross-group pairs: every member of rep_a's group pairs with every
      member of rep_b's group at the reps' estimated Jaccard (identical
      text -> identical signature, so the estimate is exact for members);
    - within-group pairs: exact copies agree on all 32 minhashes, so every
      in-group pair carries est_jaccard = 1.0 by construction.
    The expansion joins are equi-keyed on the representative/fingerprint and
    produce output proportional to the TRUE pair count — the irreducible
    size of this query's answer — while the band join itself stays
    O(content-distinct collisions).
    """
    rep_pairs, members = _minhash_rep_pairs(df, text_col, key_col)
    ma = members.select(F.col(key_col).alias("_ka"), F.col("rep").alias("_ra"))
    mb = members.select(F.col(key_col).alias("_kb"), F.col("rep").alias("_rb"))
    cross = (
        rep_pairs.join(ma, F.col("_ra") == F.col("rep_a"))
        .join(mb, F.col("_rb") == F.col("rep_b"))
        .select(
            F.least("_ka", "_kb").alias("doc_a"),
            F.greatest("_ka", "_kb").alias("doc_b"),
            "est_jaccard",
        )
    )
    wa = members.select(F.col(key_col).alias("doc_a"), "_fp")
    wb = members.select(F.col(key_col).alias("doc_b"), "_fp")
    within = (
        wa.join(wb, "_fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(1.0).alias("est_jaccard"))
    )
    return cross.unionByName(within)


# DuckDB twin of the full minhash pipeline. Every stage is engine-portable
# by construction: shingle hash = fold of the first 8 md5 hex chars mod
# 2^31-1 (same as Spark's conv(substring(md5,1,8),16,10) % p — _HEX_FOLD8
# near the top of this module), affine transforms in plain BIGINT
# (2^31 x 2^31 product < 2^62 — no wide arithmetic needed on either
# engine), band bucket = the band's minhash values joined as text. SimHash
# keeps the 15-char/60-bit fold (_HEX_FOLD).


def minhash_agree_sql() -> str:
    """Signature-agreement count between band-join sides a and b."""
    return " + ".join(
        f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END" for i in range(_N_HASHES)
    )


def minhash_pipeline_ctes(source: str = "documents") -> str:
    """The shared CTE chain (shingles -> hashes -> signatures -> bands);
    composable into WITH clauses by this oracle and the cluster oracle.
    ``source`` names the relation the chain reads (a table or an earlier
    CTE, e.g. a sampled subset for the accuracy audit)."""
    mins = ",\n             ".join(
        f"CAST(MIN((h * {a} + {b}) % {_MERSENNE31}) AS BIGINT) AS mh_{i}"
        for i, (a, b) in enumerate(zip(_HASH_COEFF, _HASH_OFFSET))
    )
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT *, {band} AS band, concat_ws(','"
        + "".join(f", mh_{band * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND))
        + ") AS bucket FROM sig"
        for band in range(_BANDS)
    )
    return f"""toks AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
             )) AS s
      FROM {source}
    ),
    sh AS (SELECT doc_id, unnest(s) AS shingle FROM toks),
    h AS (SELECT doc_id, {_HEX_FOLD8.format(v='shingle')} % {_MERSENNE31} AS h FROM sh),
    -- MATERIALIZED: sig is referenced by all 8 band branches and bands by
    -- both self-join sides; without the hint DuckDB inlines (re-evaluates)
    -- the whole shingle->hash->min pipeline per reference
    sig AS MATERIALIZED (
      SELECT doc_id,
             {mins}
      FROM h GROUP BY doc_id
    ),
    bands AS MATERIALIZED (
      {band_selects}
    )"""


def _minhash_oracle_sql() -> str:
    agree = minhash_agree_sql()
    return f"""
    WITH {minhash_pipeline_ctes()}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST({agree} AS DOUBLE) / {_N_HASHES}, 4) AS est_jaccard
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE ROUND(CAST({agree} AS DOUBLE) / {_N_HASHES}, 4) >= 0.3
    ORDER BY doc_a, doc_b
    """


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle_sql(),
    doc="MinHash(32)+LSH(8x4) candidate near-dup pairs with estimated "
    "Jaccard. Fully deterministic and engine-portable (md5-derived shingle "
    "hashes, fixed affine coefficients, concat band buckets), so the DuckDB "
    "oracle replicates the entire pipeline stage by stage.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        minhash_lsh_candidates(docs)
        .where(F.col("est_jaccard") >= 0.3)
        .orderBy("doc_a", "doc_b")
    )


# --- n-gram Jaccard, LSH-candidate path (the registered operator) ------------


# largest exact-dup group tolerable WITHOUT the collapse: a group of m
# identical texts costs C(m,2) band-join rows when uncollapsed; 32 keeps
# that under ~500 rows per group — noise — while any real boilerplate dup
# set (10^2..10^6 copies) triggers the collapse
_NGRAM_COLLAPSE_THRESHOLD = 32


def _max_dup_group(df: DataFrame, k: int, block_col: str, text_col: str,
                   key_col: str) -> int:
    """Size of the largest (block, exact-text) duplicate group among
    shingle-eligible docs — the one-aggregate probe behind the adaptive
    collapse. One md5-keyed count shuffle with map-side partials; no text
    carried past the map stage."""
    row = (
        df.where(F.size(tokens_col(text_col)) >= k)
        .groupBy(F.col(block_col), F.md5(F.col(text_col)))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .first()
    )
    return int(row["mx"]) if row["mx"] is not None else 0


def _ngram_collapse(df: DataFrame, k: int = 3, block_col: str = "lang",
                    text_col: str = "text",
                    key_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """Collapse shingle-eligible docs to one representative per
    (block, exact text) — the same hot-bucket defense as
    ``exact_text_collapse``, with the blocking column in the group key so
    byte-identical text under DIFFERENT blocks stays separate (the pair
    semantics are same-block only).

    Returns ``(reps_sh, members)``: reps_sh is (key, block, sh) with the
    hashed shingle SET materialized and checkpointed (it feeds both the
    signature build and the two verify joins); members is
    (key, rep, block, _fp) for post-join expansion."""
    eligible = df.where(F.size(tokens_col(text_col)) >= k).select(
        F.col(key_col), F.col(block_col).alias("block"), F.col(text_col),
        F.md5(F.col(text_col)).alias("_fp"),
    )
    # text rides through the fingerprint window shuffle (one scan, and the
    # downstream shingle map inherits the shuffle's parallelism — the
    # exact_text_collapse rationale)
    mapped = eligible.withColumn(
        "_rep", F.min(key_col).over(Window.partitionBy("block", "_fp"))
    ).transform(_truncate_eager)
    reps_sh = (
        mapped.where(F.col(key_col) == F.col("_rep"))
        .select(
            F.col(key_col), F.col("block"),
            F.array_distinct(
                F.transform(shingles_col(tokens_col(text_col), k), _shingle_base_hash)
            ).alias("sh"),
        )
        .transform(_truncate_eager)
    )
    members = mapped.select(F.col(key_col), F.col("_rep").alias("rep"), "block", "_fp")
    return reps_sh, members


def _ngram_sets_uncollapsed(df: DataFrame, k: int = 3, block_col: str = "lang",
                            text_col: str = "text",
                            key_col: str = "doc_id") -> DataFrame:
    """(key, block, sh) over ALL shingle-eligible docs — the direct path
    the adaptive probe picks when no meaningful exact-dup mass exists.
    One checkpoint, no window shuffle, no member map."""
    return (
        _spread(df.where(F.size(tokens_col(text_col)) >= k))
        .select(
            F.col(key_col), F.col(block_col).alias("block"),
            F.array_distinct(
                F.transform(shingles_col(tokens_col(text_col), k), _shingle_base_hash)
            ).alias("sh"),
        )
        .transform(_truncate_eager)
    )


def ngram_r1_candidates(reps_sh: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Distinct candidate pairs sharing >= 1 of 32 single-minhash (r=1)
    band keys within a block.

    r=1 banding is the right operating point for a LOW similarity
    threshold: at t = 0.35 the classic 8x4 bands catch only
    1-(1-t^4)^8 ~ 11% of borderline pairs, while 32 r=1 bands catch
    1-(1-t)^32 >= 0.999999 — each of the 32 per-function minimum shingle
    hashes is its own bucket key, so a pair is a candidate iff the docs
    agree on ANY minhash slot (which happens with probability exactly J
    per slot). Candidate volume is O(bucket collisions): each doc
    contributes one row per hash function, and only same-block equal-min
    docs ever meet. The shuffle carries (key, block, fn, val) — never the
    shingle arrays.

    The 32 mins come from ONE fold over the shingle array (the simhash
    single-pass lesson): a 32-slot running-min vector updated per shingle
    via zip_with against constant coefficient arrays, instead of 32
    independent array_min(transform(...)) passes each re-walking the
    array — ~30% off the signature stage and a compact codegen tree."""
    coeff_a = F.array(*[F.lit(a) for a in _HASH_COEFF])
    coeff_b = F.array(*[F.lit(b) for b in _HASH_OFFSET])
    idx = F.sequence(F.lit(1), F.lit(_N_HASHES))
    init = F.array_repeat(F.lit(_MERSENNE31).cast("long"), _N_HASHES)
    sig_arr = F.aggregate(
        F.col("sh"),
        init,
        lambda acc, h: F.zip_with(
            acc, idx,
            lambda v, i: F.least(
                v,
                (h * F.element_at(coeff_a, i) + F.element_at(coeff_b, i))
                % F.lit(_MERSENNE31),
            ),
        ),
    )
    r1 = (
        reps_sh.select(F.col(key_col), F.col("block"), sig_arr.alias("sig"))
        .select(key_col, "block", F.posexplode("sig"))
        .select(
            key_col, "block",
            F.col("pos").alias("fn"), F.col("col").alias("val"),
        )
    )
    # both self-join sides read ONE materialized band table instead of
    # re-running the shingle -> 32-min pipeline per side
    r1 = r1.transform(_truncate_eager)
    a, b = r1.alias("a"), r1.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.fn") == F.col("b.fn"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{key_col}") < F.col(f"b.{key_col}")),
        )
        .select(
            F.col(f"a.{key_col}").alias("rep_a"),
            F.col(f"b.{key_col}").alias("rep_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs_lsh(df: DataFrame, threshold: float = 0.35, k: int = 3,
                            block_col: str = "lang",
                            collapse: bool | str = "auto") -> DataFrame:
    """EXACT k-gram Jaccard pairs >= threshold, candidates via r=1 minhash
    bands (round-4 verdict #1 — replaces the within-block all-pairs join).

    Pipeline: collapse to one rep per (block, exact text) -> 32 r=1 band
    keys per rep -> equi-join candidates -> exact Jaccard verify on the
    candidate pairs only (two equi-joins fetch the checkpointed shingle
    sets; the band shuffle itself never carries arrays) -> expand reps back
    to members (cross pairs inherit the reps' exact Jaccard — identical
    text has identical shingle sets; within-group pairs are Jaccard 1.0 by
    construction).

    Output matches the lossless all-pairs twin up to the LSH miss bound
    (1-J)^32 <= 1.0e-6 per pair at J >= 0.35 — deterministic per corpus,
    pinned against ``ngram_jaccard_pairs`` in tests. The DuckDB oracle
    replicates THIS candidate generation stage-by-stage, so the
    correctness gate compares identical candidate sets.

    ``collapse="auto"`` (default) probes the largest exact-dup group with
    one cheap md5-keyed aggregate and SKIPS the collapse machinery (window
    shuffle, member map, expansion joins) when no group exceeds
    ``_NGRAM_COLLAPSE_THRESHOLD``: the uncollapsed band join is correct
    for any corpus — identical texts have identical signatures, so their
    pairs fall out of the join with Jaccard 1.0 — it is only HAZARDOUS
    when a boilerplate group is large enough to make C(m,2) join rows
    hurt. Probe-then-choose is the operator-level analogue of AQE: pay the
    defense exactly when the data needs it. ``collapse=True/False`` forces
    a path (the planted-hot tests force both)."""
    if collapse == "auto":
        collapse = _max_dup_group(
            df, k, block_col, "text", "doc_id") > _NGRAM_COLLAPSE_THRESHOLD
    if not collapse:
        sets = _ngram_sets_uncollapsed(df, k, block_col)
        cands = ngram_r1_candidates(sets)
        sa = sets.select(F.col("doc_id").alias("rep_a"), F.col("sh").alias("sh_a"))
        sb = sets.select(F.col("doc_id").alias("rep_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
        return (
            cands.join(sa, "rep_a")
            .join(sb, "rep_b")
            .select(
                F.col("rep_a").alias("doc_a"),
                F.col("rep_b").alias("doc_b"),
                F.round(F.try_divide(inter, union), 4).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
    reps_sh, members = _ngram_collapse(df, k, block_col)
    cands = ngram_r1_candidates(reps_sh)
    sa = reps_sh.select(F.col("doc_id").alias("rep_a"), F.col("sh").alias("sh_a"))
    sb = reps_sh.select(F.col("doc_id").alias("rep_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    verified = (
        cands.join(sa, "rep_a")
        .join(sb, "rep_b")
        .select(
            "rep_a", "rep_b",
            F.round(F.try_divide(inter, union), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    ma = members.select(F.col("doc_id").alias("_ka"), F.col("rep").alias("_ra"))
    mb = members.select(F.col("doc_id").alias("_kb"), F.col("rep").alias("_rb"))
    cross = (
        verified.join(ma, F.col("_ra") == F.col("rep_a"))
        .join(mb, F.col("_rb") == F.col("rep_b"))
        .select(
            F.least("_ka", "_kb").alias("doc_a"),
            F.greatest("_ka", "_kb").alias("doc_b"),
            "jaccard",
        )
    )
    wa = members.select(F.col("doc_id").alias("doc_a"), "block", "_fp")
    wb = members.select(F.col("doc_id").alias("doc_b"), "block", "_fp")
    within = (
        wa.join(wb, ["block", "_fp"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(within)


def _ngram_lsh_oracle_sql(threshold: float = 0.35) -> str:
    """DuckDB twin of the r=1-candidate path, naive (uncollapsed) form:
    exact copies have identical signatures, so the naive band join finds
    exactly the pairs the engine's collapse+expand reconstructs — the same
    equivalence the dedup_minhash_lsh oracle relies on."""
    mins = ",\n             ".join(
        f"CAST(MIN((h * {a} + {b}) % {_MERSENNE31}) AS BIGINT) AS mh_{i}"
        for i, (a, b) in enumerate(zip(_HASH_COEFF, _HASH_OFFSET))
    )
    r1_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, block, {i} AS fn, mh_{i} AS val FROM sig"
        for i in range(_N_HASHES)
    )
    return f"""
    WITH sets AS MATERIALIZED (
      SELECT doc_id, lang AS block,
             -- i ranges 1..len-2 so every shingle is a full 3-gram
             list_distinct(list_transform(
               list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                 i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
               ),
               g -> {_HEX_FOLD8.format(v='g')} % {_MERSENNE31}
             )) AS s
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    h AS (SELECT doc_id, block, unnest(s) AS h FROM sets),
    sig AS MATERIALIZED (
      SELECT doc_id, block,
             {mins}
      FROM h GROUP BY doc_id, block
    ),
    r1 AS MATERIALIZED (
      {r1_selects}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM r1 a JOIN r1 b
        ON a.block = b.block AND a.fn = b.fn AND a.val = b.val
           AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT c.doc_a, c.doc_b,
             ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 4)
               AS jaccard
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.doc_a
      JOIN sets sb ON sb.doc_id = c.doc_b
    ) WHERE jaccard >= {threshold}
    ORDER BY doc_a, doc_b
    """


@register(
    "dedup_ngram_jaccard",
    # the oracle hashes shingles with the same md5-fold the engine uses AND
    # rebuilds the same r=1 band candidates, so both engines verify the
    # identical candidate set bit-for-bit
    oracle=_ngram_lsh_oracle_sql(),
    doc="Exact 3-gram Jaccard near-dup pairs (>= 0.35) within lang, "
    "candidates via 32 single-minhash (r=1) bands over exact-text-collapsed "
    "representatives — O(collisions) candidate volume with a (1-J)^32 miss "
    "bound, replacing the within-block all-pairs join (round-4 verdict #1).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return ngram_jaccard_pairs_lsh(docs, threshold=0.35).orderBy("doc_a", "doc_b")


# --- Containment (asymmetric) near-dup --------------------------------------
# Jaccard is symmetric, so a short document QUOTED INSIDE a long one
# scores low (|A n B| / |A u B| ~ |A|/|B|) and slips every symmetric
# gate. Containment C(A,B) = |A n B| / min(|A|, |B|) is the asymmetric
# fix (Broder's "containment"): ~1.0 whenever the smaller side is
# substantially embedded in the larger, regardless of the size ratio —
# the dedup family's answer to quote-plagiarism / doc-inclusion.


CONTAINMENT_THRESHOLD = 0.6


def ngram_containment_pairs(df: DataFrame,
                            threshold: float = CONTAINMENT_THRESHOLD,
                            k: int = 3,
                            block_col: str = "lang") -> DataFrame:
    """(doc_a, doc_b, containment, jaccard) — pairs whose smaller
    shingle set is >= ``threshold`` contained in the larger, candidates
    via the SAME 32 r=1 minhash bands as the Jaccard twin (one shared
    candidate stage, only the verify formula differs).

    Honest recall note: an r=1 band fires with probability J per slot,
    and a containment-c pair with size ratio rho = min/max has
    J = c*rho / (1 + rho - c*rho), so the (1-J)^32 miss bound LOOSENS
    for extreme size ratios (c=1, rho=0.1 -> J~0.09, miss ~ 4.7%). The
    production dial for heavy inclusion mining is prefix filtering on
    the rarest shingles of the SMALLER side; the band stage here is the
    right default for corpus hygiene. The exact-collapse hazard and its
    probe-then-choose defense are identical to the Jaccard twin and
    apply unchanged if boilerplate mass appears."""
    sets = _ngram_sets_uncollapsed(df, k, block_col)
    cands = ngram_r1_candidates(sets)
    sa = sets.select(F.col("doc_id").alias("rep_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("rep_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    smaller = F.least(F.size("sh_a"), F.size("sh_b"))
    return (
        cands.join(sa, "rep_a")
        .join(sb, "rep_b")
        .select(
            F.col("rep_a").alias("doc_a"),
            F.col("rep_b").alias("doc_b"),
            F.round(F.try_divide(inter, smaller), 4).alias("containment"),
            F.round(F.try_divide(inter, union), 4).alias("jaccard"),
        )
        .where(F.col("containment") >= threshold)
    )


def _containment_oracle_sql(threshold: float = CONTAINMENT_THRESHOLD) -> str:
    """DuckDB twin: the identical r=1 candidate stage as the Jaccard
    oracle, verify swapped to |A n B| / min(|A|, |B|)."""
    mins = ",\n             ".join(
        f"CAST(MIN((h * {a} + {b}) % {_MERSENNE31}) AS BIGINT) AS mh_{i}"
        for i, (a, b) in enumerate(zip(_HASH_COEFF, _HASH_OFFSET))
    )
    r1_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, block, {i} AS fn, mh_{i} AS val FROM sig"
        for i in range(_N_HASHES)
    )
    return f"""
    WITH sets AS MATERIALIZED (
      SELECT doc_id, lang AS block,
             list_distinct(list_transform(
               list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                 i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
               ),
               g -> {_HEX_FOLD8.format(v='g')} % {_MERSENNE31}
             )) AS s
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    h AS (SELECT doc_id, block, unnest(s) AS h FROM sets),
    sig AS MATERIALIZED (
      SELECT doc_id, block,
             {mins}
      FROM h GROUP BY doc_id, block
    ),
    r1 AS MATERIALIZED (
      {r1_selects}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM r1 a JOIN r1 b
        ON a.block = b.block AND a.fn = b.fn AND a.val = b.val
           AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, containment, jaccard FROM (
      SELECT c.doc_a, c.doc_b,
             ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / least(len(sa.s), len(sb.s)), 4) AS containment,
             ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 4)
               AS jaccard
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.doc_a
      JOIN sets sb ON sb.doc_id = c.doc_b
    ) WHERE containment >= {threshold}
    ORDER BY doc_a, doc_b
    """


@register(
    "dedup_containment",
    oracle=_containment_oracle_sql(),
    doc=f"Asymmetric containment near-dup pairs (|A n B| / min >= "
    f"{CONTAINMENT_THRESHOLD}) within lang: catches a short document "
    "quoted inside a long one, which symmetric Jaccard scores near the "
    "size ratio and misses. Candidates come from the SAME 32 r=1 "
    "minhash bands as the Jaccard twin (one shared stage shape, "
    "O(collisions) volume); the verify swaps the denominator to the "
    "smaller set, with the honest recall caveat that the (1-J)^32 band "
    "miss bound loosens at extreme size ratios (prefix filtering on "
    "rare shingles is the heavy-inclusion production dial).",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return ngram_containment_pairs(docs).orderBy("doc_a", "doc_b")


# --- SimHash ----------------------------------------------------------------


def simhash_col(tok: Column, bits: int = 60) -> Column:
    """60-bit SimHash: per token take md5-derived bits, sum +1/-1 per bit
    position, sign -> fingerprint bit. Pure JVM expression (no UDF).
    60 bits (15 md5 hex chars) keep every intermediate inside a signed
    int64 under ANSI arithmetic.

    SINGLE-PASS vote accumulation (round-3 verdict #3): one ``aggregate()``
    folds the token-hash array into a ``bits``-element vote vector
    (``zip_with`` against a constant mask array), so the token array — and
    the md5 behind it — is walked ONCE per row. The previous formulation
    built ``bits`` independent ``aggregate()`` expressions, each re-walking
    the tokens and re-deriving the hash: 60x the array traversals and a
    60x-duplicated codegen subtree (the same trap fixed for the minhash
    ``_h`` materialization)."""
    token_hash = F.transform(
        tok, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    votes = F.aggregate(
        token_hash,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda v, m: v + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes, masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda fp, x: fp + x,
    )


def simhash_fingerprints(df: DataFrame, text_col: str = "text",
                         key_col: str = "doc_id") -> DataFrame:
    return df.select(F.col(key_col), simhash_col(tokens_col(text_col)).alias("simhash"))


def _simhash_rep_pairs(df: DataFrame, max_hamming: int = 3
                       ) -> tuple[DataFrame, DataFrame]:
    """Chunk-join candidates over ONE REPRESENTATIVE per exact text.

    The same hot-bucket defense the minhash family got in round 3/4,
    applied to simhash in round 5: m byte-identical boilerplate copies have
    identical fingerprints and previously put m rows into the same bucket
    of ALL FOUR chunk bands — O(m^2) join rows per dup set. Identical text
    means an identical fingerprint, so collapsing to min-key-per-text
    before chunking gives the join one row per distinct content; exact-dup
    membership is re-attached by the caller's expansion. Returns
    ``(rep_pairs, members)`` with rep_pairs = (rep_a, rep_b, hamming)
    filtered and distinct."""
    reps, members = exact_text_collapse(df, min_tokens=0)
    fp = simhash_fingerprints(_spread(reps))
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftrightunsigned(F.col("simhash"), c * 15).bitwiseAND(F.lit(0x7FFF)).alias("val"),
                )
                for c in range(4)
            ])
        ).alias("cc"),
    ).select("doc_id", "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"))
    # one materialized chunk table for both self-join sides (the md5 token
    # walk behind simhash_col is the expensive stage)
    chunks = chunks.transform(_truncate_eager)
    a, b = chunks.alias("a"), chunks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    rep_pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("rep_a"),
            F.col("b.doc_id").alias("rep_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return rep_pairs, members


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance over SimHash, found via band join:
    fingerprints within distance d must agree exactly on at least one of
    d+1 15-bit chunks, so the chunk equi-join bounds the pair space. The
    join runs over exact-text representatives (``_simhash_rep_pairs``);
    the full pair set — identical to the naive formulation, as the oracle
    twin verifies — is reconstructed by expansion: cross-group pairs carry
    the reps' Hamming distance (identical text -> identical fingerprint),
    within-group pairs are distance 0 by construction."""
    rep_pairs, members = _simhash_rep_pairs(df, max_hamming)
    ma = members.select(F.col("doc_id").alias("_ka"), F.col("rep").alias("_ra"))
    mb = members.select(F.col("doc_id").alias("_kb"), F.col("rep").alias("_rb"))
    cross = (
        rep_pairs.join(ma, F.col("_ra") == F.col("rep_a"))
        .join(mb, F.col("_rb") == F.col("rep_b"))
        .select(
            F.least("_ka", "_kb").alias("doc_a"),
            F.greatest("_ka", "_kb").alias("doc_b"),
            "hamming",
        )
    )
    wa = members.select(F.col("doc_id").alias("doc_a"), "_fp")
    wb = members.select(F.col("doc_id").alias("doc_b"), "_fp")
    within = (
        wa.join(wb, "_fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(0).cast("int").alias("hamming"))
    )
    return cross.unionByName(within)


def _simhash_oracle_sql(bits: int = 60, max_hamming: int = 3) -> str:
    votes = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    fp = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(bits)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    th AS (SELECT doc_id, {_HEX_FOLD.format(v='t')} AS h FROM tok),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM th GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, {fp} AS simhash FROM votes),
    chunked AS (SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS chunk FROM fp),
    chunks AS (
      SELECT doc_id, simhash, chunk,
             (simhash >> (chunk * 15)) & 32767 AS val
      FROM chunked
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM chunks a JOIN chunks b
      ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    ORDER BY doc_a, doc_b
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle_sql(),
    doc="SimHash(60) fingerprint near-dup pairs within Hamming distance 3 "
    "(4x15-bit chunk band join). md5-derived token bits are engine-portable, "
    "so the DuckDB oracle rebuilds the fingerprints bit by bit.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return simhash_near_pairs(docs).orderBy("doc_a", "doc_b")


# --- embedding cosine near-dup ----------------------------------------------
# cosine_sim is re-exported from operators.vectors (shared with similarity).


def embedding_cosine_pairs_brute(em: DataFrame, threshold: float = 0.95) -> DataFrame:
    """All-pairs cosine — the O(n^2) recall baseline. NEVER the registered
    path: the full-table broadcast + cross product dies far below 100 TB.
    Kept so tests can pin the LSH path's recall against exact truth."""
    a, b = em.alias("a"), em.alias("b")
    cos = cosine_sim(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# near-dup pair config: 10 tables x 6 bits of the shared 64-plane pool.
# The pair operator pays its verify cost PER CANDIDATE, so its buckets are
# sharper than the range-search default (16x4): a random (cosine ~ 0) pair
# collides with prob 1-(1-2^-6)^10 ~ 0.15 instead of 1-(1-2^-4)^16 ~ 0.64
# — ~4x fewer false candidates — while a 0.8-cosine near-dup still lands
# at 1-(1-0.795^6)^10 ~ 0.95 recall (0.9994 at 0.95). Raising bits further
# is how the budget tightens as corpus density grows; the candidate count
# is pinned by a budget test either way.
_EMB_PAIR_BITS = 6
_EMB_PAIR_TABLES = 10


def embedding_lsh_candidates(em: DataFrame,
                             bits_per_table: int = _EMB_PAIR_BITS,
                             n_tables: int = _EMB_PAIR_TABLES) -> DataFrame:
    """DISTINCT candidate id pairs sharing >= 1 hyperplane-LSH
    (table, bucket) cell. Deduplicated BEFORE any scoring: a pair colliding
    in several tables reaches the verify stage once, and the distinct
    shuffle carries two longs per row — never the embedding arrays."""
    bk = with_lsh_buckets(em, "embedding", "vec_id",
                          bits_per_table, n_tables).select(
        "vec_id", "table", "bucket"
    )
    # both self-join sides read ONE materialized bucket table — without
    # this the 64-plane signature projection runs once per side (the same
    # shared-working-set rule as every band join in this module)
    bk = bk.transform(_truncate_eager)
    a, b = bk.alias("a"), bk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )


def embedding_lsh_near_pairs(em: DataFrame, threshold: float = 0.95,
                             bits_per_table: int = _EMB_PAIR_BITS,
                             n_tables: int = _EMB_PAIR_TABLES) -> DataFrame:
    """Near-dup pairs via hyperplane-LSH candidate generation + exact cosine
    re-rank — O(collisions), nothing broadcast, no O(n^2) stage.

    Round-4 verdict #2 restructure, two changes that multiply:
    - candidates are DISTINCT id pairs before scoring (previously each
      (table, bucket) collision computed the full cosine and distinct ran
      after — up to n_tables scorings per pair);
    - vector norms are computed once per VECTOR and carried as scalars;
      the per-pair work is one dot-product fold. dot/(na*nb) is evaluated
      with the exact same operand tree as cosine_sim over DOUBLE
      elements, so the rounded result is bit-identical to the
      oracle's fold_cosine_sql replay.
    """
    # AQE coalesces the candidate distinct to ~1-2 partitions (it optimizes
    # for shuffle BYTES — a few MB of id pairs — blind to the downstream
    # per-row cost of a 64-dim dot product), serializing the verify stage.
    # Spread re-widens it: a few-MB reshuffle buys a fully parallel re-rank.
    cands = _spread(embedding_lsh_candidates(em, bits_per_table, n_tables))
    # all folds run over DOUBLE elements (round-12 sweep: a float x float
    # multiply diverged from the oracle's widened doubles by an ULP)
    em = em.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("embedding"))
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: (x * x).cast("double")),
            F.lit(0.0), lambda acc, v: acc + v,
        )
    )
    emn = em.select("vec_id", "embedding", norm.alias("_n"))
    ea = emn.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("_ea"),
                    F.col("_n").alias("_na"))
    eb = emn.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("_eb"),
                    F.col("_n").alias("_nb"))
    dot = F.aggregate(
        F.zip_with(F.col("_ea"), F.col("_eb"), lambda x, y: (x * y).cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    return (
        cands.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a", "vec_b",
            F.round(dot / (F.col("_na") * F.col("_nb")), 4).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


_EMB_COSINE_THRESHOLD = 0.4  # the synthetic embeddings are near-orthogonal
# random vectors (max pair cosine ~0.51 at 500 rows), so 0.95 would make the
# registered query vacuously empty; 0.4 keeps real survivors flowing through
# the candidate join + re-rank at every SF.


def _embedding_cosine_oracle_sql() -> str:
    """DuckDB twin of the LSH-candidate path. At threshold 0.4 the LSH
    recall is well below 1.0, so an all-pairs oracle would legitimately
    disagree; instead the oracle rebuilds the bucket assignments (shared
    CTEs, bit-identical planes, the 6x10 pair config) and re-ranks exactly
    the same candidate set."""
    from covid_19_data_engineering_spark.operators.vectors import lsh_bucket_ctes

    return f"""
    WITH {lsh_bucket_ctes(_EMB_PAIR_BITS, _EMB_PAIR_TABLES)},
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bkt a JOIN bkt b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM (
      SELECT c.vec_a, c.vec_b,
             ROUND({fold_cosine_sql('ea.e', 'eb.e')}, 4) AS cosine
      FROM cand c
      JOIN emb ea ON ea.vec_id = c.vec_a
      JOIN emb eb ON eb.vec_id = c.vec_b
    ) WHERE cosine >= {_EMB_COSINE_THRESHOLD}
    ORDER BY vec_a, vec_b
    """


@register(
    "dedup_embedding_cosine",
    oracle=_embedding_cosine_oracle_sql(),
    doc=f"Embedding-cosine near-dup pairs (>={_EMB_COSINE_THRESHOLD}) via "
    f"LSH-bucketed candidate generation ({_EMB_PAIR_BITS} bits x "
    f"{_EMB_PAIR_TABLES} tables, distinct-first) + hoisted-norm exact "
    "re-rank; the oracle rebuilds the deterministic hyperplane buckets so "
    "both engines score the same candidate set.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    return embedding_lsh_near_pairs(em, threshold=_EMB_COSINE_THRESHOLD).orderBy(
        "vec_a", "vec_b"
    )


# --- MinHash-LSH accuracy audit ---------------------------------------------


def minhash_lsh_accuracy(docs: DataFrame, threshold: float = 0.5,
                         target_sample: int = 256) -> DataFrame:
    """Measured precision/recall of the banded-LSH candidate generator
    against EXACT Jaccard ground truth on a bounded deterministic sample.

    The near-dup pipeline's quality claim ("bands catch pairs above the
    threshold") is probabilistic — this operator turns it into a number the
    corpus owner can audit, the same trade-measurement pattern as
    ``ann_projected_recall``. Ground truth needs all-pairs exact Jaccard,
    which is O(s^2) — so s is CAPPED, not proportional: a size-derived
    modulus ``m = max(n // target_sample, 1)`` keeps the md5-sampled subset
    at ~target_sample docs whether the corpus has 10^3 or 10^9 rows, making
    the audit O(1) work at any scale while the candidate side reuses the
    production band pipeline unchanged. Everything is hash-derived, so the
    identical sample, truth set, and candidate set replay in the oracle.
    """
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.greatest(
            F.expr(f"count(1) DIV {target_sample}"), F.lit(1).cast("long")
        ).alias("m"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    sample = (
        docs.crossJoin(F.broadcast(stats))
        .where(bucket % F.col("m") == 0)
        .select("doc_id", "text")
    )
    sh = sample.select("doc_id", shingles_col(tokens_col("text")).alias("s"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    denom = F.size(F.col("a.s")) + F.size(F.col("b.s")) - inter
    jac = F.when(denom > 0, inter.cast("double") / denom.cast("double"))
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("j"),
        )
        .where(F.col("j") >= threshold)
    )
    bands = minhash_bands(sample)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.bucket") == F.col("bb.bucket"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    hits = cand.join(truth, ["doc_a", "doc_b"])
    counts = (
        sample.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_true_pairs")))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidate_pairs")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
    )
    return counts.select(
        "n_docs",
        "n_true_pairs",
        "n_candidate_pairs",
        "n_hits",
        F.round(
            F.col("n_hits").cast("double")
            / F.nullif(F.col("n_candidate_pairs"), F.lit(0)),
            4,
        ).alias("precision"),
        F.round(
            F.col("n_hits").cast("double") / F.nullif(F.col("n_true_pairs"), F.lit(0)),
            4,
        ).alias("recall"),
    )


def _minhash_accuracy_oracle_sql(threshold: float = 0.5,
                                 target_sample: int = 256) -> str:
    return f"""
    WITH nd AS (SELECT COUNT(*) AS n,
                       greatest(COUNT(*) // {target_sample}, 1) AS m
                FROM documents),
    sample_docs AS (
      SELECT * FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % (SELECT m FROM nd) = 0
    ),
    {minhash_pipeline_ctes(source="sample_docs")},
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM toks a JOIN toks b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / NULLIF(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)), 0)
            >= {threshold}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    hits AS (SELECT * FROM cand JOIN truth USING (doc_a, doc_b))
    SELECT CAST((SELECT COUNT(*) FROM sample_docs) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true_pairs,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidate_pairs,
           CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_hits,
           ROUND(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                 / NULLIF((SELECT COUNT(*) FROM cand), 0), 4) AS precision,
           ROUND(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                 / NULLIF((SELECT COUNT(*) FROM truth), 0), 4) AS recall
    """


@register(
    "minhash_lsh_accuracy",
    oracle=_minhash_accuracy_oracle_sql(),
    doc="Precision/recall of the MinHash(32)+LSH(8x4) candidate generator "
    "vs exact Jaccard>=0.5 ground truth on a size-capped (~256 doc) "
    "md5-derived sample — the audit that prices the LSH recall trade "
    "before a 100 TB dedup run relies on it. The O(s^2) truth stage is "
    "O(1) at any corpus size by construction; the candidate side is the "
    "unmodified production band pipeline.",
)
def minhash_lsh_accuracy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_accuracy(load_table(spark, "documents", sf_dir))


# --- exact set-similarity join (prefix filtering / PPJoin-lite) -------------


_PREFIX_THETA_NUM, _PREFIX_THETA_DEN = 7, 10  # theta = 0.7, integer-exact


def setsim_prefix_join(docs: DataFrame, text_col: str = "text",
                       key_col: str = "doc_id") -> DataFrame:
    """EXACT Jaccard >= 0.7 pairs over 3-shingle sets via prefix filtering —
    the zero-false-negative counterpart to the MinHash-LSH family.

    Prefix-filtering principle (PPJoin, Xiao et al. 2008): under ANY global
    token order, two sets with overlap >= t must share a token inside their
    first |s| - t + 1 tokens; J >= θ implies overlap >= ceil(θ|s|) on both
    sides, so docs keep only their ``|s| - ceil(θ|s|) + 1`` RAREST shingles
    (global order = (document frequency, shingle) — rarest first, so prefix
    collisions are the scarcest events available) and candidates are an
    equi-join on prefix shingles. Unlike LSH there is no recall trade:
    every qualifying pair collides BY THEOREM; the exact Jaccard verify
    then runs only on collisions.

    Scale shape: identical texts are collapsed to one representative first
    (the same move as `_minhash_rep_pairs`), so a 10^6-copy boilerplate
    group costs one rep, not C(10^6, 2) candidates; document frequency is
    one uniform shuffle; the prefix self-join's volume is bounded by
    rare-shingle collisions (~true near-dups), never |docs|^2. ceil uses
    integer arithmetic ((7s + 9) DIV 10) so both engines derive identical
    prefix lengths — no float boundary.
    """
    reps = docs.groupBy(text_col).agg(F.min(key_col).alias(key_col))
    # three plan branches read the shingle sets (the df path and BOTH
    # verify sides); without a checkpoint the tokenize+shingle projection
    # — the dominant per-row cost on natural text — executes three times
    sets = reps.select(
        F.col(key_col), shingles_col(tokens_col(text_col)).alias("s")
    ).transform(_truncate)
    ex = sets.select(key_col, F.explode("s").alias("sh"))
    dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        ex.join(dfreq, "sh")
        .groupBy(key_col)
        .agg(F.sort_array(F.collect_list(F.struct("df", "sh"))).alias("lst"))
    )
    s_len = F.size(F.col("lst"))
    p_len = (
        s_len
        - F.expr(f"({_PREFIX_THETA_NUM} * size(lst) + {_PREFIX_THETA_DEN - 1})"
                 f" DIV {_PREFIX_THETA_DEN}")
        + F.lit(1)
    )
    pref = ordered.select(
        F.col(key_col),
        s_len.alias("ln"),
        F.posexplode(
            F.transform(F.slice("lst", F.lit(1), p_len), lambda x: x["sh"])
        ).alias("pos0", "sh"),
    ).select(key_col, "ln", (F.col("pos0") + 1).alias("pos"), "sh")
    pa, pb = pref.alias("pa"), pref.alias("pb")
    la_j, lb_j = F.col("pa.ln"), F.col("pb.ln")
    # PPJoin's two candidate-pruning theorems (Xiao et al. 2008 §3), both
    # output-neutral (they only drop pairs that provably cannot reach θ):
    # LENGTH filter — J>=θ forces θ·max(|a|,|b|) <= min(|a|,|b|), checked
    # as an exact integer cross-multiplication inside the join predicate;
    # POSITIONAL filter — the earliest shared prefix token at (1-based)
    # positions (i, j) bounds the overlap by 1 + min(|a|-i, |b|-j), which
    # must reach the J>=θ overlap requirement ceil(θ(|a|+|b|)/(1+θ)).
    # Both lists sort under the SAME (df, sh) total order, so min(i) and
    # min(j) land on the same first shared token; independent mins would
    # still only overestimate the bound (conservative, never lossy).
    overlap_t = F.expr(
        f"({_PREFIX_THETA_NUM} * (la + lb) "
        f"+ {_PREFIX_THETA_NUM + _PREFIX_THETA_DEN - 1}) "
        f"DIV {_PREFIX_THETA_NUM + _PREFIX_THETA_DEN}")
    cand = (
        pa.join(
            pb,
            (F.col("pa.sh") == F.col("pb.sh"))
            & (F.col(f"pa.{key_col}") < F.col(f"pb.{key_col}"))
            & (F.lit(_PREFIX_THETA_DEN) * F.least(la_j, lb_j)
               >= F.lit(_PREFIX_THETA_NUM) * F.greatest(la_j, lb_j)),
        )
        .groupBy(
            F.col(f"pa.{key_col}").alias("doc_a"),
            F.col(f"pb.{key_col}").alias("doc_b"),
        )
        .agg(
            F.min("pa.pos").alias("ia"), F.min("pb.pos").alias("jb"),
            F.min("pa.ln").alias("la"), F.min("pb.ln").alias("lb"),
        )
        .where(
            F.lit(1) + F.least(F.col("la") - F.col("ia"),
                               F.col("lb") - F.col("jb")) >= overlap_t)
        .select("doc_a", "doc_b")
    )
    sa = sets.select(F.col(key_col).alias("doc_a"), F.col("s").alias("sa"))
    sb = sets.select(F.col(key_col).alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= _PREFIX_THETA_NUM / _PREFIX_THETA_DEN)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@register(
    "setsim_prefix_join",
    oracle=f"""
    WITH reps AS (
      SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY text
    ),
    toks AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
             )) AS s
      FROM reps
    ),
    ex AS (SELECT doc_id, unnest(s) AS sh FROM toks),
    dfreq AS (SELECT sh, COUNT(*) AS df FROM ex GROUP BY sh),
    ordered AS (
      SELECT e.doc_id, array_agg(e.sh ORDER BY d.df, e.sh) AS lst
      FROM ex e JOIN dfreq d USING (sh) GROUP BY e.doc_id
    ),
    prefl AS (
      SELECT doc_id, len(lst) AS ln,
             list_slice(lst, 1,
               len(lst) - ({_PREFIX_THETA_NUM} * len(lst)
                           + {_PREFIX_THETA_DEN - 1}) // {_PREFIX_THETA_DEN}
               + 1) AS pl
      FROM ordered
    ),
    pref AS (
      SELECT doc_id, ln, unnest(pl) AS sh,
             unnest(range(1, len(pl) + 1)) AS pos
      FROM prefl
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b
        ON a.sh = b.sh AND a.doc_id < b.doc_id
       AND {_PREFIX_THETA_DEN} * least(a.ln, b.ln)
           >= {_PREFIX_THETA_NUM} * greatest(a.ln, b.ln)
      GROUP BY 1, 2
      HAVING 1 + least(MIN(a.ln) - MIN(a.pos), MIN(b.ln) - MIN(b.pos))
             >= ({_PREFIX_THETA_NUM} * (MIN(a.ln) + MIN(b.ln))
                 + {_PREFIX_THETA_NUM + _PREFIX_THETA_DEN - 1})
                // {_PREFIX_THETA_NUM + _PREFIX_THETA_DEN}
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(len(list_intersect(ta.s, tb.s)) AS DOUBLE)
                 / (len(ta.s) + len(tb.s) - len(list_intersect(ta.s, tb.s))),
                 4) AS jaccard
    FROM cand
    JOIN toks ta ON ta.doc_id = doc_a
    JOIN toks tb ON tb.doc_id = doc_b
    WHERE CAST(len(list_intersect(ta.s, tb.s)) AS DOUBLE)
          / (len(ta.s) + len(tb.s) - len(list_intersect(ta.s, tb.s)))
          >= {_PREFIX_THETA_NUM / _PREFIX_THETA_DEN}
    ORDER BY doc_a, doc_b
    """,
    doc="EXACT Jaccard>=0.7 near-dup pairs (3-shingle sets) via PPJoin "
    "prefix filtering: rarest-first global shingle order, prefix-token "
    "equi-join candidates pruned by the length filter (integer cross-"
    "multiplication in the join predicate) and the positional filter "
    "(first-collision overlap bound vs ceil(θ(|a|+|b|)/(1+θ))) — zero "
    "false negatives by theorem, no LSH recall trade — then exact verify "
    "on the surviving collisions only. Exact-text collapse bounds "
    "boilerplate groups; integer ceil keeps every bound engine-exact.",
)
def setsim_prefix_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return setsim_prefix_join(load_table(spark, "documents", sf_dir))

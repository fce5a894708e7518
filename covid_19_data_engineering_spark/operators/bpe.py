"""BPE merge induction — the core loop of tokenizer training, as a
deterministic, oracle-replayable Spark plan.

The engine already counts tokens with a fixed BPE-ish regex
(``token_count_bpe``); this operator LEARNS the merges: the classic
byte-pair-encoding procedure (Sennrich et al. 2016) over the corpus's
word-frequency table. Each round counts adjacent symbol pairs (weighted
by word frequency), merges the most frequent pair corpus-wide, and
repeats — exactly what a tokenizer-training job runs before any LLM
pipeline can tokenize consistently.

Determinism across engines:
- words come from the shared single-space split; symbols start as
  characters joined by an ASCII unit separator (0x1F — absent from the
  corpus by construction, asserted cheaply);
- merges are applied SYMBOL-AWARE (round-6 fix of a round-5 advisory):
  the symbol string is rewrapped so every symbol carries a separator on
  BOTH sides (``a|b`` -> ``|a||b|``), the merge replaces the literal
  ``|l||r|`` with ``|lr|``, and the wrap is undone. A bare
  ``replace(ws, l|r, lr)`` fired whenever one symbol merely ENDED with l
  and the next STARTED with r (after merges (a,b),(b,c) it corrupted
  [ab, c] into [abc]); the wrapped form can only match exact adjacent
  symbol pairs, while literal-replace's leftmost-non-overlapping scan
  still IS BPE's greedy left-to-right merge order (each match consumes
  exactly the two wrapped symbols, so consecutive pairs stay matchable);
- the argmax pair is tie-broken (count DESC, left ASC, right ASC) —
  binary string comparison on both engines.

Batched variant (round-5 verdict #6): real tokenizers run 10^4-10^5
merges, and one driver round-trip per merge cannot scale in rounds.
``bpe_merge_table_batched`` takes, per round, the top-B candidates and
greedily keeps each one iff it shares NO symbol (left, right, or merged
result) with any ALREADY-KEPT candidate of the window — the greedy
maximal-independent-set scan in rank order. (Round 8 upgraded this from
"clash with any higher-ranked CANDIDATE, kept or not": on natural text
the top of every window shares common letters, so the candidate rule
kept ~4 of 32 per round and the batch never amortized.) The window is
at most B rows, so the scan runs on the driver over one bounded
TakeOrdered collect — B is a config constant, never corpus-sized — and
the oracle replays the identical scan as a DuckDB recursive CTE
accumulating the used-symbol list rank by rank. All kept merges apply
in rank order with ONE fold of literal replaces (F.aggregate /
list_reduce): exactly 2 jobs per round (the window collect + the fold
checkpoint) regardless of B. Symbol-disjoint merges neither create nor
destroy each other's adjacencies, so each kept merge applies with
exactly the count greedy would have seen at its turn; the approximation
(stated, not hidden) is that a DROPPED conflicting candidate would,
under true greedy, have been re-counted next turn rather than skipped
for the round. At B=1 the rule degenerates to the exact greedy argmax —
pytest pins batched(B=1) output-equal to the sequential operator, and a
B=32 x 8-round run is pinned to learn 100+ merges at 2 jobs/round.

Scale shape (why this is cluster-sane): all rounds operate on the
WORD-FREQUENCY table, O(vocabulary) — orders of magnitude smaller than
the corpus — produced by one corpus-wide shuffle up front. Each round is
one explode + one (pair)-keyed partial-agg shuffle + a TakeOrdered of B
+ a broadcast of those rows into a map-side fold of replaces. The round
count is the contract; batching makes each round learn ~B merges, so
the rounds-to-vocabulary ratio improves ~B-fold.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from covid_19_data_engineering_spark.operators.lineage import (
    truncate_eager as _truncate_eager,
)
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

N_MERGES = 8
SEP = "\x1f"
# record separator between the pattern and replacement halves of a packed
# merge instruction (fold element); like SEP, absent from the corpus
RS = "\x1e"
BATCH_ROUNDS = 2
BATCH_B = 8


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the single-space tokenization — the O(vocabulary)
    working set every BPE round operates on."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where((F.length("w") > 0) & ~F.col("w").contains(SEP)
               & ~F.col("w").contains(RS))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _seed_symbols(words: DataFrame) -> DataFrame:
    """Char-level seed: 'abc' -> 'a<SEP>b<SEP>c'."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substring(F.col("w"), i, 1),
    )
    return words.select(
        F.array_join(chars, SEP).alias("ws"), F.col("cnt")
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    sym = F.split(F.col("ws"), SEP)
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(sym) - 1),
        lambda i: F.struct(
            F.element_at(sym, i).alias("l"),
            F.element_at(sym, i + F.lit(1)).alias("r"),
        ),
    )
    return (
        words.where(F.size(sym) >= 2)
        .select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("total"))
    )


def _wrap(ws):
    """Single-SEP join -> every symbol separator-wrapped:
    'a<S>b' -> '<S>a<S><S>b<S>'. Merge patterns anchored on both sides can
    then only match exact adjacent symbol pairs."""
    return F.concat(F.lit(SEP), F.replace(ws, F.lit(SEP), F.lit(SEP + SEP)),
                    F.lit(SEP))


def _unwrap(ws):
    """Inverse of _wrap (symbols are non-empty and never contain SEP, so
    the wrapped form has exactly one SEP at each end)."""
    return F.replace(F.btrim(ws, F.lit(SEP)), F.lit(SEP + SEP), F.lit(SEP))


def _apply_merge(ws, l, r):
    """Symbol-aware greedy merge of adjacent (l, r): wrap, replace the
    anchored literal, unwrap."""
    pat = F.concat(F.lit(SEP), l, F.lit(SEP + SEP), r, F.lit(SEP))
    rep = F.concat(F.lit(SEP), l, r, F.lit(SEP))
    return _unwrap(F.replace(_wrap(ws), pat, rep))


def bpe_merge_table(docs: DataFrame, n_merges: int = N_MERGES,
                    text_col: str = "text") -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns one row per merge:
    (merge_rank, left_sym, right_sym, merged, pair_count)."""
    merges, _ = bpe_train(docs, n_merges, text_col)
    return merges


def bpe_train(docs: DataFrame, n_merges: int = N_MERGES,
              text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """Full BPE training state: ``(merge_table, final_words)`` where
    final_words is the word-frequency table with all learned merges
    applied (ws = SEP-joined symbols, cnt) — what tokenization with the
    learned vocabulary produces."""
    words = _seed_symbols(word_frequencies(docs, text_col))
    # every round reads the previous round's words twice (pair counts +
    # replace) — checkpoint per round, the iterative-operator rule
    words = words.transform(_truncate_eager)
    merges = []
    for rank in range(1, n_merges + 1):
        best = (
            _pair_counts(words)
            .orderBy(F.col("total").desc(), "l", "r")
            .limit(1)
            .transform(_truncate_eager)
        )
        # merge exhaustion (every word fully merged / single-symbol): an
        # empty best crossJoined below would DELETE the whole vocabulary.
        # Real corpora never exhaust inside the 8-round budget (the
        # registered oracles replay all rounds, and on such corpora the
        # two behaviors are identical); the break makes the library safe
        # on tiny inputs. Probe cost: one count on a checkpointed <=1-row
        # frame.
        if best.count() == 0:
            break
        merges.append(
            best.select(
                F.lit(rank).alias("merge_rank"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.concat("l", "r").alias("merged"),
                F.col("total").alias("pair_count"),
            )
        )
        words = (
            words.crossJoin(F.broadcast(best))
            .select(
                _apply_merge(F.col("ws"), F.col("l"), F.col("r")).alias("ws"),
                "cnt",
            )
            .transform(_truncate_eager)
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out, words


def _greedy_keep(top_rows: list) -> list[tuple]:
    """Greedy maximal-independent-set scan over the ranked window: keep
    candidate i iff {l, r, lr} is disjoint from every ALREADY-KEPT
    candidate's symbols. Runs on the driver over at most B rows (a
    config constant — this is a BOUNDED collect, same class as the
    inference/quantile candidate reads); the oracle replays the scan as
    a recursive CTE accumulating the identical used-symbol list."""
    used: set[str] = set()
    kept: list[tuple] = []
    for rn, row in enumerate(top_rows, start=1):
        l, r = row["l"], row["r"]
        if {l, r, l + r} & used:
            continue
        kept.append((rn, l, r, int(row["total"])))
        used |= {l, r, l + r}
    return kept


def bpe_train_batched(docs: DataFrame, n_rounds: int = BATCH_ROUNDS,
                      batch: int = BATCH_B,
                      text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """Batched BPE training: per round, learn up to ``batch`` pairwise
    symbol-disjoint merges (greedy independent-set over the top-B
    window) and apply them with one fold of symbol-aware replaces —
    exactly 2 Spark jobs per round (TakeOrdered window collect + fold
    checkpoint) no matter the batch size. Returns
    ``(merge_table, final_words)``; merge_rank is the global
    application order (round, then in-round window rank)."""
    spark = docs.sparkSession
    words = _seed_symbols(word_frequencies(docs, text_col))
    words = words.transform(_truncate_eager)
    learned: list[tuple] = []
    for rnd in range(1, n_rounds + 1):
        # TakeOrdered-of-B (orderBy + limit) — an unpartitioned
        # row_number window over the full pair-counts table would funnel
        # O(distinct pairs) through one task, the exact single-partition
        # shape the sequential twin's limit(1) avoids
        top_rows = (
            _pair_counts(words)
            .orderBy(F.col("total").desc(), "l", "r")
            .limit(batch)
            .collect()
        )
        kept = _greedy_keep(top_rows)
        if not kept:
            break  # corpus fully merged — nothing adjacent remains
        learned.extend((rnd, rn, l, r, total) for rn, l, r, total in kept)
        # pack each kept merge as 'pattern<RS>replacement' literals, fold
        # them over the wrapped symbol string in rank order — ONE
        # map-side projection per round regardless of batch size
        ms = [SEP + l + SEP + SEP + r + SEP + RS + SEP + l + r + SEP
              for _, l, r, _ in kept]
        folded = F.aggregate(
            F.array(*[F.lit(m) for m in ms]), _wrap(F.col("ws")),
            lambda acc, m: F.replace(acc, F.split_part(m, F.lit(RS), F.lit(1)),
                                     F.split_part(m, F.lit(RS), F.lit(2))),
        )
        words = (
            words.select(_unwrap(folded).alias("ws"), "cnt")
            .transform(_truncate_eager)
        )
    out = spark.createDataFrame(
        [(i, l, r, l + r, total)
         for i, (_, _, l, r, total) in enumerate(learned, start=1)],
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count long",
    )
    return out, words


def bpe_merge_table_batched(docs: DataFrame, n_rounds: int = BATCH_ROUNDS,
                            batch: int = BATCH_B,
                            text_col: str = "text") -> DataFrame:
    merges, _ = bpe_train_batched(docs, n_rounds, batch, text_col)
    return merges


def bpe_vocab_topk(docs: DataFrame, n_merges: int = N_MERGES, k: int = 20,
                   text_col: str = "text") -> DataFrame:
    """Tokenize the corpus with the learned merges and report the top-k
    resulting subword tokens: (token, token_count) — the sanity readout a
    tokenizer-training run ships (which subwords the merges produced and
    how much corpus mass they carry). Deterministic order: count DESC,
    token ASC."""
    _, words = bpe_train(docs, n_merges, text_col)
    sym = F.split(F.col("ws"), SEP)
    return (
        words.select(F.explode(sym).alias("token"), "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").alias("token_count"))
        .orderBy(F.col("token_count").desc(), "token")
        .limit(k)
    )


# ---------------------------------------------------------------- oracles

_S = "chr(31)"
_R = "chr(30)"


def _sql_wrap(ws: str) -> str:
    return f"{_S} || replace({ws}, {_S}, {_S} || {_S}) || {_S}"


def _sql_unwrap(ws: str) -> str:
    return f"replace(trim({ws}, {_S}), {_S} || {_S}, {_S})"


_WORDS0_CTE = f"""words0 AS (
      SELECT array_to_string(
               list_transform(range(1, len(w) + 1), i -> w[i]), chr(31)
             ) AS ws, cnt
      FROM (
        SELECT w, COUNT(*) AS cnt FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ) WHERE len(w) > 0 AND NOT contains(w, chr(31))
              AND NOT contains(w, chr(30))
        GROUP BY w
      )
    )"""


def _bpe_oracle_sql(n_merges: int = N_MERGES) -> str:
    """Unrolled CTE replay: words0 -> (best1, words1) -> ... The merge
    uses the same symbol-wrapped literal replace; chr(31) separates
    symbols."""
    ctes = [_WORDS0_CTE]
    for r in range(1, n_merges + 1):
        prev = f"words{r - 1}"
        ctes.append(f"""best{r} AS (
      SELECT l, r, total FROM (
        SELECT s[i] AS l, s[i + 1] AS r,
               CAST(SUM(cnt) AS BIGINT) AS total FROM (
          SELECT unnest(range(1, len(s))) AS i, s, cnt FROM (
            SELECT string_split(ws, chr(31)) AS s, cnt FROM {prev}
          ) WHERE len(s) >= 2
        ) GROUP BY s[i], s[i + 1]
      ) ORDER BY total DESC, l, r LIMIT 1
    )""")
        wrapped = _sql_wrap("ws")
        replaced = (f"replace({wrapped}, "
                    f"{_S} || b.l || {_S} || {_S} || b.r || {_S}, "
                    f"{_S} || b.l || b.r || {_S})")
        ctes.append(f"""words{r} AS (
      SELECT {_sql_unwrap(replaced)} AS ws, cnt
      FROM {prev} CROSS JOIN best{r} b
    )""")
    union = "\n      UNION ALL\n      ".join(
        f"SELECT {r} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, total AS pair_count FROM best{r}"
        for r in range(1, n_merges + 1)
    )
    return "\n    WITH " + ",\n    ".join(ctes) + f"""
    SELECT * FROM (
      {union}
    ) ORDER BY merge_rank
    """


def _bpe_vocab_oracle_sql(n_merges: int = N_MERGES, k: int = 20) -> str:
    """Reuses the full unrolled training chain — words{n_merges} IS the
    tokenized corpus — then one split + rollup."""
    base = _bpe_oracle_sql(n_merges)
    # keep the WITH chain, swap the final select
    chain_end = base.index("SELECT * FROM (")
    return base[:chain_end] + f"""SELECT token, token_count FROM (
      SELECT token, CAST(SUM(cnt) AS BIGINT) AS token_count FROM (
        SELECT unnest(string_split(ws, chr(31))) AS token, cnt
        FROM words{n_merges}
      ) GROUP BY token
    ) ORDER BY token_count DESC, token LIMIT {k}
    """


def _bpe_batched_oracle_sql(n_rounds: int = BATCH_ROUNDS,
                            batch: int = BATCH_B) -> str:
    """Unrolled batched replay: per round a ranked top-B window, the
    greedy independent-set keep rule as a RECURSIVE CTE walking the
    window in rank order (used-symbol list accumulated exactly like the
    engine's driver-side scan), and a list_reduce fold of the packed
    replaces — the same arithmetic the engine broadcasts."""
    ctes = [_WORDS0_CTE]
    for r in range(1, n_rounds + 1):
        prev = f"words{r - 1}"
        ctes.append(f"""topb{r} AS (
      SELECT l, r, total,
             ROW_NUMBER() OVER (ORDER BY total DESC, l, r) AS rn
      FROM (
        SELECT s[i] AS l, s[i + 1] AS r,
               CAST(SUM(cnt) AS BIGINT) AS total FROM (
          SELECT unnest(range(1, len(s))) AS i, s, cnt FROM (
            SELECT string_split(ws, chr(31)) AS s, cnt FROM {prev}
          ) WHERE len(s) >= 2
        ) GROUP BY s[i], s[i + 1]
      ) QUALIFY rn <= {batch}
    )""")
        ctes.append(f"""g{r} AS (
      SELECT 0 AS rn, CAST([] AS VARCHAR[]) AS used, FALSE AS keep
      UNION ALL
      SELECT t.rn,
             CASE WHEN list_contains(g.used, t.l)
                    OR list_contains(g.used, t.r)
                    OR list_contains(g.used, t.l || t.r)
                  THEN g.used
                  ELSE list_concat(g.used, [t.l, t.r, t.l || t.r]) END,
             NOT (list_contains(g.used, t.l)
                    OR list_contains(g.used, t.r)
                    OR list_contains(g.used, t.l || t.r))
      FROM g{r} g JOIN topb{r} t ON t.rn = g.rn + 1
    )""")
        ctes.append(f"""kept{r} AS (
      SELECT t.l, t.r, t.total, t.rn
      FROM topb{r} t JOIN g{r} g ON g.rn = t.rn
      WHERE g.keep
    )""")
        ctes.append(f"""mlist{r} AS (
      SELECT COALESCE(list(
               {_S} || l || {_S} || {_S} || r || {_S} || {_R} ||
               {_S} || l || r || {_S}
               ORDER BY rn), []) AS ms
      FROM kept{r}
    )""")
        folded = (f"list_reduce(list_prepend({_sql_wrap('ws')}, m.ms), "
                  f"(acc, x) -> replace(acc, string_split(x, {_R})[1], "
                  f"string_split(x, {_R})[2]))")
        ctes.append(f"""words{r} AS (
      SELECT {_sql_unwrap(folded)} AS ws, cnt
      FROM {prev} CROSS JOIN mlist{r} m
    )""")
    union = "\n      UNION ALL\n      ".join(
        f"SELECT {r} AS round, rn, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, total AS pair_count FROM kept{r}"
        for r in range(1, n_rounds + 1)
    )
    return "\n    WITH RECURSIVE " + ",\n    ".join(ctes) + f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY round, rn) AS INTEGER)
             AS merge_rank,
           left_sym, right_sym, merged, pair_count
    FROM (
      {union}
    ) ORDER BY merge_rank
    """


@register(
    "bpe_vocab_tokens",
    oracle=_bpe_vocab_oracle_sql(),
    doc=f"Corpus tokenized with the {N_MERGES} learned BPE merges: top-20 "
    "subword tokens by corpus mass — the tokenizer-training sanity "
    "readout. Oracle replays training AND tokenization (the unrolled "
    "words chain's final state IS the tokenized corpus).",
)
def bpe_vocab_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return bpe_vocab_topk(docs)


@register(
    "bpe_merge_induction",
    oracle=_bpe_oracle_sql(),
    doc=f"Byte-pair-encoding merge induction (Sennrich et al. 2016): "
    f"{N_MERGES} rounds of count-adjacent-pairs -> merge-the-max over the "
    "O(vocabulary) word-frequency table — the tokenizer-training core "
    "loop. Greedy left-to-right merges via symbol-wrapped literal replace "
    "(identical semantics on both engines; anchored so matches can only "
    "be exact adjacent symbol pairs); deterministic tie-breaks; the "
    "oracle replays every round CTE-for-CTE.",
)
def bpe_merge_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return bpe_merge_table(docs).orderBy("merge_rank")


@register(
    "bpe_merge_induction_batched",
    oracle=_bpe_batched_oracle_sql(),
    doc=f"Batched BPE merge induction: {BATCH_ROUNDS} rounds x top-"
    f"{BATCH_B} window, keeping candidates pairwise symbol-disjoint with "
    "every higher-ranked window entry (recursion-free rule, oracle-"
    "replayed), applied per round as ONE fold of symbol-wrapped literal "
    "replaces — ~B x fewer driver round-trips per learned merge, exact "
    "greedy counts for the kept set.",
)
def bpe_merge_induction_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return bpe_merge_table_batched(docs).orderBy("merge_rank")


# ------------------------------------------------- tokenizer fertility audit

def tokenizer_fertility(docs: DataFrame, n_merges: int = N_MERGES,
                        text_col: str = "text") -> DataFrame:
    """Per-source tokenizer-quality readout under the LEARNED vocabulary:
    fertility (subword tokens per word) and compression (characters per
    token) — the numbers a tokenizer evaluation reports per language /
    source before a training run commits to a vocab (high fertility on a
    source means its text fragments into many subwords and eats sequence
    length).

    The corpus is tokenized at ZERO extra merge cost: ``bpe_train``'s
    final word table already carries every distinct word's merged symbol
    split, so per-source numbers are one (source, word) count join-back —
    the vocabulary table is O(distinct words), broadcastable at corpus
    scale."""
    _, words = bpe_train(docs, n_merges, text_col)
    sym = F.split(F.col("ws"), SEP)
    vocab = words.select(
        F.translate(F.col("ws"), SEP, "").alias("w"),
        F.size(sym).alias("n_tok"),
    )
    src_words = (
        docs.select("source",
                    F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where((F.length("w") > 0) & ~F.col("w").contains(SEP)
               & ~F.col("w").contains(RS))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        src_words.join(vocab, "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.expr("cnt * n_tok")).alias("n_tokens"),
            F.sum(F.expr("cnt * length(w)")).alias("n_chars"),
        )
        .selectExpr(
            "source", "n_words", "n_tokens", "n_chars",
            "CAST(FLOOR(CAST(n_tokens AS DOUBLE) / n_words * 1000000 + 0.5)"
            " AS BIGINT) AS fertility_1e6",
            "CAST(FLOOR(CAST(n_chars AS DOUBLE) / n_tokens * 1000000 + 0.5)"
            " AS BIGINT) AS chars_per_token_1e6",
        )
        .orderBy("source")
    )


def _fertility_oracle_sql(n_merges: int = N_MERGES) -> str:
    """Reuses the unrolled training chain (words{n} is the tokenized
    vocabulary), then one per-source count join-back."""
    base = _bpe_oracle_sql(n_merges)
    chain_end = base.index("SELECT * FROM (")
    return base[:chain_end] + f"""SELECT source, n_words, n_tokens, n_chars,
           CAST(FLOOR(CAST(n_tokens AS DOUBLE) / n_words * 1000000 + 0.5)
                AS BIGINT) AS fertility_1e6,
           CAST(FLOOR(CAST(n_chars AS DOUBLE) / n_tokens * 1000000 + 0.5)
                AS BIGINT) AS chars_per_token_1e6
    FROM (
      SELECT sw.source,
             CAST(SUM(sw.cnt) AS BIGINT) AS n_words,
             CAST(SUM(sw.cnt * v.n_tok) AS BIGINT) AS n_tokens,
             CAST(SUM(sw.cnt * len(v.w)) AS BIGINT) AS n_chars
      FROM (
        SELECT source, w, COUNT(*) AS cnt FROM (
          SELECT source, unnest(string_split(text, ' ')) AS w
          FROM documents
        ) WHERE len(w) > 0 AND NOT contains(w, chr(31))
              AND NOT contains(w, chr(30))
        GROUP BY source, w
      ) sw
      JOIN (
        SELECT replace(ws, chr(31), '') AS w,
               len(string_split(ws, chr(31))) AS n_tok
        FROM words{n_merges}
      ) v USING (w)
      GROUP BY sw.source
    ) ORDER BY source
    """


@register(
    "tokenizer_fertility_by_source",
    oracle=_fertility_oracle_sql(),
    doc=f"Tokenizer fertility audit under the {N_MERGES}-merge learned BPE "
    "vocabulary: per source, words / subword tokens / characters plus "
    "fertility (tokens per word) and compression (chars per token) in "
    "tie-free 1e-6 fixed point — the per-language sequence-length-cost "
    "readout a tokenizer evaluation ships. Tokenization is free: the "
    "training loop's final word table already holds every distinct "
    "word's merged split, so the audit is one (source, word) count "
    "join-back against an O(vocabulary) broadcastable table.",
)
def tokenizer_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return tokenizer_fertility(docs)

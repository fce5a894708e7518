"""Exact distributed quantiles via histogram refine — order statistics
without a global sort.

``percentile`` over 100 TB has two classic failure modes: a global sort
(one total-order shuffle of the corpus) or an approximate sketch (whose
error bound then infects every downstream SLA). The histogram-refine
pattern gets EXACT order statistics in two bounded passes: pass 1 bins
the column into equal-width buckets (a map-side-combined groupBy) and
collects the per-bucket counts — at most bins + 1 rows — so the driver
locates, for each target rank k, the bucket holding the k-th smallest
value and the residual rank within it; pass 2 ranks ONLY the rows of the
(few, distinct) candidate buckets — expected n/bins rows each — with a
window partitioned by bucket. No stage ever sees a total order; a
pathological bucket (all mass on one value) still bounds pass 2 at that
bucket's row count, and the construction recurses if a deployment needs
a hard cap.

Rank semantics are explicit order statistics — k = floor((n-1) * p) + 1,
the 1-based index of the p-quantile in the sorted column — so the oracle
can state the same rank arithmetic with a window instead of relying on
any engine's percentile interpolation flavor. Ties: equal values are
interchangeable at equal rank, so the readout is unique.

No reference analogue (the reference delegates aggregation SQL);
SURVEY §2 C-extensions. The mergeable-sketch alternatives (HLL, CMS)
live in operators/sketches.py; this is the exact path.
"""

from __future__ import annotations

import math
from bisect import bisect_left
from itertools import accumulate

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

BINS = 1024
QUANTILES = (0.25, 0.5, 0.75, 0.9, 0.99)
# fixed-point units for the binned value: prices carry 2 decimals, so
# 100x units make the bin arithmetic exact integer on both engines
VAL_UNIT = 100
# pass-2 ranks each candidate bucket in one window task of expected
# n/bins rows; deriving bins from n caps that task at ~BIN_TARGET rows
# no matter the corpus size (a fixed BINS=1024 would put ~10^9 rows
# through one sort task on a 10^12-row column)
BIN_TARGET = 1_000_000


def _derive_bins(n: int, floor_bins: int, bin_target: int) -> int:
    """Bin count sized to the corpus: at least ``floor_bins`` (keeps the
    pass-1 table tiny on small data), growing as n // bin_target so the
    expected pass-2 per-bucket row count stays ~bin_target at any scale.
    Same size-derivation pattern as SemDeDup's K (semdedup.py). The
    RESULT is bins-invariant — more buckets only narrow where the rank
    lands, never which value answers it — so the DuckDB oracle (a plain
    ranked window) needs no replay of this derivation."""
    return max(floor_bins, n // bin_target)


def _cents(col: str) -> str:
    return f"CAST(round({col} * {VAL_UNIT}) AS BIGINT)"


def _stats(df: DataFrame, col: str, weight: str | None = None) -> tuple:
    """(lo_u, hi_u, n[, W]) in one driver ``first()``: integer-unit min
    and max (0 on empty input), the row count and, with ``weight``, the
    BIGINT total weight (0 on empty input)."""
    exprs = [_cents(f"min({col})"), _cents(f"max({col})"), "COUNT(*)"]
    if weight is not None:
        exprs.append(f"CAST(sum({weight}) AS BIGINT)")
    return tuple(v or 0 for v in df.selectExpr(*exprs).first())


def _width(lo_u: int, hi_u: int, n: int, bins: int, bin_target: int) -> int:
    """Equal-width bucket width in integer units over [lo_u, hi_u]. Any
    width >= 1 (and any origin <= the minimum) keeps bucketing monotone,
    so only pass-2 sizes depend on how tight the bounds are."""
    return max(1, (hi_u - lo_u) // _derive_bins(n, bins, bin_target) + 1)


def _rank(total: int, p: float) -> int:
    """k = floor((total-1) * p) + 1 — the same IEEE double product the
    oracle takes."""
    return math.floor((total - 1) * p) + 1


def _refine(df: DataFrame, col: str, lo_u: int, width: int,
            targets: list[tuple], labels: list[tuple[str, str]],
            weight: str = "1") -> DataFrame:
    """The refine kernel. ``targets``: (<label values>, rank) tuples,
    ``labels``: their (name, type). Returns a lazy (<labels>, rank,
    value) frame: per target, the ``col`` value whose running ``weight``
    total (BIGINT, under the value order) first reaches the rank. With
    weight 1 the running total is the row number, so the rank is a plain
    1-based order statistic. Ranks outside [1, total] yield no row.

    Pass 1 collects per-bucket weight sums (<= bins + 1 rows) and
    locates each rank's bucket and residual rank on the driver. Pass 2
    is the returned frame: a running-sum window over the candidate
    buckets only, with each located (bucket, residual) pair attached as
    a literal and matched by the crossing test cumw - w < k <= cumw."""
    binned = df.select(
        F.col(col).alias("v"),
        F.expr(f"CAST({weight} AS BIGINT)").alias("w"),
        F.expr(f"({_cents(col)} - {lo_u}) div {width}").alias("b"),
    ).where(F.col("b").isNotNull())
    per_b = sorted(tuple(r) for r in
                   binned.groupBy("b").agg(F.sum("w")).collect())
    cum = list(accumulate(m for _, m in per_b))
    located = []
    for *vals, k in targets:
        i = bisect_left(cum, k)
        b, k_in = ((per_b[i][0], k - (cum[i - 1] if i else 0))
                   if k >= 1 and i < len(cum) else (None, None))
        located.append((vals, k, b, k_in))
    hits = F.array(*[F.struct(
        F.lit(b).cast("long").alias("_b"),
        F.lit(k_in).cast("long").alias("_k"),
        *[F.lit(x).cast(t).alias(name) for x, (name, t) in zip(vals, labels)],
        F.lit(k).cast("long").alias("rank"),
    ) for vals, k, b, k_in in located])
    cand = sorted({b for *_, b, _ in located if b is not None})
    run_w = Window.partitionBy("b").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (
        binned.where(F.col("b").isin(cand))
        .withColumn("cumw", F.sum("w").over(run_w))
        .select("v", F.inline(F.filter(hits, lambda t: (
            (t["_b"] == F.col("b")) & (t["_k"] <= F.col("cumw"))
            & (F.col("cumw") - F.col("w") < t["_k"])))))
        .select(*[name for name, _ in labels], "rank",
                F.col("v").alias("value"))
    )


def exact_quantiles_histogram(df: DataFrame, col: str,
                              quantiles: tuple[float, ...] = QUANTILES,
                              bins: int = BINS,
                              bin_target: int = BIN_TARGET) -> DataFrame:
    """(quantile, rank, value) — exact order statistics of ``df[col]``.

    Integer-unit values bin into equal-width buckets — at least ``bins``
    of them, scaled up to n // ``bin_target`` so pass 2's per-bucket
    window task is bounded at ~bin_target expected rows at any corpus
    size — and the refine kernel turns each rank k = floor((n-1)p)+1
    into its value. Empty input yields an empty result frame."""
    lo_u, hi_u, n = _stats(df, col)
    return _refine(df, col, lo_u, _width(lo_u, hi_u, n, bins, bin_target),
                   [(float(p), _rank(n, p)) for p in quantiles],
                   [("quantile", "double")])


def _quantiles_oracle_sql() -> str:
    qlist = ", ".join(str(p) for p in QUANTILES)
    return f"""
    WITH n_all AS (SELECT COUNT(*) AS n FROM lineitem),
    targets AS (
      -- CAST: DuckDB types the literal list DECIMAL(3,2); the engine's
      -- quantile column is DOUBLE and the parity canon is dtype-strict
      SELECT CAST(q AS DOUBLE) AS quantile,
             CAST(floor(((SELECT n FROM n_all) - 1) * q) AS BIGINT) + 1 AS rank
      FROM (SELECT unnest([{qlist}]) AS q)
    ),
    ranked AS (
      SELECT l_extendedprice AS value,
             ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn
      FROM lineitem
    )
    SELECT t.quantile, t.rank, r.value
    FROM targets t JOIN ranked r ON r.rn = t.rank
    ORDER BY t.quantile
    """


@register(
    "exact_price_quantiles",
    oracle=_quantiles_oracle_sql(),
    doc=f"Exact order statistics of l_extendedprice at p = {QUANTILES} via "
    f"histogram refine: integer-unit binning into max({BINS}, n // "
    f"{BIN_TARGET}) equal-width buckets (map-side combine, <= bins "
    "groups; the n-derived count caps pass 2's per-bucket window task "
    "at ~BIN_TARGET rows at any scale), a driver cumsum over the tiny "
    "count table locates each rank's bucket + residual rank, then a window "
    "over candidate buckets ONLY — no global sort anywhere; the result "
    "is bins-invariant, so the oracle states the same k = floor((n-1)p)+1 "
    "ranks against a plain ranked window.",
)
def exact_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).select("l_extendedprice")
    return exact_quantiles_histogram(li, "l_extendedprice") \
        .orderBy("quantile")


# --------------------------------------------------------------------------
# Robust (median/MAD) outlier report — the scale-safe alternative to
# mean/stddev outlier fences, which a single fat-tailed shard can corrupt.
# Both order statistics come from the histogram-refine kernel above, so the
# whole report costs a handful of bounded passes and never sorts the corpus.
# --------------------------------------------------------------------------


def _single_value(df: DataFrame, col: str, lo_u: int, width: int,
                  rank: int) -> float | None:
    """The value at one rank via the refine kernel, None when the rank
    is out of range."""
    rows = _refine(df, col, lo_u, width, [(rank,)], []).collect()
    return rows[0]["value"] if rows else None


def mad_outlier_report(df: DataFrame, col: str, group: str,
                       z: int = 3) -> DataFrame:
    """Per ``group``: rows whose |x - median| exceeds ``z`` * MAD, with the
    global median/MAD computed exactly via histogram refine.

    100 TB shape: median and MAD each come from the refine kernel (two
    bounded passes, no global sort) and reach the driver as one scalar
    each. The MAD refine skips its own stats pass: deviations bin from
    origin 0 with the bound max(hi - med, med - lo), which only sizes
    pass 2. The outlier fence is then a single map-side-combined groupBy
    where the decision runs in BIGINT cents (round(|x - med| * 100) >
    z * round(mad * 100)) with med and mad as double literals, so Spark
    and the oracle decide identically with no float boundary.
    """
    x = df.select(col)
    lo_u, hi_u, n = _stats(x, col)
    k = _rank(n, 0.5)
    med = _single_value(x, col, lo_u,
                        _width(lo_u, hi_u, n, BINS, BIN_TARGET), k)
    mad = None
    if med is not None:
        med_u = round(med * VAL_UNIT)
        bound = max(hi_u - med_u, med_u - lo_u)
        dev = x.select(F.abs(F.col(col) - med).alias("dev"))
        mad = _single_value(dev, "dev", 0,
                            _width(0, bound, n, BINS, BIN_TARGET), k)
    med_l, mad_l = F.lit(med).cast("double"), F.lit(mad).cast("double")
    dev_c = F.round(F.abs(F.col(col) - med_l) * VAL_UNIT).cast("long")
    mad_c = F.round(mad_l * VAL_UNIT).cast("long")
    return (
        df.groupBy(group)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(dev_c > z * mad_c, 1).otherwise(0))
            .alias("n_outliers"),
            F.round(med_l, 2).alias("median_value"),
            F.round(mad_l, 2).alias("mad"),
        )
        .orderBy(group)
    )


@register(
    "robust_price_outliers",
    oracle="""
    WITH n_all AS (SELECT COUNT(*) AS n FROM lineitem),
    med AS (
      SELECT value AS med FROM (
        SELECT l_extendedprice AS value,
               ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn
        FROM lineitem
      ) WHERE rn = CAST(floor(((SELECT n FROM n_all) - 1) * 0.5) AS BIGINT) + 1
    ),
    mad AS (
      SELECT value AS mad FROM (
        SELECT abs(l_extendedprice - (SELECT med FROM med)) AS value,
               ROW_NUMBER() OVER (
                 ORDER BY abs(l_extendedprice - (SELECT med FROM med))) AS rn
        FROM lineitem
      ) WHERE rn = CAST(floor(((SELECT n FROM n_all) - 1) * 0.5) AS BIGINT) + 1
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN
                 CAST(round(abs(l_extendedprice - (SELECT med FROM med))
                            * 100) AS BIGINT)
                 > 3 * CAST(round((SELECT mad FROM mad) * 100) AS BIGINT)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND((SELECT med FROM med), 2) AS median_value,
           ROUND((SELECT mad FROM mad), 2) AS mad
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Robust outlier fence per return flag: count of prices more than "
    "3 MADs from the global median, both order statistics exact via "
    "histogram refine (no global sort, no percentile interpolation "
    "flavor). The fence decision runs in BIGINT cents on both engines; "
    "the oracle replays the identical k = floor((n-1)*0.5)+1 rank "
    "semantics with ranked windows. The robust twin of mean/stddev "
    "fences, which a single fat-tailed shard corrupts at 100 TB.",
)
def robust_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir) \
        .select("l_returnflag", "l_extendedprice")
    return mad_outlier_report(li, "l_extendedprice", "l_returnflag")


# --------------------------------------------------------------------------
# Weighted quantiles: the price below which a fraction of REVENUE sits.
# --------------------------------------------------------------------------

W_QUANTILES = (0.25, 0.5, 0.75, 0.9)


def weighted_quantiles_histogram(df: DataFrame, col: str, weight_expr: str,
                                 quantiles: tuple[float, ...] = W_QUANTILES,
                                 bins: int = BINS,
                                 bin_target: int = BIN_TARGET) -> DataFrame:
    """(quantile, weight_rank, value) — exact WEIGHTED order statistics:
    the smallest ``col`` value at which the running total of
    ``weight_expr`` (an integer-unit SQL expression) reaches the target
    weight rank kw = floor((W-1)*p) + 1 under the (value, input-order-
    free) total order. Same refine kernel as the count version, with the
    row weight as the running-sum term (bins still derive from the ROW
    count — pass-2 work is rows ranked, not weight mass). Weights are
    exact BIGINTs, so the crossing test (cumw - w < kw_in <= cumw) never
    touches a float. Zero total weight yields an empty result.
    """
    lo_u, hi_u, n, total_w = _stats(df, col, weight_expr)
    return _refine(
        df, col, lo_u, _width(lo_u, hi_u, n, bins, bin_target),
        [(float(p), _rank(total_w, p)) for p in quantiles],
        [("quantile", "double")], weight_expr,
    ).withColumnRenamed("rank", "weight_rank").orderBy("quantile")


def _wq_oracle_sql() -> str:
    qlist = ", ".join(str(p) for p in W_QUANTILES)
    return f"""
    WITH w_all AS (
      SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS w
      FROM lineitem
    ),
    targets AS (
      SELECT CAST(q AS DOUBLE) AS quantile,
             CAST(floor(((SELECT w FROM w_all) - 1) * q) AS BIGINT) + 1
               AS weight_rank
      FROM (SELECT unnest([{qlist}]) AS q)
    ),
    ranked AS (
      SELECT l_extendedprice AS v,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS w,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  OVER (ORDER BY l_extendedprice
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cumw
      FROM lineitem
    )
    SELECT t.quantile, t.weight_rank, MIN(r.v) AS value
    FROM targets t JOIN ranked r
      ON r.cumw >= t.weight_rank AND r.cumw - r.w < t.weight_rank
    GROUP BY t.quantile, t.weight_rank
    ORDER BY t.quantile
    """


@register(
    "revenue_weighted_price_quantiles",
    oracle=_wq_oracle_sql(),
    doc="Exact revenue-weighted price quantiles: the price below which "
    "25/50/75/90% of total revenue (integer cents) sits — weighted order "
    "statistics with the same two bounded histogram-refine passes as the "
    "count version (per-bin BIGINT weight sums + a <= bins cumsum locate "
    "each target's bucket; a weight-cumulative window over candidate "
    "buckets finds the crossing row, decided entirely in integers). The "
    "'what price band carries the business' readout, with no global sort "
    "and no sketch error.",
)
def revenue_weighted_price_quantiles(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return weighted_quantiles_histogram(
        li, "l_extendedprice", "round(l_extendedprice * 100)")


# --------------------------------------------------------------------------
# Winsorized mean — the robust location estimate that CLIPS the tails at
# exact order statistics instead of dropping them (trimming loses the
# tail mass entirely; winsorizing keeps it at the fence). Composes the
# histogram-refine exact quantiles with one clipped aggregate.
# --------------------------------------------------------------------------

WINSOR_LO, WINSOR_HI = 0.05, 0.95


def winsorized_mean(df: DataFrame, col: str,
                    lo_p: float = WINSOR_LO,
                    hi_p: float = WINSOR_HI) -> DataFrame:
    """One row: (n_rows, p_lo, p_hi, raw_mean, winsorized_mean) for
    ``df[col]`` clipped at the exact lo_p/hi_p order statistics.

    The fences come from the two-pass histogram refine (no global sort,
    no sketch error) and reach the driver as two scalars; clipping and
    the mean run as ONE exact-integer aggregate over cents —
    least/greatest against the two fences as double literals — so the
    estimate is association-order-free. Means use the shared half-up
    rounding (floor(x*1e4+0.5)/1e4; a clipped-cents mean CAN land on an
    exact decimal half where engine ROUNDs split).
    """
    fences = {r["quantile"]: r["value"] for r in exact_quantiles_histogram(
        df, col, quantiles=(lo_p, hi_p)).collect()}
    p_lo = F.lit(fences.get(lo_p)).cast("double")
    p_hi = F.lit(fences.get(hi_p)).cast("double")
    c = F.round(F.col(col) * VAL_UNIT).cast("long")
    clipped = F.least(F.greatest(c, F.round(p_lo * VAL_UNIT).cast("long")),
                      F.round(p_hi * VAL_UNIT).cast("long"))
    mean4 = ("CAST(FLOOR(CAST(SUM({v}) AS DOUBLE) / COUNT(*) "
             f"/ {VAL_UNIT}.0 * 10000.0 + 0.5) AS DOUBLE) / 10000.0")
    return df.select(c.alias("c"), clipped.alias("clipped")).groupBy().agg(
        F.count(F.lit(1)).alias("n_rows"),
        p_lo.alias("p_lo"),
        p_hi.alias("p_hi"),
        F.expr(mean4.format(v="c")).alias("raw_mean"),
        F.expr(mean4.format(v="clipped")).alias("winsorized_mean"),
    )


@register(
    "winsorized_price_mean",
    oracle=f"""
    WITH n_all AS (SELECT COUNT(*) AS n FROM lineitem),
    ranked AS (
      SELECT l_extendedprice AS v,
             ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn
      FROM lineitem
    ),
    fences AS (
      SELECT
        MIN(CASE WHEN rn = CAST(floor(((SELECT n FROM n_all) - 1)
                                      * {WINSOR_LO}) AS BIGINT) + 1
                 THEN v END) AS p_lo,
        MIN(CASE WHEN rn = CAST(floor(((SELECT n FROM n_all) - 1)
                                      * {WINSOR_HI}) AS BIGINT) + 1
                 THEN v END) AS p_hi
      FROM ranked
    ),
    clipped AS (
      SELECT CAST(round(l_extendedprice * {VAL_UNIT}) AS BIGINT) AS c,
             CAST(round(p_lo * {VAL_UNIT}) AS BIGINT) AS lo_c,
             CAST(round(p_hi * {VAL_UNIT}) AS BIGINT) AS hi_c,
             p_lo, p_hi
      FROM lineitem, fences
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(p_lo) AS p_lo, MIN(p_hi) AS p_hi,
           CAST(FLOOR(CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) / COUNT(*)
                      / {VAL_UNIT}.0 * 10000.0 + 0.5) AS DOUBLE) / 10000.0
             AS raw_mean,
           CAST(FLOOR(CAST(CAST(SUM(least(greatest(c, lo_c), hi_c))
                                AS BIGINT) AS DOUBLE) / COUNT(*)
                      / {VAL_UNIT}.0 * 10000.0 + 0.5) AS DOUBLE) / 10000.0
             AS winsorized_mean
    FROM clipped
    """,
    doc=f"Winsorized mean of l_extendedprice (tails clipped at the exact "
    f"p{int(WINSOR_LO * 100)}/p{int(WINSOR_HI * 100)} order statistics "
    "from the histogram-refine quantile pass, no global sort): clipping "
    "and both means are one exact-integer-cents aggregate against two "
    "fence literals, with shared half-up rounding — the robust "
    "location estimate that keeps tail mass at the fence instead of "
    "discarding it.",
)
def winsorized_price_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid_19_data_engineering_spark.sources.tables import load_table

    return winsorized_mean(
        load_table(spark, "lineitem", sf_dir), "l_extendedprice")


# --- distribution-free median confidence interval ---------------------------
# The classic nonparametric CI: for X_(1..n) sorted, [X_(r_lo), X_(r_hi)]
# covers the population median with >= 95% probability where the ranks
# come from Binomial(n, 1/2) normal approximation — no distributional
# assumption, just order statistics. Reuses the histogram-refine kernel
# (bin, driver cumsum to locate, window candidate buckets only — never a
# global sort), with RANK targets instead of quantile fractions.


def values_at_ranks(df: DataFrame, col: str,
                    labeled_ranks: list[tuple[str, int]],
                    bins: int = BINS,
                    bin_target: int = BIN_TARGET,
                    n: int | None = None) -> DataFrame:
    """(stat, rank, value) — exact order statistics at explicit 1-based
    ranks, through the same refine kernel as exact_quantiles_histogram.
    ``n`` (when the caller already counted, as the median-CI rank
    derivation must) validates the ranks before any job runs; n=None
    skips validation — out-of-range ranks simply return no row."""
    if n is not None:
        if n == 0:
            raise ValueError(f"values_at_ranks: {col} has no rows")
        for _, r in labeled_ranks:
            if not 1 <= r <= n:
                raise ValueError(f"rank {r} outside [1, {n}]")
    lo_u, hi_u, n_all = _stats(df, col)
    return _refine(df, col, lo_u, _width(lo_u, hi_u, n_all, bins, bin_target),
                   labeled_ranks, [("stat", "string")])


def median_ci_ranks(n: int, z: float = 1.959963985) -> tuple[int, int, int]:
    """(r_lo, r_med, r_hi) — 1-based order-statistic ranks for the lower
    median and its distribution-free ~95% CI, Binomial(n, 1/2) normal
    approximation, clamped to [1, n]. Pure double arithmetic written
    identically in the oracle so both engines derive the SAME ranks."""
    import math

    half = z * math.sqrt(n) / 2.0
    r_lo = max(1, int(math.floor(n / 2.0 - half)))
    r_hi = min(n, int(math.ceil(1.0 + n / 2.0 + half)))
    r_med = (n + 1) // 2
    return r_lo, r_med, r_hi


@register(
    "order_price_median_ci",
    oracle="""
    WITH n_all AS (SELECT COUNT(*) AS n FROM orders),
    targets AS (
      SELECT 'ci95_lo' AS stat,
             GREATEST(1, CAST(floor(n / 2.0e0
                 - 1.959963985e0 * sqrt(n) / 2.0e0) AS BIGINT)) AS rank
      FROM n_all
      UNION ALL
      SELECT 'median', (n + 1) // 2 FROM n_all
      UNION ALL
      SELECT 'ci95_hi',
             LEAST(n, CAST(ceil(1.0e0 + n / 2.0e0
                 + 1.959963985e0 * sqrt(n) / 2.0e0) AS BIGINT))
      FROM n_all
    ),
    ranked AS (
      SELECT o_totalprice AS value,
             ROW_NUMBER() OVER (ORDER BY o_totalprice) AS rn
      FROM orders
    )
    SELECT t.stat, t.rank, r.value
    FROM targets t JOIN ranked r ON r.rn = t.rank
    ORDER BY t.stat
    """,
    doc="Distribution-free ~95% CI for the median of o_totalprice: order-"
    "statistic ranks from the Binomial(n,1/2) normal approximation "
    "(identical double arithmetic on both engines), values fetched by "
    "the histogram-refine rank machinery — bin, cumsum-locate, window "
    "candidate buckets only, never a global sort. The uncertainty "
    "companion to the exact quantile battery.",
)
def order_price_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).select("o_totalprice")
    n = orders.count()
    r_lo, r_med, r_hi = median_ci_ranks(n)
    return values_at_ranks(
        orders, "o_totalprice",
        [("ci95_lo", r_lo), ("median", r_med), ("ci95_hi", r_hi)],
        n=n,
    ).orderBy("stat")

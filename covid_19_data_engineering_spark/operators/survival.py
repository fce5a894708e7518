"""Kaplan-Meier survival estimation over ``orders`` — the time-to-churn
curve (customer lifetime in months, right-censored by the observation
horizon) that subscription/retention analytics runs beside the cohort
matrix. No reference analogue (tdiprima/covid-19-data-engineering
delegates all analytics to its warehouses); SURVEY §2 C-extensions.

Semantics: a customer's lifetime runs from their first order month to
their last; the churn event is observed only when the last order sits at
least CENSOR_MONTHS before the corpus horizon (otherwise the lifetime is
right-censored — the customer may still be active). The KM estimator over
the distinct lifetime durations t is

    S(t) = prod_{s <= t, d_s > 0} (1 - d_s / n_s)

with d_s churn events at duration s and n_s the at-risk count (everyone
whose lifetime, censored or not, is >= s).

Float-parity strategy: the corpus reduces to exact BIGINT (duration,
events, censored) triples via one customer-keyed shuffle + one tiny
duration groupBy; at-risk counts are an integer reverse-cumulative window
(order-independent). The product is carried as a cumulative sum of
ln((n_s - d_s)/n_s) terms ROUNDED TO FIXED POINT per step (1e-12 units),
so the cumulative BIGINT sum is association-order-independent and the
final exp is a deterministic function of exact integers on both engines.
The d_s = n_s boundary (everyone at risk dies -> S = 0, where ln blows
up) is handled by an explicit cumulative flag rather than IEEE -inf.

100 TB shape: one customer-keyed map-side-combined groupBy is the only
corpus-wide work; every window runs over O(distinct durations) rows
(bounded by calendar months, never customers).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from covid_19_data_engineering_spark.operators.lineage import (
    truncate as _truncate,
)
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

CENSOR_MONTHS = 12
# fixed-point scale for ln survival terms: |ln((n-d)/n)| <= ln(n) ~ 21 at
# 1e9 customers, so 1e12 units keep 12 decimals inside BIGINT across any
# realistic number of curve steps
_LN_FX = 1_000_000_000_000


def kaplan_meier_lifetimes(orders: DataFrame,
                           censor_months: int = CENSOR_MONTHS) -> DataFrame:
    """(duration_months, n_risk, n_churned, n_censored, survival) — the
    KM curve over customer order-lifetime months."""
    horizon = orders.agg(
        F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("hm")
    )
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.date_trunc("month", F.min("o_orderdate")).cast("date")
            .alias("fm"),
            F.date_trunc("month", F.max("o_orderdate")).cast("date")
            .alias("lm"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.months_between(F.col("lm"), F.col("fm")).cast("int")
            .alias("duration_months"),
            (F.months_between(F.col("hm"), F.col("lm"))
             >= censor_months).cast("long").alias("event"),
        )
    )
    life = cust.groupBy("duration_months").agg(
        F.sum("event").alias("n_churned"),
        F.sum(1 - F.col("event")).alias("n_censored"),
    )
    w_desc = Window.orderBy(F.desc("duration_months"))  # O(months) rows
    w_asc = Window.orderBy("duration_months")
    risk = life.withColumn(
        "n_risk",
        F.sum(F.col("n_churned") + F.col("n_censored")).over(w_desc),
    )
    stepped = (
        risk.withColumn(
            "term_fx",
            F.when(
                (F.col("n_churned") > 0)
                & (F.col("n_churned") < F.col("n_risk")),
                F.expr(
                    f"CAST(round(ln(CAST(n_risk - n_churned AS DOUBLE) "
                    f"/ n_risk) * {_LN_FX}) AS BIGINT)"
                ),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "dead",
            F.max((F.col("n_churned") == F.col("n_risk")).cast("int"))
            .over(w_asc),
        )
        .withColumn("cum_fx", F.sum("term_fx").over(w_asc))
    )
    return stepped.select(
        "duration_months",
        "n_risk",
        "n_churned",
        "n_censored",
        F.when(F.col("dead") == 1, F.lit(0.0))
        .otherwise(
            F.round(F.expr(f"exp(CAST(cum_fx AS DOUBLE) / {_LN_FX})"), 6)
        )
        .alias("survival"),
    ).orderBy("duration_months")


@register(
    "customer_lifetime_km",
    oracle=f"""
    WITH horizon AS (
      SELECT CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hm
      FROM orders
    ),
    cust AS (
      SELECT datediff('month',
                      CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
                      CAST(date_trunc('month', MAX(o_orderdate)) AS DATE))
               AS duration_months,
             CASE WHEN datediff('month',
                       CAST(date_trunc('month', MAX(o_orderdate)) AS DATE),
                       (SELECT hm FROM horizon)) >= {CENSOR_MONTHS}
                  THEN 1 ELSE 0 END AS event
      FROM orders GROUP BY o_custkey
    ),
    life AS (
      SELECT CAST(duration_months AS INTEGER) AS duration_months,
             CAST(SUM(event) AS BIGINT) AS n_churned,
             CAST(SUM(1 - event) AS BIGINT) AS n_censored
      FROM cust GROUP BY 1
    ),
    risk AS (
      SELECT *,
             CAST(SUM(n_churned + n_censored)
                  OVER (ORDER BY duration_months DESC) AS BIGINT) AS n_risk
      FROM life
    ),
    stepped AS (
      SELECT *,
             CASE WHEN n_churned > 0 AND n_churned < n_risk
                  THEN CAST(round(ln(CAST(n_risk - n_churned AS DOUBLE)
                                     / n_risk) * {_LN_FX}) AS BIGINT)
                  ELSE 0 END AS term_fx,
             MAX(CASE WHEN n_churned = n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY duration_months) AS dead
      FROM risk
    )
    SELECT duration_months, n_risk, n_churned, n_censored,
           CASE WHEN dead = 1 THEN 0.0
                ELSE ROUND(exp(CAST(SUM(term_fx)
                                    OVER (ORDER BY duration_months)
                                    AS DOUBLE) / {_LN_FX}), 6)
           END AS survival
    FROM stepped
    ORDER BY duration_months
    """,
    doc=f"Kaplan-Meier survival curve over customer order lifetimes "
    f"(months from first to last order, right-censored within "
    f"{CENSOR_MONTHS} months of the corpus horizon): one customer-keyed "
    "map-side-combined groupBy reduces the corpus to exact integer "
    "(duration, churned, censored) triples; at-risk counts are an integer "
    "reverse-cumulative window and the KM product is a cumulative sum of "
    "per-step fixed-point ln terms (1e-12 units), so the curve is "
    "engine-identical — with the everyone-dies boundary handled by an "
    "explicit flag, not IEEE -inf. All windows run over O(calendar-"
    "months) rows.",
)
def customer_lifetime_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kaplan_meier_lifetimes(load_table(spark, "orders", sf_dir))


# --------------------------------------------------------------------------
# Log-rank test — "do two segments churn at different rates?" The
# standard significance companion to the KM curve above (exactly as
# Mann-Kendall companions Theil-Sen): observed-minus-expected events in
# group A across the distinct event times, hypergeometric variance,
# chi-square with df=1.
# --------------------------------------------------------------------------

_LR_FX = 1_000_000  # fixed-point scale for per-time e/v terms
_LR_CHI_CRIT = 3.8415  # chi-square df=1, two-sided 5%
_LR_SEG_A = "BUILDING"
_LR_SEG_B = "MACHINERY"


def _lr_final_select() -> list[str]:
    """The shared (Spark == DuckDB) solve over the one sum row."""
    fx = float(_LR_FX)
    chi = (f"((CAST(o1 AS DOUBLE) - CAST(se AS DOUBLE) / {fx}) "
           f"* (CAST(o1 AS DOUBLE) - CAST(se AS DOUBLE) / {fx}) "
           f"/ (CAST(sv AS DOUBLE) / {fx}))")
    return [
        "CAST(n_a AS BIGINT) AS n_a",
        "CAST(n_b AS BIGINT) AS n_b",
        "CAST(o1 AS BIGINT) AS observed_a",
        f"ROUND(CAST(se AS DOUBLE) / {fx}, 4) AS expected_a",
        f"ROUND({chi}, 4) AS logrank_chi",
        f"(ROUND({chi}, 4) > {_LR_CHI_CRIT}) AS significant",
    ]


# per-event-time terms over exact BIGINT counts (d1/n1 = group-A events/
# at-risk, d = d1+d2, n = n1+n2): E[d1] and the hypergeometric variance,
# each one fixed-order double expression rounded to fixed point BEFORE
# the cross-time sum (the KM module's float-parity strategy)
_LR_E = "CAST(round(CAST(d AS DOUBLE) * n1 / n * {fx}) AS BIGINT)"
_LR_V = ("CAST(round(CAST(d AS DOUBLE) * n1 * n2 * (n - d) "
         "/ (CAST(n AS DOUBLE) * n * (n - 1)) * {fx}) AS BIGINT)")


def logrank_lifetimes(orders: DataFrame, customer: DataFrame,
                      censor_months: int = CENSOR_MONTHS) -> DataFrame:
    """One-row log-rank test of churn timing between market segments
    A and B: (n_a, n_b, observed_a, expected_a, logrank_chi,
    significant).

    Lifetimes and censoring follow ``kaplan_meier_lifetimes`` exactly;
    the two-segment population reduces to exact BIGINT (duration, group,
    events, total) quadruples in one customer-keyed groupBy + one
    broadcast-horizon pass. Group at-risk counts are integer reverse-
    cumulative windows over the DENSE duration x group grid (so a group
    with no rows at a duration still counts at risk), combined per
    duration by one O(months) pivot; event times with no events or
    fewer than two at risk are excluded identically on both engines
    (the n-1 variance denominator). Per-time E and V terms are rounded
    to 1e-6 fixed point before summing, so no time-order-dependent
    float reduction exists; the chi-square is one fixed-order double
    expression over the single sum row, shared verbatim with the
    oracle.

    100 TB shape: the customer groupBy and the segment join are the
    only corpus-wide work; every window and the pivot run over
    O(calendar-months) rows.
    """
    horizon = orders.agg(
        F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("hm")
    )
    seg = customer.where(
        F.col("c_mktsegment").isin(_LR_SEG_A, _LR_SEG_B)
    ).select(F.col("c_custkey").alias("o_custkey"),
             (F.col("c_mktsegment") == _LR_SEG_A).alias("grp"))
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.date_trunc("month", F.min("o_orderdate")).cast("date")
            .alias("fm"),
            F.date_trunc("month", F.max("o_orderdate")).cast("date")
            .alias("lm"),
        )
        .join(seg, "o_custkey")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.months_between(F.col("lm"), F.col("fm")).cast("int")
            .alias("t"),
            (F.months_between(F.col("hm"), F.col("lm"))
             >= censor_months).cast("long").alias("event"),
            "grp",
        )
    )
    per = cust.groupBy("t", "grp").agg(
        F.sum("event").alias("d"),
        F.count(F.lit(1)).alias("tot"),
    ).transform(_truncate)  # feeds the grid and the group counts
    grid = (
        per.select("t").distinct()
        .withColumn("grp", F.explode(F.array(F.lit(True), F.lit(False))))
        .join(per, ["t", "grp"], "left")
        .select(
            "t", "grp",
            F.coalesce(F.col("d"), F.lit(0)).alias("d"),
            F.coalesce(F.col("tot"), F.lit(0)).alias("tot"),
        )
    )
    w_desc = Window.partitionBy("grp").orderBy(F.desc("t"))  # O(months)
    risk = grid.withColumn("n_risk", F.sum("tot").over(w_desc))
    comb = risk.groupBy("t").agg(
        F.sum(F.when(F.col("grp"), F.col("d")).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("grp"), F.col("n_risk")).otherwise(0))
        .alias("n1"),
        F.sum(F.when(~F.col("grp"), F.col("d")).otherwise(0)).alias("d2"),
        F.sum(F.when(~F.col("grp"), F.col("n_risk")).otherwise(0))
        .alias("n2"),
    ).selectExpr("d1", "n1", "n2", "d1 + d2 AS d", "n1 + n2 AS n")
    terms = comb.where("d > 0 AND n > 1").select(
        "d1",
        F.expr(_LR_E.format(fx=_LR_FX)).alias("e_fx"),
        F.expr(_LR_V.format(fx=_LR_FX)).alias("v_fx"),
    )
    counts = per.agg(
        F.sum(F.when(F.col("grp"), F.col("tot")).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("grp"), F.col("tot")).otherwise(0)).alias("n_b"),
    )
    sums = terms.agg(
        F.sum("d1").alias("o1"),
        F.sum("e_fx").alias("se"),
        F.sum("v_fx").alias("sv"),
    )
    return counts.crossJoin(F.broadcast(sums)).selectExpr(
        *_lr_final_select()
    )


def _logrank_oracle_sql() -> str:
    e_term = _LR_E.format(fx=_LR_FX)
    v_term = _LR_V.format(fx=_LR_FX)
    return f"""
    WITH horizon AS (
      SELECT CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hm
      FROM orders
    ),
    cust AS (
      SELECT datediff('month',
                      CAST(date_trunc('month', MIN(o.o_orderdate)) AS DATE),
                      CAST(date_trunc('month', MAX(o.o_orderdate)) AS DATE))
               AS t,
             CASE WHEN datediff('month',
                       CAST(date_trunc('month', MAX(o.o_orderdate)) AS DATE),
                       (SELECT hm FROM horizon)) >= {CENSOR_MONTHS}
                  THEN 1 ELSE 0 END AS event,
             c.c_mktsegment = '{_LR_SEG_A}' AS grp
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('{_LR_SEG_A}', '{_LR_SEG_B}')
      GROUP BY o.o_custkey, c.c_mktsegment
    ),
    per AS (
      SELECT t, grp, CAST(SUM(event) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS tot
      FROM cust GROUP BY t, grp
    ),
    grid AS (
      SELECT g.t, g.grp, COALESCE(p.d, 0) AS d, COALESCE(p.tot, 0) AS tot
      FROM (SELECT DISTINCT t FROM per) ts
      CROSS JOIN (SELECT TRUE AS grp UNION ALL SELECT FALSE) gs,
      LATERAL (SELECT ts.t AS t, gs.grp AS grp) g
      LEFT JOIN per p ON p.t = g.t AND p.grp = g.grp
    ),
    risk AS (
      SELECT *, CAST(SUM(tot) OVER (PARTITION BY grp ORDER BY t DESC)
                     AS BIGINT) AS n_risk
      FROM grid
    ),
    comb AS (
      SELECT t,
             CAST(SUM(CASE WHEN grp THEN d ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN grp THEN n_risk ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN NOT grp THEN d ELSE 0 END) AS BIGINT)
               AS d2,
             CAST(SUM(CASE WHEN NOT grp THEN n_risk ELSE 0 END) AS BIGINT)
               AS n2
      FROM risk GROUP BY t
    ),
    sized AS (
      SELECT d1, n1, n2, d1 + d2 AS d, n1 + n2 AS n FROM comb
    ),
    terms AS (
      SELECT d1, {e_term} AS e_fx, {v_term} AS v_fx
      FROM sized WHERE d > 0 AND n > 1
    ),
    counts AS (
      SELECT CAST(SUM(CASE WHEN grp THEN tot ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN NOT grp THEN tot ELSE 0 END) AS BIGINT)
               AS n_b
      FROM per
    ),
    sums AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             CAST(SUM(e_fx) AS BIGINT) AS se,
             CAST(SUM(v_fx) AS BIGINT) AS sv
      FROM terms
    )
    SELECT {", ".join(_lr_final_select())} FROM counts, sums
    """


@register(
    "customer_churn_logrank",
    oracle=_logrank_oracle_sql(),
    doc=f"Log-rank test of churn timing between the '{_LR_SEG_A}' and "
    f"'{_LR_SEG_B}' segments (lifetimes and censoring exactly as the "
    "KM curve): observed-minus-expected group-A events across distinct "
    "event times with the hypergeometric variance, per-time terms in "
    "1e-6 fixed point before the sums (no order-dependent float "
    "reduction), group at-risk counts from integer reverse-cumulative "
    "windows over the dense duration x group grid. One customer "
    "groupBy + one segment join are the only corpus-wide work; "
    "everything after runs on O(calendar-months) rows — the "
    "significance companion to customer_lifetime_km.",
)
def customer_churn_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return logrank_lifetimes(
        load_table(spark, "orders", sf_dir),
        load_table(spark, "customer", sf_dir),
    )

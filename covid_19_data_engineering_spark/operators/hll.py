"""Deterministic HyperLogLog distinct-count sketch, oracle-replayable.

``approx_count_distinct`` ships with Spark, but its HLL++ registers are
an engine-internal black box — unverifiable against a second engine and
unusable as a PORTABLE sketch. This is the textbook HLL (Flajolet et
al. 2007) built from deterministic md5-derived hashes, so (a) the whole
construction is expressible in both Spark and DuckDB SQL and the driver
value-hash-checks it, and (b) the register table itself is a mergeable,
storable artifact: max() over registers merges shards/partitions/days —
the property that makes sketches THE distributed-cardinality tool.

Construction (m = 256 registers, p = 8):
- 52-bit hash = first 13 hex chars of md5(value) (the repo's standard
  deterministic-uniform trick; conv() and DuckDB's hex-parse agree);
- register index = hash % m; remaining 44 bits w = hash div m;
- rho = leading-zero count of w within 44 bits, + 1
      = 45 - length(bin(w)) for w > 0, else 45 (an exact integer via
  the bin()-length idiom both engines share);
- register value M_j = max rho over the register's values.

Estimation is kept EXACT-then-float: the harmonic sum folds as
integers — sum(2^(45 - M_j)) <= 256 * 2^44 < 2^53 fits BIGINT exactly
and is order-independent — plus V = m - #present registers zero
registers contributing 2^45 each; the single float division
alpha * m^2 * 2^45 / S happens once per group, followed by the standard
small-range linear-counting correction (E <= 2.5m and V > 0 ->
m * ln(m / V)), stated as the same CASE on both engines.

Scale shape: one map-side-combined shuffle on (group, register) — at
most |groups| * 256 rows survive the partial aggregate regardless of
row count — then a |groups|-sized fold. The register table is the
persistable index; unions of register tables max-merge.

No reference analogue (SURVEY §2 negative inventory: the reference has
no approximate aggregation at all); sibling of the count-min sketch in
operators/sketches.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from covid_19_data_engineering_spark.operators.lineage import (
    truncate_eager as _truncate_eager,
)
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

HLL_P = 8
HLL_M = 1 << HLL_P                      # 256 registers
HLL_HASH_BITS = 52                      # 13 md5 hex chars
HLL_W_BITS = HLL_HASH_BITS - HLL_P      # 44
# alpha_256 * m^2, embedded as the identical double literal on both
# engines (computed once: 0.7213 / (1 + 1.079/256) * 256^2)
HLL_ALPHA_M2 = 47072.71267120224


def hll_registers(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """The mergeable register table: (group_col, idx, m_j). One
    map-side-combined shuffle; at most |groups| * HLL_M rows come out of
    the partial aggregate no matter the input size. Register tables
    from different shards/days merge with max() over (group, idx)."""
    h = F.conv(F.substring(F.md5(F.col(value_col).cast("string")), 1, 13),
               16, 10).cast("long")
    w = F.expr(f"h div {HLL_M}")
    rho = F.when(F.col("w") > 0,
                 F.lit(HLL_W_BITS + 1) - F.length(F.bin(F.col("w")))) \
        .otherwise(F.lit(HLL_W_BITS + 1))
    return (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col), h.alias("h"))
        .withColumn("idx", F.expr(f"h % {HLL_M}"))
        .withColumn("w", w)
        .select(group_col, "idx", rho.alias("rho"))
        .groupBy(group_col, "idx")
        .agg(F.max("rho").alias("m_j"))
    )


def hll_estimate(registers: DataFrame, group_col: str) -> DataFrame:
    """Fold a register table to (group_col, hll_estimate): exact BIGINT
    harmonic sum (2^(45 - m_j) per register, 2^45 per absent register),
    one float division, linear-counting small-range correction."""
    unit = 1 << (HLL_W_BITS + 1)        # 2^45, the zero-register term
    folded = (
        registers.groupBy(group_col)
        .agg(
            F.sum(F.expr(f"CAST(shiftleft(1L, {HLL_W_BITS + 1} - "
                         f"CAST(m_j AS INT)) AS BIGINT)")).alias("s_present"),
            F.count(F.lit(1)).alias("n_present"),
        )
    )
    v = F.lit(HLL_M) - F.col("n_present")
    s = F.col("s_present") + v.cast("long") * F.lit(unit)
    raw = F.lit(HLL_ALPHA_M2) * F.lit(float(unit)) / s.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(raw)
    return folded.select(group_col, F.round(est, 2).alias("hll_estimate"))


@register(
    "events_user_hll",
    oracle=f"""
    WITH hashed AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
               AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    regs AS (
      SELECT event_type, h % {HLL_M} AS idx,
             MAX(CASE WHEN h // {HLL_M} > 0
                      THEN {HLL_W_BITS + 1} - length(bin(h // {HLL_M}))
                      ELSE {HLL_W_BITS + 1} END) AS m_j
      FROM hashed GROUP BY event_type, h % {HLL_M}
    ),
    folded AS (
      SELECT event_type,
             CAST(SUM(CAST(1 AS BIGINT) << ({HLL_W_BITS + 1} -
                                            CAST(m_j AS INT))) AS BIGINT)
               AS s_present,
             CAST(COUNT(*) AS BIGINT) AS n_present
      FROM regs GROUP BY event_type
    ),
    est AS (
      SELECT event_type,
             ({HLL_M} - n_present) AS v,
             CAST({HLL_ALPHA_M2} AS DOUBLE)
               * CAST({float(1 << (HLL_W_BITS + 1))} AS DOUBLE)
               / CAST(s_present + ({HLL_M} - n_present)
                      * CAST({1 << (HLL_W_BITS + 1)} AS BIGINT) AS DOUBLE)
               AS raw
      FROM folded
    ),
    approx AS (
      SELECT event_type,
             ROUND(CASE WHEN raw <= CAST({2.5 * HLL_M} AS DOUBLE) AND v > 0
                        THEN CAST({float(HLL_M)} AS DOUBLE)
                             * ln(CAST({float(HLL_M)} AS DOUBLE)
                                  / CAST(v AS DOUBLE))
                        ELSE raw END, 2) AS hll_estimate
      FROM est
    ),
    exact AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    )
    SELECT a.event_type, x.n_exact, a.hll_estimate,
           ROUND((a.hll_estimate - x.n_exact)
                 / CAST(x.n_exact AS DOUBLE)
                 * CAST(100.0 AS DOUBLE), 2) AS rel_error_pct
    FROM approx a JOIN exact x USING (event_type)
    ORDER BY a.event_type
    """,
    doc="Deterministic HyperLogLog (m=256, md5-derived 52-bit hashes) "
    "per event_type, next to the exact count and the measured relative "
    "error — the PORTABLE mergeable-sketch construction "
    "approx_count_distinct hides inside the JVM. One (group, register) "
    "map-side-combined shuffle bounded at |groups|*256 rows out of the "
    "partial agg at any corpus size; the harmonic sum folds as exact "
    "BIGINTs (order-independent), and the oracle replays hash, "
    "registers, fold, and the linear-counting correction "
    "arithmetic-for-arithmetic.",
)
def events_user_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    regs = hll_registers(events, "event_type", "user_id")
    approx = hll_estimate(regs, "event_type")
    exact = (
        events.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return (
        approx.join(exact, "event_type")
        .select(
            "event_type", "n_exact", "hll_estimate",
            F.round((F.col("hll_estimate") - F.col("n_exact"))
                    / F.col("n_exact").cast("double") * 100.0, 2)
            .alias("rel_error_pct"),
        )
        .orderBy("event_type")
    )


@register(
    "events_hll_overlap",
    oracle=f"""
    WITH hashed AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
               AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    regs AS (
      SELECT event_type, h % {HLL_M} AS idx,
             MAX(CASE WHEN h // {HLL_M} > 0
                      THEN {HLL_W_BITS + 1} - length(bin(h // {HLL_M}))
                      ELSE {HLL_W_BITS + 1} END) AS m_j
      FROM hashed GROUP BY event_type, h % {HLL_M}
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM (SELECT DISTINCT event_type FROM regs) a
      JOIN (SELECT DISTINCT event_type FROM regs) b
        ON a.event_type < b.event_type
    ),
    -- union sketch = per-register max over the two types' registers
    uregs AS (
      SELECT p.type_a, p.type_b, r.idx, MAX(r.m_j) AS m_j
      FROM pairs p JOIN regs r
        ON r.event_type IN (p.type_a, p.type_b)
      GROUP BY p.type_a, p.type_b, r.idx
    ),
    est AS (
      SELECT type_a, type_b,
             ({HLL_M} - CAST(COUNT(*) AS BIGINT)) AS v,
             CAST({HLL_ALPHA_M2} AS DOUBLE)
               * CAST({float(1 << (HLL_W_BITS + 1))} AS DOUBLE)
               / CAST(CAST(SUM(CAST(1 AS BIGINT)
                                << ({HLL_W_BITS + 1} - CAST(m_j AS INT)))
                           AS BIGINT)
                      + ({HLL_M} - CAST(COUNT(*) AS BIGINT))
                      * CAST({1 << (HLL_W_BITS + 1)} AS BIGINT) AS DOUBLE)
               AS raw
      FROM uregs GROUP BY type_a, type_b
    ),
    unions AS (
      SELECT type_a, type_b,
             ROUND(CASE WHEN raw <= CAST({2.5 * HLL_M} AS DOUBLE) AND v > 0
                        THEN CAST({float(HLL_M)} AS DOUBLE)
                             * ln(CAST({float(HLL_M)} AS DOUBLE)
                                  / CAST(v AS DOUBLE))
                        ELSE raw END, 2) AS union_est
      FROM est
    ),
    singles AS (
      SELECT event_type,
             ROUND(CASE WHEN raw <= CAST({2.5 * HLL_M} AS DOUBLE) AND v > 0
                        THEN CAST({float(HLL_M)} AS DOUBLE)
                             * ln(CAST({float(HLL_M)} AS DOUBLE)
                                  / CAST(v AS DOUBLE))
                        ELSE raw END, 2) AS est
      FROM (
        SELECT event_type,
               ({HLL_M} - CAST(COUNT(*) AS BIGINT)) AS v,
               CAST({HLL_ALPHA_M2} AS DOUBLE)
                 * CAST({float(1 << (HLL_W_BITS + 1))} AS DOUBLE)
                 / CAST(CAST(SUM(CAST(1 AS BIGINT)
                                  << ({HLL_W_BITS + 1} - CAST(m_j AS INT)))
                             AS BIGINT)
                        + ({HLL_M} - CAST(COUNT(*) AS BIGINT))
                        * CAST({1 << (HLL_W_BITS + 1)} AS BIGINT) AS DOUBLE)
                 AS raw
        FROM regs GROUP BY event_type
      )
    ),
    exact AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_exact_overlap
      FROM (SELECT DISTINCT event_type, user_id FROM events
            WHERE user_id IS NOT NULL) a
      JOIN (SELECT DISTINCT event_type, user_id FROM events
            WHERE user_id IS NOT NULL) b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT u.type_a, u.type_b, x.n_exact_overlap,
           ROUND(sa.est + sb.est - u.union_est, 2) AS overlap_est
    FROM unions u
    JOIN singles sa ON sa.event_type = u.type_a
    JOIN singles sb ON sb.event_type = u.type_b
    JOIN exact x ON x.type_a = u.type_a AND x.type_b = u.type_b
    ORDER BY u.type_a, u.type_b
    """,
    doc="HLL SET ALGEBRA: per-pair audience overlap |A intersect B| "
    "estimated by inclusion-exclusion over mergeable sketches — the "
    "union sketch is a per-register max of the two types' register "
    "tables (never re-reads the data: sketch-sized work for every "
    "pair), singles come from the same registers, and the overlap is "
    "|A| + |B| - |A union B|, reported next to the exact join-counted "
    "overlap. This is why register tables beat scalar "
    "approx_count_distinct outputs at scale: one pass builds the "
    "registers, then ANY of the P(P-1)/2 pair overlaps costs "
    "O(P^2 * 256) sketch rows, not another corpus scan per pair.",
)
def events_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    regs = hll_registers(events, "event_type", "user_id") \
        .transform(_truncate_eager)
    singles = hll_estimate(regs, "event_type")
    types = regs.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(types.select(F.col("event_type").alias("type_b")),
              F.col("type_a") < F.col("type_b"))
    )
    # union sketch per pair: max-merge the two register tables
    uregs = (
        pairs.join(regs, regs["event_type"].isin(F.col("type_a"),
                                                 F.col("type_b")))
        .groupBy("type_a", "type_b", "idx")
        .agg(F.max("m_j").alias("m_j"))
    )
    # hll_estimate groups on ONE column; fold the pair key through a
    # struct
    uest = (
        uregs.select(F.struct("type_a", "type_b").alias("pair"),
                     "idx", "m_j")
    )
    unions = hll_estimate(uest, "pair").select(
        F.col("pair.type_a").alias("type_a"),
        F.col("pair.type_b").alias("type_b"),
        F.col("hll_estimate").alias("union_est"),
    )
    exact_sets = (
        events.where(F.col("user_id").isNotNull())
        .select("event_type", "user_id").distinct()
    )
    ex_a = exact_sets.select(F.col("event_type").alias("type_a"),
                             F.col("user_id").alias("u"))
    ex_b = exact_sets.select(F.col("event_type").alias("type_b"),
                             F.col("user_id").alias("u2"))
    exact = (
        ex_a.join(ex_b, (F.col("u") == F.col("u2"))
                  & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_exact_overlap"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"),
                        F.col("hll_estimate").alias("est_a"))
    sb = singles.select(F.col("event_type").alias("type_b"),
                        F.col("hll_estimate").alias("est_b"))
    return (
        unions.join(sa, "type_a").join(sb, "type_b")
        .join(exact, ["type_a", "type_b"])
        .select(
            "type_a", "type_b", "n_exact_overlap",
            F.round(F.col("est_a") + F.col("est_b") - F.col("union_est"),
                    2).alias("overlap_est"),
        )
        .orderBy("type_a", "type_b")
    )

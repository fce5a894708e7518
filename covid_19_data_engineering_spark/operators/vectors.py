"""Shared vector primitives: cosine similarity, squared L2, the
nearest-centroid kernel with its fixed-point Lloyd update, and
deterministic random-hyperplane LSH bucketing.

The similarity-search operators (operators/similarity.py) and the
embedding near-dup operator (operators/dedup.py) share one bucket
assignment; k-means, SemDeDup, PQ, IVF and the prototype classifier
share one argmin over centroids and one centroid update. Everything is
a pure JVM column expression (zip_with / aggregate / transform) — no
Python in the hot path — and the hyperplanes are derived from fixed
integer mixes, so bucket assignment is reproducible across runs and
engines.

Each Spark expression has one DuckDB twin that the oracles replay:
``fold_cosine_sql`` (``cosine_sim``), ``sqdist_sql`` (``sqdist``),
``nearest_centroids_sql`` (``nearest_centroids``: the same (dist, cid)
tie rule) and ``lloyd_update_sql`` (``lloyd_update``: the same
fixed-point arithmetic). The twins are SQL text only, so the oracles
stay an independent replay that shares no code with the Spark side.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

COORD_UNIT = 1_000_000        # centroid fixed-point: 1e-6


def _spread(df: DataFrame) -> DataFrame:
    """Give an expensive narrow map stage full parallelism. A small local
    input is often ONE parquet split, so a per-row signature/hash pipeline
    would run in a single task with every other core idle. No-op whenever
    the scan already has >= defaultParallelism splits — the 100 TB case,
    where maxPartitionBytes yields thousands — so no shuffle is added at
    scale. (Canonical home; operators/dedup.py re-exports for its md5
    pipelines.)

    Streaming DataFrames pass through untouched: ``df.rdd`` is illegal on
    a stream (and would force an eager plan-to-RDD conversion anyway), and
    a micro-batch's partitioning is the source's concern — the batch-side
    spread is a local-testing affordance, not part of the operator
    contract."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine as an explicit left-fold over DOUBLE elements in index
    order — the one arithmetic both engines can replay bit-identically.
    Inputs are cast to array<double> FIRST: a float x float Spark
    multiply runs in FLOAT, while the DuckDB oracle multiplies the
    exactly-widened doubles, and the ULP difference flips ROUND(x, 6)
    boundary rows (the oracle twin of this expression is
    ``fold_cosine_sql``)."""
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def fold_cosine_sql(a: str, b: str, dim: int = 64) -> str:
    """DuckDB expression replaying ``cosine_sim`` bit-identically:
    left-fold dot and norms over DOUBLE elements in index order
    (list_reduce with no init == 0.0 + x exactly), then dot / (na * nb).
    DuckDB's builtin list_cosine_similarity folds in a different
    association order and can differ by an ULP — enough to flip a
    ROUND(x, 6) boundary (observed on the ANN family at sf0.1 and
    sf0.001)."""
    dot = (f"list_reduce(list_transform(range(1, {dim} + 1), "
           f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)")
    na = (f"sqrt(list_reduce(list_transform(range(1, {dim} + 1), "
          f"i -> {a}[i] * {a}[i]), (x, y) -> x + y))")
    nb = (f"sqrt(list_reduce(list_transform(range(1, {dim} + 1), "
          f"i -> {b}[i] * {b}[i]), (x, y) -> x + y))")
    return f"({dot} / ({na} * {nb}))"


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 as an explicit left fold over the elements in index
    order (0.0 init, so both engines add the same terms in the same
    order; the oracle twin is ``sqdist_sql``)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def sqdist_sql(v: str, c: str, dim: int = 64) -> str:
    """DuckDB twin of ``sqdist``: the same left fold in index order."""
    return (f"list_reduce(list_transform(range(1, {dim} + 1), "
            f"i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])), "
            "(a, b) -> a + b)")


def nearest_centroids(vec: Column, cents: Column,
                      dist: Callable[[Column, Column], Column], n: int,
                      *carry: str) -> Column:
    """The ``n`` nearest centroids of ``vec`` as struct(dist, cid, *carry).

    ``cents`` is an array<struct<cid, c, ...>> column and ``dist(vec, c)``
    is lower-is-nearer. Struct order compares dist, then cid, so an exact
    distance tie goes to the lower centroid id — the (dist, cid)
    ROW_NUMBER order every oracle replays. ``carry`` names extra centroid
    fields to copy into the result; cid is unique per array, so they
    never decide an order. ``n == 1`` is one ``array_min`` (a struct
    column); ``n > 1`` sorts, keeps the first n and explodes them, one
    output row per centroid. Either way the ranking runs inside the
    row's projection: no window, no shuffle."""
    scored = F.transform(cents, lambda c: F.struct(
        dist(vec, c["c"]).alias("dist"),
        c["cid"].alias("cid"),
        *[c[f].alias(f) for f in carry],
    ))
    if n == 1:
        return F.array_min(scored)
    return F.explode(F.slice(F.array_sort(scored), 1, n))


def lloyd_update(df: DataFrame, keys: Sequence[str],
                 vec_col: str) -> DataFrame:
    """One Lloyd centroid update: (*keys, c), the per-dimension mean of
    ``vec_col`` over each ``keys`` group. SUM(double) over an unordered
    group depends on partition order, so each coordinate is floored to
    COORD_UNIT integer units first — the BIGINT sums are order-free —
    and the mean is one exact double division; floor, not round,
    because round's half-tie direction is where two engines could
    disagree. Groups on (*keys, dimension): at most K x dim groups,
    combined map-side whatever the corpus size."""
    return (
        df.select(*keys, F.posexplode(vec_col).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(
            F.sum(F.floor(F.col("val") * COORD_UNIT)).alias("su"),
            F.count("*").alias("cnt"),
        )
        .select(
            *keys, "pos",
            (F.col("su").cast("double") / F.col("cnt") / COORD_UNIT)
            .alias("coord"),
        )
        .groupBy(*keys)
        .agg(F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "coord"))),
            lambda s: s["coord"],
        ).alias("c"))
    )


def nearest_centroids_sql(vectors: str, centroids: str, dist: str,
                          n: int = 1, cols: str = "v.vec_id, c.cid",
                          key: str = "v.vec_id", cid: str = "c.cid",
                          on: str | None = None) -> str:
    """DuckDB twin of ``nearest_centroids``: a SELECT of the ``n``
    nearest centroids per vector, one row each, as ``cols`` plus
    ``dist``.

    ``vectors`` and ``centroids`` are relations (a CTE name or a
    parenthesised subquery) aliased ``v`` and ``c``; ``dist`` is
    lower-is-nearer SQL over them (``sqdist_sql``, or a negated
    ``fold_cosine_sql``); ``key`` identifies a vector and ``cid`` a
    centroid. The rank orders on (dist, cid), so an exact distance tie
    goes to the lower id, as the Spark struct order does. ``on``
    restricts each vector to the centroids it may join (the IVF fine
    cells); without it every vector meets every centroid."""
    join = f"JOIN {centroids} c ON {on}" if on else f"CROSS JOIN {centroids} c"
    return f"""SELECT {cols}, {dist} AS dist
      FROM {vectors} v {join}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY {key}
                                 ORDER BY {dist}, {cid}) <= {n}"""


def lloyd_update_sql(assigned: str, keys: str, dim: int = 64) -> str:
    """DuckDB twin of ``lloyd_update``: a SELECT of (keys, c), the
    per-dimension mean of the ``e`` vectors over each ``keys`` group of
    the ``assigned`` relation, with the same floor(val * COORD_UNIT)
    BIGINT sums and one double division per coordinate."""
    return f"""SELECT {keys},
             list(CAST(su AS DOUBLE) / cnt / {COORD_UNIT} ORDER BY pos) AS c
      FROM (
        SELECT {keys}, pos,
               CAST(SUM(CAST(floor(val * {COORD_UNIT}) AS BIGINT)) AS BIGINT)
                 AS su,
               COUNT(*) AS cnt
        FROM (SELECT {keys}, unnest(range(1, {dim} + 1)) AS pos,
                     unnest(e) AS val
              FROM {assigned})
        GROUP BY {keys}, pos
      ) GROUP BY {keys}"""


# Default 16 tables x 4 bits: per-table collision prob for angle θ is
# (1-θ/π)^4, and 16 independent tables give recall 1-(1-p)^16 —
# ~0.9 for cosine≥0.3 neighbors, ~1-5e-8 for cosine≥0.95 near-dups.
# bits_per_table / n_tables are per-call knobs on with_lsh_buckets and
# lsh_bucket_ctes (table t reads planes [t*bits, (t+1)*bits) of the shared
# pool): MORE bits = sharper buckets = geometrically fewer false-positive
# candidates, at the cost of per-pair recall (1-(1-p^bits)^tables). The
# range-search operators keep 4x16 (recall at low cosine radii); the
# near-dup pair operator runs 6x10 (operators/dedup.py) because its
# verify stage pays per candidate.
N_PLANES = 64
SIGN_BITS_PER_TABLE = 4
N_TABLES = N_PLANES // SIGN_BITS_PER_TABLE
DIM = 64
# deterministic pseudo-random hyperplanes: component (p, d) derives from a
# fixed integer mix — stable across runs/engines, no runtime randomness
PLANES: list[list[float]] = [
    [(((p * 1_000_003 + d) * 2654435761 % 2**32) / 2**31 - 1.0) for d in range(DIM)]
    for p in range(N_PLANES)
]


def lsh_bucket_ctes(bits_per_table: int = SIGN_BITS_PER_TABLE,
                    n_tables: int = N_TABLES) -> str:
    """DuckDB twin of ``with_lsh_buckets`` as a composable CTE chain
    (emb -> planes -> bits -> bkt). The hyperplanes come from the same fixed
    integer mix as ``PLANES``: ((p*1000003 + d) * 2654435761 % 2^32) / 2^31
    - 1 is pure BIGINT arithmetic and the division by a power of two is
    exact in DOUBLE, so bucket assignment is bit-identical across engines.
    The per-plane dot product folds left-to-right like Spark's F.aggregate;
    the bucket folds its table's bits MSB-first, matching the engine's
    acc*2+bit fold. Shared by the ann_lsh_topk and dedup_embedding_cosine
    oracles — pass the SAME (bits_per_table, n_tables) the engine side
    uses."""
    n_used = bits_per_table * n_tables
    assert n_used <= N_PLANES, "not enough planes in the shared pool"
    return f"""emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    planes AS (
      SELECT p, list_transform(
               range(0, {DIM}),
               d -> CAST((p * 1000003 + d) * 2654435761 % 4294967296 AS DOUBLE)
                    / 2147483648.0 - 1.0
             ) AS pl
      FROM (SELECT unnest(range(0, {n_used})) AS p)
    ),
    bits AS (
      SELECT v.vec_id, pr.p,
             CASE WHEN list_reduce(
               list_transform(range(1, {DIM} + 1), i -> v.e[i] * pr.pl[i]),
               (a, b) -> a + b) >= 0 THEN 1 ELSE 0 END AS bit
      FROM emb v CROSS JOIN planes pr
    ),
    bkt AS (
      SELECT vec_id, CAST(p // {bits_per_table} AS INTEGER) AS tbl,
             SUM(bit << ({bits_per_table} - 1 - (p % {bits_per_table}))) AS bucket
      FROM bits GROUP BY vec_id, p // {bits_per_table}
    )"""


_PLANES_SQL: str | None = None
_PLANES_CACHE: dict[str, Column] = {}


def _planes_lit() -> Column:
    """The 64x64 hyperplane matrix as ONE cached SQL literal.

    A parsed SQL array literal, built lazily ONCE per SparkContext: 64
    CreateArray trees of 64 F.lit nodes would put thousands of
    expression nodes in front of every analysis pass, and
    ``F.lit(PLANES)`` pays ~2.5s of py4j list conversion per call. Each
    double is rendered via repr, which round-trips exactly.

    The cache is keyed on the active application id, NOT a bare module
    global: an F.expr Column holds a py4j reference into the JVM, so after
    a SparkContext stop/restart in the same Python process a global would
    hand out a stale JVM handle that fails obscurely on next use. The SQL
    string itself is process-cached — rebuilding the Column for a fresh
    context is one O(1) F.expr call."""
    global _PLANES_SQL
    if _PLANES_SQL is None:
        _PLANES_SQL = "array(" + ",".join(
            "array(" + ",".join(f"CAST({x!r} AS DOUBLE)" for x in p) + ")"
            for p in PLANES
        ) + ")"
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    key = sess.sparkContext.applicationId if sess is not None else "<none>"
    col = _PLANES_CACHE.get(key)
    if col is None:
        _PLANES_CACHE.clear()  # at most one live context per process
        col = F.expr(_PLANES_SQL)
        _PLANES_CACHE[key] = col
    return col


def signature_bits_array(vec: Column) -> Column:
    """All N_PLANES sign bits as ONE array<int> expression.

    Single-pass structure: 64 independent ``aggregate()`` trees, each
    embedded again by the per-table bucket chains, would make Catalyst
    analyze and compile thousands of aggregate nodes per query (~7s of
    planning/codegen before a single row moves). One ``transform`` over
    a 2-D plane literal loops at RUNTIME instead: the expression tree
    stays small regardless of N_PLANES, and the per-plane left-to-right
    fold order is bit-compatible with the DuckDB ``lsh_bucket_ctes``
    twin."""
    planes = _planes_lit()
    return F.transform(
        planes,
        lambda p: (
            F.aggregate(
                F.zip_with(vec, p, lambda x, y: (x * y).cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ) >= 0
        ).cast("int"),
    )


def with_lsh_buckets(df: DataFrame, vec_col: str, id_col: str,
                     bits_per_table: int = SIGN_BITS_PER_TABLE,
                     n_tables: int = N_TABLES) -> DataFrame:
    """Explode each row into its n_tables (table, bucket) LSH assignments.

    Output columns: (id_col, vec_col, table, bucket). The signature bits
    materialize ONCE per row into an array column; table t then folds its
    slots [t*bits, (t+1)*bits) MSB-first (acc*2 + bit — the same order the
    lsh_bucket_ctes oracle twin uses). The explode multiplies rows by
    n_tables but adds no shuffle — downstream equi-joins on (table, bucket)
    bound the candidate pair space.
    """
    assert bits_per_table * n_tables <= N_PLANES, "not enough planes"
    # the 64-plane signature projection is the expensive narrow stage —
    # spread it across cores when the input is a single local split
    df = _spread(df)
    tables = F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.struct(
            t.cast("int").alias("table"),
            F.aggregate(
                F.slice(F.col("_bits"), t * bits_per_table + 1, bits_per_table),
                F.lit(0),
                lambda acc, bit: acc * 2 + bit,
            ).alias("bucket"),
        ),
    )
    return (
        df.withColumn("_bits", signature_bits_array(F.col(vec_col)))
        .select(id_col, vec_col, F.explode(tables).alias("tb"))
        .select(id_col, vec_col, F.col("tb.table").alias("table"),
                F.col("tb.bucket").alias("bucket"))
    )

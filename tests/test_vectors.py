"""The shared nearest-centroid kernel (operators/vectors.py) breaks exact
distance ties toward the LOWER centroid id, and its DuckDB twin
``nearest_centroids_sql`` — the rank every k-means / SemDeDup / PQ / IVF /
prototype oracle replays — picks the same cids. ``lloyd_update`` and
``lloyd_update_sql`` agree bit for bit where a plain double sum would
depend on summation order. Literal frames with exactly representable
distances, so each tie is bit-exact."""

from __future__ import annotations

import math

import duckdb
import pyspark.sql.functions as F

from covid_19_data_engineering_spark.operators.similarity import _assign_cells
from covid_19_data_engineering_spark.operators.vectors import (
    COORD_UNIT,
    fold_cosine_sql,
    lloyd_update,
    lloyd_update_sql,
    nearest_centroids,
    nearest_centroids_sql,
    sqdist,
    sqdist_sql,
)


def _cells(rows) -> dict[int, list[int]]:
    """{vec_id: sorted cids} of collected assignment rows."""
    out: dict[int, list[int]] = {}
    for r in rows:
        out.setdefault(r["vec_id"], []).append(r["cid"])
    return {k: sorted(v) for k, v in out.items()}


def _duck(vectors, centroids) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection holding ``vs(vec_id, e)`` and ``cs(cid, c)``."""
    con = duckdb.connect()
    con.execute("CREATE TABLE vs (vec_id INTEGER, e DOUBLE[])")
    con.execute("CREATE TABLE cs (cid INTEGER, c DOUBLE[])")
    con.executemany("INSERT INTO vs VALUES (?, ?)", vectors)
    con.executemany("INSERT INTO cs VALUES (?, ?)", centroids)
    return con


def _sql_cells(con, dist: str, n: int) -> dict[int, list[int]]:
    rows = con.execute(nearest_centroids_sql("vs", "cs", dist, n)).fetchall()
    return _cells({"vec_id": v, "cid": c} for v, c, _ in rows)


def test_squared_distance_tie_goes_to_lower_cid(spark):
    # centroids listed highest-cid first, so array order cannot decide a
    # tie. Row 1: 7 is nearest (0.25), then 5 and 2 tie at 1.0; row 2: 7,
    # 5 and 2 all tie at exactly 1.5625
    rows = spark.sql(
        "SELECT vec_id, e, array("
        "named_struct('cid', 7, 'c', array(0D, -0.5D)),"
        "named_struct('cid', 5, 'c', array(1D, 0D)),"
        "named_struct('cid', 2, 'c', array(-1D, 0D)),"
        "named_struct('cid', 0, 'c', array(0D, 3D))) AS cs "
        "FROM VALUES (1, array(0D, 0D)), (2, array(0D, 0.75D)) AS t(vec_id, e)")
    nearest = [nearest_centroids(F.col("e"), F.col("cs"), sqdist, n)
               for n in (1, 2)]
    got = (
        rows.select("vec_id", nearest[0]["cid"].alias("cid1"),
                    nearest[1].alias("b"))
        .select("vec_id", "cid1", F.col("b.cid").alias("cid"))
        .collect()
    )
    assert {r["vec_id"]: r["cid1"] for r in got} == {1: 7, 2: 2}
    assert _cells(got) == {1: [2, 7], 2: [2, 5]}

    con = _duck(
        [(1, [0.0, 0.0]), (2, [0.0, 0.75])],
        [(7, [0.0, -0.5]), (5, [1.0, 0.0]), (2, [-1.0, 0.0]), (0, [0.0, 3.0])])
    dist = sqdist_sql("v.e", "c.c", 2)
    assert _sql_cells(con, dist, 1) == {1: [7], 2: [2]}
    assert _sql_cells(con, dist, 2) == _cells(got)


def test_cosine_tie_goes_to_lower_cid_in_ivf_cells(spark):
    # IVF ranks by the negated cosine; (-sim, cid) ascending must keep the
    # oracle's ``sim DESC, cid`` tie order
    cents = spark.sql(
        "SELECT * FROM VALUES (8, array(3D, 0D)), (6, array(-1D, 1D)), "
        "(4, array(1D, 1D)), (1, array(1D, -1D)) AS t(cid, centroid)")
    # row 1: 8 is nearest (cos 1), then 4 and 1 tie at 1/sqrt(2)
    # row 2: 6 and 4 tie at 1/sqrt(2) for the nearest cell
    rows = spark.sql(
        "SELECT * FROM VALUES (1, array(1D, 0D)), (2, array(0D, 1D)) "
        "AS t(vec_id, embedding)")
    got = {n: _cells(_assign_cells(rows, cents, nprobe=n).collect())
           for n in (1, 2)}
    assert got[1] == {1: [8], 2: [4]}
    assert got[2] == {1: [1, 8], 2: [4, 6]}

    con = _duck(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        [(8, [3.0, 0.0]), (6, [-1.0, 1.0]), (4, [1.0, 1.0]), (1, [1.0, -1.0])])
    dist = f"-{fold_cosine_sql('v.e', 'c.c', 2)}"
    assert {n: _sql_cells(con, dist, n) for n in (1, 2)} == got


def test_lloyd_update_sql_matches_kernel_where_double_sums_do_not(spark):
    # group 1, dim 0 holds 0.1, 0.2, 0.3: a plain double sum reads
    # 0.6000000000000001 or 0.6 depending on the order the rows arrive in,
    # so only the fixed-point sums make the two engines agree
    assert (0.1 + 0.2) + 0.3 != 0.1 + (0.2 + 0.3)
    pts = [(1, [0.1, -0.7]), (1, [0.2, 1e-7]), (1, [0.3, 2.5]),
           (2, [-0.3, 0.2]), (2, [1.0 / 3.0, 0.1])]
    df = spark.createDataFrame(pts, "k int, e array<double>")
    got = {r["k"]: list(r["c"]) for r in lloyd_update(df, ["k"], "e").collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE pts (k INTEGER, e DOUBLE[])")
    con.executemany("INSERT INTO pts VALUES (?, ?)", pts)
    sql = con.execute(lloyd_update_sql("pts", "k", dim=2)).fetchall()
    assert {k: list(c) for k, c in sql} == got

    def fixed_point_mean(vals):
        su = sum(math.floor(v * COORD_UNIT) for v in vals)
        return su / len(vals) / COORD_UNIT

    for k in (1, 2):
        members = [e for g, e in pts if g == k]
        assert got[k] == [fixed_point_mean([e[d] for e in members])
                          for d in range(2)]

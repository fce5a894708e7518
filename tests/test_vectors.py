"""The shared nearest-centroid kernel (operators/vectors.py) breaks exact
distance ties toward the LOWER centroid id — the (dist, cid) ROW_NUMBER
order every k-means / SemDeDup / PQ / IVF oracle replays. Literal frames
with exactly representable distances, so each tie is bit-exact."""

from __future__ import annotations

import pyspark.sql.functions as F

from covid_19_data_engineering_spark.operators.kmeans import _sqdist
from covid_19_data_engineering_spark.operators.similarity import _assign_cells
from covid_19_data_engineering_spark.operators.vectors import nearest_centroids


def _cells(rows) -> dict[int, list[int]]:
    """{vec_id: sorted cids} of collected assignment rows."""
    out: dict[int, list[int]] = {}
    for r in rows:
        out.setdefault(r["vec_id"], []).append(r["cid"])
    return {k: sorted(v) for k, v in out.items()}


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
    nearest = [nearest_centroids(F.col("e"), F.col("cs"), _sqdist, n)
               for n in (1, 2)]
    got = (
        rows.select("vec_id", nearest[0]["cid"].alias("cid1"),
                    nearest[1].alias("b"))
        .select("vec_id", "cid1", F.col("b.cid").alias("cid"))
        .collect()
    )
    assert {r["vec_id"]: r["cid1"] for r in got} == {1: 7, 2: 2}
    assert _cells(got) == {1: [2, 7], 2: [2, 5]}


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

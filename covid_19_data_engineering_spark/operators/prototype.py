"""Nearest-prototype classification audit over the labeled embeddings —
the classification-eval readout: build one mean vector per label (the
class prototype), classify every vector by its nearest prototype, and
report the confusion census with overall accuracy. The quality probe a
labeling/embedding pipeline runs to ask "are these classes linearly
separated enough to trust?" — beside ``embedding_class_separation``'s
distance-ratio readout.

Determinism (kmeans.py's recipe): the prototypes are the shared
fixed-point Lloyd update (``operators/vectors.py`` ``lloyd_update``:
per-(label, dim) BIGINT sums of floor(x * 1e6), one exact double
division per component) keyed by label, and classification is the
shared nearest-centroid kernel (``nearest_centroids`` with the
left-fold squared L2) with the label as the centroid id, so a distance
tie goes to the lower label. The oracle replays both through their SQL
twins.

100 TB shape: prototypes reduce via the (label, dim)-keyed map-side-
combined shuffle (<= labels * 64 groups); classification is a MAP-ONLY
projection against the single broadcast prototype row (array_min over
L struct elements inside whole-stage codegen — no per-prototype row
explosion, no second corpus shuffle beyond the confusion groupBy on
<= L^2 keys).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from covid_19_data_engineering_spark.operators.vectors import (
    lloyd_update,
    lloyd_update_sql,
    nearest_centroids,
    nearest_centroids_sql,
    sqdist,
    sqdist_sql,
)
from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

PROTO_DIM = 64


def prototype_confusion(emb: DataFrame) -> DataFrame:
    """(true_label, pred_label, n, accuracy) — nearest-prototype
    confusion census; accuracy (trace share) repeated per row."""
    emb = emb.select(
        "label", F.col("embedding").cast("array<double>").alias("e")
    )
    one_row = lloyd_update(emb, ["label"], "e").agg(
        F.collect_list(F.struct(F.col("label").alias("cid"), "c"))
        .alias("ps")
    )
    classified = (
        emb.crossJoin(F.broadcast(one_row))
        .select(
            F.col("label").alias("true_label"),
            nearest_centroids(F.col("e"), F.col("ps"), sqdist, 1)["cid"]
            .alias("pred_label"),
        )
    )
    conf = classified.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).alias("n")
    )
    acc = conf.agg(
        F.sum(F.when(F.col("true_label") == F.col("pred_label"),
                     F.col("n")).otherwise(0)).alias("hit"),
        F.sum("n").alias("all_n"),
    )
    return (
        conf.crossJoin(F.broadcast(acc))
        .select(
            "true_label", "pred_label", "n",
            F.round(F.expr("CAST(hit AS DOUBLE) / all_n"), 6)
            .alias("accuracy"),
        )
        .orderBy("true_label", "pred_label")
    )


@register(
    "embedding_prototype_accuracy",
    oracle=f"""
    WITH emb AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS e,
             ROW_NUMBER() OVER () AS rid
      FROM embeddings
    ),
    protos AS ({lloyd_update_sql("emb", "label", dim=PROTO_DIM)}),
    scored AS ({nearest_centroids_sql(
        "emb", "protos", sqdist_sql("v.e", "c.c", PROTO_DIM),
        cols="v.label AS true_label, c.label AS pred_label",
        key="v.rid", cid="c.label")}),
    conf AS (
      SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
      FROM scored
      GROUP BY 1, 2
    ),
    acc AS (
      SELECT CAST(SUM(CASE WHEN true_label = pred_label THEN n ELSE 0 END)
                  AS BIGINT) AS hit,
             CAST(SUM(n) AS BIGINT) AS all_n
      FROM conf
    )
    SELECT true_label, pred_label, n,
           ROUND(CAST(hit AS DOUBLE) / all_n, 6) AS accuracy
    FROM conf, acc
    ORDER BY true_label, pred_label
    """,
    doc="Nearest-prototype classification census over the labeled "
    "embeddings: per-label mean prototypes from exact fixed-point "
    "component sums (floor(x*1e6) BIGINTs, one exact division), then a "
    "MAP-ONLY argmin against the single broadcast prototype row "
    "(array_min over L struct elements, label tiebreak) and the "
    "confusion groupBy on <= L^2 keys — the 'are these classes "
    "separable' audit beside embedding_class_separation.",
)
def embedding_prototype_accuracy(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return prototype_confusion(emb.select("label", "embedding"))

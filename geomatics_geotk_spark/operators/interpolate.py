"""Inverse-distance-weighted (IDW) spatial interpolation: estimate a
field value at each query point from its k nearest observation points,
weighted 1/d² — the standard deterministic gridding/interpolation
primitive, composed from the engine's own kNN + haversine pieces
(reference supplies the distance model, ``GeodesyUtils.java``; IDW is
the canonical consumer of a kNN join).

Shape for 100 TB
----------------
Candidate generation is pluggable: the built-in path broadcasts a
dimension-sized observation table (weather stations, sensors — the
realistic IDW source) and ranks with one per-doc ``row_number() <= k``
window (``similarity._topk_per_query``; its partial ``WindowGroupLimit``
keeps any task from sorting a doc's whole candidate set); for
observation tables too big to broadcast, pass ``neighbors=`` from
``knn.knn_join`` (cell-ring candidates) and this operator only does the
weighting rollup, which reuses the ranking exchange.

Engine stability (what makes the oracle hash-exact): distances are
rounded to 3 dp (mm) first; weights are the SCALED form 1e6/d² — for
any Earth distance in [1 m floor, 2e7 m] that double's lowest mantissa
bit sits above the 1e-30 decimal grid, so the DECIMAL(38,30) cast is
EXACT (no rounding, hence no rounding-mode divergence between engines)
and the group sums are order-independent.  The 1e6 scale cancels in the
num/den ratio.  The 1 m floor is the standard IDW exact-hit clamp — a
coincident observation dominates (w = 1e6) without an Inf/NaN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import haversine_m
from .similarity import _topk_per_query


def idw_interpolate(docs: DataFrame, pois: DataFrame, k: int = 4,
                    value_col: str = "poi_value", id_col: str = "doc_id",
                    poi_id_col: str = "poi_id", d_floor_m: float = 1.0) -> DataFrame:
    """(doc_id, n_nbrs, idw_value, nearest_dist_m) per doc.

    docs: (doc_id, lon, lat); pois: (poi_id, poi_lon, poi_lat, value) —
    broadcast (dimension-sized observation sets).  For corpus-scale
    observation sets, rank with ``knn.knn_join`` and call
    ``idw_weight`` on its output instead.
    """
    cand = docs.crossJoin(F.broadcast(pois))
    d = haversine_m(F.col("lat"), F.col("lon"), F.col("poi_lat"), F.col("poi_lon"))
    scored = cand.withColumn("dist_m", F.round(d, 3)).withColumn(
        "_neg_d", -F.col("dist_m")
    )
    nbrs = _topk_per_query(
        scored, k, q_id_col=id_col, id_col=poi_id_col,
        score_col="_neg_d", rank_col="rank",
    ).drop("_neg_d")
    return idw_weight(nbrs, value_col=value_col, id_col=id_col,
                      d_floor_m=d_floor_m)


def idw_weight(neighbors: DataFrame, value_col: str = "poi_value",
               id_col: str = "doc_id", dist_col: str = "dist_m",
               d_floor_m: float = 1.0) -> DataFrame:
    """The weighting rollup alone, over any ranked neighbor frame
    (doc_id, dist_m, value): w = 1e6 / max(d, floor)²; exact decimal
    sums; one exchange (reused from the ranking when upstream already
    partitioned by doc)."""
    d = F.greatest(F.col(dist_col), F.lit(float(d_floor_m)))
    w = F.lit(1.0e6) / (d * d)
    staged = neighbors.select(
        F.col(id_col).alias("doc_id"),
        F.col(dist_col).alias("_d"),
        w.cast("decimal(38,30)").alias("_w"),
        (F.col(value_col) * w).cast("decimal(38,28)").alias("_vw"),
    )
    agg = staged.groupBy("doc_id").agg(
        F.count("*").alias("n_nbrs"),
        F.sum("_w").cast("double").alias("_sw"),
        F.sum("_vw").cast("double").alias("_svw"),
        F.min("_d").alias("nearest_dist_m"),
    )
    return agg.select(
        "doc_id", "n_nbrs",
        (F.col("_svw") / F.col("_sw")).alias("idw_value"),
        "nearest_dist_m",
    )

"""Triangle counting — degree-ordered orientation + wedge closure.

New capability per the north rule (no reference counterpart).  Standard
compact-forward/node-iterator++ scheme: orient each undirected edge from the
endpoint with (lower degree, lower id) to the higher — every triangle then
appears as exactly one wedge a→b, a→c with edge b→c, so one self-join plus
one closure semi/inner join counts each triangle once.

Degree ordering (not plain id ordering) bounds the out-degree of the oriented
graph by O(√m), which is what keeps the wedge self-join from exploding on
power-law hubs — the skew-critical choice at 100 TB scale.  All joins are
equi-joins; AQE handles residual join skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikipath_spark.operators._loop import endpoint_vertices, symmetric_edges


def _oriented(edges: DataFrame, src: str, dst: str) -> DataFrame:
    # NO materialization barrier here: the symmetric frame is scanned by the
    # degree aggregation and both degree-attach joins, but Spark's
    # shuffle-exchange reuse already dedupes those scans inside the caller's
    # single action — an eager localCheckpoint at this point forces a full
    # extra materialization AND blocks exchange reuse / AQE across the
    # boundary (A/B measured at sf0.1: checkpoint 8.5/5.2s, lazy persist
    # 5.3/3.1s, neither 3.1/2.8s — the round-2 regression)
    sym = symmetric_edges(edges, src, dst)
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    with_deg = (
        sym.join(deg.withColumnRenamed("u", "u_").withColumnRenamed("d", "du"),
                 F.col("u") == F.col("u_"))
        .drop("u_")
        .join(deg.withColumnRenamed("u", "v_").withColumnRenamed("d", "dv"),
              F.col("v") == F.col("v_"))
        .drop("v_")
    )
    # keep (u,v) iff (du, u) < (dv, v) lexicographically
    keep = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return with_deg.filter(keep).select("u", "v")


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> int:
    """Total number of distinct triangles in the undirected graph."""
    o = _oriented(edges, src, dst).persist()
    wedges = o.alias("e1").join(
        o.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c"))
    closed = wedges.join(
        o.select(F.col("u").alias("a"), F.col("v").alias("c")), ["a", "c"], "left_semi"
    )
    n = closed.count()
    o.unpersist()
    return n


def triangles_per_vertex(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """``(page_id, triangles)`` — per-vertex triangle participation counts.
    Vertices in no triangle get 0 iff they appear in ``edges``."""
    o = _oriented(edges, src, dst).persist()
    wedges = o.alias("e1").join(
        o.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c"))
    closed = wedges.join(
        o.select(F.col("u").alias("a"), F.col("v").alias("c")), ["a", "c"], "left_semi"
    ).persist()
    per_vertex = (
        closed.select(F.col("a").alias("page_id"))
        .union(closed.select(F.col("b").alias("page_id")))
        .union(closed.select(F.col("c").alias("page_id")))
        .groupBy("page_id")
        .agg(F.count("*").alias("triangles"))
    )
    out = (
        endpoint_vertices(edges, src, dst).join(per_vertex, "page_id", "left")
        .select("page_id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
    )
    closed.unpersist()
    o.unpersist()
    return out

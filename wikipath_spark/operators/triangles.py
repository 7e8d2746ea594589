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

Driver lane: an edge table whose Catalyst size estimate passes the shared
gate (``_loop.driver_graph``, ``DRIVER_THRESHOLD_BYTES``) is collected once
through Arrow and counted in numpy over its undirected driver graph
(:func:`_closed_wedges`): the same orientation, wedges expanded from a CSR
layout in fixed-size chunks and closed by ``searchsorted`` on the sorted
oriented pair keys, so the driver holds one chunk of wedges at a time.  An
unknown-size plan (e.g. a ``createDataFrame`` list) keeps the joins above.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikipath_spark.operators._loop import (
    driver_graph,
    endpoint_vertices,
    symmetric_edges,
)

WEDGE_CHUNK = 1 << 16  # wedges expanded at once by the driver lane


def _closed_wedges(lo, hi, n):
    """Yield ``(a, b, c)`` index arrays of the closed wedges of an
    :func:`~wikipath_spark.operators._loop.undirected_driver_graph`, one
    chunk of about :data:`WEDGE_CHUNK` wedges at a time.  Each pair is
    oriented from its (degree, id)-smaller end, as in :func:`_oriented`, so
    every triangle is exactly one wedge ``a→b→c`` closed by ``a→c``."""
    p = len(lo)
    if p == 0:
        return
    deg = np.bincount(lo, minlength=n) + np.bincount(hi, minlength=n)
    rank = np.empty(n, dtype=np.int64)
    rank[np.argsort(deg, kind="stable")] = np.arange(n)  # (degree, id) order
    del deg
    flip = rank[lo] > rank[hi]
    del rank
    # oriented pairs as sorted a * n + b keys: the CSR layout of a's
    # out-neighbours and the membership index of the closing edges at once
    key = np.multiply(np.where(flip, hi, lo), n, dtype=np.int64)
    key += np.where(flip, lo, hi)
    del flip
    key.sort()
    nbr = (key % n).astype(np.int32)
    off = np.searchsorted(key, np.arange(n + 1, dtype=np.int64) * n)
    out_deg = np.diff(off)
    ends = np.cumsum(out_deg[nbr])  # wedges through edges [0, e]
    e0 = 0
    while e0 < p:
        base = int(ends[e0 - 1]) if e0 else 0
        e1 = max(e0 + 1, int(np.searchsorted(ends, base + WEDGE_CHUNK, side="right")))
        b_e = nbr[e0:e1]
        cnt = out_deg[b_e]
        # wedge j of edge a→b reads b's j-th out-neighbour c
        first = off[b_e] - (ends[e0:e1] - cnt - base)
        c = nbr[np.repeat(first, cnt) + np.arange(int(ends[e1 - 1]) - base)]
        an = np.repeat(key[e0:e1] - b_e, cnt)  # a * n
        wedge = an + c
        pos = np.searchsorted(key, wedge)
        pos[pos == p] = 0
        hit = key[pos] == wedge
        yield an[hit] // n, np.repeat(b_e, cnt)[hit], c[hit]
        e0 = e1


def _per_vertex_counts(lo, hi, n):
    """Triangles through each vertex index: every closed wedge counts once
    for each of its three corners."""
    per = np.zeros(n, dtype=np.int64)
    for corners in _closed_wedges(lo, hi, n):
        for x in corners:
            per += np.bincount(x, minlength=n)
    return per


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
    """Total number of distinct triangles in the undirected graph.  Small
    edge tables take the numpy driver lane (module docstring)."""
    g = driver_graph(edges, src, dst)
    if g is not None:
        return sum(len(a) for a, _b, _c in _closed_wedges(g.lo, g.hi, len(g.ids)))
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
    Vertices in no triangle get 0 iff they appear in ``edges``.  Small edge
    tables take the numpy driver lane (module docstring)."""
    g = driver_graph(edges, src, dst)
    if g is not None:
        # endpoint_vertices: vertices seen only on self-loops count 0
        tri = np.zeros(len(g.ids) + len(g.loop_only), dtype=np.int64)
        tri[: len(g.ids)] = _per_vertex_counts(g.lo, g.hi, len(g.ids))
        return edges.sparkSession.createDataFrame(
            pa.table({"page_id": np.concatenate((g.ids, g.loop_only)), "triangles": tri})
        )
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

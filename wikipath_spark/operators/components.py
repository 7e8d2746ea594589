"""Connected components — alternating large-star / small-star.

New capability per the north rule (the reference computes no components; its
closest notion is BFS reachability, search.rs:23-142).  Algorithm: the
alternating algorithm of Kiveris et al., "Connected Components in MapReduce
and Beyond" (SOCC 2014) — converges in O(log²) rounds on any graph and to
O(log) in practice, each round two self-equi-joins + aggregations (explicit
shuffles per superstep).

Output is exactly deterministic: every vertex maps to the **minimum vertex id
of its component** (the required tie-break for exact cross-parallelism
reproducibility, SURVEY.md §4.4).

Scale notes: rounds touch only the current parent edge set (≤ one row per
vertex after round 1); hub skew in the neighbor aggregation is a plain
min-aggregate (algebraic, map-side combinable) so no salting is needed.
"""

from __future__ import annotations

import warnings

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from wikipath_spark.operators._loop import (
    LoopState,
    checkpoint_tracked,
    driver_graph,
    fingerprint,
    signature,
    symmetric_edges,
)


def _min_neighbor(edges: DataFrame) -> DataFrame:
    """For each u: m(u) = min(N(u) ∪ {u}) over the symmetric edge set."""
    sym = edges.select("u", "v")
    nbr_min = sym.groupBy("u").agg(F.min("v").alias("mn"))
    return nbr_min.select("u", F.least("u", "mn").alias("m"))


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) with v>u → (v, m(u)): strictly-larger neighbors hook onto u's min."""
    m = _min_neighbor(edges)
    return (
        edges.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """(u,v) with v≤u → (v, m(u)) ∪ (u, m(u)): smaller neighbors re-hook."""
    smaller = edges.filter(F.col("v") <= F.col("u"))
    m = _min_neighbor(smaller)
    hooked = (
        smaller.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return hooked


def _cc_driver_numpy(lo, hi, n, check_budget):
    """Driver-side exact CC over an
    :func:`~wikipath_spark.operators._loop.undirected_driver_graph`:
    min-label propagation + pointer jumping, all vectorized.  Index order
    == id order, so the minimum representative INDEX is exactly the minimum
    vertex id of the component — the same labeling the alternating
    algorithm produces.  Self-loop-only vertices are not in the graph,
    matching the distributed lane's ``u != v`` filter."""
    label = np.arange(n, dtype=np.int32)
    while True:
        check_budget()
        before = label
        m = np.minimum(label[lo], label[hi])
        label = label.copy()
        np.minimum.at(label, lo, m)
        np.minimum.at(label, hi, m)
        while True:
            nl = label[label]
            if np.array_equal(nl, label):
                break
            label = nl
        if np.array_equal(label, before):
            break
    return label


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_mgr=None,
    resume: bool = False,
    budget_s: float | None = None,
) -> DataFrame:
    """Undirected connected components over a directed edge table.

    Returns ``(page_id, component)`` where component = min id in component.
    Isolated vertices absent from ``edges`` are absent here; union the vertex
    table with identity components if needed (plans/analytics does).

    Adaptive physical strategy (round 6 — the compress_redirects /
    serve-BFS pattern): when Catalyst's own size estimate says the edge
    table fits comfortably in driver memory, the fixpoint runs as ONE Arrow
    collect (:func:`driver_graph`) + vectorized numpy min-label pointer
    jumping — the alternating-star loop costs ~1s of fixed scheduling per
    round even on a 42k-row edge set (measured, OPTIMIZATION_r06.md), and
    resume/checkpoint machinery is meaningless at that size.  Identical
    output labeling
    (min-id representative; lane-equivalence-tested on random graphs);
    estimates are only trusted downward — unknown-size plans report MaxValue
    and stay distributed, which also keeps every small in-memory test graph
    on the distributed lane."""
    from wikipath_spark.operators.bfs import wall_budget

    check_budget = wall_budget(budget_s, "connected_components")
    g = driver_graph(
        edges, src, dst,
        durable=checkpoint_mgr is not None or resume, check_budget=check_budget,
    )
    if g is not None:
        label = _cc_driver_numpy(g.lo, g.hi, len(g.ids), check_budget)
        return edges.sparkSession.createDataFrame(
            pa.table({"page_id": g.ids, "component": g.ids[label]})
        )

    # convergence check = (row count, order-insensitive hash sum) fingerprint
    # riding on the materializing pass — one action per round instead of the
    # two full sorts an exceptAll comparison costs
    fp = fingerprint("u", "v")
    with LoopState(checkpoint_mgr, resume) as state:
        # symmetrize once (unless resuming); each round operates on the
        # shrinking parent-edge set
        loaded = state.restore(edges.sparkSession, ["u", "v"])
        state.frame = checkpoint_tracked(
            symmetric_edges(edges, src, dst) if loaded is None else loaded
        )
        # a resumed run compares its first round with the loaded state
        prev_sig = None if loaded is None else signature(state.frame.agg(*fp).first())
        # NB: unlike PageRank's fixed-shape superstep, CC's edge set SHRINKS each
        # round — AQE's runtime coalescing is a measured win here (17s vs 48s at
        # sf0.1 with it disabled), so the loop runs under normal session confs.
        for i in state.steps(max_iter):
            check_budget()
            ls = _large_star(state.frame)
            # large-star output is asymmetric (child→parent); symmetrize for the
            # next neighborhood computation.  No distinct needed: every ls row
            # has v < u strictly (v = min(N(u) ∪ u) and self-loops are filtered),
            # so the swapped orientation can never collide with the original and
            # ls itself is already distinct — same for the small-star output
            # below.  Each removed distinct was a full shuffle per round.
            sym = ls.union(ls.select(F.col("v").alias("u"), F.col("u").alias("v")))
            ss = _small_star(sym)
            obs = Observation(f"cc_{i}")
            new_e = ss.union(
                ss.select(F.col("v").alias("u"), F.col("u").alias("v"))
            ).observe(obs, *fp)
            # the early rounds hold FULL symmetrized edge sets: the superseded
            # round's checkpoint is released as soon as this one exists
            state.advance(new_e)
            sig = signature(obs.get)
            state.commit(sig[0], done=sig == prev_sig)
            prev_sig = sig
        if state.stalled:
            # the alternating algorithm converges in O(log² n) rounds — exhausting
            # max_iter means the star forest is NOT a fixpoint and the extraction
            # below may split true components; never return that silently
            warnings.warn(
                f"connected_components: no fixpoint after {max_iter} rounds; "
                "components may be over-split (raise max_iter)",
                stacklevel=2,
            )
        # star forest: component(u) = min neighbor (parent); parents map to themselves
        e = state.frame
        parent = e.groupBy("u").agg(F.min("v").alias("p"))
        comp = parent.select(
            F.col("u").alias("page_id"), F.least("u", "p").alias("component")
        )
        # vertices that are component minima may only appear as parents (v side)
        roots = (
            e.select(F.col("v").alias("page_id"))
            .distinct()
            .join(comp.select("page_id"), "page_id", "left_anti")
            .withColumn("component", F.col("page_id"))
        )
        return state.result(comp.union(roots))

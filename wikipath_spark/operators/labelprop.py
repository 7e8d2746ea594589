"""Synchronous label propagation (community detection).

New capability per the north rule (no reference counterpart).  Standard
synchronous LPA over the undirected graph: every vertex starts with its own
id as label; each superstep adopts the most frequent label among neighbors,
ties broken by **minimum label** — the deterministic tie-break required for
exact reproducibility across parallelism levels (SURVEY.md §4.4).

Each superstep is one explicit shuffle: ``labels ⋈ edges`` then a two-level
aggregation ``groupBy(dst, label).count`` → ``groupBy(dst).max(struct)``.
The struct-max trick — ``max(struct(cnt, -label))`` — picks
(max count, then min label) in a single algebraic aggregate: no window
function, fully map-side combinable, skew-safe for hubs.

Synchronous LPA can oscillate on bipartite-ish structures; ``max_iter`` caps
the loop and the stable-count convergence test stops early when labels stop
changing. Deterministic by construction either way.

Driver lane: an edge table whose Catalyst size estimate passes the shared
gate (``_loop.driver_graph``, ``DRIVER_THRESHOLD_BYTES``) is collected once
through Arrow and iterated in numpy over its undirected driver graph
(:func:`_lpa_driver`): the same rounds, tie-break, stop rule and no-fixpoint
warning, with no Spark job per round.  An unknown-size plan (e.g. a
``createDataFrame`` list), ``checkpoint_mgr`` or ``resume`` keep the
distributed loop.
"""

from __future__ import annotations

import warnings

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from wikipath_spark.operators._loop import (
    LoopState,
    driver_graph,
    fingerprint,
    signature,
    symmetric_edges,
)


def _lpa_round(lo, hi, label, key):
    """One synchronous round over the pairs ``lo < hi`` of an
    :func:`~wikipath_spark.operators._loop.undirected_driver_graph`: every
    vertex takes the label with the most neighbours, ties to the minimum
    label.  ``key`` is a reused int64 buffer of length ``2 * len(lo)``."""
    n, p = len(label), len(lo)
    # one (receiver, label) key per directed message, sorted in place
    np.multiply(lo, n, out=key[:p], dtype=np.int64)
    key[:p] += label[hi]
    np.multiply(hi, n, out=key[p:], dtype=np.int64)
    key[p:] += label[lo]
    key.sort()
    new_group = np.empty(len(key), dtype=bool)
    new_group[0] = True
    np.not_equal(key[1:], key[:-1], out=new_group[1:])
    starts = np.flatnonzero(new_group)
    del new_group
    group = key[starts]
    score = np.diff(starts, append=len(key))  # messages per (receiver, label)
    del starts
    # every vertex receives at least one message, so its groups start where
    # its receiver block does
    first = np.searchsorted(group, np.arange(n, dtype=np.int64) * n)
    np.remainder(group, n, out=group)
    # count * n - label: the maximum is (max count, then min label)
    score *= n
    score -= group
    del group
    best = np.maximum.reduceat(score, first)
    return ((-best) % n).astype(label.dtype)


def _lpa_driver(lo, hi, n, max_iter, check_budget):
    """Label indices after at most ``max_iter`` rounds and whether two
    consecutive rounds agreed — the distributed loop's stop rule, which
    compares each round with the one before it (never with the initial
    labels).  Index order is id order, so the minimum-index tie-break is the
    minimum-id one."""
    label = np.arange(n, dtype=np.int32)
    key = np.empty(2 * len(lo), dtype=np.int64)
    converged = False
    for it in range(1, max_iter + 1):
        check_budget()
        new = _lpa_round(lo, hi, label, key) if len(lo) else label
        converged = it > 1 and np.array_equal(new, label)
        label = new
        if converged:
            break
    return label, converged


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
    checkpoint_mgr=None,
    resume: bool = False,
    budget_s: float | None = None,
) -> DataFrame:
    """Returns ``(page_id, label)``; label = a community representative id.
    Vertices that appear only on self-loops are absent.  Small edge tables
    take the numpy driver lane (module docstring); both lanes return the
    same labels."""
    from wikipath_spark.operators.bfs import wall_budget

    check_budget = wall_budget(budget_s, "label_propagation")
    g = driver_graph(
        edges, src, dst,
        durable=checkpoint_mgr is not None or resume, check_budget=check_budget,
    )
    if g is not None:
        label, converged = _lpa_driver(g.lo, g.hi, len(g.ids), max_iter, check_budget)
        if not converged and max_iter > 0:
            _warn_no_fixpoint(max_iter)
        return edges.sparkSession.createDataFrame(
            pa.table({"page_id": g.ids, "label": g.ids[label]})
        )
    # AQE left on: like CC (and unlike PageRank's fixed-shape superstep),
    # message volume varies round to round as labels converge
    #
    # Convergence check = the (row count, order-insensitive hash sum)
    # fingerprint riding on the materializing pass via df.observe — one
    # action per round (the same trick as connected_components; replaces an
    # old-vs-new join + count that cost an extra job per superstep).
    # Checkpoints and release of the label frames: LoopState.
    fp = fingerprint("page_id", "label")
    with LoopState(checkpoint_mgr, resume) as state:
        sym = state.hold(symmetric_edges(edges, src, dst).persist())
        loaded = state.restore(edges.sparkSession, ["page_id", "label"])
        if loaded is None:
            state.frame = sym.select(F.col("u").alias("page_id")).distinct().withColumn(
                "label", F.col("page_id")
            ).persist()
            prev_sig = None
        else:
            # a resumed run compares its first round with the loaded labels
            state.frame = loaded.persist()
            prev_sig = signature(state.frame.agg(*fp).first())
        for it in state.steps(max_iter):
            check_budget()
            labels = state.frame
            msgs = sym.join(labels, sym["v"] == labels["page_id"]).select(
                sym["u"].alias("id"), "label"
            )
            counted = msgs.groupBy("id", "label").agg(F.count("*").alias("cnt"))
            obs = Observation(f"lpa_{it}")
            picked = (
                counted.groupBy("id")
                .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("b"))
                .select(F.col("id").alias("page_id"), (-F.col("b.nl")).alias("label"))
                .observe(obs, *fp)
            )
            state.advance(picked)
            sig = signature(obs.get)
            state.commit(sig[0], done=sig == prev_sig)
            prev_sig = sig
        if state.stalled:
            _warn_no_fixpoint(max_iter)
        return state.result(state.frame)


def _warn_no_fixpoint(max_iter: int) -> None:
    # synchronous LPA can oscillate; the caller must know the labels are a
    # max_iter snapshot, not a fixpoint (same contract as components)
    warnings.warn(
        f"label_propagation: no fixpoint after {max_iter} supersteps; "
        "returning the last snapshot",
        stacklevel=3,
    )

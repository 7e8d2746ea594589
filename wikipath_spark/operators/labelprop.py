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
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from wikipath_spark.operators._loop import LoopState, latest_checkpoint, symmetric_edges


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
    checkpoint_every: int = 1,
    checkpoint_mgr=None,
    checkpoint_interval: int = 3,
    resume: bool = False,
    budget_s: float | None = None,
) -> DataFrame:
    """Returns ``(page_id, label)``; label = a community representative id."""
    from wikipath_spark.operators.bfs import wall_budget

    check_budget = wall_budget(budget_s, "label_propagation")
    # AQE left on: like CC (and unlike PageRank's fixed-shape superstep),
    # message volume varies round to round as labels converge
    #
    # Convergence check = (row count, order-insensitive hash sum) fingerprint
    # riding on the materializing pass via df.observe — one action per round
    # (the same trick as connected_components; replaces an old-vs-new join +
    # count that cost an extra job per superstep).  Equality of a 40-bit
    # hash-sum fingerprint is probabilistic but astronomically safe, and a
    # stale fixpoint only costs one extra (idempotent) round.  Checkpoint
    # cadence and release of the label frames: LoopState.
    with LoopState(checkpoint_every) as state:
        sym = state.hold(symmetric_edges(edges, src, dst).persist())
        resumed = latest_checkpoint(
            checkpoint_mgr, resume, edges.sparkSession, ["page_id", "label"]
        )
        start_it = 0
        if resumed is None:
            state.frame = sym.select(F.col("u").alias("page_id")).distinct().withColumn(
                "label", F.col("page_id")
            ).persist()
        else:
            state.frame, start_it = resumed[0].persist(), resumed[1]
        prev_sig: tuple[int, int] | None = None
        converged = False
        for it in range(start_it + 1, max_iter + 1):
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
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.pmod(F.xxhash64("page_id", "label"), F.lit(1 << 40))).alias("h"),
                )
            )
            labels = state.advance(picked, it)
            sig = (int(obs.get["n"] or 0), int(obs.get["h"] or 0))
            converged = sig == prev_sig
            if checkpoint_mgr is not None and (it % checkpoint_interval == 0 or converged):
                checkpoint_mgr.save(it, labels, float(sig[0]))
            if converged:
                break
            prev_sig = sig
        if not converged and max_iter > start_it:
            # synchronous LPA can oscillate; the caller must know the labels are a
            # max_iter snapshot, not a fixpoint (same contract as components)
            warnings.warn(
                f"label_propagation: no fixpoint after {max_iter} supersteps; "
                "returning the last snapshot",
                stacklevel=2,
            )
        return state.result(state.frame)

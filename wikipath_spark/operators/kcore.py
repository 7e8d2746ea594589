"""k-core decomposition — iterative peel to the maximal subgraph in which
every vertex keeps degree ≥ k.

New capability per the north rule (no reference counterpart; the reference's
only traversal is bidirectional BFS, search.rs:23-217).  Standard peeling:
repeatedly delete vertices of (undirected, distinct-neighbor) degree < k;
the fixpoint is the k-core, independent of deletion order — which is what
makes the level-synchronous DataFrame formulation exact.

Each round is one degree aggregation + two semi-joins over the shrinking
edge set (explicit shuffles); the round's edge count rides on the
materializing pass via ``df.observe`` (one action per round), and an
unchanged count IS the fixpoint proof (peeling is monotone: no edge removed
⟺ no vertex was below k ⟺ stable).  SQL-expressible by unrolling rounds —
extra rounds past the fixpoint are idempotent, so a DuckDB twin with R ≥
convergence rounds matches exactly (__spark_entry__ ``graph_kcore``).

Scale notes: state is only the current edge set; degree counting is an
algebraic aggregate (map-side combinable, no salting needed — hub vertices
concentrate a count, not a data structure).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wikipath_spark.operators._loop import (
    LoopState,
    checkpoint_tracked,
    fingerprint,
    signature,
    symmetric_edges,
)


def coreness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
    checkpoint_mgr=None,
    resume: bool = False,
    budget_s: float | None = None,
) -> DataFrame:
    """Full core decomposition: ``(page_id, coreness)`` for every vertex —
    the largest k such that the vertex belongs to the k-core.

    Algorithm: h-index iteration (Lü, Zhou, Zhang, Stanley, "The H-index of
    a network node and its relation to degree and coreness", 2016): start
    from c₀(v) = degree(v) and repeatedly set c(v) to the H-index of its
    neighbors' current values (the largest h with ≥ h neighbors valued ≥ h).
    The sequence decreases monotonically and its fixpoint IS the coreness —
    exact, and order-independent (the H-index is a multiset function), so
    the result is deterministic across engines and parallelism levels and
    has a DuckDB twin by unrolling rounds (``graph_coreness``).

    Each round: one join (neighbor estimates) + one window + one aggregate —
    the window and the aggregate share the hash(u) partitioning, so the
    round costs two shuffles.  The per-vertex H-index is
    max over the desc-sorted neighbor values e₁ ≥ e₂ ≥ … of min(rank, eᵣ),
    tie-order-free.  Convergence rides on the materializing pass as a
    (count, order-insensitive hash) fingerprint — one action per round.

    Resumable (north rule): the per-vertex estimate frame IS the loop state
    (``sym`` is a pure function of the input edges), so a durable checkpoint
    of ``checkpoint_mgr`` restarts mid-decomposition; the fingerprint is
    recomputed from the loaded state in one aggregate.
    ``budget_s`` bounds wall-clock seconds between rounds
    (:class:`~wikipath_spark.operators.bfs.QueryBudgetExceeded`).
    """
    from wikipath_spark.operators.bfs import wall_budget

    check_budget = wall_budget(budget_s, "coreness")
    w = Window.partitionBy("u").orderBy(F.desc("est"))
    fp = fingerprint("page_id", "est")

    with LoopState(checkpoint_mgr, resume) as state:
        sym = state.hold(checkpoint_tracked(symmetric_edges(edges, src, dst)))
        loaded = state.restore(edges.sparkSession, ["page_id", "est"])
        prev_sig: tuple[int, int] | None = None
        if loaded is None:
            state.frame = checkpoint_tracked(
                sym.groupBy("u")
                .agg(F.count("*").cast("long").alias("est"))
                .select(F.col("u").alias("page_id"), "est")
            )
        else:
            state.frame = checkpoint_tracked(loaded)
            prev_sig = signature(state.frame.agg(*fp).first())
        for i in state.steps(max_iter):
            check_budget()
            est = state.frame
            nbr = sym.join(est, sym["v"] == est["page_id"]).select("u", "est")
            obs = Observation(f"coreness_{i}")
            new_est = (
                nbr.withColumn("_rn", F.row_number().over(w))
                .groupBy("u")
                .agg(F.max(F.least(F.col("_rn").cast("long"), F.col("est"))).alias("est"))
                .select(F.col("u").alias("page_id"), "est")
                .observe(obs, *fp)
            )
            state.advance(new_est)
            sig = signature(obs.get)
            state.commit(sig[0], done=sig == prev_sig)
            prev_sig = sig
        if state.stalled:
            warnings.warn(
                f"coreness: no fixpoint after {max_iter} rounds; estimates are an "
                "upper bound on the true coreness (raise max_iter)",
                stacklevel=2,
            )
        # the returned select reads only the (checkpointed) final estimates;
        # the held symmetric edge frame is released on exit
        return state.result(state.frame.select("page_id", F.col("est").alias("coreness")))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
    checkpoint_mgr=None,
    resume: bool = False,
    budget_s: float | None = None,
) -> DataFrame:
    """Vertices of the k-core with their in-core degree: ``(page_id, degree)``.

    ``edges`` is directed input; the core is computed on the symmetrized
    self-loop-free graph (degree = number of distinct neighbors).

    Resumable (north rule): the surviving symmetric edge set IS the loop
    state (peeling only ever shrinks it), checkpointed durably by
    ``checkpoint_mgr`` with the edge count as the convergence metric;
    ``budget_s`` bounds wall-clock seconds between peel rounds.
    """
    from wikipath_spark.operators.bfs import wall_budget

    check_budget = wall_budget(budget_s, "k_core")
    with LoopState(checkpoint_mgr, resume) as state:
        loaded = state.restore(edges.sparkSession, ["u", "v"])
        state.frame = checkpoint_tracked(
            symmetric_edges(edges, src, dst) if loaded is None else loaded
        )
        prev_n = state.frame.count()
        for i in state.steps(max_iter):
            check_budget()
            e = state.frame
            deg = e.groupBy("u").agg(F.count("*").alias("d"))
            keep = deg.filter(F.col("d") >= k).select("u")
            obs = Observation(f"kcore_{i}")
            state.advance(
                e.join(keep, "u", "left_semi")
                .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
                .observe(obs, F.count(F.lit(1)).alias("n"))
            )
            n2 = int(obs.get["n"] or 0)
            state.commit(n2, done=n2 == prev_n or n2 == 0)
            prev_n = n2
        if state.stalled:
            # peeling strictly shrinks until the fixpoint, so this means
            # max_iter rounds were not enough — the returned set OVER-approximates
            # the true k-core; never silent (same contract as components/LPA)
            warnings.warn(
                f"k_core: no fixpoint after {max_iter} rounds; "
                "result over-approximates the k-core (raise max_iter)",
                stacklevel=2,
            )
        return state.result(
            state.frame.groupBy("u")
            .agg(F.count("*").alias("degree"))
            .select(F.col("u").alias("page_id"), "degree")
        )

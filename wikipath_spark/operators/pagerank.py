"""PageRank by power iteration — the engine's benchmark kernel.

No counterpart exists in the reference (its only traversal is bidirectional
BFS, search.rs:23-217); semantics are the standard definition required by the
north rule: damping 0.85, dangling-mass redistribution, convergence at
L∞ < 1e-6, scores validated against a numpy oracle (allclose 1e-6).

Each superstep is one explicit shuffle: ``ranks ⋈ edges on src`` then
``groupBy(dst).sum`` — the built-in hash aggregate (whole-stage codegen,
partial map-side combine for free).  The Arrow-batched CSR kernel
(``applyInPandas`` scatter-add over dst-hash buckets) runs only in the
wide-state :func:`pagerank_multi`, where it wins; at one double per vertex
it measured 34% slower than the hash aggregate (BENCH/BASELINE.md).

Skew: hub vertices (power-law in-degree, the Wikipedia-style distribution the
reference's adjacency lists embody, database.rs:225-243) concentrate one
groupBy key.  ``salt_partials=k`` turns the aggregation into salted two-stage
(partial sums over (dst, salt) then final over dst) via operators/skew.py.

Distributed loops: :func:`pagerank`, :func:`pagerank_fixedpoint`,
:func:`pagerank_multi` and :func:`pagerank_multi_fixedpoint` all run under
``loop_confs`` on one setup (:func:`_loop_setup`: the out-degree edges and
the vertex flags, checkpointed once, with the vertex count, dangling count
and seed checks on one observe), then one Spark job per superstep: a
``localCheckpoint`` that truncates the lineage and carries the superstep's
observed metrics (:class:`~wikipath_spark.operators._loop.LoopState` owns
the state frames).  An optional durable checkpoint (plans/checkpoint.py)
makes :func:`pagerank` resumable.

Driver lane: an edge table small enough for the driver (the shared
``driver_edge_arrays`` gate of every driver lane) skips the loop above and
runs the same power iteration in numpy (:func:`_pagerank_driver`) over edges
indexed by the lanes' one ``factorize_endpoints`` — each distributed
superstep is one Spark job of fixed scheduling cost whatever the graph
size.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from wikipath_spark.operators._loop import (
    DRIVER_THRESHOLD_BYTES,
    LoopState,
    checkpoint_tracked,
    driver_edge_arrays,
    endpoint_vertices,
    factorize_endpoints,
    loop_confs,
)
from wikipath_spark.operators.skew import pick_salt, salted_sum

# edge rows one aggregation task may take before auto-salting splits a hub
ROWS_PER_TASK = 5_000_000


@dataclass
class PageRankResult:
    ranks: DataFrame          # (page_id, rank)
    iterations: int
    delta: float              # final L∞ delta
    converged: bool


def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    salt_partials: int | None = None,
    on_superstep=None,
    checkpoint_mgr=None,
    resume: bool = False,
    budget_s: float | None = None,
    driver_threshold_bytes: int = DRIVER_THRESHOLD_BYTES,
) -> PageRankResult:
    """Power-iteration PageRank over a directed ``(src, dst)`` edge table.

    ``vertices``: optional (page_id) frame of distinct ids; defaults to ids
    present in edges.  ``on_superstep(i, ranks_df, delta)`` is the
    checkpoint hook.  Returned ranks sum to 1 and include dangling vertices.
    ``checkpoint_mgr`` saves ``(page_id, rank)`` durably on its cadence and
    at the last superstep; ``resume`` continues from its newest checkpoint,
    and one whose delta is already below ``tol`` is returned as it is.

    Driver lane (the connected_components / bfs_distances gate and default):
    with no ``checkpoint_mgr`` and no ``resume``, an edge table whose
    Catalyst size estimate is at most ``driver_threshold_bytes`` is
    collected once through Arrow and iterated in numpy by
    :func:`_pagerank_driver` — same damping, dangling mass, stop rule,
    budget checks and result; ``salt_partials`` shapes only the
    distributed plan.  Unknown-size plans report MaxValue
    and stay distributed; ``driver_threshold_bytes=0`` forces the
    distributed lane.  Its hook frame is ``(page_id, rank)``,
    built only when a hook is passed.
    """
    from wikipath_spark.operators.bfs import wall_budget

    spark = edges.sparkSession
    check_budget = wall_budget(budget_s, "pagerank")
    arrays = driver_edge_arrays(
        edges, threshold_bytes=driver_threshold_bytes,
        durable=checkpoint_mgr is not None or resume,
    )
    if arrays is not None:
        vertex_ids = None
        if vertices is not None:
            vertex_ids = (
                vertices.select(F.col("page_id").cast("long")).toArrow().column(0).to_numpy()
            )
        graph = _driver_graph(*arrays, vertex_ids)
        del arrays, vertex_ids  # the collected columns are not needed past here
        return _pagerank_driver(
            spark, *graph, damping, tol, max_iter, on_superstep, check_budget
        )

    n_edges = edges.count()
    # loop_confs, as in every distributed loop here: AQE off (re-planning a
    # fixed-shape superstep is pure overhead), auto-broadcast off (a driver-
    # serialized broadcast of the ranks flattens core scaling: 8→32 cores
    # gave 1.2x), shuffle parallelism sized to data; restored on any exit.
    # LoopState releases what the loop holds on ANY exit, also a setup
    # failure (a corrupt checkpoint raising from load).
    with loop_confs(spark, rows=n_edges) as parts, LoopState(checkpoint_mgr, resume) as state:
        if salt_partials is None:
            # auto (the default): salt so no hub's in-neighborhood exceeds
            # one task's budget (SURVEY.md §4.2 — from the degree
            # distribution).  n_edges bounds every in-degree, so salt=1 is
            # always sufficient when n_edges <= rows_per_task — skip the
            # degree-probe job then
            salt_partials = (
                1 if n_edges <= ROWS_PER_TASK
                else pick_salt(edges, key="dst", rows_per_task=ROWS_PER_TASK)
            )
        edges_od, vflag, vertices, metrics = _loop_setup(state, edges, vertices, parts)
        n = int(metrics["nv"])
        if n == 0:
            # derive from `vertices`, NOT vflag — the held vflag checkpoint
            # is released on this return
            return PageRankResult(vertices.withColumn("rank", F.lit(0.0)), 0, 0.0, True)
        loaded = state.restore(spark, ["page_id", "rank"])
        if loaded is None:
            state.frame = vflag.select(
                "page_id", F.lit(1.0 / n).alias("rank"), "is_dangling"
            ).persist()
            dangling_mass = int(metrics["nd"] or 0) * (1.0 / n)
            delta = float("inf")
        else:
            state.frame = checkpoint_tracked(
                loaded.join(vflag, "page_id").select("page_id", "rank", "is_dangling")
            )
            delta = state.metric
            # converged under this call's tol, not under the saving run's
            state.done = delta < tol
            # resumed: recompute the dangling mass of the restored state (1 job)
            dangling_mass = (
                state.frame.join(vflag.filter("is_dangling"), "page_id", "left_semi")
                .agg(F.sum("rank"))
                .collect()[0][0]
                or 0.0
            )
        base = (1.0 - damping) / n
        for it in state.steps(max_iter):
            check_budget()
            ranks = state.frame
            joined = edges_od.join(ranks, edges_od["src"] == ranks["page_id"])
            # src rides along only when salting needs it (deterministic
            # per-row salt source) — otherwise keep the shuffled message row
            # minimal
            msg_cols = (["src"] if salt_partials > 1 else []) + ["dst"]
            msgs = joined.select(
                *msg_cols, (F.col("rank") * (F.lit(1.0) / F.col("od"))).alias("contrib")
            )
            if salt_partials > 1:
                # salt bucket from the message's src vertex: row-distinct in a
                # hub's in-neighborhood (the contrib value is not, at uniform
                # init) and deterministic, as bit-identical ranks require
                sums = salted_sum(
                    msgs, key="dst", value="contrib", salt=salt_partials,
                    out="msum", salt_source="src",
                )
            else:
                sums = msgs.groupBy("dst").agg(F.sum("contrib").alias("msum"))

            const = base + damping * dangling_mass / n
            # state = (page_id, rank, is_dangling); convergence delta and next
            # dangling mass ride on df.observe over the SAME materializing
            # pass — no old-vs-new join: the old rank is a column of the
            # state being updated (SURVEY.md §4.5)
            obs = Observation(f"pr_{it}")
            ranks = state.advance(
                ranks.join(sums, ranks["page_id"] == sums["dst"], "left")
                .select(
                    "page_id",
                    (F.lit(const) + F.lit(damping) * F.coalesce("msum", F.lit(0.0))).alias("rank"),
                    "is_dangling",
                    F.col("rank").alias("_old"),
                )
                .observe(
                    obs,
                    F.max(F.abs(F.col("rank") - F.col("_old"))).alias("d"),
                    F.sum(F.when(F.col("is_dangling"), F.col("rank")).otherwise(0.0)).alias("dm"),
                )
                .drop("_old")
            )
            metrics = obs.get
            delta, dangling_mass = metrics["d"], metrics["dm"] or 0.0
            state.commit(delta, done=delta < tol)
            if on_superstep is not None:
                on_superstep(it, ranks, delta)
        out = state.result(state.frame.select("page_id", "rank"))
        return PageRankResult(out, state.step, float(delta), delta < tol)


def _driver_graph(src, dst, vertex_ids):
    """Index the collected edge columns for :func:`_pagerank_driver`.

    Returns ``(ids, si, di, w, dangling)``: sorted vertex ids (``vertex_ids``,
    or the edge endpoints), the src/dst indices of the edges with both ends in
    that set sorted by (dst, src), each such edge's weight 1/out_deg(src), and
    the dangling flags.  Out-degree counts every edge of an in-set src, also
    those to a dst outside the set — the distributed lane's join semantics,
    where such an edge's contribution is dropped."""
    ids, si, di = factorize_endpoints(
        src, dst, None if vertex_ids is None else np.unique(vertex_ids)
    )
    n = len(ids)
    src_in = si >= 0
    out_deg = np.bincount(si[src_in], minlength=n)
    keep = src_in & (di >= 0)
    del src_in
    key = np.multiply(di[keep], n, dtype=np.int64)
    key += si[keep]
    del si, di, keep
    key.sort()
    si = (key % n).astype(np.int32)
    key //= n
    di = key.astype(np.int32)
    del key
    return ids, si, di, 1.0 / out_deg[si], out_deg == 0


def _ranks_frame(spark, ids: np.ndarray, rank: np.ndarray) -> DataFrame:
    return spark.createDataFrame(pa.table({"page_id": ids, "rank": rank}))


def _pagerank_driver(
    spark, ids, si, di, w, dangling, damping, tol, max_iter, on_superstep,
    check_budget,
) -> PageRankResult:
    """The distributed loop's power iteration over a :func:`_driver_graph`.

    Same semantics term for term: each superstep sets ``rank = const +
    damping * msum`` with ``const = base + damping * dm / n`` (dm: the
    dangling vertices' rank mass) and stops at L∞ delta < tol.
    ``np.bincount`` adds each vertex's contributions in (dst, src) edge
    order, so the ranks do not depend on how the input was partitioned."""
    n = len(ids)
    if n == 0:
        return PageRankResult(
            spark.createDataFrame([], "page_id long, rank double"), 0, 0.0, True
        )
    rank = np.full(n, 1.0 / n)
    dangling_mass = int(dangling.sum()) * (1.0 / n)
    base = (1.0 - damping) / n
    delta = float("inf")
    it = 0
    for it in range(1, max_iter + 1):
        check_budget()
        msum = np.bincount(di, weights=rank[si] * w, minlength=n)
        const = base + damping * dangling_mass / n
        new = const + damping * msum
        delta = float(np.abs(new - rank).max())
        dangling_mass = float(new[dangling].sum())
        rank = new
        if on_superstep is not None:
            on_superstep(it, _ranks_frame(spark, ids, rank), delta)
        if delta < tol:
            break
    return PageRankResult(_ranks_frame(spark, ids, rank), it, delta, delta < tol)


def _loop_setup(state, edges, vertices, parts, cols=(), aggs=()):
    """The one setup of the four distributed loops; ``state`` holds its two
    checkpoints.  Returns ``(edges_od, vflag, vertices, metrics)``:

    - ``edges_od``: ``(src, dst, od)``, od = out-degree of src, partitioned
      once by hash(src) and reused every superstep (the join's build side
      never re-shuffles).  A checkpoint, not a persist: a cached frame
      EMBEDS its build lineage in every superstep's logical plan, which
      Catalyst re-analyzes per iteration — with a LogicalRDD leaf the
      superstep plan is a few nodes (OPTIMIZATION_r06.md: driver-side plan
      build 0.10s → 0.03s per superstep).  AQE is off (loop_confs), so the
      partitioning survives the checkpoint and the superstep join needs no
      exchange.
    - ``vflag``: ``(page_id, is_dangling, *cols)`` partitioned by
      hash(page_id); the flag rides the loop state, so each superstep's one
      job also yields the next dangling mass.  Its src set comes from
      ``edges_od``, already hash(src)-partitioned, so the distinct needs no
      second shuffle of the raw edges.
    - ``vertices``: the ``page_id`` frame (the edge endpoints by default).
    - ``metrics``: ONE observe on the vflag checkpoint: ``nv`` vertices,
      ``nd`` dangling vertices and the caller's ``aggs`` over vflag's
      columns — no separate count, seed-hit or dangling-mass job.
    """
    out_deg = edges.groupBy("src").agg(F.count("*").alias("od"))
    edges_od = state.hold(checkpoint_tracked(
        edges.join(out_deg, "src").select("src", "dst", "od").repartition(parts, "src")
    ))
    if vertices is None:
        vertices = endpoint_vertices(edges)
    vertices = vertices.select("page_id")
    srcs = edges_od.select("src").distinct()
    obs = Observation("pr_setup")
    vflag = state.hold(checkpoint_tracked(
        vertices.join(srcs, vertices["page_id"] == srcs["src"], "left")
        .select("page_id", F.col("src").isNull().alias("is_dangling"), *cols)
        .repartition(parts, "page_id")
        .observe(
            obs,
            F.count(F.lit(1)).alias("nv"),
            F.sum(F.col("is_dangling").cast("long")).alias("nd"),
            *aggs,
        )
    ))
    return edges_od, vflag, vertices, obs.get


def pagerank_fixedpoint(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    iters: int = 5,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
    sources: list[int] | None = None,
) -> DataFrame:
    """Bit-portable integer PageRank: rank mass as scaled int64, EXACT
    integer arithmetic, fixed iteration count.

    The float kernel (:func:`pagerank`) cannot be hash-compared across
    engines (summation order changes the last ulps); this twin replaces
    every float op with its integer analogue so any engine produces the
    exact same bits — integer sums commute, truncating division is
    deterministic:

    - r0(v)   = scale div n                    (over the jump set, else 0)
    - contrib = r(src) div out_deg(src)                 (per edge)
    - dm      = Σ r(v) over dangling v
    - r'(v)   = [v ∈ jump set] · ( ((den-num)·scale) div (den·n)
                                   + (num·(dm div n)) div den )
                + (num·msum(v)) div den

    ``sources`` switches to PERSONALIZED PageRank: the jump set becomes the
    source vertices (n = |sources|) instead of all vertices — teleport and
    dangling mass return to the sources only, so ranks measure proximity to
    that seed set (the standard relatedness query over a link graph).
    ``sources=None`` is classic PageRank (jump set = every vertex).

    Mirrored term-for-term by the DuckDB oracles in ``__spark_entry__``
    (``graph_pagerank_fixed`` / ``graph_pagerank_personalized``), closing
    the one rows-only row from round 2.  Returns ``(page_id, rank_fp)``.
    All values stay well inside int64: total mass ≤ scale, per-term
    products ≤ num·scale.
    """
    if sources is not None:
        # duplicates would inflate n while isin() dedups, leaking teleport +
        # dangling mass; ids absent from the vertex set would do the same.
        sources = [int(s) for s in dict.fromkeys(sources)]
        if not sources:
            raise ValueError("pagerank_fixedpoint: sources must be non-empty (or None)")
    in_jump = F.lit(True) if sources is None else F.col("page_id").isin(sources)
    n_edges = edges.count()
    with loop_confs(edges.sparkSession, rows=n_edges) as parts, LoopState() as state:
        edges_od, vflag, vertices, metrics = _loop_setup(
            state, edges, vertices, parts, [in_jump.alias("is_jump")], [
                F.count(F.when(F.col("is_jump"), 1)).alias("n_jump"),
                F.count(F.when(F.col("is_dangling") & F.col("is_jump"), 1)).alias("n_dj"),
            ],
        )
        if metrics["nv"] == 0:
            return vertices.withColumn("rank_fp", F.lit(0).cast("long"))
        # n = size of the jump set (all vertices, or the personalization seeds)
        n = metrics["nv"] if sources is None else len(sources)
        if metrics["n_jump"] != n:
            raise ValueError(
                f"pagerank_fixedpoint: {n - metrics['n_jump']} source id(s) not in the "
                "vertex set — personalization mass would leak"
            )
        r0_val = scale // n
        dm = r0_val * metrics["n_dj"]
        jump = ((damping_den - damping_num) * scale) // (damping_den * n)

        ranks = state.frame = vflag.select(
            "page_id",
            F.when(F.col("is_jump"), F.lit(r0_val)).otherwise(F.lit(0)).cast("long").alias("rank_fp"),
            "is_dangling",
            "is_jump",
        ).persist()
        for it in range(1, iters + 1):
            msgs = edges_od.join(ranks, edges_od["src"] == ranks["page_id"]).select(
                "dst", F.expr("rank_fp div od").alias("c")
            )
            msum = msgs.groupBy("dst").agg(F.sum("c").alias("msum"))
            dangling_term = (damping_num * (dm // n)) // damping_den
            obs = Observation(f"prf_{it}")
            ranks = state.advance(
                ranks.join(msum, ranks["page_id"] == msum["dst"], "left")
                .select(
                    "page_id",
                    (
                        F.when(F.col("is_jump"), F.lit(jump + dangling_term)).otherwise(F.lit(0)).cast("long")
                        + F.expr(f"({damping_num} * coalesce(msum, 0L)) div {damping_den}")
                    ).alias("rank_fp"),
                    "is_dangling",
                    "is_jump",
                )
                .observe(
                    obs,
                    F.sum(
                        F.when(F.col("is_dangling"), F.col("rank_fp")).otherwise(F.lit(0).cast("long"))
                    ).alias("dm"),
                )
            )
            dm = int(obs.get["dm"] or 0)
        return state.result(ranks.select("page_id", "rank_fp"))


def pagerank_numpy_oracle(
    edge_list, n=None, damping=0.85, tol=1e-6, max_iter=100, vertices=None
):
    """Driver-side numpy oracle (tests only): identical semantics.

    The vertex set is ``vertices`` if given, else ``range(n)`` if given,
    else the edge endpoints.  Edges from a src outside it are ignored; an
    edge from an in-set src to a dst outside it counts toward the src's
    out-degree, but its contribution is lost (the kernel's join semantics).
    """
    edges = np.asarray(edge_list, dtype=np.int64).reshape(-1, 2)
    if vertices is not None:
        ids = np.unique(np.asarray(vertices, dtype=np.int64))
    else:
        ids = np.unique(edges) if n is None else np.arange(n)
    idx = {v: i for i, v in enumerate(ids.tolist())}
    from_set = [(idx[s], idx.get(d)) for s, d in edges.tolist() if s in idx]
    nn = len(ids)
    out_deg = np.bincount(
        np.array([s for s, _ in from_set], dtype=np.int64), minlength=nn
    )
    src = np.array([s for s, d in from_set if d is not None], dtype=np.int64)
    dst = np.array([d for _, d in from_set if d is not None], dtype=np.int64)
    r = np.full(nn, 1.0 / nn)
    for _ in range(max_iter):
        dangling_mass = r[out_deg == 0].sum()
        contrib = np.zeros(nn)
        np.add.at(contrib, dst, r[src] / out_deg[src])
        new = (1 - damping) / nn + damping * (contrib + dangling_mass / nn)
        if np.abs(new - r).max() < tol:
            r = new
            break
        r = new
    return dict(zip(ids.tolist(), r.tolist()))


# ---------------------------------------------------------------------------
# Wide-state (vector-rank) PageRank: k personalized walks in one loop
# ---------------------------------------------------------------------------


def _csr_partial_vecsum(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group sparse scatter-add of (rows, k) contribution MATRICES by
    dst: factorize dst into dense local indices (a per-partition CSR column
    index), then one ``np.add.at`` over a 2-D array, so the per-row
    Arrow/pandas overhead is amortized over all k components at once (this
    is where the CSR kernel beats a JVM aggregate, which must explode k
    rows per message)."""
    dst_codes, dst_uniques = pd.factorize(pdf["dst"], sort=False)
    mat = np.vstack(pdf["vec"].to_numpy())
    # dtype-generic: float64 for the float kernel, int64 for the fixed-point
    # twin (integer adds are exact, which is what makes that path hash-exact)
    sums = np.zeros((len(dst_uniques), mat.shape[1]), dtype=mat.dtype)
    np.add.at(sums, dst_codes, mat)
    return pd.DataFrame({"dst": dst_uniques, "vec": list(sums)})


def pagerank_multi(
    edges: DataFrame,
    seeds: list[int],
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    iters: int = 20,
    budget_s: float | None = None,
) -> DataFrame:
    """k personalized PageRank walks computed simultaneously: the per-vertex
    state is a length-k rank VECTOR (component i = personalized PageRank
    seeded at ``seeds[i]``), updated by one shared superstep loop over one
    shared edge structure — the batched form of the relatedness query a
    serving layer answers per seed (and of ``graph_pagerank_personalized``).

    This is the wide-state workload the CSR kernel exists for (VERDICT r3
    item 7): at one double of state per vertex the Arrow crossing loses to
    the JVM hash aggregate (BENCH/BASELINE.md, −34%), but with k doubles the
    kernel moves k values per Arrow row.  Messages stay ONE row carrying an
    array<double>; aggregation is a 2-D ``np.add.at`` inside
    ``applyInPandas`` over dst-hash buckets (each dst in exactly one bucket
    ⇒ sums are final; :func:`_vector_sums`).

    Fixed ``iters`` supersteps (converged personalized ranks need ~20).
    Returns ``(page_id, ranks array<double>)`` with Σ_v ranks[v][i] = 1 per
    component.  Oracle: :func:`pagerank_multi_numpy_oracle` (tests assert
    allclose 1e-9)."""
    from wikipath_spark.operators.bfs import wall_budget

    check_budget = wall_budget(budget_s, "pagerank_multi")
    seeds = [int(s) for s in dict.fromkeys(seeds)]
    if not seeds:
        raise ValueError("pagerank_multi: seeds must be non-empty")
    k = len(seeds)
    n_edges = edges.count()
    zero = F.lit(0.0)
    with loop_confs(edges.sparkSession, rows=n_edges) as parts, LoopState() as state:
        edges_od, vflag, vertices, metrics = _vector_setup(
            state, edges, vertices, parts, seeds, F.lit(1.0), zero
        )
        if metrics["nv"] == 0:
            return vertices.withColumn("ranks", F.lit(None).cast("array<double>"))
        hits = int(metrics["hits"])
        if hits != k:
            raise ValueError(
                f"pagerank_multi: {k - hits} seed(s) not in the "
                "vertex set — personalization mass would leak"
            )
        # the initial ranks are the slots: their dangling mass is the observe's
        dm = [float(metrics[f"dm{i}"] or 0.0) for i in range(k)]
        ranks = state.frame = vflag.select(
            "page_id", "is_dangling", "slot", F.col("slot").alias("ranks")
        ).persist()
        for it in range(1, iters + 1):
            check_budget()
            joined = edges_od.join(ranks, edges_od["src"] == ranks["page_id"])
            w = F.lit(1.0) / F.col("od")
            msgs = joined.select("dst", F.transform("ranks", lambda x: x * w).alias("vec"))
            sums = _vector_sums(msgs, parts, "double")
            new_vec = F.array(
                *[
                    F.lit(1.0 - damping) * F.element_at("slot", i + 1)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.element_at("vec", i + 1), F.lit(0.0))
                        + F.lit(dm[i]) * F.element_at("slot", i + 1)
                    )
                    for i in range(k)
                ]
            )
            obs = Observation(f"prm_{it}")
            # the static vflag, not ranks, takes the sums: a checkpoint keeps
            # its plan's size estimate, and ranks ⋈ sums(ranks) would square
            # it every superstep (its bit length doubles; by ~20 supersteps
            # Catalyst spends minutes multiplying BigInts to plan one)
            ranks = state.advance(
                vflag.join(sums, vflag["page_id"] == sums["dst"], "left")
                .select("page_id", "is_dangling", "slot", new_vec.alias("ranks"))
                .observe(obs, *_dangling_sums("ranks", k, zero))
            )
            metrics = obs.get
            dm = [float(metrics[f"dm{i}"] or 0.0) for i in range(k)]
        return state.result(ranks.select("page_id", "ranks"))


def _vector_setup(state, edges, vertices, parts, seeds: list[int], one, zero):
    """:func:`_loop_setup` of the vector loops.  Its ``slot`` column is the
    teleport basis of the k walks (``slot[i] = one`` iff ``page_id ==
    seeds[i]``); its observe adds ``hits`` (Σ of every slot: k when each seed
    is a vertex) and the slots' :func:`_dangling_sums`."""
    slot = F.array(*[F.when(F.col("page_id") == s, one).otherwise(zero) for s in seeds])
    return _loop_setup(state, edges, vertices, parts, [slot.alias("slot")], [
        F.sum(F.aggregate("slot", zero, lambda a, x: a + x)).alias("hits"),
        *_dangling_sums("slot", len(seeds), zero),
    ])


def _dangling_sums(col: str, k: int, zero) -> list:
    """``dm{i}`` = Σ ``col[i]`` over the dangling vertices, per component."""
    return [
        F.sum(F.when(F.col("is_dangling"), F.element_at(col, i + 1)).otherwise(zero))
        .alias(f"dm{i}")
        for i in range(k)
    ]


def _vector_sums(msgs: DataFrame, parts: int, elem: str) -> DataFrame:
    """Per-dst sums of the ``vec`` arrays (of ``elem``) of ``(dst, vec)``
    messages: :func:`_csr_partial_vecsum` over ``parts`` dst-hash buckets."""
    return (
        msgs.withColumn("_b", F.pmod(F.xxhash64("dst"), F.lit(parts)))
        .groupBy("_b")
        .applyInPandas(
            lambda pdf: _csr_partial_vecsum(pdf[["dst", "vec"]]),
            schema=f"dst long, vec array<{elem}>",
        )
    )


def pagerank_multi_numpy_oracle(edge_list, seeds, n=None, damping=0.85, iters=20):
    """Driver-side numpy oracle for :func:`pagerank_multi` (tests only):
    per-seed personalized power iteration with identical semantics."""
    edges = np.asarray(edge_list, dtype=np.int64)
    ids = np.unique(edges) if n is None else np.arange(n)
    idx = {v: i for i, v in enumerate(ids)}
    src = np.array([idx[s] for s, _ in edges])
    dst = np.array([idx[d] for _, d in edges])
    nn, k = len(ids), len(seeds)
    out_deg = np.bincount(src, minlength=nn)
    slot = np.zeros((nn, k))
    for i, s in enumerate(seeds):
        slot[idx[int(s)], i] = 1.0
    r = slot.copy()
    dangling = out_deg == 0
    for _ in range(iters):
        dm = r[dangling].sum(axis=0)
        contrib = np.zeros((nn, k))
        np.add.at(contrib, dst, r[src] / out_deg[src, None])
        r = (1.0 - damping) * slot + damping * (contrib + slot * dm[None, :])
    return {int(v): r[i].tolist() for v, i in idx.items()}


def pagerank_multi_fixedpoint(
    edges: DataFrame,
    seeds: list[int],
    vertices: DataFrame | None = None,
    iters: int = 5,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """Bit-portable integer twin of :func:`pagerank_multi`: k single-seed
    personalized fixed-point PageRank walks as ONE vector loop — per-vertex
    state is a length-k ``array<long>``, component i seeded at ``seeds[i]``
    (jump set = {seeds[i]}, n = 1), with EXACT int64 arithmetic term-for-term
    identical to :func:`pagerank_fixedpoint`:

    - r0[i](v)  = scale · [v = sᵢ]
    - contrib   = rank div out_deg                       (per edge, per i)
    - dmᵢ       = Σ rank[i](v) over dangling v
    - r'[i](v)  = [v = sᵢ] · (jump + (num·dmᵢ) div den) + (num·msumᵢ) div den
      with jump = ((den−num)·scale) div den

    Because integer sums commute and truncating division is deterministic,
    ANY aggregation strategy produces the same bits — so this run
    hash-verifies the Arrow 2-D scatter-add kernel itself against a DuckDB
    SQL twin (driver query ``graph_pagerank_multi_fixed``),
    closing the rows-only gap of the float vector kernel exactly the way
    ``graph_pagerank_fixed`` closed the scalar one.  Returns
    ``(page_id, ranks array<long>)``."""
    seeds = [int(s) for s in dict.fromkeys(seeds)]
    if not seeds:
        raise ValueError("pagerank_multi_fixedpoint: seeds must be non-empty")
    k = len(seeds)
    n_edges = edges.count()
    jump = ((damping_den - damping_num) * scale) // damping_den  # n = 1
    zero = F.lit(0).cast("long")
    with loop_confs(edges.sparkSession, rows=n_edges) as parts, LoopState() as state:
        edges_od, vflag, vertices, metrics = _vector_setup(
            state, edges, vertices, parts, seeds, F.lit(1).cast("long"), zero
        )
        if metrics["nv"] == 0:
            return vertices.withColumn("ranks", F.lit(None).cast("array<long>"))
        hits = int(metrics["hits"])
        if hits != k:
            raise ValueError(
                f"pagerank_multi_fixedpoint: {k - hits} seed(s) not in "
                "the vertex set — personalization mass would leak"
            )
        # the initial ranks are scale · slot: their dangling mass is the observe's
        dm = [scale * int(metrics[f"dm{i}"] or 0) for i in range(k)]
        init = F.transform("slot", lambda x: x * scale).alias("ranks")
        ranks = state.frame = vflag.select("page_id", "is_dangling", "slot", init).persist()
        for it in range(1, iters + 1):
            joined = edges_od.join(ranks, edges_od["src"] == ranks["page_id"])
            msgs = joined.select("dst", F.expr("transform(ranks, x -> x div od)").alias("vec"))
            sums = _vector_sums(msgs, parts, "long")
            # seed term computed in exact Python ints per component
            seed_terms = [jump + (damping_num * dm[i]) // damping_den for i in range(k)]
            new_vec = F.array(
                *[
                    F.element_at("slot", i + 1) * F.lit(seed_terms[i]).cast("long")
                    + F.expr(
                        f"({damping_num} * coalesce(element_at(vec, {i + 1}), 0L)) "
                        f"div {damping_den}"
                    )
                    for i in range(k)
                ]
            )
            obs = Observation(f"prmf_{it}")
            ranks = state.advance(  # vflag takes the sums: see pagerank_multi
                vflag.join(sums, vflag["page_id"] == sums["dst"], "left")
                .select("page_id", "is_dangling", "slot", new_vec.alias("ranks"))
                .observe(obs, *_dangling_sums("ranks", k, zero))
            )
            metrics = obs.get
            dm = [int(metrics[f"dm{i}"] or 0) for i in range(k)]
        return state.result(ranks.select("page_id", "ranks"))

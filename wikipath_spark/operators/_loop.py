"""What every iterative operator shares: loop confs, loop state, lane gate.

Measured on PageRank (see BENCH/BASELINE.md): for a fixed-shape superstep
re-executed dozens of times, AQE re-planning is pure per-iteration overhead,
driver-serialized broadcasts of the evolving state flatten core scaling, and
shuffle parallelism should track data volume rather than cores
(:func:`loop_confs`).

:class:`LoopState` is the one owner of the state frames of every Spark loop
(PageRank and its twins, LPA, CC, k-core, coreness, the multi-source BFS,
distributed redirect compression): a checkpoint every superstep, release of
superseded and abandoned frames, the checkpoint ids carried on the result,
and for the resumable loops the durable resume and save rule.
``shortest_paths`` uses it only to hold the frames it reads.

:func:`driver_edge_arrays` is the one size gate of every driver-side
small-graph lane (the graph build's driver lane gates on the same
:data:`DRIVER_THRESHOLD_BYTES`), and :func:`factorize_endpoints` the one
factorization of their endpoints.  :func:`driver_graph` puts the one undirected graph the CC,
LPA and triangle lanes run on (:func:`undirected_driver_graph`) behind the
gate; the PageRank and BFS lanes index their directed edges through
:func:`factorize_endpoints` directly.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import NamedTuple

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# Default size gate of every driver-side small-graph lane: an edge table whose
# Catalyst estimate is at most this many bytes is collected and walked in
# numpy instead of paying one Spark job of fixed scheduling cost per superstep.
DRIVER_THRESHOLD_BYTES = 256 << 20


@contextmanager
def loop_confs(spark: SparkSession, rows: int | None = None, rows_per_partition: int = 100_000):
    # rows_per_partition: measured sweet spot at local bench scale — 500k
    # left most cores idle on sub-million-edge graphs (397k edges → 2 tasks:
    # 117 ss/min; 100k → 4 tasks: 148 ss/min; 25k: no further gain).  Large
    # graphs are unaffected: the session's shuffle-partition conf caps the
    # count, so at cluster scale partitioning still tracks the configured
    # parallelism.
    """Disable AQE + auto-broadcast and (optionally) right-size shuffle
    partitions for the loop body; restores prior values on exit (try/finally —
    an exception mid-loop must not leak de-optimized confs into the session).

    Yields the shuffle partition count in effect inside the loop, so callers
    can align explicit ``repartition`` calls with the aggregation parallelism.
    """
    saved = {
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        parts = int(saved["spark.sql.shuffle.partitions"])
        if rows is not None:
            parts = max(2, min(parts, rows // rows_per_partition + 1))
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        yield parts
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def estimated_bytes(df) -> int:
    """Catalyst's optimizer size estimate for a frame — NO job.  Source- and
    cache-derived plans carry real sizes, and so does a local relation:
    ``createDataFrame`` of a pandas frame or an Arrow table up to
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB).  Unknown
    plans — a ``createDataFrame`` list, or an Arrow table above that
    threshold, which arrives as an RDD (``LogicalRDD``) — report
    Long.MaxValue, which safely routes adaptive driver/distributed lane
    choices to the distributed lane.  Joins report the product of their
    sides' sizes, far above the real one."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return 1 << 62


def driver_edge_arrays(
    edges,
    src: str = "src",
    dst: str = "dst",
    threshold_bytes: int = DRIVER_THRESHOLD_BYTES,
    durable: bool = False,
    check_budget=None,
):
    """The one gate of every driver-side small-graph lane.

    Returns int64 numpy ``(src, dst)`` arrays, collected with ONE Arrow
    ``toArrow()``, when :func:`estimated_bytes` of ``edges`` is at most
    ``threshold_bytes``; otherwise ``None``, and the caller takes its
    distributed lane.  Estimates are only trusted downward: unknown-size
    plans report MaxValue and stay distributed.  ``durable`` (a checkpoint
    manager or resume was requested) also returns ``None`` — only the
    distributed lanes checkpoint and resume.  ``check_budget`` (the
    caller's :func:`~wikipath_spark.operators.bfs.wall_budget` check) runs
    before the collect, so a spent budget raises without paying for it."""
    if durable or estimated_bytes(edges) > threshold_bytes:
        return None
    if check_budget is not None:
        check_budget()
    tbl = edges.select(F.col(src).cast("long"), F.col(dst).cast("long")).toArrow()
    return tbl.column(0).to_numpy(), tbl.column(1).to_numpy()


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently registered with the block manager as
    persisted (public ``JavaSparkContext.getPersistentRDDs`` surface)."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def checkpoint_tracked(df: "DataFrame") -> "DataFrame":
    """``localCheckpoint(eager=True)`` that remembers which RDD id the
    checkpoint persisted, so :func:`release_checkpoint` can actually free
    it.  ``DataFrame.unpersist()`` is a NO-OP on a localCheckpointed frame:
    the checkpoint's blocks are an RDD-level persist registered with the
    BlockManager, not a CacheManager entry, so without this the superseded
    state of every iteration lingers until the ContextCleaner happens to GC
    the JVM-side RDD — up to iters x |V| x k values on the wide-state loops.

    The id is read directly off the checkpointed plan (``LogicalRDD.rdd``),
    which attributes exactly the RDD this frame owns — a before/after diff
    of all persistent RDDs would misattribute frames persisted concurrently
    by other threads of a long-lived serve session (and then free them out
    from under their owner).  The diff remains only as a reflection-failure
    fallback."""
    spark = df.sparkSession
    before = persistent_rdd_ids(spark)
    out = df.localCheckpoint(eager=True)
    ids = None
    try:
        plan = out._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            ids = {int(plan.rdd().id())}
    except Exception:
        ids = None
    out._wps_ckpt_rdd_ids = (
        ids if ids is not None else persistent_rdd_ids(spark) - before
    )
    return out


def release_checkpoint(df) -> None:
    """Free a superseded loop-state frame NOW.  Frames produced by
    :func:`checkpoint_tracked` drop their checkpoint blocks by RDD id
    (non-blocking); anything else falls back to ``DataFrame.unpersist()``
    (correct for plain ``persist()`` frames).  Only call on frames no later
    computation reads — a localCheckpointed RDD cannot be recomputed."""
    ids = getattr(df, "_wps_ckpt_rdd_ids", None)
    if not ids:
        df.unpersist()
        return
    jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)  # None if the ContextCleaner already got it
        if jrdd is not None:
            jrdd.unpersist(False)


class LoopState:
    """Context manager that owns one Spark loop's frames, their release and
    its durable resume and saves.

    A resumable loop takes its start from :meth:`restore`, sets ``frame``,
    runs ``for step in state.steps(max_iter)``, hands each new state to
    :meth:`advance` (or sets ``frame``) and ends each step with
    :meth:`commit`.  :meth:`hold` registers the frames it reads but never
    replaces, :meth:`keep` those the result reads besides ``frame`` (the BFS
    levels).  The release policy lives only here:

    - :meth:`advance` checkpoints every step (:func:`checkpoint_tracked`; the
      eager lineage truncation measured 2x faster than letting the plan grow
      even 5 iterations, BENCH/BASELINE.md).  A checkpoint is
      self-contained, so the predecessor is released at once.
    - Held frames are released on every exit.
    - On an exception (budget timeout, hook failure, corrupt checkpoint) the
      current state and the kept frames are released too — a long-lived
      serve session would otherwise keep executor storage per failed call.
      On success they stay alive for the caller, and :meth:`result` carries
      their checkpoint ids on the returned frame so a caller that is done
      with it can :func:`release_checkpoint` it.
    """

    def __init__(self, checkpoint_mgr=None, resume: bool = False):
        self.frame = None
        self.step = 0  # the last step run, or the resumed checkpoint's
        self.metric = None  # the resumed checkpoint's convergence metric
        self.done = False  # the loop reached its fixpoint
        self._mgr = checkpoint_mgr
        self._resume = resume
        self._cols: list[str] | None = None
        self._last = 0
        self._held: list = []
        self._kept: list = []

    def __enter__(self) -> "LoopState":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        stale = list(self._held)
        if exc_type is not None:
            stale += [self.frame, *self._kept]
        for df in stale:
            if df is not None:
                release_checkpoint(df)

    def hold(self, df):
        self._held.append(df)
        return df

    def keep(self, df):
        self._kept.append(df)
        return df

    def restore(self, spark: SparkSession, cols: list[str]):
        """The newest durable checkpoint projected to ``cols`` (the columns
        every save writes) when a resume is requested and one exists, taking
        its ``step``, ``metric`` and ``done``; else ``None``, and the loop
        builds its initial state."""
        self._cols = cols
        step = self._mgr.latest() if self._mgr is not None and self._resume else None
        if step is None:
            return None
        frame, self.metric = self._mgr.load(spark, step)
        self.step, self.done = step, self._mgr.final(step)
        return frame.select(*cols)

    def steps(self, last: int):
        """Step numbers after the resumed one up to ``last``; none when the
        resumed checkpoint is final, and none after a ``done`` commit."""
        self._last = last
        while not self.done and self.step < last:
            self.step += 1
            yield self.step

    def advance(self, new):
        """Checkpoint ``new`` as the next state and release its predecessor;
        returns the checkpointed frame."""
        prev, self.frame = self.frame, checkpoint_tracked(new)
        if prev is not None:
            release_checkpoint(prev)
        return self.frame

    def commit(self, metric: float, done: bool = False) -> None:
        """End the step, ``done`` at the fixpoint: save ``frame`` every
        ``EVERY`` steps of the manager and at the last, final at a fixpoint."""
        self.done = done
        if self._mgr is not None and (
            done or self.step == self._last or self.step % self._mgr.EVERY == 0
        ):
            self._mgr.save(self.step, self.frame.select(*self._cols), float(metric), done)

    @property
    def stalled(self) -> bool:
        """The one no-fixpoint warning guard: a step (of this call or the
        resumed run) produced the state and it is not a fixpoint."""
        return self.step > 0 and not self.done

    def result(self, out):
        """``out`` (read from the final state) carrying the checkpoint ids of
        the final state and the kept frames."""
        out._wps_ckpt_rdd_ids = set().union(
            *(getattr(df, "_wps_ckpt_rdd_ids", None) or () for df in [self.frame, *self._kept])
        )
        return out


def fingerprint(*cols: str) -> tuple:
    """A loop state's convergence fingerprint over ``cols``: the row count
    and an order-insensitive 40-bit hash sum, as aggregates for
    ``df.observe`` on the materializing pass or one ``agg`` of a resumed
    state.  Equality is probabilistic; a stale match costs one extra
    idempotent round, not a wrong answer."""
    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 40))).alias("h"),
    )


def signature(values) -> tuple[int, int]:
    """The ``(n, h)`` of an observed or aggregated :func:`fingerprint`."""
    return int(values["n"] or 0), int(values["h"] or 0)


def symmetric_edges(edges, src: str = "src", dst: str = "dst"):
    """Undirected view of a directed edge table: distinct ``(u, v)`` pairs in
    both orientations, self-loops dropped."""
    return (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


class DriverGraph(NamedTuple):
    """The undirected driver graph of :func:`undirected_driver_graph`."""

    ids: np.ndarray  # sorted distinct endpoints of the non-self-loop edges
    lo: np.ndarray  # int32 index into ids of each distinct pair's smaller end
    hi: np.ndarray  # int32 index into ids of its larger end; lo < hi
    loop_only: np.ndarray  # ids seen only on self-loops (not in ``ids``)


def factorize_endpoints(src: np.ndarray, dst: np.ndarray, ids: np.ndarray | None = None):
    """``(ids, si, di)``: sorted vertex ids and the int32 index into them of
    each ``src`` and ``dst`` endpoint — the one factorization of every driver
    lane.  ``ids`` defaults to the distinct endpoints; an endpoint outside a
    given sorted, distinct ``ids`` gets index -1.

    Kept lean, because the lanes share the driver process: ids come from
    ``np.unique`` over each endpoint column plus ``searchsorted``, never an
    inverse over the 2m-long concatenation, and the indices are int32."""
    given = ids is not None
    if not given:
        ids = np.union1d(np.unique(src), np.unique(dst))

    def index(col):
        idx = np.searchsorted(ids, col).astype(np.int32)
        if given and not len(ids):
            idx.fill(-1)
        elif given:  # past the end, or onto another id: outside the set
            idx[ids.take(idx, mode="clip") != col] = -1
        return idx

    return ids, index(src), index(dst)


def undirected_driver_graph(src: np.ndarray, dst: np.ndarray) -> DriverGraph:
    """Driver twin of :func:`symmetric_edges` over collected endpoint arrays.

    ``lo < hi`` index each distinct undirected pair, sorted by ``(lo, hi)``.
    Index order is id order, so a minimum index is a minimum id."""
    keep = src != dst
    loops = src[~keep]
    ids, a, b = factorize_endpoints(src[keep], dst[keep])
    del keep
    n = len(ids)
    lo = np.minimum(a, b)
    np.maximum(a, b, out=b)
    del a
    key = np.multiply(lo, n, dtype=np.int64)
    key += b
    del lo, b
    lo, hi = np.divmod(np.unique(key), n)
    return DriverGraph(
        ids, lo.astype(np.int32), hi.astype(np.int32), np.setdiff1d(loops, ids)
    )


def driver_graph(
    edges,
    src: str = "src",
    dst: str = "dst",
    durable: bool = False,
    check_budget=None,
) -> DriverGraph | None:
    """:func:`driver_edge_arrays` (same arguments, default threshold) turned
    into the :class:`DriverGraph` the CC, LPA and triangle lanes run on, or
    ``None`` for the distributed lane.  The collected arrays are dropped on
    return."""
    arrays = driver_edge_arrays(edges, src, dst, durable=durable, check_budget=check_budget)
    return None if arrays is None else undirected_driver_graph(*arrays)


def endpoint_vertices(edges, src: str = "src", dst: str = "dst"):
    """Distinct ``page_id`` of every edge endpoint."""
    return (
        edges.select(F.col(src).alias("page_id"))
        .union(edges.select(F.col(dst).alias("page_id")))
        .distinct()
    )

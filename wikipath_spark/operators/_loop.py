"""Shared iterative-driver-loop configuration.

Measured on PageRank (see BENCH/BASELINE.md): for a fixed-shape superstep
re-executed dozens of times, AQE re-planning is pure per-iteration overhead,
driver-serialized broadcasts of the evolving state flatten core scaling, and
shuffle parallelism should track data volume rather than cores.  Every
iterative operator (PageRank, CC, LPA, BFS, compression) runs its loop under
this context.
"""

from __future__ import annotations

from contextlib import contextmanager

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
    cache-derived plans carry real sizes; unknown plans report Long.MaxValue,
    which safely routes adaptive driver/distributed lane choices to the
    distributed lane."""
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
):
    """The one gate of every driver-side small-graph lane.

    Returns int64 numpy ``(src, dst)`` arrays, collected with ONE Arrow
    ``toArrow()``, when :func:`estimated_bytes` of ``edges`` is at most
    ``threshold_bytes``; otherwise ``None``, and the caller takes its
    distributed lane.  Estimates are only trusted downward: unknown-size
    plans report MaxValue and stay distributed.  ``durable`` (a checkpoint
    manager or resume was requested) also returns ``None`` — only the
    distributed lanes checkpoint and resume."""
    if durable or estimated_bytes(edges) > threshold_bytes:
        return None
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

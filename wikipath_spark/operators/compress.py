"""Redirect/alias chain compression — pointer-jumping fixpoint.

Spark re-expression of the reference's ``compress_redirect_chains``
(parse.rs:541-608, fixtures parse.rs:743-850): flatten alias chains to their
terminal targets, remove self-redirects, and remove every chain that is part
of — or leads into — a cycle.

The reference does a memoized sequential walk per source with per-walk cycle
detection (:func:`_compress_driver_side`, which the build's driver lane calls
on its collected alias map).  Distributed, we use **pointer doubling**: each
iteration replaces ``dst`` with ``dst``'s own target when one exists,
doubling the resolved distance, so acyclic chains of length L flatten in
⌈log2 L⌉ iterations.  Chains touching a cycle never resolve to a terminal;
after convergence (or the log-bound cap) their ``dst`` still appears as a
source, and one anti-join removes them — exactly the reference's cycle
semantics.

Scale: the redirect table is a small fraction of the page set (aliases are
rare), each iteration is one self-equi-join on ``dst = src`` — broadcastable
when small, shuffle-hash otherwise — and ``localCheckpoint`` truncates the
per-iteration lineage growth.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from wikipath_spark.operators._loop import LoopState, checkpoint_tracked


def _compress_driver_side(rows: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Memoized sequential walk with per-walk cycle detection — the
    reference's own algorithm (parse.rs:541-608), exact semantics: chains
    flatten to terminals; self-redirects, cycle members, and every chain
    leading into a cycle resolve to ``None`` (dropped)."""
    nxt = dict(rows)
    resolved: dict[int, int | None] = {}
    for start in nxt:
        if start in resolved:
            continue
        path: list[int] = []
        on_path: set[int] = set()
        cur = start
        while True:
            if cur in resolved:
                val = resolved[cur]
                break
            if cur in on_path:  # walked into a cycle: the whole path dies
                val = None
                break
            if cur not in nxt:  # terminal
                val = cur
                break
            path.append(cur)
            on_path.add(cur)
            cur = nxt[cur]
        for p in path:
            resolved[p] = val
    return [(s, t) for s, t in resolved.items() if t is not None]


def compress_redirects(redirects: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Compress an alias map ``(src, dst)`` to terminal targets by pointer
    doubling.

    Returns the compressed map: every surviving row points directly at a
    terminal (non-source) vertex; self-redirects and all cycle-touching
    chains are gone (parse.rs:756-804 semantics), exactly as in the
    reference's walk :func:`_compress_driver_side` (tested against it).
    Cycle rows never stabilize under pointer jumping (their dst rotates each
    round), so the loop runs its full ⌈log2(n+1)⌉+2 cap when cycles exist."""
    # NB: self-redirects are NOT pre-filtered — the reference treats x→x as a
    # 1-cycle, so chains *into* a self-redirect must also die (parse.rs:767-779
    # fixture: {1:2, 2:2} ⇒ both removed). A self-loop is stable under pointer
    # jumping and the final cycle anti-join removes it plus its feeders.
    r = redirects.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # materialize once (every iteration re-reads the full table) and take the
    # exact count for the log2 cap
    with LoopState() as state:
        r = state.frame = checkpoint_tracked(r)
        n = r.count()
        cap = int(math.ceil(math.log2(n + 1))) + 2

        for it in range(cap):
            hop = r.select(F.col("src").alias("h_src"), F.col("dst").alias("h_dst"))
            # one action per iteration: the changed-count rides the checkpointing
            # pass via observe (was checkpoint + filter-count = 2 jobs/iteration)
            obs = Observation(f"compress_{it}")
            stepped = (
                r.join(hop, r["dst"] == hop["h_src"], "left")
                .select(
                    "src",
                    F.coalesce("h_dst", "dst").alias("dst"),
                    (F.col("h_dst").isNotNull() & (F.col("h_dst") != F.col("dst"))).alias("_changed"),
                )
                .observe(obs, F.sum(F.col("_changed").cast("long")).alias("n"))
                .drop("_changed")
            )
            r = state.advance(stepped)
            if int(obs.get["n"] or 0) == 0:
                break

        # Cycle residue: any row whose final dst is still a source never reached
        # a terminal → it is on, or feeds into, a cycle. Drop it (parse.rs:782-804).
        keys = r.select(F.col("src").alias("k")).distinct()
        return state.result(r.join(keys, r["dst"] == keys["k"], "left_anti"))


def resolve_through(df: DataFrame, redirects: DataFrame, cols: list[str]) -> DataFrame:
    """Map each id column through the compressed alias map with identity
    fallback — the reference's ``redirects.get(x).unwrap_or(x)`` applied to
    both endpoints (parse.rs:360-361).  Canonical left-join + coalesce (J4)
    against the broadcast map.
    """
    r = F.broadcast(redirects.select("src", "dst"))
    out = df
    for c in cols:
        rr = r.select(F.col("src").alias(f"_r_{c}"), F.col("dst").alias(f"_t_{c}"))
        out = (
            out.join(rr, out[c] == rr[f"_r_{c}"], "left")
            .withColumn(c, F.coalesce(f"_t_{c}", c))
            .drop(f"_r_{c}", f"_t_{c}")
        )
    return out

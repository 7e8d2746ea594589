"""Bidirectional-BFS parity tests.

``_bfs_oracle`` is a pure-Python behavioral oracle implementing exactly the
reference's search semantics (search.rs:23-217): strictly-smaller queue
expands (ties → backward), level-synchronous predecessor merging, overlap =
newly-discovered ∩ other-side-visited, count = Σ fwd×bwd over the overlap
set, length = fwd_depth + bwd_depth (0 when count 0).
"""

from __future__ import annotations

import random

import pytest

from wikipath_spark.operators.bfs import Paths, enumerate_paths, shortest_paths


def _bfs_oracle(edge_list, source, target):
    out: dict[int, set[int]] = {}
    inc: dict[int, set[int]] = {}
    for a, b in edge_list:
        out.setdefault(a, set()).add(b)
        inc.setdefault(b, set()).add(a)

    if source == target:
        return {"length": 0, "count": 1, "links": {}}

    fq, bq = [source], [target]
    fpred: dict[int, set[int]] = {source: set()}
    bpred: dict[int, set[int]] = {target: set()}
    fd = bd = 0
    overlap: set[int] = set()
    while not overlap and fq and bq:
        newp: dict[int, set[int]] = {}
        if len(fq) < len(bq):
            nxt = []
            for u in fq:
                for v in out.get(u, ()):  # ascending not needed: set semantics
                    if v not in fpred:
                        nxt.append(v)
                        newp.setdefault(v, set()).add(u)
                        if v in bpred:
                            overlap.add(v)
            for child, preds in newp.items():
                fpred.setdefault(child, set()).update(preds)
            fq = nxt
            fd += 1
        else:
            nxt = []
            for u in bq:
                for v in inc.get(u, ()):
                    if v not in bpred:
                        nxt.append(v)
                        newp.setdefault(v, set()).add(u)
                        if v in fpred:
                            overlap.add(v)
            for child, preds in newp.items():
                bpred.setdefault(child, set()).update(preds)
            bq = nxt
            bd += 1

    links: dict[int, set[int]] = {}
    count = 0
    fmem: dict[int, int] = {}
    bmem: dict[int, int] = {}

    def count_paths(v, end, preds, mem, fwd):
        if v == end:
            return 1
        total = 0
        for p in preds[v]:
            if fwd:
                links.setdefault(p, set()).add(v)
            else:
                links.setdefault(v, set()).add(p)
            if p in mem:
                total += mem[p]
            else:
                r = count_paths(p, end, preds, mem, fwd)
                mem[p] = r
                total += r
        return total

    for page in overlap:
        fc = count_paths(page, source, fpred, fmem, True)
        bc = count_paths(page, target, bpred, bmem, False)
        count += fc * bc
    return {
        "length": (fd + bd) if count else 0,
        "count": count,
        "links": {k: sorted(v) for k, v in sorted(links.items())},
    }


FIXTURES = [
    ("path4", [(1, 2), (2, 3), (3, 4)], 1, 4, 3, 1),
    ("diamond", [(1, 2), (1, 3), (2, 4), (3, 4)], 1, 4, 2, 2),
    ("cycle3", [(1, 2), (2, 3), (3, 1)], 1, 3, 2, 1),
    ("two_cc_nopath", [(1, 2), (2, 3), (10, 11)], 1, 10, 0, 0),
    ("star_no_path", [(i, 0) for i in range(1, 10)], 3, 5, 0, 0),
    (
        "bidi_meet",
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 7), (7, 4)],
        1,
        6,
        4,
        1,
    ),
]


@pytest.mark.parametrize("name,el,s,t,length,count", FIXTURES, ids=[f[0] for f in FIXTURES])
def test_bfs_golden(edges_df, name, el, s, t, length, count):
    got = shortest_paths(edges_df(el), s, t)
    assert (got.length, got.count) == (length, count)
    oracle = _bfs_oracle(el, s, t)
    assert got.count == oracle["count"] and got.length == oracle["length"]
    assert got.links == oracle["links"]


def test_bfs_same_source_target(edges_df):
    got = shortest_paths(edges_df([(1, 2)]), 1, 1)
    assert (got.length, got.count) == (0, 1)


def test_bfs_redirect_resolution(spark, edges_df):
    redirects = spark.createDataFrame([(5, 1)], "src long, dst long")
    got = shortest_paths(edges_df([(1, 2)]), 5, 2, redirects=redirects)
    assert got.source == 1 and got.source_is_redirect
    assert got.target == 2 and not got.target_is_redirect
    assert (got.length, got.count) == (1, 1)


def test_bfs_random_vs_oracle(edges_df):
    rng = random.Random(123)
    el = list({(rng.randrange(40), rng.randrange(40)) for _ in range(160)})
    el = [(a, b) for a, b in el if a != b]
    df = edges_df(el)
    for s, t in [(0, 39), (1, 20), (5, 5), (3, 17), (10, 30)]:
        got = shortest_paths(df, s, t)
        oracle = _bfs_oracle(el, s, t)
        assert (got.length, got.count) == (oracle["length"], oracle["count"]), (s, t)
        assert got.links == oracle["links"], (s, t)


def test_enumerate_paths_diamond():
    p = Paths(1, False, 4, False, links={1: [2, 3], 2: [4], 3: [4]}, length=2, count=2)
    assert enumerate_paths(p) == [[1, 2, 4], [1, 3, 4]]
    assert enumerate_paths(p, max_paths=1) == [[1, 2, 4]]


# ---------------------------------------------------------------------------
# Executor storage: a distributed BFS call must not leave persisted or
# checkpointed frames behind (a long-lived serve session would accumulate
# them per request).
# ---------------------------------------------------------------------------

_CHAIN = [(i, i + 1) for i in range(30)] + [(i, i + 2) for i in range(0, 30, 3)]


@pytest.fixture()
def leaked(spark):
    """Returns a function giving the persistent RDDs created since the
    test started."""
    import gc

    from wikipath_spark.operators._loop import persistent_rdd_ids

    gc.collect()
    spark.sparkContext._jvm.System.gc()  # flush ContextCleaner backlog first
    before = persistent_rdd_ids(spark)
    return lambda: persistent_rdd_ids(spark) - before


def test_shortest_paths_releases_its_checkpoints(edges_df, leaked):
    got = shortest_paths(edges_df(_CHAIN), 0, 6)
    assert got.length == 4 and got.count > 0
    assert not leaked()


def test_bfs_distances_result_carries_its_checkpoints(edges_df, leaked):
    """The distributed lane (a ``createDataFrame`` input reports an unknown
    size) releases its edge projection when the loop ends; the result
    carries the ids of the frontier checkpoints it reads."""
    from wikipath_spark.operators._loop import release_checkpoint
    from wikipath_spark.operators.bfs import bfs_distances

    dist, frontier = {0: 0}, [0]
    for depth in range(1, 11):
        frontier = [b for a, b in _CHAIN if a in frontier and b not in dist]
        dist.update((v, depth) for v in frontier)
    out = bfs_distances(edges_df(_CHAIN), 0, max_depth=10)
    assert {r.page_id: r.distance for r in out.collect()} == dist
    release_checkpoint(out)
    assert not leaked()


class _FailingSave:
    """A checkpoint manager whose every save raises."""

    EVERY = 3  # the first save comes due at depth 3, with three levels kept

    def save(self, *args):
        raise RuntimeError("disk full")


def test_multi_source_bfs_releases_everything_on_abort(edges_df, leaked):
    from wikipath_spark.operators.bfs import QueryBudgetExceeded, multi_source_bfs

    df = edges_df(_CHAIN)
    with pytest.raises(QueryBudgetExceeded):
        multi_source_bfs(df, [0, 5], budget_s=0.0)
    with pytest.raises(RuntimeError, match="disk full"):
        multi_source_bfs(df, [0, 5], checkpoint_mgr=_FailingSave())
    assert not leaked()


def test_entry_multi_bfs_result_carries_its_checkpoints(spark, monkeypatch):
    """``__spark_entry__.q_graph_multi_bfs`` projects the batched BFS result;
    on the distributed lane (forced here by patching the size gate) the
    projection still carries the level checkpoint ids, so
    ``release_checkpoint`` frees every one of them."""
    import gc
    import importlib

    import __spark_entry__ as entry
    from wikipath_spark.operators._loop import persistent_rdd_ids, release_checkpoint

    # the package re-exports functions over the submodule names
    bfs = importlib.import_module("wikipath_spark.operators.bfs")
    g = entry._synthetic_graph(spark)  # its cached frames are the session's
    g.edges.count(), g.pages.count()
    gc.collect()
    spark.sparkContext._jvm.System.gc()  # flush ContextCleaner backlog first
    before = persistent_rdd_ids(spark)
    gate_calls = []
    monkeypatch.setattr(bfs, "driver_edge_arrays", lambda *a, **kw: gate_calls.append(a))
    out = entry.q_graph_multi_bfs(spark, 0.01)
    assert len(gate_calls) == 1  # one BFS, on the distributed lane
    assert {r.source for r in out.collect()} == set(entry._MSBFS_SOURCES)
    assert persistent_rdd_ids(spark) - before  # the level checkpoints
    release_checkpoint(out)
    assert persistent_rdd_ids(spark) - before == set()

"""PageRank tests: tiny hand-checkable graphs (FIXTURES.md §4) against the
pure-numpy power-iteration oracle (allclose 1e-6), plain and salted hash
aggregation, determinism across parallelism levels, the driver lane, the
fixed-point and vector (multi-seed) twins, and the distributed loops' Spark
job budget."""

from __future__ import annotations

import numpy as np
import pytest

from wikipath_spark.operators.pagerank import (
    pagerank,
    pagerank_fixedpoint,
    pagerank_multi,
    pagerank_multi_fixedpoint,
    pagerank_numpy_oracle,
)

GRAPHS = {
    "path4": [(1, 2), (2, 3), (3, 4)],
    "diamond": [(1, 2), (1, 3), (2, 4), (3, 4)],
    "cycle3": [(1, 2), (2, 3), (3, 1)],
    "star_hub": [(i, 0) for i in range(1, 10)],
    "two_cc": [(1, 2), (2, 3), (10, 11)],
    "k4": [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b],
    "dangling": [(1, 2), (2, 3)],  # 3 has no out-edges
}


def _check(edges_df, edge_list, **kw):
    res = pagerank(edges_df(edge_list), **kw)
    got = {r.page_id: r.rank for r in res.ranks.collect()}
    oracle = pagerank_numpy_oracle(edge_list)
    assert set(got) == set(oracle)
    for k in got:
        assert got[k] == pytest.approx(oracle[k], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    return res


@pytest.mark.parametrize("name", list(GRAPHS))
def test_pagerank_sql(edges_df, name):
    _check(edges_df, GRAPHS[name])


def test_pagerank_salted(edges_df):
    _check(edges_df, GRAPHS["star_hub"], salt_partials=4)


def test_pagerank_deterministic_across_parallelism(spark, edges_df):
    """Same scores whatever the shuffle-partition count (parallelism proxy)."""
    el = GRAPHS["k4"] + GRAPHS["two_cc"] + [(4, 10)]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        r2 = {r.page_id: r.rank for r in pagerank(edges_df(el)).ranks.collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        r8 = {r.page_id: r.rank for r in pagerank(edges_df(el)).ranks.collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert set(r2) == set(r8)
    np.testing.assert_allclose(
        [r2[k] for k in sorted(r2)], [r8[k] for k in sorted(r8)], atol=1e-9
    )


# ---------------------------------------------------------------------------
# Driver lane: edge tables read from parquet carry a real (small) size
# estimate, so pagerank() iterates them in numpy; driver_threshold_bytes=0
# forces the distributed lane on the same input.
# ---------------------------------------------------------------------------

_HUB = [(i, 0) for i in range(1, 12)] + [(0, 1), (0, 2)]
LANE_CASES = {
    # (edges, vertices or None)
    "dangling_sinks": (_HUB + [(3, 20), (4, 21), (20, 21), (5, 22)], None),
    "isolated_vertices": (_HUB, list(range(0, 12)) + [30, 31, 32]),
    # 40 and 41 lie outside the vertex set: 2 -> 40 still counts toward 2's
    # out-degree (its share is lost), 41 -> 3 contributes nothing
    "endpoints_outside_vertices": (_HUB + [(2, 40), (41, 3)], list(range(0, 12))),
    "duplicates_and_self_loops": (_HUB + [(1, 0), (1, 0), (2, 2), (5, 5), (5, 6)], None),
    "empty_edge_table": ([], list(range(5))),
}


@pytest.fixture()
def driver_calls(monkeypatch):
    """Counts entries into the driver lane."""
    import importlib

    # the package re-exports the function `pagerank` over the submodule name
    pr = importlib.import_module("wikipath_spark.operators.pagerank")
    calls = []
    real = pr._pagerank_driver

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(pr, "_pagerank_driver", spy)
    return calls


@pytest.mark.parametrize("case", list(LANE_CASES))
def test_pagerank_driver_lane_matches_distributed(parquet, driver_calls, case):
    edge_list, vertex_list = LANE_CASES[case]
    edges = parquet("edges", edge_list)
    vertices = (
        None if vertex_list is None
        else parquet("vertices", [(v,) for v in vertex_list], "page_id long")
    )
    fast = pagerank(edges, vertices=vertices)
    assert len(driver_calls) == 1
    slow = pagerank(edges, vertices=vertices, driver_threshold_bytes=0)
    assert len(driver_calls) == 1
    assert (fast.iterations, fast.converged) == (slow.iterations, slow.converged)
    got = {r.page_id: r.rank for r in fast.ranks.collect()}
    want = {r.page_id: r.rank for r in slow.ranks.collect()}
    assert set(got) == set(want) and len(got) > 0
    keys = sorted(got)
    np.testing.assert_allclose(
        [got[k] for k in keys], [want[k] for k in keys], rtol=0, atol=1e-12
    )
    oracle = pagerank_numpy_oracle(edge_list, vertices=vertex_list)
    assert set(oracle) == set(keys)
    for k in keys:
        assert got[k] == pytest.approx(oracle[k], abs=1e-6)
        assert want[k] == pytest.approx(oracle[k], abs=1e-6)


def test_pagerank_driver_lane_empty_graph(parquet, driver_calls):
    """No edges and no vertex frame: the same empty result as the
    distributed lane's n == 0 exit."""
    edges = parquet("edges", [])
    fast = pagerank(edges)
    assert len(driver_calls) == 1
    slow = pagerank(edges, driver_threshold_bytes=0)
    for res in (fast, slow):
        assert (res.iterations, res.converged, res.delta) == (0, True, 0.0)
        assert res.ranks.collect() == [] and res.ranks.columns == ["page_id", "rank"]


def test_pagerank_driver_lane_budget(parquet, driver_calls):
    from wikipath_spark.operators.bfs import QueryBudgetExceeded

    edges = parquet("edges", _HUB)
    with pytest.raises(QueryBudgetExceeded):
        pagerank(edges, budget_s=0.0)
    assert len(driver_calls) == 1


def test_pagerank_driver_lane_hook(parquet, driver_calls):
    """on_superstep fires once per iteration with a (page_id, rank) frame;
    the last frame holds the returned ranks."""
    edges = parquet("edges", _HUB)
    seen = []
    res = pagerank(edges, on_superstep=lambda i, r, d: seen.append((i, r, d)))
    assert len(driver_calls) == 1
    assert [i for i, _, _ in seen] == list(range(1, res.iterations + 1))
    assert all(r.columns == ["page_id", "rank"] for _, r, _ in seen)
    assert seen[-1][2] == res.delta
    assert sorted(seen[-1][1].collect()) == sorted(res.ranks.collect())


def test_pagerank_driver_lane_independent_of_file_layout(parquet, tmp_path, driver_calls):
    """The same edges as 1 file or as 4 hash-split files give bit-identical
    ranks: contributions are summed in (dst, src) order, not input order."""
    import glob

    el = [(a, b) for a in range(60) for b in range(60) if (a * 13 + b * 7) % 11 == 0]
    one = parquet("one", el)
    four = parquet("four", el, files=4)
    assert len(glob.glob(str(tmp_path / "four.parquet" / "*.parquet"))) == 4
    r1 = {r.page_id: r.rank for r in pagerank(one).ranks.collect()}
    r4 = {r.page_id: r.rank for r in pagerank(four).ranks.collect()}
    assert len(driver_calls) == 2
    assert r1 == r4  # dict equality on floats = bitwise-equal ranks


def test_pagerank_durable_runs_stay_distributed(parquet, tmp_path, driver_calls):
    """checkpoint_mgr / resume need the distributed loop's durable
    checkpoints, whatever the size estimate."""
    from wikipath_spark.plans.checkpoint import CheckpointManager

    edges = parquet("edges", _HUB)
    mgr = CheckpointManager(str(tmp_path / "ckpt"), "run")
    pagerank(edges, checkpoint_mgr=mgr)
    pagerank(edges, checkpoint_mgr=mgr, resume=True)
    pagerank(edges, resume=True)
    assert driver_calls == []


# --- pagerank_fixedpoint source hygiene (ADVICE low) -----------------------


def test_personalized_pagerank_dedups_sources(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], ["src", "dst"])
    dup = sorted(map(tuple, pagerank_fixedpoint(e, sources=[2, 1, 1, 2]).collect()))
    ded = sorted(map(tuple, pagerank_fixedpoint(e, sources=[2, 1]).collect()))
    assert dup == ded


def test_personalized_pagerank_rejects_unknown_source(spark):
    e = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    with pytest.raises(ValueError, match="not in the vertex set"):
        pagerank_fixedpoint(e, sources=[1, 999])


# --- wide-state (vector) personalized PageRank (VERDICT item 7) ------------


def test_pagerank_multi_matches_numpy_oracle(spark, edges_df):
    import random

    from wikipath_spark.operators.pagerank import (
        pagerank_multi,
        pagerank_multi_numpy_oracle,
    )

    random.seed(11)
    el = sorted({(random.randrange(40), random.randrange(40)) for _ in range(200)})
    el = [(a, b) for a, b in el if a != b]
    df = edges_df(el)
    ids = sorted({v for ab in el for v in ab})
    seeds = [ids[0], ids[len(ids) // 2], ids[-1]]  # distinct by construction
    oracle = pagerank_multi_numpy_oracle(el, seeds, iters=12)
    got = {r.page_id: r.ranks for r in pagerank_multi(df, seeds, iters=12).collect()}
    assert set(got) == set(oracle)
    for v in got:
        for i in range(len(seeds)):
            assert got[v][i] == pytest.approx(oracle[v][i], abs=1e-9)
    # each personalized component is a probability distribution
    for i in range(len(seeds)):
        assert sum(got[v][i] for v in got) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_multi_seed_hygiene(spark, edges_df):
    from wikipath_spark.operators.pagerank import pagerank_multi

    df = edges_df([(1, 2), (2, 3), (3, 1)])
    a = sorted(map(tuple, pagerank_multi(df, [1, 1, 2], iters=3).collect()))
    b = sorted(map(tuple, pagerank_multi(df, [1, 2], iters=3).collect()))
    assert a == b
    with pytest.raises(ValueError, match="not in the vertex set"):
        pagerank_multi(df, [1, 999], iters=2)
    with pytest.raises(ValueError, match="non-empty"):
        pagerank_multi(df, [], iters=2)


def test_pagerank_multi_single_seed_equals_scalar_personalized(spark, edges_df):
    """k=1 vector pass agrees with the integer fixed-point personalized twin
    in RANKING (the fixed-point twin truncates; compare top-order)."""
    from wikipath_spark.operators.pagerank import pagerank_fixedpoint, pagerank_multi

    el = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (2, 4)]
    df = edges_df(el)
    vec = {r.page_id: r.ranks[0] for r in
           pagerank_multi(df, [1], iters=30).collect()}
    fp = {r.page_id: r.rank_fp for r in
          pagerank_fixedpoint(df, sources=[1], iters=30).collect()}
    order_vec = sorted(vec, key=lambda v: (-vec[v], v))
    order_fp = sorted(fp, key=lambda v: (-fp[v], v))
    assert order_vec == order_fp


def test_pagerank_multi_fixedpoint_bitwise_equivalences(spark, edges_df):
    """Integer vector twin: each component == the scalar personalized
    fixed-point run BITWISE (integer sums commute across any physical
    aggregation) — the chain that lets a DuckDB oracle hash-verify the Arrow
    2-D scatter-add kernel itself."""
    import random

    from wikipath_spark.operators.pagerank import (
        pagerank_fixedpoint,
        pagerank_multi_fixedpoint,
    )

    random.seed(5)
    el = sorted({(random.randrange(30), random.randrange(30)) for _ in range(150)})
    el = [(a, b) for a, b in el if a != b]
    df = edges_df(el)
    ids = sorted({v for ab in el for v in ab})
    seeds = [ids[0], ids[-1]]
    multi = {r.page_id: list(r.ranks) for r in
             pagerank_multi_fixedpoint(df, seeds).collect()}
    for i, s in enumerate(seeds):
        single = {r.page_id: r.rank_fp for r in
                  pagerank_fixedpoint(df, sources=[s]).collect()}
        assert set(multi) == set(single)
        assert all(multi[v][i] == single[v] for v in multi)
    with pytest.raises(ValueError, match="not in the vertex set"):
        pagerank_multi_fixedpoint(df, [ids[0], 10**9])


def test_pagerank_setup_failure_does_not_leak(spark, edges_df, tmp_path):
    """A corrupt checkpoint makes resume raise DURING SETUP (after several
    frames are persisted); nothing may stay pinned (code-review finding)."""
    import json
    import os

    from wikipath_spark.operators.pagerank import pagerank
    from wikipath_spark.plans.checkpoint import CheckpointManager

    sc = spark.sparkContext
    df = edges_df([(i, (i * 3) % 20) for i in range(60)])
    mgr = CheckpointManager(str(tmp_path), "leak")
    pagerank(df, checkpoint_mgr=mgr, max_iter=4, tol=0.0)
    latest = mgr.latest()
    marker = os.path.join(str(tmp_path), "leak", f"superstep={latest}", "_COMMITTED")
    meta = json.load(open(marker))
    meta["rows"] += 7
    json.dump(meta, open(marker, "w"))

    spark.catalog.clearCache()
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    with pytest.raises(ValueError, match="corrupt"):
        pagerank(df, checkpoint_mgr=mgr, resume=True)
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, f"setup-phase leak: {after - before}"


def test_pagerank_multi_empty_and_vector_cleanup(spark, edges_df):
    """Empty vertex set returns an empty frame (no TypeError), and the loop
    releases superseded state frames (code-review findings)."""
    from wikipath_spark.operators.pagerank import (
        pagerank_multi,
        pagerank_multi_fixedpoint,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank_multi(empty, [1], iters=2).count() == 0
    assert pagerank_multi_fixedpoint(empty, [1], iters=2).count() == 0


# ---------------------------------------------------------------------------
# Spark job budget of the four distributed loops: one shared setup, then one
# job per superstep (every loop runs under loop_confs, AQE off).
# ---------------------------------------------------------------------------

LOOPS = {
    "pagerank": lambda e, n: pagerank(e, tol=0.0, max_iter=n),
    "pagerank_fixedpoint": lambda e, n: pagerank_fixedpoint(e, iters=n),
    "pagerank_multi": lambda e, n: pagerank_multi(e, [1, 4], iters=n),
    "pagerank_multi_fixedpoint": lambda e, n: pagerank_multi_fixedpoint(e, [1, 4], iters=n),
}


@pytest.mark.parametrize("loop", list(LOOPS))
def test_distributed_loops_one_job_per_superstep(spark, edges_df, loop):
    """A ``createDataFrame`` edge list (unknown size: the distributed loop)
    at 1 and at 3 supersteps: the difference is one job per superstep, and
    the setup before the first superstep takes at most 4 jobs."""
    run = LOOPS[loop]
    e = edges_df([(1, 2), (2, 3), (3, 1), (3, 4)])
    sc = spark.sparkContext

    def jobs(steps):
        group = f"pr_jobs_{loop}_{steps}"
        sc.setJobGroup(group, "probe")
        try:
            run(e, steps)
        finally:
            sc.setJobGroup(f"{group}_done", "done")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    run(e, 1)  # warm (lazy session init jobs stay out of the count)
    one, three = jobs(1), jobs(3)
    assert three - one == 2, f"{(three - one) / 2} jobs per superstep"
    assert one - 1 <= 4, f"{one - 1} setup jobs"

"""PageRank golden tests: tiny hand-checkable graphs (FIXTURES.md §4) against
the pure-numpy power-iteration oracle (allclose 1e-6), plain and salted
hash aggregation, and determinism across parallelism levels."""

from __future__ import annotations

import numpy as np
import pytest

from wikipath_spark.operators.pagerank import pagerank, pagerank_numpy_oracle

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
    pagerank(edges, checkpoint_mgr=mgr, checkpoint_interval=5)
    pagerank(edges, checkpoint_mgr=mgr, resume=True)
    pagerank(edges, resume=True)
    assert driver_calls == []

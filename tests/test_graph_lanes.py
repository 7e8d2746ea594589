"""Driver lanes of connected components, BFS, label propagation and
triangle counting, and the driver memory of every driver lane.

Edge tables read from parquet carry a real (small) size estimate, so
``connected_components``, ``bfs_distances``, ``multi_source_bfs``,
``label_propagation``, ``triangle_count`` and ``triangles_per_vertex`` run
them in numpy on the driver; the same rows as a ``createDataFrame`` list
report an unknown size and take the distributed lane.  Both lanes must give
identical output.
"""

from __future__ import annotations

import importlib
import random
import tracemalloc
import warnings

import numpy as np
import pyarrow as pa
import pytest

from wikipath_spark.api import _driver_index
from wikipath_spark.operators._loop import undirected_driver_graph
from wikipath_spark.operators.bfs import bfs_distances, multi_source_bfs
from wikipath_spark.operators.components import connected_components
from wikipath_spark.operators.labelprop import label_propagation
from wikipath_spark.operators.triangles import triangle_count, triangles_per_vertex
from wikipath_spark.plans.build import _resolve_on_driver

# the package re-exports functions over these submodule names
bfs = importlib.import_module("wikipath_spark.operators.bfs")
cc = importlib.import_module("wikipath_spark.operators.components")
lp = importlib.import_module("wikipath_spark.operators.labelprop")
tr = importlib.import_module("wikipath_spark.operators.triangles")

_K4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
_rng = random.Random(11)
LANE_CASES = {
    # (edges, max_iter)
    "k4": (_K4, 10),
    # an edge and a star: synchronous LPA swaps labels every round
    "oscillating": ([(1, 2)] + [(10, i) for i in range(11, 15)], 10),
    "duplicates_and_self_loops": (
        _K4 + [(1, 2), (2, 1), (1, 2), (3, 3), (4, 4), (4, 5), (5, 3)], 10
    ),
    "self_loop_only_vertex": ([(1, 2), (2, 3), (3, 1), (7, 7)], 10),
    "random": (
        [(_rng.randrange(60), _rng.randrange(60)) for _ in range(200)], 10
    ),
    "empty_edge_table": ([], 10),
    "max_iter_0": (_K4 + [(4, 5)], 0),
}


@pytest.fixture()
def lane_calls(monkeypatch):
    """Counts entries into the CC, BFS, LPA and triangle driver kernels."""
    calls = {"cc": 0, "bfs": 0, "lpa": 0, "triangles": 0}

    def spy(mod, name, key):
        real = getattr(mod, name)

        def wrapped(*a, **kw):
            calls[key] += 1
            return real(*a, **kw)

        monkeypatch.setattr(mod, name, wrapped)

    spy(cc, "_cc_driver_numpy", "cc")
    spy(bfs, "_bfs_driver_numpy", "bfs")
    spy(lp, "_lpa_driver", "lpa")
    spy(tr, "_closed_wedges", "triangles")
    return calls


def test_cc_driver_lane_matches_distributed(parquet, edges_df, lane_calls):
    """The driver lane (numpy min-label pointer jumping) labels every vertex
    as the alternating-star lane does, and drops self-loop-only vertices."""
    edge_list = [(i, (i * 7 + 3) % 40) for i in range(40)] + [
        (100, 101), (101, 102), (200, 200),  # chain + self-loop-only vertex
        (300, 301), (301, 300),
    ]

    def components(edges):
        return sorted((r.page_id, r.component) for r in connected_components(edges).collect())

    fast = components(parquet("edges", edge_list))
    assert lane_calls["cc"] == 1
    slow = components(edges_df(edge_list))
    assert lane_calls["cc"] == 1
    assert fast == slow and len(fast) > 0
    assert 200 not in {p for p, _ in fast}  # self-loop-only vertex absent


def test_bfs_driver_lane_matches_distributed(parquet, edges_df, lane_calls):
    """The driver CSR lane returns the exact rows of the distributed frontier
    loop, including the seed row of a sink-only or absent source and the
    max_depth cutoff."""
    edge_list = [(i, i + 1) for i in range(30)] + [(0, 40), (40, 41), (99, 0)]
    on_disk, reference = parquet("edges", edge_list), edges_df(edge_list)

    def distances(edges, source):
        return sorted(
            (r.page_id, r.distance)
            for r in bfs_distances(edges, source, max_depth=5).collect()
        )

    for source in (0, 41, 123):  # mid-graph, sink-only vertex, absent vertex
        fast = distances(on_disk, source)
        slow = distances(reference, source)
        assert fast == slow, f"source {source}: {fast} != {slow}"

    def batch(edges):
        return sorted(
            (r.source, r.page_id, r.distance)
            for r in multi_source_bfs(edges, [0, 99, 41], max_depth=6).collect()
        )

    fast = batch(on_disk)
    slow = batch(reference)
    assert fast == slow and len(fast) > 0
    assert lane_calls["bfs"] == 4


def _labels(edges, **kw):
    """``({page_id: label}, warned)`` of one label_propagation call."""
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        df = label_propagation(edges, **kw)
    assert df.columns == ["page_id", "label"]
    warned = any("no fixpoint" in str(w.message) for w in seen)
    return {r.page_id: r.label for r in df.collect()}, warned


@pytest.mark.parametrize("case", list(LANE_CASES))
def test_lpa_driver_lane_matches_distributed(parquet, edges_df, lane_calls, case):
    edge_list, max_iter = LANE_CASES[case]
    fast = _labels(parquet("edges", edge_list), max_iter=max_iter)
    assert lane_calls["lpa"] == 1
    slow = _labels(edges_df(edge_list), max_iter=max_iter)
    assert lane_calls["lpa"] == 1
    assert fast == slow
    assert fast[1] == (case == "oscillating")
    assert len(fast[0]) == len({v for e in edge_list if e[0] != e[1] for v in e})


@pytest.mark.parametrize("case", list(LANE_CASES))
def test_triangles_driver_lane_matches_distributed(parquet, edges_df, lane_calls, case):
    edge_list = LANE_CASES[case][0]
    edges, reference = parquet("edges", edge_list), edges_df(edge_list)
    assert triangle_count(edges) == triangle_count(reference)
    fast = triangles_per_vertex(edges)
    slow = triangles_per_vertex(reference)
    assert lane_calls["triangles"] == 2
    assert fast.columns == slow.columns == ["page_id", "triangles"]
    assert sorted(fast.collect()) == sorted(slow.collect())


def test_triangles_driver_lane_self_loop_only_vertex(parquet):
    """A vertex seen only on a self-loop is an endpoint with 0 triangles."""
    edges = parquet("edges", LANE_CASES["self_loop_only_vertex"][0])
    got = {r.page_id: r.triangles for r in triangles_per_vertex(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 0}
    assert triangle_count(edges) == 1


def test_lpa_durable_runs_stay_distributed(parquet, tmp_path, lane_calls):
    """checkpoint_mgr / resume need the distributed loop's durable
    checkpoints, whatever the size estimate."""
    from wikipath_spark.plans.checkpoint import CheckpointManager

    edges = parquet("edges", LANE_CASES["random"][0])
    mgr = CheckpointManager(str(tmp_path / "ckpt"), "run")
    label_propagation(edges, max_iter=4, checkpoint_mgr=mgr)
    label_propagation(edges, max_iter=6, checkpoint_mgr=mgr, resume=True)
    label_propagation(edges, resume=True)
    assert lane_calls["lpa"] == 0


def _peak_bytes(fn) -> int:
    """Peak Python heap (tracemalloc) plus peak Arrow memory pool bytes,
    which tracemalloc does not see, while ``fn`` runs."""
    default = pa.default_memory_pool()
    pool = pa.proxy_memory_pool(default)
    pa.set_memory_pool(pool)
    tracemalloc.start()
    try:
        fn()
        return tracemalloc.get_traced_memory()[1] + pool.max_memory()
    finally:
        tracemalloc.stop()
        pa.set_memory_pool(default)


def _extraction_table(rng, n: int, m: int) -> pa.Table:
    """A collected extraction as the build's driver lane reads it: ``n``
    pages in 4 repos, every 12th an alias, ``m`` refs within each repo."""
    paths = [f"src/pkg{i % 16}/mod{i}.py" for i in range(n)]
    counts = np.diff(np.concatenate([[0], np.sort(rng.integers(0, m, n - 1)), [m]]))
    targets = rng.integers(0, n // 4, m) * 4 + np.repeat(np.arange(n) % 4, counts)
    return pa.table({
        "repo": [f"r{i % 4}" for i in range(n)],
        "path": paths,
        "shard": rng.integers(0, 16, n),
        "alias": [paths[(i + 4) % n] if i % 12 == 0 else None for i in range(n)],
        "refs": pa.ListArray.from_arrays(
            pa.array(np.concatenate([[0], np.cumsum(counts)]), pa.int32()),
            pa.array([paths[t] for t in targets]),
        ),
        "truncated": np.zeros(n, bool),
    })


def test_driver_kernels_peak_memory():
    """The LPA and triangle kernels, from the collected endpoint arrays to
    the result, stay within 128 B per input edge, and the BFS kernel within
    64; the build's resolution, from the collected extraction to the
    tables, within 640 B per source row (12k pages, 66k refs; the driver's
    RSS is a gated benchmark metric).  A serve pin's driver index, from
    its collected pages, redirects and edges to the title, redirect and
    adjacency dicts it keeps, within 200 B per edge: measured 173 (12k
    pages, 66k edges), against 271 for the same dicts filled from one
    row object per page and per edge."""
    rng = np.random.default_rng(3)
    src, dst = rng.integers(0, 12_000, 66_000), rng.integers(0, 12_000, 66_000)
    extraction = _extraction_table(rng, 12_000, 66_000)
    pages = pa.table({
        "page_id": np.arange(12_000),
        "path": [f"src/pkg{i % 16}/mod{i}.py" for i in range(12_000)],
    })
    redirects = pa.table({"src": np.arange(0, 12_000, 12), "dst": np.arange(1, 12_000, 12)})
    edges = pa.table({"src": src, "dst": dst})

    def lpa():
        g = undirected_driver_graph(src, dst)
        lp._lpa_driver(g.lo, g.hi, len(g.ids), 10, lambda: None)

    def triangles():
        g = undirected_driver_graph(src, dst)
        tr._per_vertex_counts(g.lo, g.hi, len(g.ids))

    def bfs_one_source():
        bfs._bfs_driver_numpy(src, dst, [int(src[0])], 30, lambda: None)

    def serve_pin():
        index = _driver_index(pages, redirects, edges)
        assert sum(map(len, index["adj_out"].values())) == len(src)

    for kernel, bound in ((lpa, 128), (triangles, 128), (bfs_one_source, 64), (serve_pin, 200)):
        per_edge = _peak_bytes(kernel) / len(src)
        assert per_edge <= bound, f"{kernel.__name__}: {per_edge:.0f} B per edge"

    def build():
        assert _resolve_on_driver(extraction)[4]["edges"] > 60_000

    per_row = _peak_bytes(build) / extraction.num_rows
    assert per_row <= 640, f"build: {per_row:.0f} B per source row"

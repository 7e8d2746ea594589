"""Checkpoint/resume: kill after superstep k, resume from the durable
checkpoint, and get the identical result (north-rule resumability)."""

from __future__ import annotations

import warnings

import pytest

from wikipath_spark.operators.bfs import bfs_distances, multi_source_bfs
from wikipath_spark.operators.components import connected_components
from wikipath_spark.operators.kcore import coreness, k_core
from wikipath_spark.operators.labelprop import label_propagation
from wikipath_spark.operators.pagerank import pagerank
from wikipath_spark.plans.checkpoint import CheckpointManager

EDGES = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 1), (4, 5), (5, 1), (2, 5), (6, 1)]


class _StopAfter(Exception):
    pass


def test_checkpoint_save_load_manifest(spark, edges_df, tmp_path):
    mgr = CheckpointManager(str(tmp_path), "run1")
    res = pagerank(edges_df(EDGES), checkpoint_mgr=mgr)
    latest = mgr.latest()
    assert latest is not None
    state, metric = mgr.load(spark, latest)
    assert state.count() == 6
    m = mgr.manifest(latest, spark)
    assert set(m.columns) == {"run_id", "superstep", "part_id", "rows", "checksum", "metric"}
    row = m.agg({"rows": "sum"}).collect()[0]
    assert row[0] == 6
    assert metric == pytest.approx(res.delta) or metric >= res.delta


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _pagerank(df, stop=None, **durable):
    """PageRank's (supersteps, ranks), or ``None`` when a hook killed it
    after superstep ``stop``."""

    def kill(it, ranks, delta):
        if it == stop:
            raise _StopAfter()

    try:
        res = pagerank(df, on_superstep=kill if stop else None, **durable)
    except _StopAfter:
        return None
    return res.iterations, _rows(res.ranks)


# a chain with a side branch and a back edge; a path peeling into a triangle;
# three linked triangles, on which LPA reaches its fixpoint in 4 supersteps
_CHAIN = [(i, i + 1) for i in range(8)] + [(3, 20), (20, 21), (21, 22), (5, 0)]
_CORE = [(i, i + 1) for i in range(10)] + [(10, 11), (11, 12), (12, 10)]
_TWO_PATHS = [(i, i + 1) for i in range(30)] + [(100, 101), (101, 102)]
_TRIANGLES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (6, 7), (7, 8), (8, 6), (5, 6)]

# entry point -> (edge list, run(df, stop, **durable), stop step).  Every
# entry point but PageRank stops at a smaller max_iter / max_depth.
RESUMABLE = {
    "pagerank": (EDGES, _pagerank, 30),
    "connected_components": (
        _TWO_PATHS,
        lambda df, stop=None, **kw: _rows(connected_components(df, max_iter=stop or 50, **kw)),
        2,
    ),
    "label_propagation": (
        _TRIANGLES,
        lambda df, stop=None, **kw: _rows(label_propagation(df, max_iter=stop or 10, **kw)),
        2,
    ),
    "k_core": (
        _CORE, lambda df, stop=None, **kw: _rows(k_core(df, 2, max_iter=stop or 100, **kw)), 2
    ),
    "coreness": (
        _CORE, lambda df, stop=None, **kw: _rows(coreness(df, max_iter=stop or 100, **kw)), 2
    ),
    "multi_source_bfs": (
        _CHAIN,
        lambda df, stop=None, **kw: _rows(multi_source_bfs(df, [0, 5], max_depth=stop or 30, **kw)),
        4,
    ),
    "bfs_distances": (
        _CHAIN,
        lambda df, stop=None, **kw: _rows(bfs_distances(df, 0, max_depth=stop or 30, **kw)),
        3,
    ),
}


@pytest.mark.parametrize("entry", sorted(RESUMABLE))
def test_resume_identical_to_uninterrupted(spark, edges_df, tmp_path, entry):
    """Kill at step k, resume from the durable checkpoint: the output of the
    uninterrupted run, bit for bit (PageRank: also its superstep count).  A
    finished run's newest checkpoint is its last step, marked final, and a
    resume from it returns it without running another step."""
    el, run, stop = RESUMABLE[entry]
    df = edges_df(el)
    finished = CheckpointManager(str(tmp_path), "finished")
    want = run(df, checkpoint_mgr=finished)
    last = finished.latest()
    assert last is not None and finished.final(last)
    assert run(df, checkpoint_mgr=finished, resume=True) == want
    assert finished.latest() == last  # no step ran, so none was saved

    killed = CheckpointManager(str(tmp_path), "killed")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # the stopped run has no fixpoint
        run(df, stop, checkpoint_mgr=killed)
    assert killed.latest() == stop
    assert not killed.final(stop)
    assert run(df, checkpoint_mgr=killed, resume=True) == want


def test_pagerank_resume_under_tighter_tol(edges_df, tmp_path):
    """A checkpoint saved at convergence is final only under the tol that
    saved it: a resume with a tighter tol iterates on to the uninterrupted
    run's supersteps and ranks."""
    df = edges_df(EDGES)
    want = _pagerank(df, tol=1e-9)
    mgr = CheckpointManager(str(tmp_path), "tol")
    loose = _pagerank(df, checkpoint_mgr=mgr)
    assert loose[0] < want[0] and mgr.final(mgr.latest())
    assert _pagerank(df, tol=1e-9, checkpoint_mgr=mgr, resume=True) == want


@pytest.mark.parametrize("entry", ["connected_components", "label_propagation", "k_core", "coreness"])
def test_no_fixpoint_warning_on_every_short_result(edges_df, tmp_path, entry):
    """A run that exhausts max_iter warns, and so does a resume at that
    bound from its checkpoint: it runs no step and returns the same state,
    still short of its fixpoint."""
    el, run, _stop = RESUMABLE[entry]
    df = edges_df(el)
    mgr = CheckpointManager(str(tmp_path), entry)
    with pytest.warns(UserWarning, match="no fixpoint"):
        run(df, 1, checkpoint_mgr=mgr)
    assert mgr.latest() == 1
    with pytest.warns(UserWarning, match="no fixpoint"):
        run(df, 1, checkpoint_mgr=mgr, resume=True)
    assert mgr.latest() == 1


@pytest.mark.parametrize("entry", ["connected_components", "label_propagation"])
def test_resume_before_fixpoint_finishes_at_the_uninterrupted_step(edges_df, tmp_path, entry):
    """A resume from the step before the fixpoint compares its first round
    with the loaded state, so it sees the fixpoint at the uninterrupted
    run's step: it warns nothing, and that step's checkpoint is final."""
    el, run, _stop = RESUMABLE[entry]
    df = edges_df(el)
    finished = CheckpointManager(str(tmp_path), "finished")
    want = run(df, checkpoint_mgr=finished)
    fixpoint = finished.latest()
    assert fixpoint > 1 and finished.final(fixpoint)
    mgr = CheckpointManager(str(tmp_path), "before")
    with pytest.warns(UserWarning, match="no fixpoint"):
        run(df, fixpoint - 1, checkpoint_mgr=mgr)
    assert mgr.latest() == fixpoint - 1 and not mgr.final(fixpoint - 1)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert run(df, fixpoint, checkpoint_mgr=mgr, resume=True) == want
    assert mgr.latest() == fixpoint and mgr.final(fixpoint)


def test_corrupt_checkpoint_detected(spark, edges_df, tmp_path):
    mgr = CheckpointManager(str(tmp_path), "run3")
    pagerank(edges_df(EDGES), checkpoint_mgr=mgr)
    latest = mgr.latest()
    # truncate the recorded row count to simulate corruption
    import json, os

    marker = os.path.join(str(tmp_path), "run3", f"superstep={latest}", "_COMMITTED")
    meta = json.load(open(marker))
    meta["rows"] += 1
    json.dump(meta, open(marker, "w"))
    with pytest.raises(ValueError, match="corrupt"):
        mgr.load(spark, latest)

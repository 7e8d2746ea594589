"""Round-5 hardening tests (VERDICT r4 items 3/6, ADVICE r4 items 1-3):

- eager release of superseded loop state actually frees executor storage
  (``DataFrame.unpersist()`` is a no-op on localCheckpointed frames — the
  tracked-checkpoint helpers drop the blocks by RDD id),
- zero-Spark-job redirect resolution on the serve path for small pinned
  datasets (search.rs:27-32 LMDB point-read parity),
- auto hot-reload of rewritten datasets (serve.rs:155-192 parity),
- LRU pinning never transiently exceeds ``max_pinned``,
- deterministic min-page_id tie-break on exact-case title matches in both
  lookup paths.
"""

from __future__ import annotations

import pytest

from wikipath_spark.api import LinkGraphService, _PinnedDataset
from wikipath_spark.operators._loop import persistent_rdd_ids
from wikipath_spark.operators.bfs import _resolve
from wikipath_spark.operators.components import connected_components
from wikipath_spark.operators.kcore import coreness, k_core
from wikipath_spark.operators.pagerank import (
    pagerank,
    pagerank_fixedpoint,
    pagerank_multi,
    pagerank_multi_fixedpoint,
)
from wikipath_spark.plans.build import build_graph
from wikipath_spark.plans.catalog import DatasetCatalog
from wikipath_spark.sources.synthetic import synthetic_repos

_CHAIN_EDGES = [(i, i + 1) for i in range(40)] + [(40, 0), (0, 20), (7, 33)]


@pytest.fixture(scope="module")
def catalog5(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("warehouse_r5"))
    g = build_graph(spark, synthetic_repos(spark, classes_per_repo=100, repos=1))
    commit = g.pages.select("commit").first().commit
    cat = DatasetCatalog(spark, root)
    cat.save("repoA", commit, g)
    cat.save("repoB", commit, g)
    cat.save("repoC", commit, g)
    return cat, commit


# ---------------------------------------------------------------------------
# eager loop-state release (ADVICE r4 #1)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "runner,expected_keep",
    [
        # each runner returns the result frame(s) the contract keeps alive;
        # expected_keep bounds how many persistent RDDs may remain afterward
        # (final state + small static frames), INDEPENDENT of iters — the
        # pre-fix behavior left one checkpointed |V|-frame PER ITERATION
        (lambda e, v: pagerank(e, vertices=v, tol=0.0, max_iter=8).ranks, 3),
        (lambda e, v: pagerank_fixedpoint(e, vertices=v, iters=8), 1),
        (lambda e, v: pagerank_multi(e, [0, 5], vertices=v, iters=8), 2),
        (lambda e, v: pagerank_multi_fixedpoint(e, [0, 5], vertices=v, iters=8), 2),
        (lambda e, v: connected_components(e, max_iter=20), 1),
        (lambda e, v: k_core(e, 2, max_iter=20), 1),
        (lambda e, v: coreness(e, max_iter=30), 1),
    ],
    ids=["pagerank", "fixedpoint", "multi", "multi_fixed", "cc", "kcore", "coreness"],
)
def test_loop_state_released_per_iteration(spark, edges_df, runner, expected_keep):
    """Superseded per-iteration state frames must release their checkpoint
    blocks DURING the loop, not at driver GC: after a run, at most the final
    state (plus static frames the result reads) may remain persisted."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()  # flush ContextCleaner backlog first
    e = edges_df(_CHAIN_EDGES)
    v = spark.range(0, 41).selectExpr("id as page_id")
    before = persistent_rdd_ids(spark)
    res = runner(e, v)
    res.count()  # materialize the returned frame like a caller would
    leaked = persistent_rdd_ids(spark) - before
    assert len(leaked) <= expected_keep, (
        f"{len(leaked)} persistent RDDs remain (> {expected_keep}): per-iteration "
        f"checkpoint blocks are not being released eagerly"
    )


# ---------------------------------------------------------------------------
# zero-job redirect resolution on the serve path (VERDICT r4 #3)
# ---------------------------------------------------------------------------

_REDIRECT_SRC = "src/pkg10/mod270.py"   # class 90 = head of alias chain 90→91→92→95
_REDIRECT_DST = "src/pkg15/mod285.py"   # class 95 = compressed chain target


def test_redirect_resolution_runs_zero_spark_jobs(spark, catalog5):
    cat, commit = catalog5
    svc = LinkGraphService(cat)
    ds = svc._open("repoA", commit)  # pin (runs jobs; outside the group)
    assert ds.redirect_map, "small dataset should fold redirects into the driver index"
    src_id = svc._page_id(ds, _REDIRECT_SRC)
    dst_id = svc._page_id(ds, _REDIRECT_DST)
    sc = spark.sparkContext
    sc.setJobGroup("r5_redirect_resolve", "probe")
    try:
        resolved, was_redirect = _resolve(ds.redirect_map, src_id)
        plain, plain_flag = _resolve(ds.redirect_map, dst_id)
    finally:
        sc.setJobGroup("r5_redirect_resolve_done", "done")
    assert (resolved, was_redirect) == (dst_id, True)   # chain fully compressed
    assert (plain, plain_flag) == (dst_id, False)
    assert sc.statusTracker().getJobIdsForGroup("r5_redirect_resolve") == []
    svc.refresh()


def test_shortest_paths_from_redirected_endpoint_still_green(spark, catalog5):
    """End-to-end: querying FROM a redirect source resolves through the
    driver-side map, flags the endpoint, and returns the same paths as
    querying from the compressed target."""
    cat, commit = catalog5
    svc = LinkGraphService(cat)
    via_redirect = svc.shortest_paths("repoA", commit, _REDIRECT_SRC, "src/pkg0/mod0.py")
    direct = svc.shortest_paths("repoA", commit, _REDIRECT_DST, "src/pkg0/mod0.py")
    assert via_redirect["source_is_redirect"] is True
    assert direct["source_is_redirect"] is False
    assert via_redirect["source"] == direct["source"] == _REDIRECT_DST
    assert via_redirect["length"] == direct["length"]
    assert via_redirect["count"] == direct["count"]
    assert via_redirect["paths"] == direct["paths"]
    svc.refresh()


def test_large_dataset_redirects_stay_on_executors(spark, catalog5):
    cat, commit = catalog5
    svc = LinkGraphService(cat, driver_index_max_rows=0)  # force the big path
    ds = svc._open("repoA", commit)
    assert ds.redirect_map is None
    out = svc.shortest_paths("repoA", commit, _REDIRECT_SRC, "src/pkg0/mod0.py")
    assert out["source_is_redirect"] is True and out["source"] == _REDIRECT_DST
    svc.refresh()


# ---------------------------------------------------------------------------
# auto hot-reload (VERDICT r4 #6)
# ---------------------------------------------------------------------------


def test_hot_reload_serves_rewritten_dataset_without_refresh(spark, tmp_path):
    cat = DatasetCatalog(spark, str(tmp_path))
    g1 = build_graph(spark, synthetic_repos(spark, classes_per_repo=100, repos=1))
    commit = g1.pages.select("commit").first().commit
    # build g2 up front so its internal persists don't skew the storage count
    g2 = build_graph(spark, synthetic_repos(spark, classes_per_repo=200, repos=1))
    cat.save("repoA", commit, g1)
    # interval 0 = check the on-disk fingerprint on every request (the test
    # rewrites and reopens immediately; the default 1s debounce would
    # legitimately trust the pin for that window)
    svc = LinkGraphService(cat, reload_check_interval_s=0.0)
    ds1 = svc._open("repoA", commit)
    n1 = ds1.lookup.count()
    assert svc._open("repoA", commit) is ds1  # unchanged on disk: same pin
    base = len(persistent_rdd_ids(spark))    # ds1's pinned frames included

    # rewrite the SAME (repo, commit) with a differently-sized graph
    cat.save("repoA", commit, g2)

    ds2 = svc._open("repoA", commit)  # no manual refresh()
    assert ds2 is not ds1
    n2 = ds2.lookup.count()
    assert n1 != n2, "reopened dataset should reflect the rewritten tables"
    # the swap must not leak the stale pin's executor storage: ds2's frames
    # replace ds1's one-for-one, so net persistent RDDs stay flat.  (A direct
    # storageLevel probe on ds1.lookup is unusable here — the rewritten
    # dataset's plan-equal lookup frame answers for it in the CacheManager.)
    after = len(persistent_rdd_ids(spark))
    assert after <= base + 1, (
        f"hot reload leaked pinned storage: {base} persistent RDDs before the "
        f"swap, {after} after"
    )
    svc.refresh()


# ---------------------------------------------------------------------------
# LRU cap honored during open (ADVICE r4 #2)
# ---------------------------------------------------------------------------


def test_lru_never_exceeds_cap_during_open(spark, catalog5):
    """At the moment the incoming dataset starts persisting, at most
    max_pinned-1 pins may hold storage (eviction precedes pinning, so the
    cap is never transiently exceeded) — probed by spying on the first
    persist() call of each open.  Frame pins: a small pin persists
    nothing."""
    cat, commit = catalog5
    svc = LinkGraphService(cat, max_pinned=2, driver_index_max_rows=0)
    observed: list[int] = []
    orig_get = cat.get

    def spying_get(repo, c):
        tables = orig_get(repo, c)
        real_edges = tables.edges

        class _SpyEdges:  # records pins held when persistence begins
            def persist(self):
                observed.append(len(svc._pinned))
                return real_edges.persist()

        tables.edges = _SpyEdges()
        return tables

    cat.get = spying_get
    try:
        first = None
        for repo in ("repoA", "repoB", "repoC"):
            ds = svc._open(repo, commit)
            if first is None:
                first = ds
        assert max(observed) <= svc.max_pinned - 1, (
            "eviction must run BEFORE the incoming dataset persists: "
            f"saw {max(observed)} pins held during an open with cap 2"
        )
        assert len(svc._pinned) == 2 and ("repoA", commit) not in svc._pinned
        assert not first.lookup.storageLevel.useMemory  # evicted + unpersisted
    finally:
        cat.get = orig_get
        svc.refresh()


def test_unknown_dataset_does_not_cost_a_pin(spark, catalog5):
    """A request naming a nonexistent (repo, commit) must fail WITHOUT
    evicting a healthy pinned dataset (catalog.get validates before the LRU
    runs)."""
    cat, commit = catalog5
    svc = LinkGraphService(cat, max_pinned=2)
    svc._open("repoA", commit)
    svc._open("repoB", commit)
    with pytest.raises(KeyError):
        svc._open("no-such-repo", commit)
    assert ("repoA", commit) in svc._pinned and ("repoB", commit) in svc._pinned
    svc.refresh()


# ---------------------------------------------------------------------------
# deterministic exact-match tie-break (ADVICE r4 #3)
# ---------------------------------------------------------------------------


def test_page_id_exact_tie_breaks_on_min_id_both_paths(spark):
    svc = LinkGraphService(catalog=None)
    # duplicate exact paths, deliberately inserted in DESCENDING id order so
    # insertion-order would return 10, not the minimum
    dict_ds = _PinnedDataset(
        tables=None,
        lookup=None,
        by_fkey={"a": [(10, "A"), (3, "A"), (7, "a")]},
        by_id={},
        redirect_map=None,
    )
    assert svc._page_id(dict_ds, "A") == 3     # min over exact-case matches
    assert svc._page_id(dict_ds, "a") == 7     # exact still beats folded
    assert svc._page_id(dict_ds, "á") == 3     # no exact: min over all folded

    frame = spark.createDataFrame(
        [(10, "A", "a"), (3, "A", "a"), (7, "a", "a")],
        "page_id long, path string, fkey string",
    )
    frame_ds = _PinnedDataset(
        tables=None, lookup=frame, by_fkey=None, by_id=None, redirect_map=None
    )
    assert svc._page_id(frame_ds, "A") == 3
    assert svc._page_id(frame_ds, "a") == 7
    assert svc._page_id(frame_ds, "á") == 3


# ---------------------------------------------------------------------------
# unrolled-fixpoint oracle margin guard (VERDICT r4 #8)
# ---------------------------------------------------------------------------


def test_oracle_fixpoint_guard_detects_under_convergence():
    """The gate's fixpoint check must fail an under-unrolled oracle loudly
    (instead of letting it masquerade as an engine mismatch) and pass the
    registered round counts at test scale."""
    import os
    import sys

    import duckdb

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    import oracle_gate

    import __spark_entry__ as entrymod

    fixpoints = entrymod.oracle_fixpoints()
    oracles = entrymod.oracle_sql()
    # every fixpoint twin guards a registered oracle and differs from it
    assert set(fixpoints) <= set(oracles)
    for name, sql in fixpoints.items():
        assert sql != oracles[name]

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'")
        from __spark_entry__ import _cc_minprop_oracle

        # 1 round cannot reach the copurchase components' fixpoint: the guard
        # must report under-convergence (rounds=2 changes the answer) ...
        r1 = con.execute(_cc_minprop_oracle(rounds=1)).fetchall()
        assert not oracle_gate.fixpoint_holds(con, r1, _cc_minprop_oracle(rounds=2))
        # ... and the REGISTERED margin must hold at this scale
        registered = con.execute(oracles["cc_copurchase"]).fetchall()
        assert oracle_gate.fixpoint_holds(con, registered, fixpoints["cc_copurchase"])
    finally:
        con.close()


# ---------------------------------------------------------------------------
# driver-side BFS fast lane: whole request = zero Spark jobs (serve parity)
# ---------------------------------------------------------------------------


def test_driver_bfs_matches_distributed_on_random_graphs(spark, edges_df):
    """shortest_paths_driver must be decision-for-decision identical to the
    distributed operator: full Paths equality (links, count, length, flags)
    over random graphs and endpoints."""
    import random

    from wikipath_spark.operators.bfs import shortest_paths, shortest_paths_driver

    rng = random.Random(20260817)
    for trial in range(12):
        n = rng.randint(5, 16)
        m = rng.randint(n, 3 * n)
        edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        adj_out: dict = {}
        adj_in: dict = {}
        for a, b in edges:
            adj_out.setdefault(a, []).append(b)
            adj_in.setdefault(b, []).append(a)
        # cached once per graph: shortest_paths reads a cached frame as is
        # instead of checkpointing the edge projection on every request
        e = edges_df(edges).persist()
        for _ in range(4):
            s, t = rng.randrange(n), rng.randrange(n)
            dist = shortest_paths(e, s, t).to_dict()
            drv = shortest_paths_driver(adj_out, adj_in, s, t).to_dict()
            assert drv == dist, f"trial {trial}: {s}->{t}\ndriver={drv}\ndist={dist}"
        e.unpersist()


def test_driver_bfs_redirect_dict(spark):
    from wikipath_spark.operators.bfs import shortest_paths_driver

    adj_out = {1: [2], 2: [3]}
    adj_in = {2: [1], 3: [2]}
    res = shortest_paths_driver(adj_out, adj_in, 9, 3, redirects={9: 1})
    assert res.source == 1 and res.source_is_redirect is True
    assert (res.length, res.count) == (2, 1)


def test_serve_request_runs_zero_spark_jobs_end_to_end(spark, catalog5):
    """Full LMDB-serving parity: for a small pinned dataset the ENTIRE
    shortest_paths request (resolution, BFS, DAG, counting, title mapping)
    runs without a single Spark job."""
    cat, commit = catalog5
    svc = LinkGraphService(cat)
    ds = svc._open("repoA", commit)  # pin (jobs allowed; outside the group)
    assert ds.adj_out is not None and ds.adj_in is not None
    sc = spark.sparkContext
    sc.setJobGroup("r5_full_request", "probe")
    try:
        out = svc.shortest_paths("repoA", commit, "src/pkg1/mod3.py", "src/pkg0/mod0.py")
    finally:
        sc.setJobGroup("r5_full_request_done", "done")
    assert out["count"] >= 1 and out["paths"]
    assert sc.statusTracker().getJobIdsForGroup("r5_full_request") == []
    svc.refresh()


def test_serve_driver_and_distributed_lanes_agree(spark, catalog5):
    cat, commit = catalog5
    fast = LinkGraphService(cat)
    slow = LinkGraphService(cat, driver_adjacency_max_edges=0)  # force BFS lane
    a = fast.shortest_paths("repoA", commit, _REDIRECT_SRC, "src/pkg0/mod0.py")
    b = slow.shortest_paths("repoA", commit, _REDIRECT_SRC, "src/pkg0/mod0.py")
    assert a == b
    fast.refresh()
    slow.refresh()


def test_concurrent_opens_single_pin(spark, catalog5):
    """Concurrent requests for the same dataset must resolve to ONE pin
    (the lock serializes pin-state transitions, like the reference's serve
    loop sharing one opened DB across requests)."""
    import threading

    cat, commit = catalog5
    svc = LinkGraphService(cat)
    seen = []
    errors = []

    def worker():
        try:
            seen.append(svc._open("repoA", commit))
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    threads = [threading.Thread(target=worker) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert len({id(ds) for ds in seen}) == 1, "racing opens created duplicate pins"
    assert len(svc._pinned) == 1
    svc.refresh()


def test_hot_reload_check_is_debounced(spark, catalog5):
    """Within reload_check_interval_s a pinned dataset is trusted without
    re-walking its directory (the reference's watcher is debounced); after
    the interval the rewrite is picked up."""
    import wikipath_spark.api as api_mod

    cat, commit = catalog5
    svc = LinkGraphService(cat, reload_check_interval_s=3600.0)
    ds = svc._open("repoA", commit)
    calls = []
    orig = api_mod._dataset_snapshot

    def counting_snapshot(base):
        calls.append(base)
        return orig(base)

    api_mod._dataset_snapshot = counting_snapshot
    try:
        for _ in range(5):
            assert svc._open("repoA", commit) is ds
        assert calls == [], "debounce window must skip the per-request walk"
        # monotonic() is time-since-boot on Linux — subtract past the
        # interval instead of assuming 0.0 is "long ago"
        import time as _time

        ds.checked_at = _time.monotonic() - (svc.reload_check_interval_s + 1)
        assert svc._open("repoA", commit) is ds  # unchanged data: same pin
        assert len(calls) == 1
    finally:
        api_mod._dataset_snapshot = orig
        svc.refresh()


def test_inflight_request_survives_retirement(spark, catalog5):
    """A hot-reload/eviction while a request is in flight must RETIRE the
    pin without unpersisting frames the request still reads; the frames
    release when the last holder exits (the reference's atomic swap keeps
    the old DB alive for open handles).  A frame pin: a small pin persists
    nothing."""
    cat, commit = catalog5
    svc = LinkGraphService(cat, driver_index_max_rows=0)
    with svc._checkout("repoA", commit) as ds:
        assert ds.refs == 1
        svc.refresh()  # concurrent swap: retires every pin
        assert ds.retired
        # frames must still be cached for the in-flight query
        assert ds.tables.edges.storageLevel.useMemory
        assert ds.lookup.storageLevel.useMemory
    # last holder gone: released
    assert ds.refs == 0
    assert not ds.tables.edges.storageLevel.useMemory


def test_cold_open_does_not_hold_the_lock(spark, catalog5):
    """A cold open must not serialize requests for OTHER already-pinned
    datasets: while repoB builds (slow), a fast-lane probe of pinned repoA
    completes."""
    import threading
    import time as _time

    cat, commit = catalog5
    svc = LinkGraphService(cat)
    svc._open("repoA", commit)  # pin the fast lane
    orig_build = svc._build_pin
    entered = threading.Event()
    release = threading.Event()

    def slow_build(tables, snapshot):
        entered.set()
        release.wait(30)
        return orig_build(tables, snapshot)

    svc._build_pin = slow_build
    t = threading.Thread(target=lambda: svc._open("repoB", commit))
    t.start()
    try:
        assert entered.wait(30), "builder never started"
        t0 = _time.monotonic()
        out = svc.shortest_paths("repoA", commit, "src/pkg1/mod3.py", "src/pkg0/mod0.py")
        dt = _time.monotonic() - t0
        assert out["count"] >= 1
        assert dt < 5, f"fast-lane request stalled {dt:.1f}s behind a cold open"
    finally:
        release.set()
        t.join()
        svc._build_pin = orig_build
        svc.refresh()

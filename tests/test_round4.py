"""Round-4 regression tests: the round-3 ADVICE items (word_ngrams short-doc
crash, serve LRU cap) plus the serve-path point-lookup shape (driver-side
dict index — LMDB point-read parity, reference database.rs:199-205)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikipath_spark import operators as ops
from wikipath_spark.api import LinkGraphService
from wikipath_spark.operators.dedup import contamination_pairs, word_ngrams
from wikipath_spark.plans.build import build_graph
from wikipath_spark.plans.catalog import DatasetCatalog
from wikipath_spark.sources.synthetic import synthetic_repos


# --- word_ngrams: documents shorter than n must not crash (ADVICE high) ----


def test_word_ngrams_short_and_empty_docs(spark):
    # sequence(1, 0) is DESCENDING in Spark; un-guarded slice(toks, 0, n)
    # threw INVALID_PARAMETER_VALUE.START on any doc with < n tokens
    df = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "exactly five tokens right here"),
         (4, "a b c d e f g")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.g for r in df.select(
        "doc_id", word_ngrams(F.col("text"), 5).alias("g")).collect()}
    assert out[1] == [] and out[2] == []
    assert out[3] == ["exactly five tokens right here"]
    assert len(out[4]) == 3


def test_contamination_tolerates_short_docs(spark):
    corpus = spark.createDataFrame(
        [(1, "tiny"), (2, ""), (3, "shared five gram sequence here indeed")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(101, "shared five gram sequence here")], ["doc_id", "text"]
    )
    rows = contamination_pairs(corpus, bench, min_shared=1).collect()
    assert [(r.doc_id, r.bench_id) for r in rows] == [(3, 101)]


# --- serve path: driver-side point index + LRU pin cap ---------------------


@pytest.fixture(scope="module")
def catalog(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("warehouse_r4"))
    g = build_graph(spark, synthetic_repos(spark, classes_per_repo=100, repos=1))
    commit = g.pages.select("commit").first().commit
    cat = DatasetCatalog(spark, root)
    cat.save("repoA", commit, g)
    cat.save("repoB", commit, g)
    cat.save("repoC", commit, g)
    return cat, commit


def test_point_lookup_runs_zero_spark_jobs(spark, catalog):
    """Reference parity: a pinned small dataset serves title→id and id→title
    from a driver-side dict (LMDB B-tree point read, database.rs:199-205) —
    ZERO Spark jobs per probe, not even an in-memory columnar scan."""
    cat, commit = catalog
    svc = LinkGraphService(cat)
    ds = svc._open("repoA", commit)          # pin (runs jobs; outside group)
    assert ds.by_fkey is not None and ds.by_id is not None
    sc = spark.sparkContext
    sc.setJobGroup("r4_point_lookup", "probe")
    try:
        pid = svc._page_id(ds, "src/pkg1/mod3.py")
        missing = svc._page_id(ds, "nope.py")
    finally:
        sc.setJobGroup("r4_point_lookup_done", "done")
    assert pid is not None and missing is None
    assert sc.statusTracker().getJobIdsForGroup("r4_point_lookup") == []
    svc.refresh()


def test_point_lookup_case_fold_matches_spark_fkey(spark, catalog):
    """The driver-side fold twin must agree with the Spark fkey column —
    case/accent-mangled queries resolve identically to round 3."""
    cat, commit = catalog
    svc = LinkGraphService(cat)
    out = svc.shortest_paths("repoA", commit, "SRC/Pkg1/MOD3.PY", "src/pkg0/mod0.py")
    assert out["length"] == 1 and out["count"] == 1
    assert out["paths"] == [["src/pkg1/mod3.py", "src/pkg0/mod0.py"]]
    svc.refresh()


def test_large_dataset_falls_back_to_pinned_frame_probe(spark, catalog):
    cat, commit = catalog
    svc = LinkGraphService(cat, driver_index_max_rows=0)  # force the big path
    ds = svc._open("repoA", commit)
    assert ds.by_fkey is None and ds.by_id is None
    assert svc._page_id(ds, "src/pkg1/mod3.py") is not None
    assert svc._page_id(ds, "nope.py") is None
    out = svc.shortest_paths("repoA", commit, "src/pkg1/mod3.py", "src/pkg0/mod0.py")
    assert out["length"] == 1
    svc.refresh()


def test_pinned_lru_evicts_and_unpersists(spark, catalog):
    """ADVICE: _pinned must not grow without bound — the oldest dataset is
    evicted AND its frames unpersisted when the cap is hit (the reference
    keeps only the live datasets open, serve.rs:68-100).  Frame pins: a
    small pin persists nothing."""
    cat, commit = catalog
    svc = LinkGraphService(cat, max_pinned=2, driver_index_max_rows=0)
    a = svc._open("repoA", commit)
    b = svc._open("repoB", commit)
    # touching A makes B the LRU entry
    svc._open("repoA", commit)
    svc._open("repoC", commit)
    assert set(svc._pinned) == {("repoA", commit), ("repoC", commit)}
    # evicted B's frames are actually unpersisted (not merely dropped from
    # the dict — the whole point of the ADVICE item is executor storage)
    assert not b.lookup.storageLevel.useMemory
    assert not b.tables.edges.storageLevel.useMemory
    assert not b.tables.redirects.storageLevel.useMemory
    # surviving A's remain pinned
    assert a.lookup.storageLevel.useMemory
    svc.refresh()
    assert not svc._pinned
    assert not a.lookup.storageLevel.useMemory


# --- wall-clock budgets on the batched/analytics loops (VERDICT item 4) ----


def test_budget_s_on_iterative_loops(spark, edges_df):
    """Every iterative entry point honors budget_s (serve.rs:203-206 parity):
    a zero budget raises QueryBudgetExceeded at the first superstep boundary."""
    import pytest as _pytest

    from wikipath_spark.operators.bfs import (
        QueryBudgetExceeded,
        bfs_distances,
        multi_source_bfs,
    )
    from wikipath_spark.operators.components import connected_components
    from wikipath_spark.operators.kcore import coreness, k_core
    from wikipath_spark.operators.labelprop import label_propagation
    from wikipath_spark.operators.pagerank import pagerank

    df = edges_df([(1, 2), (2, 3), (3, 1), (3, 4)])
    for fn in (
        lambda: multi_source_bfs(df, [1, 2], budget_s=0.0),
        lambda: bfs_distances(df, 1, budget_s=0.0),
        lambda: k_core(df, k=2, budget_s=0.0),
        lambda: coreness(df, budget_s=0.0),
        lambda: pagerank(df, budget_s=0.0),
        lambda: connected_components(df, budget_s=0.0),
        lambda: label_propagation(df, budget_s=0.0),
    ):
        with _pytest.raises(QueryBudgetExceeded):
            fn()


@pytest.mark.parametrize(
    "run",
    [
        lambda df: ops.pagerank(df, budget_s=0.0),
        lambda df: ops.pagerank_multi(df, [1, 2], budget_s=0.0),
        lambda df: ops.label_propagation(df, budget_s=0.0),
        lambda df: ops.connected_components(df, budget_s=0.0),
        lambda df: ops.k_core(df, k=2, budget_s=0.0),
        lambda df: ops.coreness(df, budget_s=0.0),
    ],
    ids=[
        "pagerank", "pagerank_multi", "label_propagation",
        "connected_components", "k_core", "coreness",
    ],
)
def test_budget_timeout_does_not_leak_persisted_frames(spark, edges_df, run):
    """A budget abort mid-loop must release the loop's frames (static frames
    such as contrib edges and vertex flags, and the current state) — a
    long-lived serve session would otherwise accumulate executor storage per
    timed-out query."""
    from wikipath_spark.operators.bfs import QueryBudgetExceeded

    sc = spark.sparkContext

    def persisted_ids():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    df = edges_df([(i, (i * 7) % 50) for i in range(200)])
    spark.catalog.clearCache()
    before = persisted_ids()
    with pytest.raises(QueryBudgetExceeded):
        run(df)
    after = persisted_ids()
    assert after <= before, f"leaked persisted RDDs: {after - before}"


def test_budget_s_on_driver_lanes(spark, tmp_path):
    """The driver lanes (taken for a parquet input's small size estimate)
    honor budget_s like the distributed loops: a zero budget raises."""
    from wikipath_spark.operators.bfs import QueryBudgetExceeded, multi_source_bfs

    path = str(tmp_path / "budget_edges.parquet")
    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    for fn in (
        lambda: ops.pagerank(df, budget_s=0.0),
        lambda: ops.connected_components(df, budget_s=0.0),
        lambda: ops.bfs_distances(df, 1, budget_s=0.0),
        lambda: multi_source_bfs(df, [1, 2], budget_s=0.0),
        lambda: ops.label_propagation(df, budget_s=0.0),
    ):
        with pytest.raises(QueryBudgetExceeded):
            fn()


def test_checkpoint_save_is_two_jobs(spark, edges_df, tmp_path):
    """VERDICT item: a durable checkpoint costs exactly TWO jobs — the state
    write and ONE verified re-read pass (manifest + observed row count for
    _COMMITTED riding the same action); the old separate count() job is gone."""
    from wikipath_spark.plans.checkpoint import CheckpointManager

    df = edges_df([(i, i + 1) for i in range(50)]).localCheckpoint(eager=True)
    mgr = CheckpointManager(str(tmp_path), "jobs")
    mgr.save(1, df, 0.0)  # warm (committers/codecs init)
    sc = spark.sparkContext
    # AQE splits one action into a job per materialized shuffle stage — turn
    # it off so the job count is deterministic (same caveat as the BFS
    # job-count test in test_round3)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("r4_ckpt_jobs", "probe")
    try:
        out = mgr.save(2, df, 0.0)
    finally:
        sc.setJobGroup("r4_ckpt_jobs_done", "done")
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert out["rows"] == 50
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("r4_ckpt_jobs"))
    assert n_jobs == 2, f"checkpoint save ran {n_jobs} jobs, want 2"
    # and the fused save still round-trips through the verifying loader
    state, metric = mgr.load(spark, 2)
    assert state.count() == 50 and metric == 0.0


def test_repetition_stats_handcrafted(spark):
    """Gopher repetition gate on constructed documents with known answers."""
    from wikipath_spark.functions.text import repetition_stats

    docs = spark.createDataFrame(
        [
            # 4 non-blank lines, 2 of them duplicates of each other;
            # 7 tokens => 6 2-grams; "the cat" and "cat the" each ×2
            (1, "the cat\nthe cat\n\n  \nthe dog\nend"),
            (2, ""),                        # nothing at all
            (3, "one"),                     # 1 line, 1 token, no 2-grams
            (4, "a a a a"),                 # "a a" ×3
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert (out[1].lines, out[1].dup_lines) == (4, 1)
    assert (out[1].ngrams2, out[1].top2_count) == (6, 2)
    assert (out[2].lines, out[2].dup_lines, out[2].ngrams2, out[2].top2_count) == (0, 0, 0, 0)
    assert (out[3].lines, out[3].ngrams2, out[3].top2_count) == (1, 0, 0)
    assert (out[4].ngrams2, out[4].top2_count) == (3, 3)


def test_pii_redaction_planted(spark):
    """Planted-PII unit test: counts and the scrubbed text itself."""
    from wikipath_spark.functions.text import pii_stats, redact_pii

    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.com and 192.168.1.250 or 555-867-5309 ok"),
         (2, "clean text, no pii at all"),
         (3, "two mails a@b.io c@d.org one ip 8.8.8.8")],
        ["doc_id", "text"],
    )
    stats = pii_stats(F.col("text"))
    out = {r.doc_id: r for r in df.select(
        "doc_id",
        stats["email"].alias("e"), stats["ipv4"].alias("i"), stats["phone"].alias("p"),
        redact_pii(F.col("text")).alias("red"),
    ).collect()}
    assert (out[1].e, out[1].i, out[1].p) == (1, 1, 1)
    assert out[1].red == "mail <EMAIL> and <IPV4> or <PHONE> ok"
    assert (out[2].e, out[2].i, out[2].p) == (0, 0, 0)
    assert out[2].red == "clean text, no pii at all"
    assert (out[3].e, out[3].i, out[3].p) == (2, 1, 0)


def test_domain_filter_planted(spark):
    from wikipath_spark.functions.text import domain_filter

    df = spark.createDataFrame(
        [(1, "links https://bad.example.com/a and http://good.org/b"),
         (2, "no urls here"),
         (3, "https://good.org https://bad.example.com http://bad.example.com")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in domain_filter(df, ["bad.example.com"]).collect()}
    assert (out[1].domains_n, out[1].blocked_n, out[1].keep) == (2, 1, False)
    assert (out[2].domains_n, out[2].blocked_n, out[2].keep) == (0, 0, True)
    assert (out[3].domains_n, out[3].blocked_n, out[3].keep) == (3, 2, False)

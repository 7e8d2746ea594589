"""Build-pipeline semantics on the synthetic table: dangling refs dropped,
self-links dropped, duplicates deduped, aliases resolved, ids dense; and the
driver lane against the distributed one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import wikipath_spark.plans.build as build_mod
from wikipath_spark.operators._loop import DRIVER_THRESHOLD_BYTES, estimated_bytes
from wikipath_spark.plans.build import build_graph
from wikipath_spark.sources.synthetic import (
    expected_alias_resolution,
    synthetic_repos,
)


@pytest.fixture(scope="module")
def graph(spark):
    repos = synthetic_repos(spark, classes_per_repo=100, repos=2)
    g = build_graph(spark, repos, with_stats=True)
    g.edges = g.edges.persist()
    return g


def test_counts(graph):
    # 2 repos × 100 classes × 3 langs; 8 alias roles per 100 classes
    assert graph.stats["pages"] == 600
    assert graph.stats["aliases"] == 48


def test_ids_dense(graph):
    n = graph.pages.count()
    agg = graph.pages.agg(
        F.min("page_id").alias("lo"),
        F.max("page_id").alias("hi"),
        F.countDistinct("page_id").alias("d"),
    ).collect()[0]
    assert (agg.lo, agg.hi, agg.d) == (0, n - 1, n)


def test_compressed_aliases_match_oracle(spark, graph):
    """The surviving alias map must be exactly the chain roles 90,91,92 → 95
    per class group (expected_alias_resolution), for every repo and lang."""
    exp = expected_alias_resolution(100)
    surviving = {q for q, t in exp.items() if t is not None}
    # join redirects back to paths
    p = graph.pages.select("page_id", "repo", "path")
    r = (
        graph.redirects.join(p.withColumnRenamed("page_id", "src"), "src")
        .withColumnRenamed("path", "src_path")
        .withColumnRenamed("repo", "src_repo")
        .join(
            graph.pages.select(F.col("page_id").alias("dst"), F.col("path").alias("dst_path")),
            "dst",
        )
        .collect()
    )
    # every surviving redirect flattens a chain class to mod{…95…}
    assert len(r) == len(surviving) * 3 * 2  # roles × langs × repos
    for row in r:
        src_mod = int(row.src_path.split("mod")[1].split(".")[0])
        dst_mod = int(row.dst_path.split("mod")[1].split(".")[0])
        q_src, q_dst = src_mod // 3, dst_mod // 3
        assert q_src % 100 in (90, 91, 92)
        assert exp[q_src] == q_dst


def test_no_self_edges_no_dupes(graph):
    assert graph.edges.filter("src = dst").count() == 0
    n = graph.edges.count()
    assert graph.edges.dropDuplicates(["src", "dst"]).count() == n


def test_no_dangling_endpoints(graph):
    ids = graph.pages.select("page_id")
    for c in ("src", "dst"):
        bad = graph.edges.join(ids, graph.edges[c] == ids["page_id"], "left_anti")
        assert bad.count() == 0


def test_no_edges_into_compressed_alias_sources(graph):
    """After resolution no edge may point at a surviving alias source —
    those pages were compressed away as link targets (parse.rs:360-361)."""
    srcs = graph.redirects.select(F.col("src").alias("page_id"))
    assert graph.edges.join(srcs, graph.edges["dst"] == srcs["page_id"], "left_semi").count() == 0


def test_hub_skew_present(graph):
    """Per-lang hub (class 0) must dominate in-degree — the skew fixture."""
    deg = graph.edges.groupBy("dst").count()
    top = deg.orderBy(F.desc("count")).limit(6).collect()
    med = deg.approxQuantile("count", [0.5], 0.0)[0]
    assert top[0]["count"] > 10 * med


# ------------------------------------------------------------ driver lane

SOURCE = "repo string, path string, commit string, lang string, content string"


def _py(rows):
    """``(repo, path, content)`` triples as source rows of Python files."""
    return [(repo, path, "c0", "py", content) for repo, path, content in rows]


def _ref(*paths):
    return "".join(f"from {p[:-3].replace('/', '.')} import *\n" for p in paths)


def _alias(path):
    return f"from {path[:-3].replace('/', '.')} import *  # reexport\n"


BUILD_CASES = {
    "graph": _py([
        # alias chain c1 -> c2 -> c3 (flattens to c3)
        ("r0", "c1.py", _alias("c2.py")),
        ("r0", "c2.py", _alias("c3.py")),
        ("r0", "c3.py", _ref("a.py")),
        # alias cycle, a tail into it, a self-redirect, a dangling alias target
        ("r0", "y1.py", _alias("y2.py")),
        ("r0", "y2.py", _alias("y1.py")),
        ("r0", "t.py", _alias("y1.py")),
        ("r0", "s.py", _alias("s.py")),
        ("r0", "d.py", _alias("nowhere.py")),
        # duplicate refs, a self-link, a dangling ref, refs into aliases
        ("r0", "a.py", _ref("b.py", "b.py", "a.py", "missing.py", "c1.py", "y1.py", "s.py")),
        ("r0", "b.py", _ref("a.py", "d.py", "t.py")),
        # the same paths in a second repo resolve within that repo
        ("r1", "a.py", _ref("b.py", "c3.py")),
        ("r1", "b.py", _ref("a.py")),
        # a truncated row: its late ref is beyond the scan budget
        ("r1", "big.py", _ref("a.py") + "z" * 4_000_001 + "\n" + _ref("b.py")),
    ]),
    "empty": [],
}


@pytest.fixture()
def lane_runs(monkeypatch):
    """Results of the build's driver lane: True when it built the graph,
    False when it declined."""
    runs = []
    real = build_mod._driver_build

    def spy(*a, **kw):
        out = real(*a, **kw)
        runs.append(out is not None)
        return out

    monkeypatch.setattr(build_mod, "_driver_build", spy)
    return runs


def _tables(g):
    return (
        g.pages.schema,
        sorted(g.pages.collect()),
        sorted(g.redirects.collect()),
        sorted(g.edges.collect()),
        g.stats,
    )


@pytest.mark.parametrize("case", list(BUILD_CASES))
def test_build_driver_lane_matches_distributed(spark, parquet, lane_runs, case):
    """Parquet input (driver lane) and the same rows as a createDataFrame
    list (distributed lane) give identical pages (every column, its
    nullability, the page_id of each (repo, path)), redirects, edges and
    stats."""
    rows = BUILD_CASES[case]
    fast = build_graph(spark, parquet("src", rows, SOURCE), with_stats=True)
    assert lane_runs == [True]
    slow = build_graph(spark, spark.createDataFrame(rows, SOURCE), with_stats=True)
    assert lane_runs == [True]
    assert _tables(fast) == _tables(slow)
    for t in (fast.edges, fast.redirects):
        assert estimated_bytes(t) <= DRIVER_THRESHOLD_BYTES
    if case == "graph":
        ids = {(r.repo, r.path): r.page_id for r in fast.pages.collect()}
        assert sorted(ids.values()) == list(range(len(rows)))
        assert {(r.src, r.dst) for r in fast.redirects.collect()} == {
            (ids["r0", "c1.py"], ids["r0", "c3.py"]),
            (ids["r0", "c2.py"], ids["r0", "c3.py"]),
        }
        assert fast.stats["truncated_rows"] == 1
        # missing.py, nowhere.py (an alias line is also a ref) and r1's c3.py
        assert fast.stats["dangling_dropped"] == 3


def test_build_driver_lane_conflicts(spark, parquet, lane_runs):
    """check_conflicts raises the distributed lane's message on the driver
    lane; without the check, duplicate (repo, path) rows go distributed."""
    rows = _py([
        ("r0", "a.py", _ref("b.py")), ("r0", "b.py", ""), ("r0", "a.py", ""), ("r0", "a.py", "x = 1\n"),
    ])
    on_disk, listed = parquet("src", rows, SOURCE), spark.createDataFrame(rows, SOURCE)
    messages = []
    for src in (on_disk, listed):
        with pytest.raises(ValueError, match="conflicting source rows") as err:
            build_graph(spark, src)
        messages.append(str(err.value))
    assert messages[0] == messages[1] == "conflicting source rows: (r0, a.py) appears 3 times"
    g = build_graph(spark, on_disk, check_conflicts=False)
    assert lane_runs == [False]
    assert g.pages.count() == 4
    assert sorted(r.page_id for r in g.pages.collect()) == [0, 1, 2, 3]


def test_build_driver_lane_above_local_relation_threshold(spark, parquet, lane_runs):
    """Arrow tables above spark.sql.execution.arrow.localRelationThreshold
    come back as an RDD of unknown size; the lane persists and counts them,
    so the operators' driver lanes still see a real estimate."""
    rows = BUILD_CASES["graph"]
    src = parquet("src", rows, SOURCE)
    want = _tables(build_graph(spark, src, with_stats=True))
    assert not build_graph(spark, src).edges.storageLevel.useMemory
    conf = "spark.sql.execution.arrow.localRelationThreshold"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        g = build_graph(spark, src, with_stats=True)
    finally:
        spark.conf.set(conf, saved)
    assert lane_runs == [True, True, True]
    for t in (g.edges, g.redirects):
        assert t.storageLevel.useMemory
        assert estimated_bytes(t) <= DRIVER_THRESHOLD_BYTES
    assert _tables(g) == want

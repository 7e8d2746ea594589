"""End-to-end service API tests: build → catalog → query by path strings,
mirroring the reference's serve endpoints (serve.rs:194-209)."""

from __future__ import annotations

import pytest

from wikipath_spark.api import LinkGraphService, _fold_key
from wikipath_spark.operators._loop import persistent_rdd_ids
from wikipath_spark.plans.build import build_graph
from wikipath_spark.plans.catalog import DatasetCatalog
from wikipath_spark.sources.synthetic import synthetic_repos


@pytest.fixture(scope="module")
def service(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("warehouse"))
    g = build_graph(spark, synthetic_repos(spark, classes_per_repo=100, repos=1))
    commit = g.pages.select("commit").first().commit
    cat = DatasetCatalog(spark, root)
    cat.save("repo00", commit, g)
    return LinkGraphService(cat), commit


def test_list_datasets(service):
    svc, commit = service
    assert svc.list_datasets() == [
        {"repo": "repo00", "commit": commit, "name": f"wp-repo00-{commit}"}
    ]


def test_shortest_paths_by_title(service):
    svc, commit = service
    # every plain file references its language hub (class 0): mod3 (q=1,py)
    # → mod0 (q=0,py) is a direct link
    out = svc.shortest_paths("repo00", commit, "src/pkg1/mod3.py", "src/pkg0/mod0.py")
    assert out["length"] == 1 and out["count"] == 1
    assert out["paths"] == [["src/pkg1/mod3.py", "src/pkg0/mod0.py"]]
    assert out["repo"] == "repo00" and out["commit"] == commit


def test_shortest_paths_through_alias(service):
    svc, commit = service
    # q=90 is an alias chain head (90→91→92→95): querying the alias path
    # resolves to the terminal (source_is_redirect semantics, search.rs:27-32)
    alias_path = "src/pkg10/mod270.py"    # q=90, r=0
    out = svc.shortest_paths("repo00", commit, alias_path, alias_path)
    assert out["source_is_redirect"] and out["target_is_redirect"]
    assert out["length"] == 0 and out["count"] == 1
    assert out["source"] == "src/pkg15/mod285.py"  # q=95 terminal

def test_unknown_title(service):
    svc, commit = service
    out = svc.shortest_paths("repo00", commit, "nope.py", "src/pkg0/mod0.py")
    assert out["count"] == 0 and out["paths"] == []


def test_case_insensitive_title_lookup(service):
    """Path lookup folds case and accents like the reference frontend's title
    comparison (web/src/misc.ts:13-15): a case-mangled query still resolves."""
    svc, commit = service
    out = svc.shortest_paths("repo00", commit, "SRC/Pkg1/MOD3.PY", "src/pkg0/mod0.py")
    assert out["length"] == 1 and out["count"] == 1
    assert out["paths"] == [["src/pkg1/mod3.py", "src/pkg0/mod0.py"]]


def test_query_budget_exceeded(service):
    from wikipath_spark.operators.bfs import QueryBudgetExceeded

    svc, commit = service
    with pytest.raises(QueryBudgetExceeded):
        svc.shortest_paths(
            "repo00", commit, "src/pkg1/mod3.py", "src/pkg12/mod132.py", budget_s=0.0
        )


def test_repeated_lookups_probe_pinned_frame(service):
    """Serve-path shape (reference: LMDB point lookups, serve.rs:68-100):
    after the first request pins a dataset too large for the driver index,
    title->id probes scan the persisted in-memory frame — the plan shows an
    InMemoryTableScan and NO parquet FileScan."""
    import contextlib
    import io

    small, commit = service
    svc = LinkGraphService(small.catalog, driver_index_max_rows=0)  # a frame pin
    svc.shortest_paths("repo00", commit, "src/pkg1/mod3.py", "src/pkg0/mod0.py")
    ds = svc._pinned[("repo00", commit)]
    from pyspark.sql import functions as F
    from wikipath_spark.functions.text import fold_accents

    probe = ds.lookup.filter(
        F.col("fkey") == F.lower(fold_accents(F.lit("src/pkg1/mod3.py")))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    # the executing leaf is the in-memory cache (the InMemoryRelation block
    # also PRINTS its defining parquet lineage, but that child only runs on
    # a cache miss — the persisted+counted frame is fully materialized)
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert ds.lookup.storageLevel.useMemory
    svc.refresh()


def test_refresh_unpins_datasets(service):
    svc, commit = service
    svc.shortest_paths("repo00", commit, "src/pkg1/mod3.py", "src/pkg0/mod0.py")
    assert svc._pinned
    svc.refresh()
    assert not svc._pinned
    # service still answers after a refresh (re-opens from storage)
    out = svc.shortest_paths("repo00", commit, "src/pkg1/mod3.py", "src/pkg0/mod0.py")
    assert out["length"] == 1 and out["count"] == 1


# ASCII case, Latin-1 accents and non-Latin letters
_FOLD_TITLES = [
    "src/Pkg1/MOD3.PY", "Café_Ünïcode.md", "ÀÉÎÕÜ/ñ/ç.txt", "ÿŸ", "K_Å_Ω",
    "ÆØÅ_æøå_ß_Ð_Þ", "Ωμέγα/ΟΔΟΣ.py", "ΣΑΣ Σ", "Москва/Ёлка.rs",
    "İstanbul/ı.go", "ẞtraße", "ǅ_ǈ_ǋ",
]


def test_fold_key_matches_spark_fkey(spark):
    """The pin folds its index keys on the driver with ``_fold_key``, the
    twin of Spark's ``lower(fold_accents(path))``.  No divergence on these
    titles: letters outside the translate table (æ, ø, ß, ð, þ) stay
    unfolded on both sides, and Greek (final sigma included), Cyrillic,
    dotted İ, ẞ and the titlecase digraphs lowercase alike."""
    from pyspark.sql import functions as F

    from wikipath_spark.functions.text import fold_accents

    rows = (
        spark.createDataFrame([(t,) for t in _FOLD_TITLES], "p string")
        .select("p", F.lower(fold_accents(F.col("p"))).alias("k"))
        .collect()
    )
    assert {r.p: r.k for r in rows} == {t: _fold_key(t) for t in _FOLD_TITLES}


def test_folded_requests_agree_on_small_and_frame_pins(service):
    """Upper-cased and accented requests get identical responses from a pin
    indexed on the driver and from a frame pin probing the Spark fkey.  The
    frame pin runs the distributed BFS, so it gets no wall-clock budget."""
    small, commit = service
    frame = LinkGraphService(small.catalog, budget_s=None, driver_index_max_rows=0)
    requests = [
        ("SRC/PKG1/MOD3.PY", "src/pkg0/mod0.py"),
        ("src/pkg1/mód3.py", "SRC/PKG12/MÓD132.PY"),
        ("SRC/PKG10/MÖD270.PY", "src/pkg0/mod0.py"),  # an alias source
    ]
    try:
        for source, target in requests:
            want = frame.shortest_paths("repo00", commit, source, target)
            assert want["count"] >= 1
            assert small.shortest_paths("repo00", commit, source, target) == want
    finally:
        frame.refresh()


def test_small_pin_persists_nothing(spark, service):
    """A pin within the driver caps is built from Arrow collects: opening it
    and releasing it add no persisted RDD."""
    small, commit = service
    svc = LinkGraphService(small.catalog)
    before = persistent_rdd_ids(spark)
    ds = svc._open("repo00", commit)
    assert ds.adj_out is not None and ds.frames == ()
    assert persistent_rdd_ids(spark) - before == set()
    svc.refresh()
    assert ds.retired and persistent_rdd_ids(spark) - before == set()

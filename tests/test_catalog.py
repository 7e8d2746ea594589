"""Catalog/serve-surface tests: dataset naming, listing, exact lookup (J9),
version ordering (F4), retention GC (S8), and the write sinks (S6/S7)."""

from __future__ import annotations

import os

import pytest

from wikipath_spark.plans.build import build_graph
from wikipath_spark.plans.catalog import (
    DatasetCatalog,
    dataset_name,
    is_newer,
    parse_dataset_name,
)
from wikipath_spark.sources.synthetic import synthetic_repos


def test_name_roundtrip():
    assert dataset_name("repo00", "ab12") == "wp-repo00-ab12"
    assert parse_dataset_name("wp-repo00-ab12") == ("repo00", "ab12")
    assert parse_dataset_name("not-a-dataset") is None
    assert parse_dataset_name("wp-x-NOTHEX") is None
    assert is_newer("2024b", "2024a")


@pytest.fixture(scope="module")
def built(spark):
    return build_graph(spark, synthetic_repos(spark, classes_per_repo=100, repos=1), with_stats=True)


def test_build_stats_counters(built):
    s = built.stats
    assert s["pages"] == 300 and s["aliases"] == 24
    assert s["raw_refs"] > s["resolved_refs"] > 0
    assert s["dangling_dropped"] > 0
    assert s["edges"] > 0


def test_catalog_save_list_get_vacuum(spark, built, tmp_path):
    cat = DatasetCatalog(spark, str(tmp_path))
    cat.save("repo00", "aaaa01", built)
    cat.save("repo00", "aaaa02", built)
    cat.save("repo01", "bbbb01", built)
    listed = [(r.repo, r.commit) for r in cat.list_datasets().collect()]
    assert listed == [("repo00", "aaaa01"), ("repo00", "aaaa02"), ("repo01", "bbbb01")]
    assert cat.latest_commit("repo00") == "aaaa02"

    got = cat.get("repo00", "aaaa02")
    assert got.edges.count() == built.edges.count()
    assert got.pages.count() == built.pages.count()
    with pytest.raises(KeyError):
        cat.get("repo00", "ffffff")

    # foreign dir must never be vacuumed (misc.rs:9-36 semantics)
    os.makedirs(tmp_path / "unrelated-dir")
    removed = cat.vacuum(keep_latest=1)
    assert removed == ["wp-repo00-aaaa01"]
    assert (tmp_path / "unrelated-dir").is_dir()
    assert cat.latest_commit("repo00") == "aaaa02"


def test_catalog_get_runs_no_job_and_reads_back_the_rows(spark, built, tmp_path):
    """``get`` reads with the known table schemas, so it runs no Spark job
    (no parquet schema inference), and a saved dataset reads back with the
    same schema and rows."""
    cat = DatasetCatalog(spark, str(tmp_path))
    cat.save("repo00", "aaaa01", built)
    sc = spark.sparkContext
    sc.setJobGroup("catalog_get", "probe")
    try:
        got = cat.get("repo00", "aaaa01")
    finally:
        sc.setJobGroup("catalog_get_done", "done")
    assert sc.statusTracker().getJobIdsForGroup("catalog_get") == []
    for name in ("pages", "redirects", "edges"):
        want_df, got_df = getattr(built, name), getattr(got, name)
        assert got_df.columns == want_df.columns
        assert [f.dataType for f in got_df.schema] == [f.dataType for f in want_df.schema]
        assert sorted(map(tuple, got_df.collect())) == sorted(map(tuple, want_df.collect()))

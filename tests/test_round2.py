"""Round-2 hardening tests: SimHash and MinHash against DuckDB twins,
planted embedding near-duplicates, loop-conf restoration on failure,
checkpoint content verification, build conflict detection, extraction scan
budgets, adaptive dense-id sharding, and the incremental merge sink."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from wikipath_spark.functions.extract import extract_refs_sql, extract_refs_udf
from wikipath_spark.operators.dedup import minhash_signatures, simhash_fingerprints
from wikipath_spark.operators.similarity import embedding_near_dup_pairs
from wikipath_spark.plans import build as build_mod
from wikipath_spark.plans.build import assign_dense_ids, build_graph
from wikipath_spark.plans.checkpoint import CheckpointManager
from wikipath_spark.sources.tables import merge_upsert


# -------------------------------------------------- simhash/minhash twins


def _duck_rows(docs, sql: str) -> dict:
    """``{id: (values...)}`` of ``sql`` run by DuckDB over ``docs`` as the
    ``documents`` table."""
    con = duckdb.connect()
    try:
        con.register("documents", docs.toPandas())
        return {r[0]: tuple(r[1:]) for r in con.sql(sql).fetchall()}
    finally:
        con.close()


def test_simhash_array_equals_exploded(spark):
    """The shuffle-free array-aggregate SimHash (engine default) and the
    DuckDB explode+groupBy oracle must produce bit-identical fingerprints —
    the votes are exact integer sums, so aggregation order cannot matter.
    Zero-token docs fingerprint to 0 (the oracle's left join)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different content here entirely"),
            (4, "   ...   "),  # zero word tokens
            (5, ""),
        ],
        "doc_id long, text string",
    )
    arr = {r.id: r.simhash for r in simhash_fingerprints(docs).collect()}
    exp = {k: v for k, (v,) in _duck_rows(docs, entrymod.oracle_sql()["simhash"]).items()}
    assert set(arr) == {1, 2, 3, 4, 5}
    assert arr == exp
    assert arr[4] == 0 and arr[5] == 0


def test_minhash_pandas_equals_sql_fold(spark):
    """The Arrow minhash kernel and a DuckDB min-fold over the same distinct
    shingles must be bit-identical (same md5-chunk derivation, same
    permutation arithmetic from ``minhash_perm_sql``)."""
    k = 8
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "Pack my box with FIVE dozen liquor jugs!"),
            (3, 'include!("src/pkg0/mod0.rs"); // ünïcode tail'),
            (4, "abc"),  # shorter than n=4: dropped by both
        ],
        "doc_id long, text string",
    )
    a = {r.id: tuple(r[1:]) for r in minhash_signatures(docs, k=k).collect()}
    assert set(a) == {1, 2, 3} and a == _duck_rows(docs, entrymod._minhash_signatures_oracle(k))


# ------------------------------------------------- planted near-duplicates


def test_embedding_near_dup_finds_planted_pairs(spark):
    """Planted near-duplicate vectors must be recovered through the LSH
    bucket join; orthogonal vectors must not pair."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),     # orthogonal to 0/1
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 2.0, 0.002, 0.0]),   # near-dup of 2 (scaled + tiny noise)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(emb, threshold=0.95, planes=2).collect()
    }
    assert (0, 1) in got and got[(0, 1)] >= 0.99
    assert (2, 4) in got and got[(2, 4)] >= 0.99
    for pair in got:
        assert pair in {(0, 1), (2, 4)}, f"false positive {pair}"


def test_ivf_topk_recall_and_exactness(spark):
    """IVF with nprobe=1 on well-separated clusters recalls ≥90% of the
    exact neighbors; probing every list is exactly brute force."""
    from wikipath_spark.operators.similarity import cosine_topk, ivf_topk

    rows = []
    for c in range(4):
        base = [0.0] * 8
        base[c * 2] = 10.0
        for j in range(25):
            v = list(base)
            v[(c * 2 + 1) % 8] += 0.1 * j
            v[7 - c] += 0.05 * (j % 5)
            rows.append((c * 25 + j, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id % 10 = 0")
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=3).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=3, n_centroids=4, nprobe=1).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9
    # nprobe = n_centroids → candidate set is the whole corpus → exact
    full = {
        (r.query_id, r.neighbor_id, r.cosine)
        for r in ivf_topk(emb, queries, k=3, n_centroids=4, nprobe=4).collect()
    }
    exact_v = {
        (r.query_id, r.neighbor_id, r.cosine) for r in cosine_topk(emb, queries, k=3).collect()
    }
    assert full == exact_v


# ----------------------------------------------- loop confs survive failure


def test_pagerank_restores_confs_on_error(spark, edges_df):
    """An exception raised mid-loop (from the superstep hook) must not leak
    the loop's de-optimized confs (AQE off, shrunken shuffle partitions) into
    the shared session — loop_confs is a try/finally context."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.shuffle.partitions",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    from wikipath_spark.operators.pagerank import pagerank

    edges = edges_df([(0, 1), (1, 2), (2, 0), (0, 2)])

    def boom(i, ranks, delta):
        raise RuntimeError("superstep hook failure")

    with pytest.raises(RuntimeError, match="superstep hook failure"):
        pagerank(edges, max_iter=3, on_superstep=boom)
    for k, v in saved.items():
        assert spark.conf.get(k) == v, k


# ----------------------------------------------- checkpoint content verify


def test_checkpoint_detects_content_corruption(spark, tmp_path, edges_df):
    """Row-count-preserving corruption must fail load(verify=True): the
    manifest's order-insensitive checksum is recomputed and compared."""
    mgr = CheckpointManager(str(tmp_path), "run1")
    state = spark.createDataFrame(
        [(i, float(i) / 10) for i in range(100)], "page_id long, rank double"
    )
    mgr.save(3, state, 0.5)
    loaded, metric = mgr.load(spark, 3)
    assert loaded.count() == 100 and metric == 0.5

    # corrupt: same row count, different content
    state_dir = os.path.join(str(tmp_path), "run1", "superstep=3", "state")
    tampered = spark.createDataFrame(
        [(i, float(i) / 10 + 1.0) for i in range(100)], "page_id long, rank double"
    )
    tampered.write.mode("overwrite").parquet(state_dir)
    with pytest.raises(ValueError, match="checksum"):
        mgr.load(spark, 3)


# --------------------------------------------------- build conflict check


def test_build_graph_rejects_conflicting_paths(spark):
    """Duplicate (repo, path) source rows hard-fail the build — the
    reference's conflicting title→id error (parse.rs:203-209)."""
    rows = [
        ("r0", "a.py", "c0", "py", "from b import *\n"),
        ("r0", "b.py", "c0", "py", "x = 1\n"),
        ("r0", "a.py", "c0", "py", "y = 2\n"),  # conflict
    ]
    df = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    with pytest.raises(ValueError, match="conflicting source rows"):
        build_graph(spark, df)
    # without the check the build proceeds (caller opted out)
    g = build_graph(spark, df, check_conflicts=False)
    assert g.pages.count() == 3


# --------------------------------------------------- extraction scan budget


def test_extraction_scan_budget(spark):
    """A pathologically large content cell is scanned only up to the budget:
    refs within the budget survive, refs beyond it are dropped, the row is
    flagged, and the pandas and JVM implementations agree exactly."""
    big = "from early.ref import *\n" + ("# pad\n" * 2000) + "from late.ref import *\n"
    df = spark.createDataFrame(
        [("py", big), ("py", "from small.one import *\n")], "lang string, content string"
    )
    out = {}
    for name, fn in (("udf", extract_refs_udf), ("sql", extract_refs_sql)):
        rows = df.select(fn(F.col("content"), F.col("lang"), budget=100).alias("x")).collect()
        out[name] = [(list(r.x.refs), r.x.alias, r.x.truncated) for r in rows]
    assert out["udf"] == out["sql"]
    assert out["udf"][0] == (["early/ref.py"], None, True)     # late ref beyond budget
    assert out["udf"][1] == (["small/one.py"], None, False)


def test_build_stats_count_truncations(spark):
    big = "from a.b import *\n" + "z" * 5_000_000
    rows = [("r0", "big.py", "c0", "py", big), ("r0", "a/b.py", "c0", "py", "ok\n")]
    df = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    g = build_graph(spark, df, with_stats=True)
    assert g.stats["truncated_rows"] == 1
    assert g.stats["pages"] == 2


# ------------------------------------------------- adaptive dense-id shards


def test_dense_ids_auto_shard_escalation(spark, monkeypatch):
    """A mega-partition escalates the shard count; ids stay a dense
    permutation of 0..N-1 and are identical across repeated runs."""
    monkeypatch.setattr(build_mod, "_SHARD_TARGET_ROWS", 20)
    df = spark.range(0, 500).select(
        F.lit("mega").alias("repo"), F.format_string("p%05d", F.col("id")).alias("path")
    )
    a = assign_dense_ids(df)
    ids = sorted(r.page_id for r in a.collect())
    assert ids == list(range(500))
    again = {r.path: r.page_id for r in assign_dense_ids(df).collect()}
    first = {r.path: r.page_id for r in a.collect()}
    assert first == again


def test_dense_ids_explicit_shards_still_dense(spark):
    df = spark.range(0, 200).select(
        F.concat(F.lit("repo"), (F.col("id") % 3).cast("string")).alias("repo"),
        F.format_string("p%04d", F.col("id")).alias("path"),
    )
    ids = sorted(r.page_id for r in assign_dense_ids(df, shards=64).collect())
    assert ids == list(range(200))


# --------------------------------------------------------- merge upsert S6


def test_merge_upsert_parquet(spark, tmp_path):
    base = str(tmp_path)
    initial = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    initial.write.parquet(os.path.join(base, "t.parquet"))
    updates = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
    stats = merge_upsert(spark, base, "t", updates, ["k"])
    assert stats == {"matched": 1, "inserted": 1, "deleted": 0}
    got = {r.k: r.v for r in spark.read.parquet(os.path.join(base, "t.parquet")).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}

    # delete_missing: rows absent from updates are dropped
    updates2 = spark.createDataFrame([(1, "A"), (4, "D")], "k long, v string")
    stats2 = merge_upsert(spark, base, "t", updates2, ["k"], delete_missing=True)
    assert stats2 == {"matched": 2, "inserted": 0, "deleted": 2}
    got2 = {r.k: r.v for r in spark.read.parquet(os.path.join(base, "t.parquet")).collect()}
    assert got2 == {1: "A", 4: "D"}

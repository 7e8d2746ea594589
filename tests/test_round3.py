"""Round-3 regression tests: ADVICE r2 fixes (invalid PPJoin candidate
bound, spurious CC warning, merge crash-safety + counters) and the
triangles checkpoint-regression revert."""

from __future__ import annotations

import os
import warnings

import pytest

from wikipath_spark.operators.components import connected_components
from wikipath_spark.operators.dedup import ngram_jaccard_pairs
from wikipath_spark.sources.tables import merge_upsert


def test_ngram_jaccard_keeps_prefix_suffix_straddling_pair(spark):
    # ADVICE r2 (high): a shared shingle can lie in one doc's prefix but the
    # other's suffix; the old ip-based upper bound dropped this true pair.
    # J('bcdefghijk', 'abcdefghijk') with n=1 is 10/11 ≈ 0.909 >= 0.8.
    docs = spark.createDataFrame(
        [(1, "bcdefghijk"), (2, "abcdefghijk")], "doc_id long, text string"
    )
    rows = ngram_jaccard_pairs(docs, n=1, threshold=0.8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.jaccard == pytest.approx(round(10 / 11, 6))


def test_ngram_jaccard_still_exact_vs_bruteforce(spark):
    # randomized-ish corpus with overlapping windows: prefix-filtered result
    # must equal the brute-force all-pairs answer exactly
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(i, base[i : i + 40]) for i in range(12)] + [(100, base), (101, base[1:])]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.4).collect()
    }

    # brute force on the driver
    def shset(t):
        t = t.lower()
        return {t[i : i + 3] for i in range(len(t) - 2)}

    want = set()
    for i, (ia, ta) in enumerate(docs):
        for ib, tb in docs[i + 1 :]:
            a, b = shset(ta), shset(tb)
            inter = len(a & b)
            j = round(inter / (len(a) + len(b) - inter), 6)
            if j >= 0.4:
                lo, hi = min(ia, ib), max(ia, ib)
                want.add((lo, hi, j))
    assert got == want


def _plan(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_verify_jaccard_broadcast_gated_by_bytes(spark):
    # VERDICT r2 #4: the broadcast decision must key on estimated BYTES, not
    # row count — few rows with huge arrays must choose the shuffle join.
    from wikipath_spark.operators.dedup import _verify_jaccard

    sets_ = spark.createDataFrame(
        [(1, [10, 11, 12]), (2, [11, 12, 13])], "id long, shset array<long>"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    # est_bytes above the limit -> no broadcast hash join anywhere
    shuffled = _verify_jaccard(pairs, sets_, 0.3, est_bytes=1 << 40)
    assert "BroadcastHashJoin" not in _plan(shuffled)
    # and below the limit -> broadcast joins
    bcast = _verify_jaccard(pairs, sets_, 0.3, est_bytes=1024)
    assert "BroadcastHashJoin" in _plan(bcast)
    # both produce the same (exact) answer
    assert [tuple(r) for r in shuffled.collect()] == [tuple(r) for r in bcast.collect()]
    assert shuffled.collect()[0].jaccard == 0.5


def test_ngram_jaccard_randomized_vs_bruteforce_high_threshold(spark):
    # deterministic pseudo-random short docs over a tiny alphabet at t=0.8 —
    # small sizes sit on the ceil(t*sz) IEEE boundaries (0.8*5, 0.8*10) and
    # the asymmetric index prefix is at its shortest, so any prefix-length
    # or orientation bug drops pairs here
    import random

    rng = random.Random(42)
    docs = []
    for i in range(60):
        ln = rng.randint(4, 14)
        docs.append((i, "".join(rng.choice("abcd") for _ in range(ln))))
    # plus exact boundary families: J = 4/5 = 0.8 exactly (n=1 sets)
    docs += [(100, "abcde"), (101, "abcdf"), (102, "abcd"), (103, "abcde")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.8, 0.5):
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_pairs(df, n=1, threshold=t).collect()
        }

        def shset(s):
            return set(s.lower())

        want = set()
        for i, (ia, ta) in enumerate(docs):
            for ib, tb in docs[i + 1 :]:
                a, b = shset(ta), shset(tb)
                inter = len(a & b)
                j = round(inter / (len(a) + len(b) - inter), 6)
                if j >= t:
                    want.add((min(ia, ib), max(ia, ib), j))
        assert got == want, f"t={t}: missing={want - got} extra={got - want}"


def test_pagerank_fixedpoint_matches_python_ints(spark, edges_df):
    # exact integer reference on the driver, same update rule
    from wikipath_spark.operators.pagerank import pagerank_fixedpoint

    el = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]  # 5 has no edges
    e = edges_df(el)
    verts = spark.createDataFrame([(i,) for i in range(1, 6)], "page_id long")
    iters, scale = 4, 10**12
    got = {
        r.page_id: r.rank_fp
        for r in pagerank_fixedpoint(e, vertices=verts, iters=iters, scale=scale).collect()
    }

    n = 5
    out = {}
    for s, d in el:
        out[s] = out.get(s, 0) + 1
    r = {v: scale // n for v in range(1, 6)}
    jump = (15 * scale) // (100 * n)
    for _ in range(iters):
        dm = sum(r[v] for v in r if v not in out)
        ms = {}
        for s, d in el:
            ms[d] = ms.get(d, 0) + r[s] // out[s]
        r = {
            v: jump + (85 * ms.get(v, 0)) // 100 + (85 * (dm // n)) // 100
            for v in range(1, 6)
        }
    assert got == r

    # bit-determinism across parallelism: identical ints at 1 and 8 partitions
    got1 = {
        x.page_id: x.rank_fp
        for x in pagerank_fixedpoint(
            e.repartition(1), vertices=verts, iters=iters, scale=scale
        ).collect()
    }
    assert got1 == got


def test_shortest_paths_extraction_job_budget(spark, edges_df):
    # VERDICT r2 #8: DAG extraction must not probe every layer per meeting
    # vertex.  With AQE off the job count is deterministic: 1 edge
    # checkpoint + 2 jobs/superstep (frontier ckpt + meet count) + meeting
    # collect + ONE job per dag layer in the walk = 20 here.  The round-2
    # code added a depth-probe job per layer per side (24+).
    from wikipath_spark.operators.bfs import shortest_paths

    e = edges_df([(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (4, 6), (5, 7), (6, 7)])
    shortest_paths(e, 1, 7)  # warm (lazy session init jobs stay out of the count)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc = spark.sparkContext
        sc.setJobGroup("sp_jobs_r3", "probe")
        res = shortest_paths(e, 1, 7)
        sc.setJobGroup("sp_jobs_r3_done", "done")
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("sp_jobs_r3"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert (res.length, res.count) == (4, 4)
    assert res.links == {1: [2, 3], 2: [4], 3: [4], 4: [5, 6], 5: [7], 6: [7]}
    assert n_jobs <= 21, f"extraction regressed to per-layer probing: {n_jobs} jobs"


def test_dense_ids_distributed_offsets_match_driver_path(spark, monkeypatch):
    # VERDICT r2 #6: above the group-count limit, base offsets come from a
    # distributed cumulative-sum window; ids must be IDENTICAL to the
    # driver-collected path on the same input.
    import wikipath_spark.plans.build as build

    rows = [
        (f"repo{r:02d}", f"src/m{i:03d}.py") for r in range(6) for i in range(r + 3)
    ]
    df = spark.createDataFrame(rows, "repo string, path string")

    driver = build.assign_dense_ids(df, shards=4)
    got_driver = {(r.repo, r.path): r.page_id for r in driver.collect()}

    monkeypatch.setattr(build, "_DRIVER_OFFSET_LIMIT", 2)  # force distributed
    dist = build.assign_dense_ids(df, shards=4)
    got_dist = {(r.repo, r.path): r.page_id for r in dist.collect()}

    assert got_dist == got_driver
    ids = sorted(got_dist.values())
    assert ids == list(range(len(rows)))  # dense 0..N-1


def test_k_core_peels_to_clique(spark, edges_df):
    from wikipath_spark.operators.kcore import k_core

    # K4 clique {1,2,3,4} with a tail 4-5-6 and a pendant 7 off the clique:
    # the 3-core is exactly the clique (tail/pendant peel over 2+ rounds)
    el = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (1, 7)]
    got = {
        (r.page_id, r.degree) for r in k_core(edges_df(el), k=3).collect()
    }
    assert got == {(1, 3), (2, 3), (3, 3), (4, 3)}
    # k above the max degree -> empty core
    assert k_core(edges_df(el), k=10).count() == 0


def test_k_core_random_graphs_vs_python(spark, edges_df):
    import random

    from wikipath_spark.operators.kcore import k_core

    rng = random.Random(7)
    for trial in range(4):
        n = 24
        el = list({(rng.randrange(n), rng.randrange(n)) for _ in range(70)})
        el = [(a, b) for a, b in el if a != b]
        for k in (2, 3):
            got = {(r.page_id, r.degree) for r in k_core(edges_df(el), k=k).collect()}

            import collections

            adj = collections.defaultdict(set)
            for s, d in el:
                adj[s].add(d)
                adj[d].add(s)
            alive = set(adj)
            changed = True
            while changed:
                changed = False
                for v in list(alive):
                    if len(adj[v] & alive) < k:
                        alive.discard(v)
                        changed = True
            want = {(v, len(adj[v] & alive)) for v in alive}
            assert got == want, f"trial {trial} k={k}"


def test_sample_mixture_deterministic_and_gated(spark):
    from wikipath_spark.plans.curate import deterministic_sample, sample_mixture

    docs = spark.createDataFrame(
        [(i, "the quick brown fox is a common english test sentence") for i in range(400)]
        + [(1000 + i, "der schnelle braune fuchs und der hund sind nicht da") for i in range(100)],
        "doc_id long, text string",
    )
    out = sample_mixture(docs, {"en": 0.5})  # de unlisted -> dropped
    rows = {(r.doc_id, r.lang_guess) for r in out.collect()}
    assert rows and all(lg == "en" for _, lg in rows)
    # determinism across partitioning
    rows2 = {(r.doc_id, r.lang_guess) for r in sample_mixture(docs.repartition(7), {"en": 0.5}).collect()}
    assert rows == rows2
    # fraction is approximately honored (hash threshold over 400 en docs)
    assert 120 <= len(rows) <= 280

    # deterministic_sample: subset property — smaller fraction nests in larger
    small = {r.doc_id for r in deterministic_sample(docs, 0.2).collect()}
    big = {r.doc_id for r in deterministic_sample(docs, 0.6).collect()}
    assert small <= big


def test_contamination_flags_planted_leak(spark):
    from wikipath_spark.operators.dedup import contamination_pairs

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix text THE QUICK BROWN FOX JUMPS OVER the fence"),  # leaked 5-grams
            (2, "completely unrelated content about spark physical plans"),
            (100, "the quick brown fox jumps over the lazy dog tonight"),  # self
        ],
        "doc_id long, text string",
    )
    rows = contamination_pairs(corpus, bench, n=5, min_shared=2).collect()
    got = {(r.doc_id, r.bench_id): r.shared_ngrams for r in rows}
    # doc 1 shares the 5-grams starting at 'the quick ...' and 'quick brown ...'
    assert (1, 100) in got and got[(1, 100)] >= 2
    assert all(d != 2 for d, _ in got)  # unrelated doc never flags
    assert all(d != 100 for d, _ in got)  # self-pair excluded


def test_multi_source_bfs_equals_per_source_runs(spark, edges_df):
    from wikipath_spark.operators.bfs import bfs_distances, multi_source_bfs

    el = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 5), (5, 6), (7, 1), (8, 9)]
    e = edges_df(el)
    sources = [1, 8, 6]  # 6 has no out-edges: reaches only itself
    batched = {
        (r.source, r.page_id): r.distance
        for r in multi_source_bfs(e, sources, max_depth=10).collect()
    }
    singly = {}
    for s in sources:
        for r in bfs_distances(e, s, max_depth=10).collect():
            singly[(s, r.page_id)] = r.distance
    assert batched == singly


def test_coreness_random_graphs_vs_python_peeling(spark, edges_df):
    import collections
    import random

    from wikipath_spark.operators.kcore import coreness

    def py_coreness(el):
        adj = collections.defaultdict(set)
        for s, d in el:
            if s != d:
                adj[s].add(d)
                adj[d].add(s)
        deg = {v: len(adj[v]) for v in adj}
        core, alive, k = {}, set(adj), 0
        while alive:
            k = max(k, min(deg[v] for v in alive))
            peel = [v for v in alive if deg[v] <= k]
            while peel:
                v = peel.pop()
                if v not in alive:
                    continue
                core[v] = k
                alive.discard(v)
                for u in adj[v]:
                    if u in alive:
                        deg[u] -= 1
                        if deg[u] <= k:
                            peel.append(u)
        return core

    rng = random.Random(3)
    cases = [[(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (1, 7)]]
    for _ in range(3):
        cases.append(list({(rng.randrange(20), rng.randrange(20)) for _ in range(50)}))
    for ci, el in enumerate(cases):
        el = [(a, b) for a, b in el if a != b]
        got = {r.page_id: r.coreness for r in coreness(edges_df(el)).collect()}
        assert got == py_coreness(el), f"case {ci}"


def test_pagerank_fixedpoint_random_graphs_vs_python(spark, edges_df):
    import random

    from wikipath_spark.operators.pagerank import pagerank_fixedpoint

    rng = random.Random(11)
    for trial in range(3):
        n = 15
        el = list({(rng.randrange(1, n + 1), rng.randrange(1, n + 1)) for _ in range(30)})
        el = [(a, b) for a, b in el if a != b]
        verts = spark.createDataFrame([(i,) for i in range(1, n + 1)], "page_id long")
        sources = None if trial == 0 else sorted(rng.sample(range(1, n + 1), 2))
        iters, scale = 4, 10**12
        got = {
            r.page_id: r.rank_fp
            for r in pagerank_fixedpoint(
                edges_df(el), vertices=verts, iters=iters, scale=scale, sources=sources
            ).collect()
        }

        out = {}
        for s, d in el:
            out[s] = out.get(s, 0) + 1
        jump_set = set(range(1, n + 1)) if sources is None else set(sources)
        nj = len(jump_set)
        r = {v: (scale // nj if v in jump_set else 0) for v in range(1, n + 1)}
        jump = (15 * scale) // (100 * nj)
        for _ in range(iters):
            dm = sum(r[v] for v in r if v not in out)
            ms = {}
            for s, d in el:
                ms[d] = ms.get(d, 0) + r[s] // out[s]
            r = {
                v: (jump + (85 * (dm // nj)) // 100 if v in jump_set else 0)
                + (85 * ms.get(v, 0)) // 100
                for v in range(1, n + 1)
            }
        assert got == r, f"trial {trial} sources={sources}"


def test_pagerank_fixedpoint_personalized_mass_at_sources(spark, edges_df):
    from wikipath_spark.operators.pagerank import pagerank_fixedpoint

    el = [(1, 2), (2, 3), (3, 1), (4, 1)]
    verts = spark.createDataFrame([(i,) for i in range(1, 6)], "page_id long")
    out = {
        r.page_id: r.rank_fp
        for r in pagerank_fixedpoint(
            edges_df(el), vertices=verts, iters=6, scale=10**12, sources=[1]
        ).collect()
    }
    # teleport returns only to vertex 1: it outranks everything; vertex 5
    # (isolated, not a source) holds zero mass; 4 (unreachable from 1) too
    assert out[1] == max(out.values())
    assert out[5] == 0 and out[4] == 0
    assert out[2] > 0 and out[3] > 0


def test_cc_no_warning_when_loop_never_runs(spark, edges_df):
    e = edges_df([(1, 2), (2, 3)])
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning -> test failure
        connected_components(e, max_iter=0)


def test_merge_upsert_duplicate_update_keys_counts(spark, tmp_path):
    base = str(tmp_path)
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ).write.parquet(os.path.join(base, "t.parquet"))
    # updates: key 1 twice (matched once), key 9 twice (inserted once)
    updates = spark.createDataFrame(
        [(1, "a2"), (1, "a3"), (9, "z"), (9, "z2")], "k long, v string"
    )
    stats = merge_upsert(spark, base, "t", updates, ["k"])
    assert stats == {"matched": 1, "inserted": 1, "deleted": 0}


def test_merge_upsert_recovers_from_crash_between_renames(spark, tmp_path):
    base = str(tmp_path)
    target = os.path.join(base, "t.parquet")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(target)
    # simulate a crash after `os.rename(target, bak)` but before the second
    # rename: no table at the target path, previous version in .merge-old
    os.rename(target, target + ".merge-old")
    updates = spark.createDataFrame([(2, "b")], "k long, v string")
    stats = merge_upsert(spark, base, "t", updates, ["k"])
    assert stats == {"matched": 0, "inserted": 1, "deleted": 0}
    got = {(r.k, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a"), (2, "b")}
    assert not os.path.exists(target + ".merge-old")


def test_merge_upsert_cleans_stale_backup(spark, tmp_path):
    base = str(tmp_path)
    target = os.path.join(base, "t.parquet")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(target)
    # simulate a crash after the second rename but before backup cleanup:
    # live target AND a stale .merge-old
    spark.createDataFrame([(7, "old")], "k long, v string").write.parquet(
        target + ".merge-old"
    )
    merge_upsert(spark, base, "t", spark.createDataFrame([(2, "b")], "k long, v string"), ["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a"), (2, "b")}
    assert not os.path.exists(target + ".merge-old")

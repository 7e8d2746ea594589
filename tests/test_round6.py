"""Round-6 optimization tests: every change is an internal physical-plan or
kernel rewrite whose OUTPUT must be bit-identical to the round-5 behavior —
each test pins one equivalence.

- ngram_jaccard_pairs grew an adaptive exact bitmap lane (blocked GEMM over
  vocabulary-coded shingle sets) next to the prefix-filter lane; both lanes
  must return identical rows on any corpus, and the vocabulary-cap gate must
  route oversized vocabularies to the prefix lane.
- the minhash-LSH bucket-size cap moved from persist+groupBy+semi-join to a
  count window over the same (band, key) exchange — same pairs.
- the gram→md5 cache in the Arrow signature kernels must not change
  signatures (covered by the existing pandas≡inline equivalence tests, and
  re-pinned here against a corpus with heavy cross-row gram overlap).
"""

from __future__ import annotations

import pytest

import wikipath_spark.operators.dedup as dd
from wikipath_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)


def _synthetic_docs(spark, n_docs: int = 120, seed: int = 5):
    """Deterministic small corpus with near-dup clusters and shared
    vocabulary (index arithmetic, no RNG)."""
    words = ["alpha", "beta", "gamma", "delta", "epsi", "zeta", "eta", "theta"]
    rows = []
    for i in range(n_docs):
        base = [words[(i * 7 + j * (seed + 3)) % len(words)] for j in range(12)]
        if i % 4 == 1:  # near-duplicate of the previous doc
            base = [words[(((i - 1) * 7) + j * (seed + 3)) % len(words)] for j in range(12)]
            base[0] = words[(i + 1) % len(words)]
        rows.append((i, " ".join(base)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _collected(df):
    return sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())


@pytest.mark.parametrize("threshold", [0.5, 0.8])
def test_ngram_lanes_identical(spark, threshold):
    docs = _synthetic_docs(spark)
    auto = _collected(ngram_jaccard_pairs(docs, n=4, threshold=threshold))
    saved = dd._BITMAP_VOCAB_CAP
    try:
        dd._BITMAP_VOCAB_CAP = 0  # force the prefix lane
        prefix = _collected(ngram_jaccard_pairs(docs, n=4, threshold=threshold))
    finally:
        dd._BITMAP_VOCAB_CAP = saved
    assert auto == prefix
    assert len(auto) > 0  # the corpus must actually exercise pair generation


def test_ngram_bitmap_lane_multi_block(spark):
    """Blocked all-pairs must cover within-block AND cross-block pairs: run
    with a tiny block size so several block pairs exist."""
    docs = _synthetic_docs(spark, n_docs=90)
    saved_block = dd._BITMAP_BLOCK
    saved_cap = dd._BITMAP_VOCAB_CAP
    try:
        dd._BITMAP_BLOCK = 16  # 90 docs -> 6 blocks, 21 block pairs
        auto = _collected(ngram_jaccard_pairs(docs, n=4, threshold=0.5))
        dd._BITMAP_VOCAB_CAP = 0
        prefix = _collected(ngram_jaccard_pairs(docs, n=4, threshold=0.5))
    finally:
        dd._BITMAP_BLOCK = saved_block
        dd._BITMAP_VOCAB_CAP = saved_cap
    assert auto == prefix and len(auto) > 0


def test_ngram_vocab_cap_routes_to_prefix(spark):
    """A corpus whose vocabulary exceeds the cap must take the prefix lane
    (probe returns cap+1 rows, no bitmap plan is built)."""
    docs = _synthetic_docs(spark, n_docs=40)
    saved = dd._BITMAP_VOCAB_CAP
    calls = {"n": 0}
    orig = dd._ngram_bitmap_pairs

    def spy(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    try:
        dd._BITMAP_VOCAB_CAP = 3  # far below the real vocabulary
        dd._ngram_bitmap_pairs = spy
        out = _collected(ngram_jaccard_pairs(docs, n=4, threshold=0.5))
    finally:
        dd._BITMAP_VOCAB_CAP = saved
        dd._ngram_bitmap_pairs = orig
    assert calls["n"] == 0
    assert len(out) > 0


def test_curate_fused_dedup_matches_three_rule_definition(spark):
    """curate_corpus fused rules (b)+(c) into one pair pass; the output must
    still satisfy the documented three-rule contract, including the chain
    case: C near-dup of B, B an exact duplicate of A — C must drop via its
    pair with the SURVIVOR A (identical texts have identical Jaccard)."""
    from wikipath_spark.plans.curate import curate_corpus
    from wikipath_spark.operators.dedup import ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),                     # A: survivor
        (2, base),                     # B: exact duplicate of A -> drop
        (3, base + " ok"),             # C: near-dup of A/B -> drop
        (4, "the completely different and unrelated text body with words"),
        (5, "the completely different and unrelated text body with words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id for r in curate_corpus(
        docs, languages=("en",), min_quality=0.0, near_dup_threshold=0.8
    ).collect()}
    # manual three-rule recompute: gate keeps all (quality 0 floor, en);
    # (b) drops 2 and 5; (c) drops 3 (near-dup of survivor 1)
    assert out == {1, 4}


def test_curate_short_text_duplicates_still_exact_dedup(spark):
    """A gated text shorter than `ngram` CHARS has an empty char-shingle set,
    so the fused pass alone would never generate its J=1 duplicate pair —
    the short-doc guard must still apply rule (b) and drop the larger id."""
    from wikipath_spark.plans.curate import curate_corpus

    rows = [
        (1, "the"),   # 3 chars < ngram=4: zero shingles; en marker, stopword
        (2, "the"),   # exact duplicate -> rule (b) must drop despite no pair
        (3, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id for r in curate_corpus(
        docs, languages=("en",), min_quality=0.0, near_dup_threshold=0.8
    ).collect()}
    assert out == {1, 3}


def test_minhash_lsh_window_cap_pairs(spark):
    """The windowed bucket-size cap must produce the same pairs as a naive
    recompute of the banded-LSH definition (buckets ≤ max_bucket generate
    candidates; exact Jaccard verifies)."""
    docs = _synthetic_docs(spark, n_docs=80)
    out = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(
            docs, k=8, bands=4, jaccard_threshold=0.5, max_bucket=64
        ).collect()
    )
    # naive driver-side recompute from the signature frame
    sig = {r.id: [r[f"m{i}"] for i in range(8)] for r in minhash_signatures(docs, k=8).collect()}
    import hashlib
    from collections import defaultdict

    buckets = defaultdict(list)
    for i, ms in sig.items():
        for b in range(4):
            key = hashlib.md5(",".join(str(m) for m in ms[b * 2 : b * 2 + 2]).encode()).hexdigest()
            buckets[(b, key)].append(i)
    cands = set()
    for members in buckets.values():
        if len(members) <= 64:
            ms = sorted(members)
            cands.update((a, b) for ai, a in enumerate(ms) for b in ms[ai + 1 :])
    texts = {r.doc_id: r.text for r in docs.collect()}

    def sh(t):
        t = t.lower()
        return {t[i : i + 4] for i in range(len(t) - 3)}

    expect = []
    for a, b in sorted(cands):
        sa, sb = sh(texts[a]), sh(texts[b])
        inter = len(sa & sb)
        j = round(inter / (len(sa) + len(sb) - inter), 6)
        if j >= 0.5:
            expect.append((a, b, j))
    assert out == sorted(expect) and len(out) > 0


def test_pagerank_empty_vertex_set_returns_usable_frame(spark):
    """n==0 exit (now read off the vflag observe, not a separate count job):
    the returned frame must be collectable AFTER pagerank() returns — it may
    not depend on the vflag checkpoint, whose blocks the setup releases on
    exit."""
    from wikipath_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame([], "src long, dst long")
    verts = spark.createDataFrame([], "page_id long")
    res = pagerank(edges, vertices=verts)
    assert res.converged and res.iterations == 0
    assert res.ranks.collect() == []
    assert res.ranks.columns == ["page_id", "rank"]


def test_pagerank_auto_salt_short_circuit_exact(spark, edges_df):
    """Auto-salt skips the degree-probe job when n_edges fits one task's
    budget. Premise: the probe could only return 1 there (pick_salt on the
    same edges == 1); conclusion: auto ranks are bit-identical to an
    explicit salt_partials=1 run."""
    from wikipath_spark.operators.pagerank import pagerank
    from wikipath_spark.operators.skew import pick_salt

    el = [(a, b) for a in range(1, 30) for b in range(1, 30) if (a * 7 + b) % 5 == 0]
    df = edges_df(el)
    assert pick_salt(df, key="dst", rows_per_task=5_000_000) == 1
    auto = {r.page_id: r.rank for r in pagerank(df).ranks.collect()}
    expl = {r.page_id: r.rank for r in pagerank(df, salt_partials=1).ranks.collect()}
    assert auto == expl  # dict equality on floats = bitwise-equal ranks

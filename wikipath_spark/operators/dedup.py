"""Deduplication operators for training-data pipelines.

Five families, each expressed as declarative DataFrame plans (Catalyst gets
pushdown/broadcast/AQE for free) over a ``(id, text)`` document table:

- exact:          hash-groupBy on the full text
- minhash LSH:    char-shingles → k minhashes → banded bucket join →
                  candidate pairs → exact Jaccard verify
- simhash:        60-bit fingerprint, banded bucketing, Hamming verify
- n-gram Jaccard: inverted-index pair generation + set-overlap ratio
- embedding:      cosine near-duplicates (see operators/similarity.py)

Hashing uses the portable ``h60`` (md5-based) so every step has a DuckDB
oracle twin.  Scale notes: pair generation always goes through a bucket join
(LSH bands / shared-ngram inverted index), never a cross join; hot buckets
(stopword-like shingles) are capped by frequency filtering, the standard
posting-list-truncation trick.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wikipath_spark.functions.text import (
    MINHASH_MASK30,
    MINHASH_P31,
    char_ngrams,
    minhash_perm_consts,
    simhash60,
)


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread CPU-heavy per-row work (shingling, hashing) across the cluster
    when the input arrives under-partitioned — a small parquet reads as ONE
    split, which would serialize every downstream md5/ngram on one core
    (measured 6.8s → 0.9s for the shingle scan at sf0.1).  At scale inputs
    already carry >= defaultParallelism splits and this is a no-op; the
    repartition shuffle only ever moves a sub-split amount of data."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct text: keeper = min id, plus duplicate count."""
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("dup_count"))
        .select("keeper_id", "dup_count")
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 4) -> DataFrame:
    """Distinct char n-gram shingles per document: (id, shingle)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(char_ngrams(F.col(text_col), n))).alias("sh"),
    )


_GRAM_MD5_CACHE_CAP = 1 << 20  # ~100 MB worst case per Python worker


def _md5_prefix8(shs: set, cache: dict) -> bytes:
    """Concatenated 8-byte md5 prefixes of a shingle set, through a
    cross-row gram cache (guide §4.5: heavyweight per-row work hoisted out
    of the row loop).  Real corpora share most of their n-gram vocabulary
    across documents — at sf0.1 the 4-gram vocabulary is ~1k grams against
    ~880k total shingle occurrences, so caching turns ~880k hashlib calls
    into ~1k per task (measured below per operator).  The cap bounds the
    dict on high-entropy corpora (same discipline as fingerprint_arrow);
    values are the exact bytes the uncached path produced, so outputs are
    bit-identical."""
    if len(cache) > _GRAM_MD5_CACHE_CAP:
        cache.clear()
    md5 = hashlib.md5
    get = cache.get
    parts = []
    for s in shs:
        h = get(s)
        if h is None:
            h = md5(s.encode()).digest()[:8]
            cache[s] = h
        parts.append(h)
    return b"".join(parts)


def _perm_consts(k: int):
    """``(A, B, I)``: the k permutations' ``a_i``, ``b_i`` and ``i``
    (:func:`~wikipath_spark.functions.text.minhash_perm_consts`) as (k, 1)
    int64 columns, broadcast against a document's (|shingles|,) hashes."""
    consts = [minhash_perm_consts(i) for i in range(k)]
    A = np.array([c[0] for c in consts], dtype=np.int64)[:, None]
    B = np.array([c[1] for c in consts], dtype=np.int64)[:, None]
    return A, B, np.arange(k, dtype=np.int64)[:, None]


def _doc_prefixes(text: str, n: int, cache: dict) -> bytes:
    """The 8-byte md5 prefixes of one document's distinct lower-cased char
    n-grams, concatenated (:func:`_md5_prefix8`).  Read as ``>i8`` they are
    the hashed shingle set; as ``>u4`` pairs, the two minhash chunks."""
    t = text.lower()
    return _md5_prefix8({t[i : i + n] for i in range(len(t) - n + 1)}, cache)


def _signature(raw: bytes, consts) -> list:
    """One document's k minhashes from its :func:`_doc_prefixes`: the md5
    chunks are digest bytes 0-4 / 4-8 big-endian (== hex substrings 1-8 /
    9-16 in the DuckDB oracle), masked to 30 bits, then ONE numpy broadcast
    (k × |shingles| multiply-mod) and a min per permutation."""
    A, B, I = consts
    hs = np.frombuffer(raw, dtype=">u4").reshape(-1, 2).astype(np.int64)
    h1, h2 = hs[:, 0] & MINHASH_MASK30, hs[:, 1] & MINHASH_MASK30
    return ((A * h1 + B * h2 + I) % MINHASH_P31).min(axis=1).tolist()


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n: int = 4,
) -> DataFrame:
    """(id, m0..m{k-1}) minhash signature columns.

    m_i = min over distinct shingles of (a_i*h1 + b_i*h2 + i) mod (2^31-1)
    over two 30-bit chunks of one md5 per shingle (functions/text.py).
    Arrow-batched kernel: per batch, C-speed hashlib md5 per distinct
    shingle (cached across rows — see :func:`_md5_prefix8`) and ONE numpy
    broadcast per document (:func:`_signature`).  The interpreted JVM array
    fold it replaced cost ~12s at sf0.1 where this kernel costs ~1s — the
    measured case for the mandated Arrow path.  Rows with no shingle
    (len(text) < n) are dropped; the DuckDB oracle ``minhash_signatures``
    checks every value."""
    consts = _perm_consts(k)

    def batch(texts):  # unannotated: `from __future__ import annotations`
        # stringifies hints and breaks pandas_udf eval-type inference
        cache: dict = {}
        return pd.Series([_signature(_doc_prefixes(t, n, cache), consts) for t in texts])

    udf = F.pandas_udf(batch, returnType="array<long>")
    base = df.filter(F.length(F.col(text_col)) >= n).select(
        F.col(id_col).alias("id"), udf(F.col(text_col)).alias("_sig")
    )
    return base.select("id", *[F.col("_sig").getItem(i).alias(f"m{i}") for i in range(k)])


def _sig_and_hashed_sets_pandas(
    df: DataFrame, id_col: str, text_col: str, k: int, n: int
) -> DataFrame:
    """(id, _sig array<long>, shset array<long>) in ONE Arrow pass: the
    minhash kernel of :func:`minhash_signatures` already md5s every distinct
    shingle — this variant additionally emits those 8-byte md5 prefixes as an
    int64 set, so LSH verification can intersect fixed-width longs instead of
    re-deriving (and shipping) string shingle arrays.  64-bit hashing is
    collision-safe for Jaccard purposes: two distinct shingles of one
    document pair colliding has probability ~|set|²/2^64 ≈ 1e-14."""
    consts = _perm_consts(k)

    def batch(texts):  # unannotated on purpose (see minhash_signatures)
        out_sig, out_sh = [], []
        cache: dict = {}
        for t in texts:
            raw = _doc_prefixes(t, n, cache)
            out_sig.append(_signature(raw, consts))
            out_sh.append(np.frombuffer(raw, dtype=">i8").tolist())
        return pd.DataFrame({"_sig": out_sig, "shset": out_sh})

    udf = F.pandas_udf(batch, returnType="_sig array<long>, shset array<long>")
    return df.filter(F.length(F.col(text_col)) >= n).select(
        F.col(id_col).alias("id"), udf(F.col(text_col)).alias("_k")
    ).select("id", F.col("_k._sig").alias("_sig"), F.col("_k.shset").alias("shset"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 512,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) via banded minhash LSH.

    k minhashes split into ``bands`` bands of k/bands rows; docs sharing any
    band bucket become candidates; candidates are verified with the exact
    shingle Jaccard (so the threshold is exact, LSH only prunes).

    ``max_bucket`` drops buckets larger than that from pair generation — the
    posting-truncation guard against quadratic blowup when a vocabulary-dense
    corpus collides whole clusters into one band bucket.  Raise rows-per-band
    (k/bands) rather than max_bucket to reduce collisions without recall loss.

    Physical plan (measured 18.9s → ~7s at sf0.1 in round 4; round 6 folded
    the bucket-size cap into a count window over the SAME (band, key)
    exchange the candidate self-join needs — both self-join sides reuse that
    one exchange, the separate persist + count + groupBy + semi-join jobs
    are gone, and the whole candidate generation materializes in ONE job on
    the eager checkpoint): ONE Arrow pass produces signatures AND
    int64-hashed shingle sets, eagerly checkpointed with a byte-count
    observation riding the same job; candidates are re-fanned-out before
    verification (the distinct's AQE-coalesced output otherwise runs every
    array_intersect on two cores).
    """
    if bands <= 0 or k % bands:
        raise ValueError(
            f"minhash_lsh_pairs: k ({k}) must be a positive multiple of bands "
            f"({bands}) — trailing minhashes would silently go unused"
        )
    rows = k // bands
    obs = Observation()
    base = (
        _sig_and_hashed_sets_pandas(_fan_out(df), id_col, text_col, k, n)
        .observe(obs, F.sum(F.size("shset")).alias("total_sh"))
        .localCheckpoint(eager=True)
    )
    # estimated in-memory bytes of the set frame, from the SAME job that
    # materialized it (no extra action): int64 elements + unsafe-row overhead
    est_bytes = int(obs.get["total_sh"] or 0) * 16
    sets_ = base.select("id", "shset")
    sig = base.select("id", *[F.col("_sig").getItem(i).alias(f"m{i}") for i in range(k)])
    band_keys = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *[F.col(f"m{b * rows + r}") for r in range(rows)])).alias("key"),
        )
        for b in range(bands)
    ]
    # bucket-size cap as a count window over (band, key): one exchange
    # establishes the (band, key) partitioning, the filter drops oversized
    # buckets in the same pass, and the candidate self-join below joins on
    # exactly that key — both sides read the SAME filtered subtree, so
    # Spark's reused-exchange machinery shuffles the bucket rows once
    bw = Window.partitionBy("band", "key")
    bkt = (
        sig.select("id", F.explode(F.array(*band_keys)).alias("bk"))
        .select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        .withColumn("_bsz", F.count("*").over(bw))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )
    cand = (
        bkt.alias("a")
        .join(bkt.alias("b"), ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        # fan back out: AQE coalesces the small distinct output to 1-2
        # partitions, which would serialize the per-pair intersect work
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    return _verify_jaccard(cand, sets_, jaccard_threshold, est_bytes=est_bytes)


def _verify_jaccard(
    pairs: DataFrame,
    sets_: DataFrame,
    threshold: float,
    est_bytes: int | None = None,
    broadcast_bytes_limit: int = 256 << 20,
) -> DataFrame:
    """Exact Jaccard of candidate pairs over per-row shingle-SET arrays:
    two equi-joins attach each side's array, ``array_intersect`` sizes the
    overlap JVM-side.  Same bytes moved as the exploded equi-join
    formulation (set contents travel either way) but |pairs| rows instead of
    |pairs|·|shingles|.

    Catalyst's size estimate for array columns blocks auto-broadcast even
    when the set frame is a few MB, which would shuffle every candidate row
    carrying both full arrays (measured ~2× query cost) — so the set frame
    is broadcast explicitly when its ESTIMATED BYTES (``est_bytes``, e.g.
    from an observe on the materializing pass — row counts are byte-blind
    for variable-width arrays) fit ``broadcast_bytes_limit``; above that the
    joins fall back to shuffle, proportional to candidates."""
    if est_bytes is None:
        # one cheap aggregate over the (usually checkpointed) set frame
        est_bytes = (
            sets_.agg(F.sum(F.size("shset") * 16).alias("b")).collect()[0]["b"] or 0
        )
    a = sets_.select(F.col("id").alias("id_a"), F.col("shset").alias("_sa"))
    b = sets_.select(F.col("id").alias("id_b"), F.col("shset").alias("_sb"))
    if est_bytes <= broadcast_bytes_limit:
        a, b = F.broadcast(a), F.broadcast(b)
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn("sz_a", F.size("_sa"))
        .withColumn("sz_b", F.size("_sb"))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _hashed_sets_pandas(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shset array<long>): the document's distinct shingles as 8-byte
    md5-prefix int64s (:func:`_doc_prefixes`) for verification
    (array_intersect over longs measured ~25× faster than over the string
    arrays; collision odds per pair ~|set|²/2^64, negligible).  Rows with
    len(text) < n are dropped, as :func:`shingles` drops them."""

    def batch(texts):  # unannotated on purpose (see minhash_signatures)
        cache: dict = {}
        return pd.Series(
            [np.frombuffer(_doc_prefixes(t, n, cache), dtype=">i8").tolist() for t in texts]
        )

    udf = F.pandas_udf(batch, returnType="array<long>")
    return df.filter(F.length(F.col(text_col)) >= n).select(
        F.col(id_col).alias("id"), udf(F.col(text_col)).alias("shset")
    )


_BITMAP_VOCAB_CAP = 4096   # bitmap lane only when the corpus vocabulary fits
_BITMAP_BLOCK = 512        # docs per block (block-pair kernel = 512×512 GEMM)
# measured per-unit costs on the round-6 host (see OPTIMIZATION_r06.md):
# one joined prefix row through the pair-gen hash aggregate ≈ 70 ns; one
# float32 GEMM multiply-add ≈ 0.05 ns (BLAS).  Only their RATIO steers the
# lane choice, so host-speed swings cancel.
_PREFIX_ROW_NS = 70.0
_GEMM_FLOP_NS = 0.05


def _ngram_vocab_probe(df: DataFrame, text_col: str, n: int, cap: int):
    """Bounded vocabulary probe in ONE job: each partition emits its local
    (shingle → doc-frequency) map (|local vocab| rows, NOT the
    |doc|·|shingles| exploded rows), a groupBy sums the partials into exact
    global document frequencies, and an ordered ``limit(cap+1)`` collect
    returns them — getting back ≤ cap rows means the driver now holds the
    COMPLETE vocabulary with exact df counts (limit returns everything when
    the input is smaller); more rows back means "vocabulary too large",
    and the caller falls back without ever materializing it.  Each partition
    additionally emits ONE null-shingle sentinel row carrying its doc count,
    so the shingle-bearing doc count (needed for lane blocking and the cost
    model) rides the same job — ``orderBy`` puts the summed sentinel first.
    Returns (vocab_rows, n_docs)."""

    def partial(batches):
        from collections import Counter

        cnt: Counter = Counter()
        ndocs = 0
        for b in batches:
            for t in b[text_col]:
                t = t.lower()
                if len(t) < n:
                    continue
                ndocs += 1
                cnt.update({t[i : i + n] for i in range(len(t) - n + 1)})
        yield pd.DataFrame({"sh": pd.Series([None] + list(cnt.keys()), dtype="object"),
                            "df_": pd.Series([ndocs] + list(cnt.values()), dtype="int64")})

    parts = df.select(text_col).mapInPandas(partial, schema="sh string, df_ long")
    rows = (
        parts.groupBy("sh").agg(F.sum("df_").alias("df_"))
        .orderBy("sh").limit(cap + 2).collect()
    )
    n_docs = sum(r.df_ for r in rows if r.sh is None)
    return [r for r in rows if r.sh is not None], n_docs


def _ngram_bitmap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    vocab: list[str],
    n_docs: int,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard for small-vocabulary corpora: every
    document's distinct-shingle set is a |vocab|-bit vector, so the
    intersection size of a pair is one float32 dot product of 0/1 vectors —
    exact integers up to 2^24 ≫ the 4096-vocab cap.  Blocked all-pairs:
    docs are hash-assigned to ⌈n/512⌉ blocks, each unordered block pair is
    one Arrow task running a single BLAS GEMM (512×512×|vocab| ≈ 1 GFLOP ≈
    tens of ms), and only pairs at/above the threshold leave the kernel.
    The final jaccard column and filter are the IDENTICAL Spark expressions
    the prefix lane's verify applies (round(i/(|A|+|B|−i), 6) ≥ t), so both
    lanes return the same rows — and this lane is the *more* exact one (true
    set intersections; the verify lane intersects 64-bit hashed sets with
    ~1e-14 collision odds).  Replication factor is the block count (each doc
    participates in every pair involving its block), bounded by the lane
    gate: the kernel input is ~n_docs·B rows of int32 code arrays."""

    spark = df.sparkSession
    code_of = {s: i for i, s in enumerate(sorted(vocab))}
    vocab_n = len(code_of)
    t_gen = threshold - 1e-6  # loose kernel gate; the exact filter is in SQL

    def to_codes(batches):
        for b in batches:
            ids, codes = [], []
            for i, t in zip(b[id_col], b[text_col]):
                t = t.lower()
                if len(t) < n:
                    continue
                shs = {t[j : j + n] for j in range(len(t) - n + 1)}
                ids.append(i)
                codes.append(np.fromiter(
                    (code_of[s] for s in shs), dtype=np.int32, count=len(shs)
                ))
            yield pd.DataFrame({"id": pd.Series(ids, dtype="int64"),
                                "codes": pd.Series(codes, dtype="object")})

    coded = df.select(id_col, text_col).mapInPandas(
        to_codes, schema="id long, codes array<int>"
    )
    n_blocks = max(1, -(-n_docs // _BITMAP_BLOCK))

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        same = bool(pdf["i"].iat[0] == pdf["j"].iat[0])
        a = pdf[pdf["side"] == 0]
        if same:
            # i == j groups carry every doc twice (once per side); compute
            # the upper triangle of one copy, sorted by id so row < col
            # implies id_a < id_b
            a = a.sort_values("id")
            b = a
        else:
            b = pdf[pdf["side"] == 1]

        def matrix(part):
            m = np.zeros((len(part), vocab_n), dtype=np.float32)
            lens = part["codes"].str.len().to_numpy()
            rows = np.repeat(np.arange(len(part)), lens)
            cols = np.concatenate(part["codes"].to_numpy()) if len(part) else np.array([], np.int32)
            m[rows, cols] = 1.0
            return m, part["id"].to_numpy(), lens.astype(np.int64)

        A, ids_a, sz_a = matrix(a)
        if same:
            B_, ids_b, sz_b = A, ids_a, sz_a
        else:
            B_, ids_b, sz_b = matrix(b)
        inter = (A @ B_.T).astype(np.int64)
        union = sz_a[:, None] + sz_b[None, :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = inter / union
        mask = jac >= t_gen
        if same:
            mask &= np.triu(np.ones_like(mask, dtype=bool), k=1)
        else:
            mask &= ids_a[:, None] != ids_b[None, :]
        ri, ci = np.nonzero(mask)
        ia, ib = ids_a[ri], ids_b[ci]
        swap = ia > ib
        out_a = np.where(swap, ib, ia)
        out_b = np.where(swap, ia, ib)
        out_sa = np.where(swap, sz_b[ci], sz_a[ri])
        out_sb = np.where(swap, sz_a[ri], sz_b[ci])
        return pd.DataFrame({
            "id_a": out_a, "id_b": out_b,
            "inter": inter[ri, ci], "sz_a": out_sa, "sz_b": out_sb,
        })

    pairs_idx = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    bp = spark.createDataFrame(pairs_idx, "i int, j int")
    blocked = coded.withColumn(
        "block", F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int")
    )
    left = blocked.join(F.broadcast(bp), F.col("block") == F.col("i")).select(
        "i", "j", F.lit(0).alias("side"), "id", "codes"
    )
    right = blocked.join(F.broadcast(bp), F.col("block") == F.col("j")).select(
        "i", "j", F.lit(1).alias("side"), "id", "codes"
    )
    raw = (
        left.unionByName(right)
        .groupBy("i", "j")
        .applyInPandas(kernel, schema="id_a long, id_b long, inter long, sz_a long, sz_b long")
    )
    # EXACT final filter — the same expressions `_verify_jaccard` applies
    return (
        raw.withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    threshold: float = 0.5,
    max_posting: int | None = None,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard ≥ threshold via prefix filtering.

    Shingles are globally ordered by (document frequency, shingle); each doc
    keeps only its prefix of length |A| - ceil(t·|A|) + 1 for pair
    generation.  PPJoin's prefix lemma (Xiao et al., WWW'08): the globally
    smallest shared shingle of any pair with J ≥ t lies inside BOTH
    prefixes, so the prefix self-join loses no qualifying pair — and
    prefixes hold each doc's *rarest* shingles, so Σ_sh df² over the index
    collapses (measured 355s → seconds at sf0.1 on a near-dup-clustered
    corpus).  Survivors get an exact full-set verify; the result is every
    pair with round(J, 6) ≥ threshold.

    Deliberately SYMMETRIC prefixes: PPJoin's shorter indexing prefix
    (|y| - ceil(2t/(1+t)·|y|) + 1) was A/B-measured here — the join itself
    runs ~40% faster, but capping the index side's matchable ranks guts the
    positional filter (ub ≈ ip + large index-suffix), ballooning candidates
    30k → 3.36M at sf0.1/t=0.5 and moving the cost into the exact verify.
    Net loss; deep symmetric prefix matches are what make the bound sharp.

    Candidate pruning before the verify uses PPJoin's POSITIONAL filter in
    aggregate form.  Validity: each doc's prefix is downward-closed in the
    global order (it holds the doc's smallest-ordered tokens), so for
    t* = the largest-ordered token matched in both prefixes, every shared
    token ≤ t* is already counted in ip, and every shared token > t* sits
    after rank(t*) in both docs — hence
    overlap ≤ ip + min(sz_a - rk_a(t*), sz_b - rk_b(t*)).
    (The round-2 bound ip + min(suffix_a, suffix_b) was INVALID — a shared
    token can straddle one prefix and the other suffix; see ADVICE r2.)

    ``max_posting`` optionally drops prefix shingles with df above the cap
    from pair generation (recall guard OFF by default — with it set, a pair
    whose every prefix-shared shingle is capped can be missed).

    Round-6 adaptive lane (guide §8 — use what the optimizer cannot know):
    prefix filtering prunes by shingle RARITY, so it degenerates on a
    small-vocabulary corpus where every shingle is common — measured at
    sf0.1 (vocab 929, 5000 docs): the prefix self-join emits 268M rows into
    a 9.3M-group aggregate for 30k surviving candidates, ~18s of the query.
    A bounded vocabulary probe (one job) detects that regime, and a
    first-principles cost model (measured ns/joined-row vs ns/FLOP, ratio
    only) picks between this prefix lane and the exact blocked-GEMM bitmap
    lane (:func:`_ngram_bitmap_pairs`).  Both lanes are exact and return
    identical rows (equivalence-tested); ``max_posting`` forces the prefix
    lane, whose truncation semantics it modifies.
    """
    df = _fan_out(df)
    spark = df.sparkSession
    if max_posting is None:
        vocab_rows, n_docs = _ngram_vocab_probe(df, text_col, n, _BITMAP_VOCAB_CAP)
        if len(vocab_rows) <= _BITMAP_VOCAB_CAP:
            sum_df2 = sum(r.df_ * r.df_ for r in vocab_rows)
            bitmap_ns = float(n_docs) * n_docs * max(len(vocab_rows), 1) * _GEMM_FLOP_NS
            prefix_ns = sum_df2 * (1.0 - threshold) ** 2 * _PREFIX_ROW_NS
            if bitmap_ns < prefix_ns:
                return _ngram_bitmap_pairs(
                    df, id_col, text_col, n, threshold,
                    [r.sh for r in vocab_rows], n_docs,
                )
    # Candidate generation runs at t_eff = threshold - 1e-6 while the final
    # verify keeps round(J, 6) >= threshold.  Two reasons, both exactness:
    # (a) IEEE ceil boundaries — 0.8·300 evaluates to 240.0000000000000028,
    # so ceil(t·sz) can overshoot by one and silently SHORTEN a prefix
    # (dropping a qualifying pair whose only shared prefix token sat at the
    # lost position); (b) the verify admits J down to threshold - 5e-7
    # (round-to-6 boundary), so generation must cover at least that far.
    # The cost is at most one extra prefix token per doc.
    t_eff = threshold - 1e-6
    # eager localCheckpoint, not persist(): three downstream scans (sizes,
    # dfreq, ranked) read the materialized RDD, and the checkpoint is
    # GC-reclaimed with the frame — a bare persist() here outlives the query
    # and accumulates in long-lived sessions
    sh = shingles(df, id_col, text_col, n).localCheckpoint(eager=True)
    # estimated set-frame bytes for the verify broadcast gate: one cheap
    # count over the already-materialized RDD, 16 bytes per int64 element
    est_bytes = sh.count() * 16
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df_"))
    w = Window.partitionBy("id").orderBy("df_", "sh")
    ranked = (
        sh.join(dfreq, "sh")
        .withColumn("_rk", F.row_number().over(w))
        .join(sizes, "id")
    )
    prefix = ranked.filter(
        F.col("_rk") <= F.col("sz") - F.ceil(F.lit(t_eff) * F.col("sz")) + 1
    )
    if max_posting is not None:
        prefix = prefix.filter(F.col("df_") <= max_posting)
    prefix = prefix.select("id", "sh", F.col("_rk").alias("rk"), "sz")
    # ONE heavy pass: the prefix self-join feeds a partially-aggregating
    # groupBy directly (map-side combine collapses per-pair duplicates before
    # the shuffle) instead of (distinct pairs → verification re-joins).
    # Alongside ip, the rank-in-doc position of the LAST (largest-ordered)
    # matched token is simply max(rk): within one doc, rank order IS the
    # global order restricted to the doc's tokens, so argmax(rank) over the
    # matched set = the globally largest matched token t* on both sides —
    # a plain integer max, no order-struct comparison per row.
    ip = (
        prefix.alias("a")
        .join(prefix.alias("b"), "sh")
        .filter(F.col("a.id") < F.col("b.id"))
        # AllPairs length filter: J >= t forces t·max(|A|,|B|) <= min(|A|,|B|);
        # applied pre-aggregation it drops size-incompatible matches before
        # they enter the pair hash table (no-op on uniform-length corpora,
        # large on size-diverse ones)
        .filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= F.lit(t_eff) * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count("*").alias("ip"),
            F.max(F.col("a.rk")).alias("rka"),
            F.max(F.col("b.rk")).alias("rkb"),
            F.first(F.col("a.sz")).alias("sz_a"),
            F.first(F.col("b.sz")).alias("sz_b"),
        )
    )
    # positional upper bound (validity: both prefix sets are downward-closed
    # within their docs, so every shared token ≤ the largest matched token
    # t* is already counted in ip, and tokens > t* sit after rank(t*) on
    # both sides), clamped by the size-only bound i <= min(|A|,|B|); both
    # are exact upper bounds, so no qualifying pair is dropped pre-verify
    ub = F.least(
        F.col("ip") + F.least(F.col("sz_a") - F.col("rka"), F.col("sz_b") - F.col("rkb")),
        F.least(F.col("sz_a"), F.col("sz_b")),
    )
    cand = (
        ip.filter(ub / (F.col("sz_a") + F.col("sz_b") - ub) >= t_eff)
        .select("id_a", "id_b")
        # spread the per-pair intersect work (AQE coalesces small outputs)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return _verify_jaccard(
        cand, _hashed_sets_pandas(df, id_col, text_col, n), threshold, est_bytes=est_bytes
    )


def word_ngrams(col, n: int):
    """Distinct word-level n-grams (lowercased [a-z0-9]+ tokens joined by a
    single space) — the unit of benchmark-decontamination matching."""
    toks = F.regexp_extract_all(F.lower(col), F.lit("[a-z0-9]+"), 0)
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, and slice(toks, 0, n) then
    # throws INVALID_PARAMETER_VALUE.START — so documents with fewer than n
    # tokens must short-circuit to an empty window list, not rely on greatest().
    wins = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(wins)


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_shared: int = 3,
) -> DataFrame:
    """Benchmark decontamination: ``(doc_id, bench_id, shared_ngrams)`` for
    every corpus document sharing ≥ ``min_shared`` distinct word ``n``-grams
    with some benchmark document — the standard train/test-leakage check a
    training-data pipeline runs before mixing a corpus.

    Scale shape: the benchmark side is small by definition, so its exploded
    n-gram index is broadcast; the corpus streams through one broadcast hash
    join + a partially-aggregating groupBy (map-side combine collapses the
    per-pair n-gram matches before the shuffle).  Self-pairs are excluded so
    a benchmark drawn from the corpus itself doesn't flag trivially.
    """
    csh = corpus.select(
        F.col(id_col).alias("doc_id"), F.explode(word_ngrams(F.col(text_col), n)).alias("g")
    )
    bsh = benchmark.select(
        F.col(id_col).alias("bench_id"), F.explode(word_ngrams(F.col(text_col), n)).alias("g")
    )
    return (
        csh.join(F.broadcast(bsh), "g")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — 60-bit SimHash over word tokens.

    The shuffle-free array-aggregate formulation
    (:func:`wikipath_spark.functions.text.simhash60`) — per-row integer bit
    votes with JVM array builtins, zero extra rows.  The DuckDB oracle
    ``simhash`` explodes (doc, bit) votes instead; the votes are exact
    integer sums, so the aggregation order cannot matter.
    NB: docs with zero word tokens fingerprint to 0 here and are absent from
    the exploded form (explode of an empty array emits nothing).
    """
    return df.select(
        F.col(id_col).alias("id"), simhash60(F.col(text_col)).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: banded bucketing (a pair within
    Hamming distance < bands must agree on ≥1 band — pigeonhole), then exact
    ``bit_count(xor)`` verification.  Returns (id_a, id_b, hamming)."""
    # eager localCheckpoint: both sides of the bucket self-join scan the
    # fingerprints — without materialization the (tokenize + md5 + 60-bit
    # vote fold) runs twice; checkpoint (vs persist) is GC-reclaimed
    fp = simhash_fingerprints(_fan_out(df), id_col, text_col).localCheckpoint(eager=True)
    width = 60 // bands
    mask = (1 << width) - 1
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            (F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))).alias("key"),
        )
        for b in range(bands)
    ]
    buckets = fp.select("id", "simhash", F.explode(F.array(*band_cols)).alias("bk")).select(
        "id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    return (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        # Hamming is a pure function of the pair, so filtering BEFORE the
        # distinct is equivalent — and the dedup shuffle then carries only
        # survivors instead of every multi-band collision
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )

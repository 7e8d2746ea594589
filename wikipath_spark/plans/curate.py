"""Corpus curation — the composed training-data pipeline the individual
operators exist for: language gate → quality gate → exact dedup → near-dup
pruning, in one declarative plan.

Pruning contract (deterministic, embarrassingly parallel): a document is
dropped iff (a) it fails the language/quality gates, (b) an identical text
exists with a smaller id (exact dedup keeps the minimum id), or (c) some
SMALLER-id survivor of (a)+(b) is a near-duplicate (n-gram Jaccard ≥ the
threshold).  Rule (c) is the standard one-pass approximation of greedy
near-dup removal — independent per document, so it parallelizes, at the
cost of occasionally dropping both ends of a chain a sequential greedy
would keep.  Every rule is expressible in ANSI SQL, so the whole pipeline
has a DuckDB oracle twin (__spark_entry__.oracle_sql()["curated_corpus"]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikipath_spark.functions.text import h60, lang_id, quality_score
from wikipath_spark.operators.dedup import _fan_out, ngram_jaccard_pairs

_SAMPLE_MOD = 1_000_000  # hash-threshold resolution: fractions to 1e-6


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    seed: int = 17,
) -> DataFrame:
    """Reproducible Bernoulli-style sample: keep rows whose portable 60-bit
    key hash falls under ``fraction`` of the hash space.

    Unlike ``DataFrame.sample`` (partition-layout-dependent RNG), membership
    here is a pure function of the ROW KEY — the same rows are selected on
    any engine, any partitioning, any cluster size, and re-runs are
    idempotent.  That is the property a training-data mixture needs: the
    sampled subset is citable and re-derivable.  Hash = the md5-based h60
    (DuckDB-portable), thresholded at 1e-6 resolution.
    """
    thresh = int(round(fraction * _SAMPLE_MOD))
    return df.filter(
        F.pmod(h60(F.col(key_col).cast("string"), seed), F.lit(_SAMPLE_MOD)) < thresh
    )


def sample_mixture(
    documents: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 17,
) -> DataFrame:
    """Deterministic training-mixture sampling: per-language keep fractions
    (e.g. ``{"en": 0.9, "de": 0.5}``; unlisted languages drop).  Returns
    ``(doc_id, lang_guess)`` of the sampled mix.  One scan — the language
    gate and the hash threshold are a single projected filter, and the
    selection is engine/partitioning-independent (see
    :func:`deterministic_sample`)."""
    scored = _fan_out(documents).select(
        F.col(id_col).alias("doc_id"),
        lang_id(F.col(text_col)).alias("lang_guess"),
        F.pmod(h60(F.col(id_col).cast("string"), seed), F.lit(_SAMPLE_MOD)).alias("_h"),
    )
    thresh = F.create_map(
        *[F.lit(x) for kv in fractions.items() for x in (kv[0], int(round(kv[1] * _SAMPLE_MOD)))]
    )
    return (
        scored.withColumn("_t", thresh.getItem(F.col("lang_guess")))
        .filter(F.col("_h") < F.coalesce(F.col("_t"), F.lit(0)))
        .select("doc_id", "lang_guess")
    )


def curate_corpus(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    languages: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    near_dup_threshold: float = 0.8,
    ngram: int = 4,
) -> DataFrame:
    """Returns the curated ``(doc_id, lang_guess, quality)`` rows.

    Near-dup pruning runs on the gated+deduped survivors only (pairs among
    dropped docs are irrelevant), through the exact prefix-filtered
    all-pairs Jaccard — bucketed candidate generation, never a cross join.
    """
    # fan out first: the language-ID gate runs four regexp counters per row,
    # and a small parquet arrives as one split (single-core otherwise)
    gated = (
        _fan_out(documents).select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            lang_id(F.col(text_col)).alias("lang_guess"),
            quality_score(F.col(text_col)).alias("quality"),
        )
        .filter(F.col("lang_guess").isin(*languages))
        .filter(F.col("quality") >= min_quality)
    )
    # eager localCheckpoint (GC-reclaimed), not persist(): scanned by the
    # near-dup pair generation AND the final anti-join; a bare persist()
    # would leak cache across repeated calls in a long-lived session
    gated = gated.localCheckpoint(eager=True)

    # Rules (b) exact dedup and (c) near-dup pruning FUSED into one pair
    # pass (round 6): running the Jaccard pair generation over ALL gated
    # docs and dropping the larger id of every qualifying pair yields
    # exactly the (b)+(c) result, because identical texts have identical
    # shingle sets — an exact duplicate is a J=1 pair (so the smaller id
    # survives, rule b), and any doc near-dup to a dropped duplicate B is
    # equally near-dup to B's surviving twin A (J(C,B) = J(C,A)), so the
    # pair that (c) would have generated against the survivor exists here
    # too.  Proven equivalent output; the DuckDB oracle still evaluates the
    # original three-rule definition and stays hash-green (the sf0.1 corpus
    # contains exact duplicates, so the gate exercises this equivalence).
    # Saves the groupBy(text) + semi-join shuffles of the separate pass.
    pairs = ngram_jaccard_pairs(
        gated, id_col="doc_id", text_col="text", n=ngram, threshold=near_dup_threshold
    )
    # Completeness guard for rule (b): a text shorter than `ngram` CHARS has
    # an empty char-shingle set (the exact rows the shingle kernels drop), so its
    # J=1 duplicate pair never generates and the fusion alone would keep
    # both copies.  Exact dedup restricted to those rows only — the filter
    # matches nothing on natural corpora (bench minimum is 10 words), so
    # this is a near-empty aggregate folded into the same final action.
    short = gated.filter(F.length("text") < ngram).select("doc_id", "text")
    short_dups = (
        short.join(short.groupBy("text").agg(F.min("doc_id").alias("_keep")), "text")
        .filter(F.col("doc_id") != F.col("_keep"))
        .select("doc_id")
    )
    dropped = (
        pairs.select(F.col("id_b").alias("doc_id")).unionByName(short_dups).distinct()
    )
    return (
        gated.join(dropped, "doc_id", "left_anti")
        .select("doc_id", "lang_guess", "quality")
    )

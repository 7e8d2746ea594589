"""Text-analysis primitives for training-data pipelines.

All pure Spark built-ins (JVM-side, whole-stage codegen) — no Python in the
hot path.  Every function here has an exact ANSI-SQL twin runnable on DuckDB
(see ``__spark_entry__.oracle_sql``): the only shared primitives are md5,
substr, regexp, split and arithmetic, verified bit-identical across engines.

The portable 60-bit hash ``h60`` = int(md5(seed || ':' || s)[:15], 16) is the
backbone of minhash/simhash/fingerprinting — 15 hex digits keep it inside a
signed 64-bit integer in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# language marker words for the n-gram/stopword language-ID heuristic
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|is|in)\b",
    "de": r"\b(der|die|das|und|ist|nicht)\b",
    "fr": r"\b(le|la|les|et|est|une)\b",
    "es": r"\b(el|la|los|y|es|una)\b",
}
_STOPWORDS = r"\b(the|a|an|and|or|of|to|in|is|was)\b"


_ACCENTS = "áàâäãåçéèêëíìîïñóòôöõúùûüýÿÁÀÂÄÃÅÇÉÈÊËÍÌÎÏÑÓÒÔÖÕÚÙÛÜÝ"
_PLAIN = "aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUY"


def fold_accents(col: Column) -> Column:
    """Strip common diacritics (translate-based)."""
    return F.translate(col, _ACCENTS, _PLAIN)


def ci_equal(a: Column, b: Column) -> Column:
    """Case- and accent-insensitive string equality — the frontend's
    title comparison (reference web/src/misc.ts:13-15)."""
    return F.lower(fold_accents(a)) == F.lower(fold_accents(b))


def h60(col: Column, seed: int = 0) -> Column:
    """Portable 60-bit hash: identical in Spark and DuckDB."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("bigint")


# MinHash permutation family: ONE md5 per shingle, then k cheap 2-independent
# universal-hash permutations  m_i = (a_i*h1 + b_i*h2 + i) mod (2^31-1)  over
# two disjoint 30-bit chunks of that md5 — the standard trick replacing k
# independent md5 evaluations (measured: 16 md5+conv per shingle row was the
# dominant LSH-dedup cost).  Two independent chunks are essential: a single-
# chunk linear map (a*h+b) mod p with a*h ≲ 2p is near order-preserving, so
# all k minhashes pick (almost) the same argmin shingle and LSH recall
# collapses (measured: 256 → 97 verified pairs at sf0.1).  All intermediates
# fit signed 64-bit (a,b < 2^31, h < 2^30 → each product < 2^61, sum < 2^62),
# so the arithmetic is bit-identical in Spark (ANSI) and DuckDB.
MINHASH_P31 = (1 << 31) - 1
MINHASH_MASK30 = (1 << 30) - 1


def minhash_perm_consts(i: int) -> tuple[int, int]:
    """(a_i, b_i) ∈ [1, 2^31-1): index-derived multiplier pair."""
    return (
        (2654435761 * (i + 1)) % MINHASH_P31,
        (2246822519 * (i + 1)) % MINHASH_P31,
    )


def minhash_perm_sql(h1_expr: str, h2_expr: str, i: int) -> str:
    a, b = minhash_perm_consts(i)
    return f"(({a} * {h1_expr} + {b} * {h2_expr} + {i}) % {MINHASH_P31})"


def word_tokens(col: Column) -> Column:
    """Lowercase alphanumeric tokens — the BPE-ish regex tokenizer.
    DuckDB twin: ``regexp_extract_all(lower(x), '[a-z0-9]+')``."""
    return F.regexp_extract_all(F.lower(col), F.lit("[a-z0-9]+"), 0)


def token_count(col: Column) -> Column:
    return F.size(word_tokens(col))


def whitespace_token_count(col: Column) -> Column:
    """Whitespace token count; empty/blank strings count 0.
    DuckDB twin: ``CASE WHEN trim(x)='' THEN 0 ELSE len(regexp_split_to_array(trim(x),'\\s+')) END``."""
    return F.when(F.trim(col) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(col), r"\s+"))
    )


def _stopword_ratio_raw(col: Column) -> Column:
    cnt = F.regexp_count(F.lower(col), F.lit(_STOPWORDS))
    return F.try_divide(cnt, token_count(col))


def _punct_ratio_raw(col: Column) -> Column:
    punct = F.regexp_count(col, F.lit(r"[^\w\s]"))
    return F.try_divide(punct, F.length(col))


def stopword_ratio(col: Column) -> Column:
    return F.round(_stopword_ratio_raw(col), 6)


def punct_ratio(col: Column) -> Column:
    return F.round(_punct_ratio_raw(col), 6)


def quality_score(col: Column) -> Column:
    """Composite document-quality heuristic in [0, ~1]: rewards moderate
    length, low punctuation noise, and natural-language stopword density."""
    length_term = F.least(F.length(col) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(F.coalesce(_punct_ratio_raw(col), F.lit(0.0)) * 5, F.lit(1.0))
    stop_term = F.least(F.coalesce(_stopword_ratio_raw(col), F.lit(0.0)) * 4, F.lit(1.0))
    return F.round(0.4 * length_term + 0.3 * punct_term + 0.3 * stop_term, 6)


def lang_id(col: Column) -> Column:
    """Marker-word language ID over {en,de,fr,es}, 'und' when nothing hits.
    Deterministic tie order en > de > fr > es (mirrored in the SQL twin)."""
    s = {lg: F.regexp_count(F.lower(col), F.lit(pat)) for lg, pat in LANG_MARKERS.items()}
    return (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]) & (s["en"] > 0), "en")
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]) & (s["de"] > 0), "de")
        .when((s["fr"] >= s["es"]) & (s["fr"] > 0), "fr")
        .when(s["es"] > 0, "es")
        .otherwise("und")
    )


def char_ngrams(col: Column, n: int = 4) -> Column:
    """All char n-grams of lower(col) as an array (may repeat); empty for
    strings shorter than n.  NB: Spark's ``sequence(1, 0)`` counts *down*
    ([1, 0]) — the explicit guard keeps parity with DuckDB's empty
    ``generate_series``."""
    lowered = F.lower(col)
    return F.when(F.length(lowered) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(lowered) - (n - 1)),
            lambda i: F.substring(lowered, i, n),
        )
    )


def fingerprint(col: Column, n: int = 5) -> Column:
    """Document fingerprint: lexicographic min of the md5 hex of each char
    n-gram — a rolling-hash-style content signature, portable to DuckDB.

    NB the higher-order ``transform`` is interpreted (CodegenFallback) and
    evaluates one md5 per n-gram per row — the one text-stats column whose
    hot cost is not whole-stage codegen.  :func:`fingerprint_arrow` is the
    measured fast path (sf0.1 A/B: column alone 0.239s HOF vs 0.158s Arrow
    min-of-5; full text_stats projection 0.27s vs 0.21s min-of-9 warm,
    bit-identical outputs); this JVM form remains the portable definition
    the DuckDB oracle mirrors."""
    grams = char_ngrams(col, n)
    hashed = F.transform(grams, lambda g: F.substring(F.md5(g), 1, 16))
    return F.array_min(hashed)


def fingerprint_arrow(col: Column, n: int = 5) -> Column:
    """Arrow-kernel twin of :func:`fingerprint` (VERDICT r4 item 4): the
    md5-per-n-gram work moves into a pandas UDF where each batch dedups
    grams into a dict cache — overlapping text re-hashes nothing, while the
    interpreted HOF re-evaluates md5 for every (row, gram) pair.  Semantics
    are identical by construction (lower → n-gram → md5 hex prefix → min;
    null for null/shorter-than-n input) and pinned by a JVM-equality test;
    stick to :func:`fingerprint` if a corpus leans on exotic case mappings
    where Python ``str.lower`` and Java could disagree."""
    import hashlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    prefix = 16

    def _fp_fn(texts):
        out = []
        cache: dict[str, str] = {}
        # the cross-row gram cache is what beats the JVM HOF on overlapping
        # text, but high-entropy corpora would grow it without bound across
        # a 10k-row Arrow batch — cap it (~100 MB worst case) and restart;
        # within-row repetition still dedups via the fresh dict
        cache_cap = 1 << 20
        for t in texts:
            if t is None:
                out.append(None)
                continue
            if len(cache) > cache_cap:
                cache = {}
            s = t.lower()
            if len(s) < n:
                out.append(None)
                continue
            best = None
            for i in range(len(s) - n + 1):
                g = s[i : i + n]
                h = cache.get(g)
                if h is None:
                    h = hashlib.md5(g.encode("utf-8", "surrogatepass")).hexdigest()[:prefix]
                    cache[g] = h
                if best is None or h < best:
                    best = h
            out.append(best)
        return pd.Series(out, dtype="object")

    # the module-wide ``from __future__ import annotations`` stringifies
    # inline hints, which pandas_udf cannot resolve — attach real ones
    _fp_fn.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_fp_fn, "string")(col)


URL_DOMAIN_RE = r"https?://([a-zA-Z0-9.-]+)"


def url_domains(col: Column) -> Column:
    """All URL host names mentioned in the text (capture group 1).
    DuckDB twin: ``regexp_extract_all(x, pattern, 1)``."""
    return F.regexp_extract_all(col, F.lit(URL_DOMAIN_RE), 1)


def domain_filter(df, blocklist: list[str], id_col: str = "doc_id", text_col: str = "text"):
    """C4-style domain blocklist gate: per document, the URL domains found
    in the text, how many are blocklisted, and the keep verdict (no blocked
    domain).  The blocklist ships as a literal array in the plan (it is a
    curated list, small by definition — the broadcast-join shape only pays
    off for dynamic lists).  NB the higher-order filter is CodegenFallback
    (Spark HOFs break whole-stage codegen) — fine here because the array is
    tiny per row; a hot path over huge link lists would want explode+join
    instead.  Returns all-portable columns
    (ints + boolean).  DuckDB twin: ``domain_filter`` oracle."""
    doms = url_domains(F.col(text_col))
    blocked = F.size(F.filter(doms, lambda d: d.isin([str(b) for b in blocklist])))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(doms).cast("long").alias("domains_n"),
        blocked.cast("long").alias("blocked_n"),
        (blocked == 0).alias("keep"),
    )


# PII patterns shared by engine and oracle (the oracle SQL interpolates
# THESE constants — see __spark_entry__ — so the two sides cannot drift).
# Kept to constructs with identical semantics in Java regex (Spark) and RE2
# (DuckDB): character classes and bounded repeats only.  Deliberately NO \b:
# Java's \b is Unicode-aware while RE2's is ASCII-only, so a non-ASCII
# letter adjacent to a digit run would make the engines disagree.  The
# boundary-free forms over-match inside longer alnum runs (e.g. part of a
# version string) — for a scrub gate, over-redaction is the safe direction.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "ipv4": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "phone": r"\d{3}-\d{3}-\d{4}",
}


def pii_stats(col: Column) -> dict[str, Column]:
    """Per-kind PII match counts (integers — hash-exact across engines).
    DuckDB twin: ``len(regexp_extract_all(x, pattern))`` per kind."""
    return {
        kind: F.size(F.regexp_extract_all(col, F.lit(pat), 0)).cast("long")
        for kind, pat in PII_PATTERNS.items()
    }


def redact_pii(col: Column) -> Column:
    """Replace every PII match with ``<KIND>`` — the scrub step a
    training-data pipeline applies before mixing a corpus.  Patterns are
    applied in a fixed order (email, ipv4, phone) so the output is
    deterministic and portable; DuckDB twin: nested
    ``regexp_replace(..., 'g')`` in the same order."""
    out = col
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def repetition_stats(df, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher-style repetition statistics per document — the standard
    quality gate a training-data pipeline applies before mixing a corpus
    (Rae et al. 2021 §A1.1: drop documents dominated by duplicate lines or
    by one repeated n-gram).

    Returns all-INTEGER columns so the result is hash-exact across engines
    (ratios are left to the caller — a float division is the only
    non-portable step):

    - ``lines``       — non-blank lines (trimmed)
    - ``dup_lines``   — lines − distinct(lines): mass of repeated lines
    - ``ngrams2``     — word 2-gram occurrences (tokens − 1, 0 if < 2 tokens)
    - ``top2_count``  — occurrences of the single most frequent 2-gram

    Scale shape: the line stats are pure per-row array expressions (NO
    shuffle); the top-2-gram count is one explode + map-side-combinable
    groupBy on (doc, gram) + max — the same shape as exact dedup.  DuckDB
    twin: ``repetition_stats`` in ``__spark_entry__.oracle_sql``.
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).cast("long").alias("lines"),
        (F.size(lines) - F.size(F.array_distinct(lines))).cast("long").alias("dup_lines"),
        F.greatest(F.size(word_tokens(F.col(text_col))) - 1, F.lit(0))
        .cast("long")
        .alias("ngrams2"),
        word_tokens(F.col(text_col)).alias("_toks"),
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("_toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_toks") - 1),
                    lambda i: F.concat_ws(" ", F.slice("_toks", i, 2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    top = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("top2_count"))
    )
    return (
        base.drop("_toks")
        .join(top, "doc_id", "left")
        .select(
            "doc_id", "lines", "dup_lines", "ngrams2",
            F.coalesce("top2_count", F.lit(0).cast("long")).alias("top2_count"),
        )
    )


def simhash60(col: Column) -> Column:
    """60-bit SimHash over word tokens (unweighted).

    bit b of the fingerprint = 1 iff Σ_tokens sign(bit b of h60(token)) > 0.
    Computed entirely with array builtins (no shuffle, no UDF) in ONE pass:
    the vote accumulator is a 60-long array folded token by token.  The token
    hash is the *aggregate lambda variable* — referenced 60 times per token
    but computed once; an expression-level formulation (60 independent
    aggregates) would re-derive the md5 per bit, a measured 60× CPU blowup.
    """
    toks = word_tokens(col)
    hashes = F.transform(toks, lambda t: h60(t, 9))
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(60)])
    zeros = F.array_repeat(F.lit(0).cast("long"), 60)
    votes = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            pow2,
            lambda a, p: a
            + F.when(h.bitwiseAND(p) != 0, F.lit(1).cast("long")).otherwise(F.lit(-1).cast("long")),
        ),
    )
    bits = F.zip_with(
        votes, pow2, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)

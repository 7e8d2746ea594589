"""Redirect-compression fixtures ported verbatim from the reference
(parse.rs:743-850) — the authoritative chain/cycle semantics."""

from __future__ import annotations

import pytest

from wikipath_spark.operators.compress import (
    _compress_driver_side,
    compress_redirects,
    resolve_through,
)


def _compress(spark, pairs, lane):
    """``pairs`` compressed by the reference's walk (``driver``, the build's
    driver lane) or by pointer doubling (``distributed``)."""
    if lane == "driver":
        return dict(_compress_driver_side(pairs))
    df = spark.createDataFrame(pairs, "src long, dst long")
    return {r.src: r.dst for r in compress_redirects(df).collect()}


FIXTURES = [
    # (name, input map, expected compressed map, reference lines)
    ("chain_flatten", {1: 2, 2: 3, 3: 4}, {1: 4, 2: 4, 3: 4}),          # parse.rs:743-753
    ("self_removed", {1: 1, 2: 3}, {2: 3}),                              # parse.rs:756-764
    ("mixed", {1: 2, 2: 2, 3: 4, 4: 5}, {3: 5, 4: 5}),                   # parse.rs:767-779
    ("cycle3", {1: 2, 2: 3, 3: 1}, {}),                                  # parse.rs:782-790
    ("cycle5_tail", {1: 2, 2: 3, 3: 4, 4: 5, 5: 1, 10: 1}, {}),          # parse.rs:793-804
    ("terminal_kept", {10: 99}, {10: 99}),                               # parse.rs:807-813
    ("shared_tail", {1: 3, 2: 3, 3: 4, 4: 8}, {1: 8, 2: 8, 3: 8, 4: 8}),  # parse.rs:816-828
    (
        "disjoint_components",
        {1: 2, 2: 7, 10: 11, 11: 12, 12: 10, 20: 10},
        {1: 7, 2: 7},
    ),  # parse.rs:831-850
]


@pytest.mark.parametrize("lane", ["driver", "distributed"])
@pytest.mark.parametrize("name,inp,expected", FIXTURES, ids=[f[0] for f in FIXTURES])
def test_compress_fixture(spark, name, inp, expected, lane):
    assert _compress(spark, list(inp.items()), lane) == expected


def test_compress_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert compress_redirects(df).count() == 0


def test_compress_long_chain(spark):
    # 0→1→…→63: log-bound pointer doubling must fully flatten
    df = spark.createDataFrame([(i, i + 1) for i in range(63)], "src long, dst long")
    got = {r.src: r.dst for r in compress_redirects(df).collect()}
    assert got == {i: 63 for i in range(63)}


def test_compress_distributed_releases_superseded_state(spark):
    """The pointer-doubling loop checkpoints every iteration; superseded
    iterations must drop their checkpoint blocks during the loop, so only
    the final state (which the result reads) stays persisted."""
    import gc

    from wikipath_spark.operators._loop import persistent_rdd_ids, release_checkpoint

    gc.collect()
    spark.sparkContext._jvm.System.gc()  # flush ContextCleaner backlog first
    df = spark.createDataFrame([(i, i + 1) for i in range(63)], "src long, dst long")
    before = persistent_rdd_ids(spark)
    out = compress_redirects(df)
    assert out.count() == 63
    leaked = persistent_rdd_ids(spark) - before
    assert len(leaked) <= 1, f"{len(leaked)} persistent RDDs remain after the loop"
    release_checkpoint(out)
    assert not persistent_rdd_ids(spark) - before


def _compress_oracle(m: dict[int, int]) -> dict[int, int]:
    """Pure-python oracle of the reference's memoized walk with per-walk
    cycle detection (parse.rs:541-608): chains flatten to their terminal;
    any chain that is part of or leads into a cycle is removed entirely."""
    memo: dict[int, int | None] = {}

    def resolve(x: int, stack: set[int]) -> int | None:
        if x in memo:
            return memo[x]
        if x not in m:
            return x  # terminal: not itself a redirect
        if x in stack:
            return None  # cycle
        stack.add(x)
        r = resolve(m[x], stack)
        stack.discard(x)
        memo[x] = r
        return r

    out = {}
    for s in m:
        t = resolve(s, set())
        if t is not None:
            out[s] = t
    return out


def test_oracle_agrees_with_reference_fixtures():
    for name, inp, expected in FIXTURES:
        assert _compress_oracle(inp) == expected, name


@pytest.mark.parametrize("lane", ["driver", "distributed"])
@pytest.mark.parametrize("seed", range(12))
def test_compress_random_vs_oracle(spark, seed, lane):
    """Random functional graphs (chains, trees, cycles, ρ-shapes) must match
    the reference-semantics oracle exactly — on BOTH physical strategies."""
    import random

    rng = random.Random(seed)
    n = rng.randrange(5, 60)
    m = {s: rng.randrange(0, 70) for s in rng.sample(range(70), n)}
    assert _compress(spark, list(m.items()), lane) == _compress_oracle(m)


def test_resolve_through_identity_fallback(spark):
    redirects = spark.createDataFrame([(1, 9)], "src long, dst long")
    df = spark.createDataFrame([(1, 2), (3, 1), (3, 4)], "src long, dst long")
    got = {
        (r.src, r.dst)
        for r in resolve_through(df, redirects, ["src", "dst"]).collect()
    }
    assert got == {(9, 2), (3, 9), (3, 4)}

"""Seeded inputs.  The program only ever sees what these functions generate.

The source table is the package's deterministic ``synthetic_repos`` table
relabelled by a seeded permutation of each repo's module numbers: every
path and every reference to it is renamed consistently, so each seed gives
an isomorphic graph under different titles and page ids.  The serve request
pool is drawn once in seed-independent page coordinates and mapped through
the same permutation, so every seed serves the isomorphic image of one pool:
seeds change titles, ids and request order, not the amount of work."""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow.parquet as pq

from perfbench.oracles import GraphOracle

_MODULE_REF = re.compile(r"pkg(\d+)([/.])mod(\d+)")
_ACCENT = {"a": "á", "e": "é", "i": "í", "o": "ó", "u": "ú"}
SOURCE_SCHEMA = "repo string, path string, commit string, lang string, content string"


POOL_SEED = 20_240_917  # fixes the pool's structure; --seed relabels it


def module_permutation(classes_per_repo: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).permutation(classes_per_repo)


def seeded_source(spark, classes_per_repo: int, repos: int, seed: int):
    """``synthetic_repos`` with module numbers permuted by ``seed``."""
    from wikipath_spark.sources.synthetic import N_PKGS, synthetic_repos

    perm = module_permutation(classes_per_repo, seed)

    def rename(m: re.Match) -> str:
        mod = int(m.group(3))
        q = int(perm[mod // 3])
        return f"pkg{q % N_PKGS}{m.group(2)}mod{q * 3 + mod % 3}"

    def relabel(batches):
        for pdf in batches:
            pdf["path"] = pdf["path"].str.replace(_MODULE_REF, rename, regex=True)
            pdf["content"] = pdf["content"].str.replace(_MODULE_REF, rename, regex=True)
            yield pdf

    return synthetic_repos(spark, classes_per_repo=classes_per_repo, repos=repos).mapInPandas(
        relabel, schema=SOURCE_SCHEMA
    )


def read_dataset(base: str) -> GraphOracle:
    """The benchmark's own reading of a saved dataset (parquet tables)."""

    def table(name: str, cols: list[str]):
        return pq.read_table(os.path.join(base, f"{name}.parquet"), columns=cols)

    pages = table("pages", ["page_id", "path"])
    red = table("redirects", ["src", "dst"])
    edges = table("edges", ["src", "dst"])
    col = lambda t, c: t.column(c).to_numpy().astype(np.int64)  # noqa: E731
    return GraphOracle(
        col(pages, "page_id"), pages.column("path").to_pylist(),
        col(red, "src"), col(red, "dst"), col(edges, "src"), col(edges, "dst"),
    )


def page_keys(oracle: GraphOracle, perm: np.ndarray) -> np.ndarray:
    """Seed-independent key per page id of a single-repo dataset: its
    module number before the permutation (class * 3 + language)."""
    inv = np.argsort(perm)
    key = np.full(oracle.n, -1, dtype=np.int64)
    for pid, title in oracle.title.items():
        mod = int(_MODULE_REF.search(title).group(3))
        key[pid] = inv[mod // 3] * 3 + mod % 3
    return key


# request mix: share of the pool per kind
MIX = (("path", 0.6), ("no_path", 0.1), ("alias", 0.1), ("altered", 0.1), ("unknown", 0.1))


def _altered(title: str, rng) -> str:
    if rng.random() < 0.5:
        return title.upper()
    spots = [i for i, c in enumerate(title) if c in _ACCENT]
    i = spots[int(rng.integers(len(spots)))]
    return title[:i] + _ACCENT[title[i]] + title[i + 1:]


def request_pool(oracle: GraphOracle, size: int, key: np.ndarray) -> list[dict]:
    """``size`` distinct requests in the fixed MIX, each with its oracle
    answer.  ``path`` pairs lie in one component at distance 3-6; ``no_path``
    pairs are known titles with no path.  Every choice is made among
    candidates ordered by ``key`` (see :func:`page_keys`) with a fixed
    generator, so isomorphic datasets get isomorphic pools."""
    rng = np.random.default_rng(POOL_SEED)
    by_key = lambda ids: ids[np.argsort(key[ids], kind="stable")]  # noqa: E731
    plain = by_key(np.array(
        [v for v in oracle.title if v not in oracle.redirect and oracle.offsets[v + 1] > oracle.offsets[v]],
        dtype=np.int64,
    ))
    alias_ids = by_key(np.fromiter(oracle.redirect, dtype=np.int64))
    pool: dict[tuple[str, str], str] = {}

    def reachable_pair(lo: int, hi: int):
        while True:
            s = int(rng.choice(plain))
            dist, _ = oracle.bfs(s)
            cand = np.flatnonzero((dist >= lo) & (dist <= hi))
            if len(cand):
                return s, int(rng.choice(by_key(cand)))

    for kind, share in MIX:
        want = len(pool) + max(1, round(size * share))
        while len(pool) < want:
            if kind == "path":
                s, t = reachable_pair(3, 6)
                pair = (oracle.title[s], oracle.title[t])
            elif kind == "no_path":
                s = int(rng.choice(plain))
                dist, _ = oracle.bfs(s)
                cand = by_key(np.setdiff1d(plain, np.flatnonzero(dist >= 0)))
                pair = (oracle.title[s], oracle.title[int(rng.choice(cand))])
            elif kind == "alias":
                # alias (redirect) source whose target page reaches t
                a = int(rng.choice(alias_ids))
                dist, _ = oracle.bfs(oracle.redirect[a])
                cand = np.flatnonzero((dist >= 2) & (dist <= 6))
                if not len(cand):
                    continue
                pair = (oracle.title[a], oracle.title[int(rng.choice(by_key(cand)))])
            elif kind == "altered":
                s, t = reachable_pair(3, 6)
                pair = (_altered(oracle.title[s], rng), _altered(oracle.title[t], rng))
            else:
                s = int(rng.choice(plain))
                pair = (oracle.title[s], f"src/void/missing{int(rng.integers(1 << 30))}.py")
            pool.setdefault(pair, kind)
    out = []
    for (source, target), kind in pool.items():
        length, count = oracle.answer(source, target)
        out.append({"source": source, "target": target, "kind": kind, "length": length, "count": count})
    return out

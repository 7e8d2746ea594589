"""Independent reference answers, computed in numpy/pure Python from the
benchmark's own copy of the inputs.  They share no code with the program."""

from __future__ import annotations

import unicodedata

import numpy as np


def pagerank(src, dst, ids, damping: float = 0.85, tol: float = 1e-6, max_iter: int = 100):
    """Power iteration over vertex set ``ids``; dangling mass spread evenly;
    stops at L-inf delta < tol.  Returns ranks aligned with ``ids``."""
    ids = np.asarray(ids, dtype=np.int64)
    pos = {int(v): i for i, v in enumerate(ids)}
    s = np.fromiter((pos[int(v)] for v in src), np.int64, len(src))
    d = np.fromiter((pos[int(v)] for v in dst), np.int64, len(dst))
    n = len(ids)
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        contrib = np.bincount(d, weights=r[s] / out_deg[s], minlength=n)
        new = (1 - damping) / n + damping * (contrib + r[dangling].sum() / n)
        delta = np.abs(new - r).max()
        r = new
        if delta < tol:
            break
    return r


def union_find_components(src, dst) -> dict[int, int]:
    """Undirected components over non-self edges: vertex -> min vertex id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src.tolist(), dst.tolist()):
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def triangles(src, dst) -> int:
    """Distinct triangles of the undirected simple graph: orient each edge
    from lower to higher (degree, id) and intersect forward neighbour sets."""
    u = np.minimum(src, dst)
    v = np.maximum(src, dst)
    pairs = np.unique(np.stack([u[u != v], v[u != v]], axis=1), axis=0)
    deg = np.bincount(pairs.ravel())
    rank_key = deg.astype(np.int64) * (int(pairs.max()) + 1) + np.arange(len(deg))
    a, b = pairs[:, 0], pairs[:, 1]
    swap = rank_key[a] > rank_key[b]
    lo, hi = np.where(swap, b, a), np.where(swap, a, b)
    fwd: dict[int, set] = {}
    for x, y in zip(lo.tolist(), hi.tolist()):
        fwd.setdefault(x, set()).add(y)
    empty: set = set()
    return sum(len(fwd[x] & fwd.get(y, empty)) for x in fwd for y in fwd[x])


def labelprop_violations(labels: dict[int, int], src, dst, comp: dict[int, int]) -> list[str]:
    """Invariants of a label-propagation snapshot: exactly the vertices of
    non-self edges are labelled, and every label is a vertex of the same
    connected component (labels only ever travel along edges)."""
    bad = []
    keep = src != dst
    verts = set(np.concatenate([src[keep], dst[keep]]).tolist())
    if set(labels) != verts:
        bad.append(f"labelled {len(labels)} vertices, graph has {len(verts)}")
    wrong = [v for v, lab in labels.items() if comp.get(lab, -1) != comp.get(v, -2)]
    if wrong:
        bad.append(f"{len(wrong)} labels outside their vertex's component")
    return bad


def fold_title(s: str) -> str:
    """Case- and accent-insensitive key (Unicode decomposition, marks dropped)."""
    decomposed = unicodedata.normalize("NFKD", s)
    return "".join(c for c in decomposed if not unicodedata.combining(c)).lower()


class GraphOracle:
    """Shortest-path length/count answers over one saved dataset: title ->
    id (an exact match wins, else the minimum id among folded matches),
    one-hop redirect resolution, then a level-synchronous BFS that counts
    shortest paths."""

    def __init__(self, page_ids, paths, red_src, red_dst, src, dst) -> None:
        self.exact: dict[str, int] = {}
        self.folded: dict[str, int] = {}
        for pid, p in zip(page_ids.tolist(), paths):
            self.exact[p] = min(pid, self.exact.get(p, pid))
            k = fold_title(p)
            self.folded[k] = min(pid, self.folded.get(k, pid))
        self.title = dict(zip(page_ids.tolist(), paths))
        self.redirect = dict(zip(red_src.tolist(), red_dst.tolist()))
        n = int(max(page_ids.max(), src.max(initial=0), dst.max(initial=0))) + 1
        order = np.argsort(src, kind="stable")
        self.dst = dst[order]
        self.offsets = np.concatenate([[0], np.cumsum(np.bincount(src, minlength=n))])
        self.n = n
        self.edges = set(zip(src.tolist(), dst.tolist()))

    def resolve(self, title: str) -> int | None:
        pid = self.exact.get(title)
        if pid is None:
            pid = self.folded.get(fold_title(title))
        if pid is None:
            return None
        return self.redirect.get(pid, pid)

    def bfs(self, s: int) -> tuple[np.ndarray, np.ndarray]:
        """Distances (-1 = unreachable) and shortest-path counts from ``s``."""
        dist = np.full(self.n, -1, dtype=np.int64)
        cnt = np.zeros(self.n, dtype=np.int64)
        dist[s], cnt[s] = 0, 1
        frontier = np.array([s], dtype=np.int64)
        level = 0
        while len(frontier):
            starts, ends = self.offsets[frontier], self.offsets[frontier + 1]
            lens = ends - starts
            srcs = np.repeat(frontier, lens)
            idx = np.repeat(starts - np.cumsum(lens) + lens, lens) + np.arange(lens.sum())
            nbrs = self.dst[idx]
            fresh = dist[nbrs] == -1
            dist[nbrs[fresh]] = level + 1
            on_level = dist[nbrs] == level + 1
            np.add.at(cnt, nbrs[on_level], cnt[srcs[on_level]])
            frontier = np.unique(nbrs[fresh])
            level += 1
        return dist, cnt

    def answer(self, source: str, target: str) -> tuple[int, int]:
        """(length, count) as the service reports them; (0, 0) = no path."""
        s, t = self.resolve(source), self.resolve(target)
        if s is None or t is None:
            return 0, 0
        if s == t:
            return 0, 1
        dist, cnt = self.bfs(s)
        return (int(dist[t]), int(cnt[t])) if dist[t] > 0 else (0, 0)

    def path_errors(self, response: dict, length: int, count: int) -> list[str]:
        """Each listed path is a real edge walk of ``length`` hops between
        the resolved endpoints, and there are min(count, 8) of them."""
        bad = []
        paths = response.get("paths", [])
        if len(paths) != min(count, 8):
            bad.append(f"{len(paths)} paths listed for count {count}")
        for p in paths:
            ids = [self.exact.get(t) for t in p]
            if len(p) != length + 1 or None in ids:
                bad.append(f"path {p} has wrong length or unknown titles")
            elif any((a, b) not in self.edges for a, b in zip(ids, ids[1:])):
                bad.append(f"path {p} uses a non-edge")
        return bad

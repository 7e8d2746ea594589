"""User-facing query API — the engine's analogue of the reference's HTTP
serve surface (serve.rs:194-209).

Endpoint parity:

- ``GET /api/list_databases``          → :meth:`LinkGraphService.list_datasets`
  (serve.rs:196-199; pre-computed sorted listing, serve.rs:68, 80-100)
- ``GET /api/shortest_paths?language-code=&date-code=&source=&target=``
  → :meth:`LinkGraphService.shortest_paths` (serve.rs:200-209), returning the
  reference's ``Paths`` JSON shape (search.rs:6-18) with ``repo``/``commit``
  in place of ``language_code``/``date_code``, plus client-side path
  enumeration (web/src/api.ts:64-84, capped at 8).

Queries address vertices by **path** (the reference's page title); the
title→id resolution is the same (repo, path) lookup the build uses (J1).

Serve-shape parity with the reference's long-lived process:

- the reference opens each LMDB once and serves point lookups from it
  (serve.rs:68-100); here the first request for a dataset pins it.  A
  dataset within the driver caps is read by three Arrow collects (pages,
  redirects, edges) into driver dicts — title→id, id→title, redirects and
  both adjacencies — and persists nothing: every request then runs with
  zero Spark jobs.  A larger dataset pins persisted frames instead — a
  ``(page_id, path, fkey)`` lookup frame (title→id becomes an in-memory
  columnar probe, never a parquet rescan) and edges/redirects (BFS
  supersteps reuse the cache instead of re-materializing the edge table
  per request),
- the reference's debounced DB-file watcher atomically swaps datasets
  (serve.rs:155-192); the analogue here is :meth:`refresh` — unpersist and
  drop every pinned dataset so the next request re-opens from storage,
- the reference hard-caps every request at 10 s (serve.rs:203-206);
  ``budget_s`` applies the same wall-clock cap via
  :class:`~wikipath_spark.operators.bfs.QueryBudgetExceeded` (the serve
  layer maps it to a timeout response), alongside the hop-bounding
  ``max_supersteps``.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikipath_spark.functions.text import _ACCENTS, _PLAIN, fold_accents
from wikipath_spark.operators._loop import factorize_endpoints
from wikipath_spark.operators.bfs import (
    enumerate_paths,
    shortest_paths,
    shortest_paths_driver,
)
from wikipath_spark.plans.catalog import DatasetCatalog, dataset_name


def _dataset_snapshot(base: str) -> tuple:
    """Cheap on-disk fingerprint of a dataset directory: the sorted
    (relative-path, mtime_ns, size) of every file under it.  ``catalog.save``
    rewrites the table dirs, so any rewrite changes the fingerprint — the
    analogue of the reference's debounced file-watcher event
    (serve.rs:155-192).  Cost is one os.walk over a handful of parquet
    part-files, paid once per request on the already-pinned path."""
    entries = []
    for root, _dirs, files in os.walk(base):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue  # concurrent rewrite: the changed listing suffices
            entries.append((os.path.relpath(p, base), st.st_mtime_ns, st.st_size))
    return tuple(sorted(entries))

_FOLD = str.maketrans(_ACCENTS, _PLAIN)


def _fold_key(s: str) -> str:
    """Driver-side twin of ``F.lower(fold_accents(col))`` — same translate
    table, same lowercasing, so dict probes agree with the Spark fkey."""
    return s.translate(_FOLD).lower()


def _collect_at_most(df: DataFrame, cap: int) -> pa.Table | None:
    """``df`` as one Arrow table, or ``None`` when it has more than ``cap``
    rows: the ``limit(cap + 1)`` collect is its own row-count probe."""
    tbl = df.limit(cap + 1).toArrow()
    return tbl if tbl.num_rows <= cap else None


def _adjacency(src: np.ndarray, dst: np.ndarray) -> tuple[dict, dict]:
    """``(adj_out, adj_in)``: vertex -> [neighbors…] in edge order, each
    grouped by one stable argsort.  Both hold one shared Python int per
    vertex (an object array over :func:`factorize_endpoints`'s ids), not
    one per edge endpoint."""
    ids, si, di = factorize_endpoints(src, dst)
    py = ids.astype(object)

    def grouped(keys: np.ndarray, values: np.ndarray) -> dict:
        if not len(keys):
            return {}
        order = np.argsort(keys, kind="stable")
        keys = keys[order]
        starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
        ends = np.r_[starts[1:], len(keys)].tolist()
        vals = py[values[order]].tolist()
        return {k: vals[a:b] for k, a, b in zip(py[keys[starts]].tolist(), starts.tolist(), ends)}

    return grouped(si, di), grouped(di, si)


def _driver_index(pages: pa.Table, redirects: pa.Table, edges: pa.Table | None) -> dict:
    """A pin's driver index from its collected ``(page_id, path)``,
    redirect ``(src, dst)`` and edge ``(src, dst)`` tables: ``by_fkey``
    (folded path -> [(page_id, path)…]), ``by_id``, ``redirect_map`` and,
    given ``edges``, ``adj_out``/``adj_in``.  Keys are folded here with
    :func:`_fold_key`, the twin of the Spark fkey."""
    ids = pages.column("page_id").to_numpy().tolist()
    paths = pages.column("path").to_pylist()
    by_fkey: dict = {}
    for pid, path in zip(ids, paths):
        key = _fold_key(path)  # a path that folds to itself keys by the same string object
        by_fkey.setdefault(path if key == path else key, []).append((pid, path))
    index = {
        "by_fkey": by_fkey,
        "by_id": dict(zip(ids, paths)),
        "redirect_map": dict(zip(
            redirects.column("src").to_numpy().tolist(),
            redirects.column("dst").to_numpy().tolist(),
        )),
    }
    if edges is not None:
        index["adj_out"], index["adj_in"] = _adjacency(
            edges.column("src").to_numpy(), edges.column("dst").to_numpy()
        )
    return index


@dataclass
class _PinnedDataset:
    """One opened dataset: the driver index and persisted frames a
    long-lived service reuses."""

    tables: object          # GraphTables; edges/redirects persisted on a frame pin
    lookup: object          # (page_id, path, fkey) frame, persisted on a frame pin
    by_fkey: dict | None    # driver-side point index (small datasets):
    by_id: dict | None      # fkey -> [(page_id, path)…] / page_id -> path
    redirect_map: dict | None  # src page_id -> dst page_id (small datasets):
    # folded into the driver index so query-entry redirect resolution (G7)
    # is the same zero-Spark-job point read as title→id — reference parity:
    # redirect lookup is the same LMDB point read as titles (search.rs:27-32)
    adj_out: dict | None = None  # vertex -> [out-neighbors] (small datasets):
    adj_in: dict | None = None   # with both adjacency dicts pinned, the WHOLE
    # shortest-paths request runs driver-side with zero Spark jobs
    # (operators/bfs.shortest_paths_driver) — full serving parity with the
    # reference answering every query from its memory-mapped DB
    frames: tuple = ()      # the persisted frames this pin releases (none
    # when the driver index answers every request)
    snapshot: tuple = ()    # on-disk fingerprint at open time (hot reload)
    checked_at: float = 0.0  # monotonic time of the last snapshot comparison
    refs: int = 0           # in-flight requests reading this pin (guarded by
    retired: bool = False   # the service lock); retired = superseded — the
    # frames release once the last in-flight request finishes, so a
    # hot-reload or LRU eviction can never unpersist a dataset out from
    # under a concurrent distributed query (the reference's atomic swap
    # keeps the old DB alive for handles that already opened it)

    def retire(self) -> None:
        self.retired = True
        if self.refs == 0:
            self._release()

    def _release(self) -> None:
        for frame in self.frames:
            frame.unpersist()

    # immediate-release spelling kept for direct callers/tests
    def unpin(self) -> None:
        self.retire()


@dataclass
class LinkGraphService:
    catalog: DatasetCatalog
    budget_s: float | None = 10.0  # reference default: 10s (serve.rs:203-206)
    # LRU cap on simultaneously-pinned datasets: a long-lived serve process
    # scanning many commits must not accumulate executor storage forever
    # (the reference keeps exactly the live DBs open, serve.rs:68-100)
    max_pinned: int = 4
    # datasets with ≤ this many pages get a driver-side dict index — the
    # analogue of the reference's LMDB B-tree point read (database.rs:199-205):
    # title→id and id→title become O(1) hash probes, ZERO Spark jobs/request.
    # Sizing: ~330 B per page across the title and redirect dicts, path
    # strings included (tracemalloc, the 6k-page serve_hot pin), so the
    # default caps driver heap at ~165 MB per pinned dataset (× max_pinned);
    # larger datasets fall back to the fkey-sorted cached-frame probe on
    # executors
    driver_index_max_rows: int = 500_000
    # datasets whose edge count also fits this cap additionally pin the
    # adjacency (out- and in-neighbor dicts), upgrading shortest_paths from
    # distributed BFS to the driver-side twin — zero Spark jobs end-to-end.
    # Sizing: ~60 B/edge across the two dicts (tracemalloc, the 33k-edge
    # serve_hot pin) ⇒ ~60 MB at the default cap; big graphs keep the
    # distributed BFS over cached frames
    driver_adjacency_max_edges: int = 1_000_000
    # hot-reload check debounce: the reference's file watcher is debounced
    # (serve.rs:155-192); re-walking the dataset dir on EVERY request would
    # put one os.walk per query on the zero-job fast lane.  A rewrite is
    # picked up at most this many seconds late; 0 checks every request.
    reload_check_interval_s: float = 1.0
    _pinned: dict = field(default_factory=dict, init=False, repr=False)
    # pin management is serialized: the reference's serve loop handles
    # concurrent HTTP requests, and two threads racing _open/refresh could
    # otherwise double-pin one dataset or evict a pin mid-construction.
    # Queries themselves (driver-dict probes, BFS over already-pinned
    # frames) run outside the lock — only the pin-state transitions lock.
    _lock: threading.RLock = field(default_factory=threading.RLock, init=False, repr=False)
    # per-key build coordination: cold opens run OUTSIDE the lock (they cost
    # seconds of Spark jobs; holding the lock would stall the zero-job fast
    # lane for every other pinned dataset) — racing openers of the SAME key
    # wait on its event instead of building twice
    _opening: dict = field(default_factory=dict, init=False, repr=False)

    def list_datasets(self) -> list[dict]:
        return [
            {"repo": r.repo, "commit": r.commit, "name": r.name}
            for r in self.catalog.list_datasets().collect()
        ]

    def refresh(self) -> None:
        """Drop every pinned dataset (≈ the reference's watcher-triggered
        atomic swap, serve.rs:155-192): the next request re-opens from
        storage, picking up rewritten tables."""
        with self._lock:
            for ds in self._pinned.values():
                ds.retire()
            self._pinned.clear()

    def _open(self, repo: str, commit: str, _pin_ref: bool = False) -> _PinnedDataset:
        """Return the pinned dataset for (repo, commit), building it on first
        use.  Hot path (already pinned, debounce window or unchanged on
        disk): a dict probe under the lock.  Cold path: ONE thread builds
        the pin outside the lock (racing openers of the same key wait on its
        event) so requests for other pinned datasets never stall behind a
        multi-second open.  ``_pin_ref`` atomically takes a reference (see
        :meth:`_checkout`)."""
        key = (repo, commit)
        base = os.path.join(self.catalog.root, dataset_name(repo, commit))
        while True:
            stale_check = None
            with self._lock:
                ds = self._pinned.get(key)
                if ds is not None:
                    # auto hot-reload (serve.rs:155-192 parity): a dataset
                    # rewritten on disk since it was pinned is retired and
                    # re-opened, no manual refresh() needed.  Debounced like
                    # the reference's watcher: within the interval the pin
                    # is trusted without re-walking the directory.
                    now = time.monotonic()
                    if now - ds.checked_at < self.reload_check_interval_s:
                        self._pinned[key] = self._pinned.pop(key)  # LRU: newest
                        if _pin_ref:
                            ds.refs += 1
                        return ds
                    stale_check = ds  # walk the directory OUTSIDE the lock
                else:
                    ev = self._opening.get(key)
                    if ev is None:
                        self._opening[key] = ev = threading.Event()
                        break  # this thread builds the pin
            if stale_check is not None:
                # staleness probe without the global lock (ADVICE r5 item 2):
                # the os.walk of a large dataset dir must not stall every
                # concurrent request for every dataset once per debounce
                # interval.  Re-acquire and re-validate: only act if the SAME
                # pin object is still installed (a racing thread may have
                # retired or replaced it while we walked — then just retry).
                snap = _dataset_snapshot(base)
                with self._lock:
                    cur = self._pinned.get(key)
                    if cur is stale_check:
                        if cur.snapshot == snap:
                            cur.checked_at = time.monotonic()
                            self._pinned[key] = self._pinned.pop(key)  # LRU
                            if _pin_ref:
                                cur.refs += 1
                            return cur
                        self._pinned.pop(key).retire()
                continue  # rewritten on disk (or racing change): re-resolve
            ev.wait()  # another thread is building it: wait, then re-check
        try:
            snapshot = _dataset_snapshot(base)  # taken BEFORE reading: a
            # rewrite racing the open fails the next comparison → re-open.
            # catalog.get runs BEFORE eviction: it raises for an unknown
            # (repo, commit) while still fully lazy (no persist, no jobs),
            # so a typo'd request cannot cost a healthy dataset its pin
            tables = self.catalog.get(repo, commit)
            with self._lock:
                # LRU eviction BEFORE the incoming dataset persists anything:
                # evicting after would transiently hold max_pinned+1
                # datasets' executor storage.  Plain dicts iterate in
                # insertion order and the hot path re-inserts on every hit,
                # so the first key is the least recent.
                self._evict_to(self.max_pinned - 1)
            ds = self._build_pin(tables, snapshot)
            with self._lock:
                self._evict_to(self.max_pinned - 1)  # racing builders
                self._pinned[key] = ds
                if _pin_ref:
                    ds.refs += 1
            return ds
        finally:
            with self._lock:
                self._opening.pop(key, None)
            ev.set()

    def _evict_to(self, n: int) -> None:
        while len(self._pinned) > max(0, n):
            oldest = next(iter(self._pinned))
            self._pinned.pop(oldest).retire()

    def _checkout(self, repo: str, commit: str):
        """Context manager for one request: opens the dataset and holds a
        reference for the request's duration, so a concurrent hot-reload or
        LRU eviction retires the pin without unpersisting frames an
        in-flight query is still reading — the frames release when the last
        holder exits."""
        import contextlib

        @contextlib.contextmanager
        def cm():
            ds = self._open(repo, commit, _pin_ref=True)
            try:
                yield ds
            finally:
                with self._lock:
                    ds.refs -= 1
                    if ds.retired and ds.refs == 0:
                        ds._release()

        return cm()

    def _build_pin(self, tables, snapshot: tuple) -> _PinnedDataset:
        """Index one dataset (the expensive part of an open; runs outside
        the service lock).  Within both caps: Arrow collects into the
        driver index and no persisted frame.  Over the page cap: persisted
        lookup, edges and redirects.  Over the edge cap only: the driver
        title index and persisted edges."""
        lookup = tables.pages.select(
            "page_id",
            "path",
            F.lower(fold_accents(F.col("path"))).alias("fkey"),
        )
        # sort by the probe key before caching: InMemoryTableScan keeps
        # per-batch min/max stats, so a large dataset's fkey filter prunes
        # to a handful of cached batches instead of scanning every one
        lookup = lookup.sortWithinPartitions("fkey")
        pages = _collect_at_most(tables.pages.select("page_id", "path"), self.driver_index_max_rows)
        if pages is None:
            tables.edges = tables.edges.persist()
            tables.edges.count()  # pin eagerly: supersteps reuse the cache
            tables.redirects = tables.redirects.persist()
            lookup = lookup.persist()
            lookup.count()
            return _PinnedDataset(
                tables=tables, lookup=lookup, by_fkey=None, by_id=None, redirect_map=None,
                frames=(lookup, tables.edges, tables.redirects),
                snapshot=snapshot, checked_at=time.monotonic(),
            )
        # small dataset: the collects at open time buy LMDB-style O(1) point
        # reads for the life of the pin (no Spark job per request).  Redirect
        # sources are pages, so the redirect collect fits the same cap, and
        # query-entry resolution (G7) is a dict read too.  The adjacency
        # joins when the edge set also fits: the BFS itself then never
        # leaves the driver (search.rs serving parity); otherwise the
        # distributed BFS runs over the persisted edges
        redirects = tables.redirects.select("src", "dst").toArrow()
        edges = _collect_at_most(tables.edges.select("src", "dst"), self.driver_adjacency_max_edges)
        frames = ()
        if edges is None:
            tables.edges = tables.edges.persist()
            tables.edges.count()
            frames = (tables.edges,)
        return _PinnedDataset(
            tables=tables, lookup=lookup, **_driver_index(pages, redirects, edges),
            frames=frames, snapshot=snapshot, checked_at=time.monotonic(),
        )

    def _page_id(self, ds: _PinnedDataset, path: str) -> int | None:
        """Path → page id, case/accent-insensitively (the reference frontend
        compares titles after lowercasing + accent folding, web/src/misc.ts:
        13-15).  Small datasets probe the driver-side dict index (O(1), zero
        Spark jobs — LMDB point-read parity, database.rs:199-205); large ones
        probe the fkey-sorted persisted lookup frame, whose cached-batch
        min/max stats prune the in-memory scan.  An exact-case match wins
        over a folded match; ties break on minimum page_id in BOTH cases —
        ``exact[0]`` would be collect/insertion order, which can differ
        between the dict-index and frame-probe paths."""
        if ds.by_fkey is not None:
            rows = ds.by_fkey.get(_fold_key(path), [])
            if not rows:
                return None
            exact = [pid for pid, p in rows if p == path]
            return min(exact) if exact else min(pid for pid, _ in rows)
        rows = (
            ds.lookup.filter(F.col("fkey") == F.lower(fold_accents(F.lit(path))))
            .select("page_id", "path")
            .collect()
        )
        if not rows:
            return None
        exact = [r.page_id for r in rows if r.path == path]
        return min(exact) if exact else min(r.page_id for r in rows)

    def shortest_paths(
        self,
        repo: str,
        commit: str,
        source_path: str,
        target_path: str,
        max_paths: int = 8,
        max_supersteps: int = 50,
        budget_s: float | None = None,
    ) -> dict:
        """Full query: dataset lookup (J9) → title→id (J1) → bidirectional
        BFS → Paths dict + ≤``max_paths`` enumerated paths (as path strings).
        Unknown source/target paths yield the empty result (count 0), like
        the reference's dangling-title skip.  ``budget_s`` overrides the
        service-level wall-clock cap for this request (None inherits it);
        exceeding it raises ``QueryBudgetExceeded`` for the transport layer
        to map to a timeout response (serve.rs:203-206)."""
        with self._checkout(repo, commit) as ds:
            return self._shortest_paths_on(
                ds, repo, commit, source_path, target_path,
                max_paths, max_supersteps, budget_s,
            )

    def _shortest_paths_on(
        self, ds, repo, commit, source_path, target_path,
        max_paths, max_supersteps, budget_s,
    ) -> dict:
        src_id = self._page_id(ds, source_path)
        dst_id = self._page_id(ds, target_path)
        if src_id is None or dst_id is None:
            return {
                "source": source_path,
                "source_is_redirect": False,
                "target": target_path,
                "target_is_redirect": False,
                "links": {},
                "repo": repo,
                "commit": commit,
                "length": 0,
                "count": 0,
                "paths": [],
            }
        budget = self.budget_s if budget_s is None else budget_s
        if ds.adj_out is not None:
            # small pinned dataset: the whole query — redirect resolve, BFS,
            # DAG extraction, counting — runs driver-side with ZERO Spark
            # jobs, like the reference serving from its memory-mapped DB
            res = shortest_paths_driver(
                ds.adj_out,
                ds.adj_in,
                src_id,
                dst_id,
                redirects=ds.redirect_map,
                max_supersteps=max_supersteps,
                budget_s=budget,
            )
        else:
            res = shortest_paths(
                ds.tables.edges,
                src_id,
                dst_id,
                # small datasets resolve query-entry redirects from the pinned
                # driver dict (zero Spark jobs — search.rs:27-32 point-read
                # parity); large ones keep the persisted-frame probe
                redirects=(
                    ds.redirect_map if ds.redirect_map is not None else ds.tables.redirects
                ),
                max_supersteps=max_supersteps,
                budget_s=budget,
            )
        id_paths = enumerate_paths(res, max_paths=max_paths)
        # resolve ids back to titles for the response (≈ the frontend's
        # title fetch, web/src/api.ts:93-129 — a probe of the pinned lookup)
        ids = sorted({v for p in id_paths for v in p} | {res.source, res.target})
        if ds.by_id is not None:
            id_to_path = {i: ds.by_id[i] for i in ids if i in ds.by_id}
        else:
            id_to_path = {
                r.page_id: r.path
                for r in ds.lookup.filter(F.col("page_id").isin(ids))
                .select("page_id", "path")
                .collect()
            }
        out = res.to_dict()
        out.update(
            {
                "repo": repo,
                "commit": commit,
                "source": id_to_path.get(res.source, res.source),
                "target": id_to_path.get(res.target, res.target),
                "paths": [[id_to_path.get(v, v) for v in p] for p in id_paths],
            }
        )
        return out

"""The workloads.  Each drives only public entry points of the package
(``plans.build``, ``operators``, ``plans.catalog``, ``api.LinkGraphService``)
from one client thread, times what a user waits for, and checks every
output against the oracles after the timed region.

A workload function fills ``ctx.metrics`` (end-to-end values),
``ctx.attempted``/``ctx.failed`` and ``ctx.record``; with tracing on it also
leaves spans in ``ctx.tracer`` for :func:`per_layer`."""

from __future__ import annotations

import gc
import hashlib
import os
import time
import traceback

import numpy as np

from perfbench import oracles
from perfbench.harness import status_kb, median, percentile
from perfbench.inputs import (
    MIX,
    module_permutation,
    page_keys,
    read_dataset,
    request_pool,
    seeded_source,
)

# Input sizes.  batch_rank: 4 repos x 1000 classes x 3 languages = 12k pages.
BATCH_CLASSES, BATCH_REPOS = 1000, 4
LPA_ITERS = 3  # fixed cap: synchronous LPA never converges this early here
HOT_CLASSES = 2000  # serve_hot: one repo, 6k pages
HOT_POOL = 200  # distinct requests in the serve_hot pool


# ---------------------------------------------------------------------------
# batch_rank: build -> pagerank(1e-6) -> components -> labelprop -> triangles
# ---------------------------------------------------------------------------


def _batch_job(ctx, source_base: str) -> dict:
    from wikipath_spark.operators import (
        connected_components,
        label_propagation,
        pagerank,
        triangle_count,
    )
    from wikipath_spark.plans.build import build_graph
    from wikipath_spark.sources.tables import load_table

    tr = ctx.tracer
    steps: list[float] = []

    def on_superstep(_i, _ranks, _delta):
        steps.append(time.perf_counter())
        if len(steps) == 1:
            tr.regroup("pagerank.steps")

    t0 = time.perf_counter()
    with tr.span("job"):
        with tr.span("build", group=True):
            g = build_graph(ctx.spark, load_table(ctx.spark, source_base, "repos"))
            edges = g.edges.persist()
            vertices = g.pages.select("page_id").persist()
            n_edges, n_pages = edges.count(), vertices.count()
        with tr.span("pagerank", group=True):
            t_pr = time.perf_counter()
            pr = pagerank(
                edges, vertices=vertices, tol=1e-6,
                on_superstep=on_superstep if tr.enabled else None,
            )
            pr_s = time.perf_counter() - t_pr
        with tr.span("components", group=True):
            cc = connected_components(edges)
            cc.count()
        with tr.span("labelprop", group=True):
            lp = label_propagation(edges, max_iter=LPA_ITERS)
            lp.count()
        with tr.span("triangles", group=True):
            tri = triangle_count(edges)
    wall = time.perf_counter() - t0
    ctx.record["graph"] = {"pages": n_pages, "edges": n_edges}
    return {
        "wall": wall, "pagerank_s": pr_s, "pr": pr, "cc": cc, "lp": lp, "tri": tri,
        "edges": edges, "vertices": vertices, "steps": steps,
    }


def _check_batch(job: dict) -> list[str]:
    """Oracle checks of one job's four kernel outputs; one entry per failure."""
    e = job["edges"].toPandas()
    src, dst = e["src"].to_numpy(np.int64), e["dst"].to_numpy(np.int64)
    ids = np.sort(job["vertices"].toPandas()["page_id"].to_numpy(np.int64))
    bad = []
    got = job["pr"].ranks.toPandas().set_index("page_id")["rank"]
    ref = oracles.pagerank(src, dst, ids)
    if len(got) != len(ids) or np.abs(got.reindex(ids).to_numpy() - ref).max() > 1e-6:
        bad.append("pagerank differs from the numpy power iteration by more than 1e-6")
    comp = oracles.union_find_components(src, dst)
    cc = job["cc"].toPandas()
    if dict(zip(cc["page_id"].tolist(), cc["component"].tolist())) != comp:
        bad.append("connected components differ from union-find")
    lp = job["lp"].toPandas()
    lp_bad = oracles.labelprop_violations(
        dict(zip(lp["page_id"].tolist(), lp["label"].tolist())), src, dst, comp
    )
    if lp_bad:
        bad.append("label propagation: " + "; ".join(lp_bad))
    want = oracles.triangles(src, dst)
    if job["tri"] != want:
        bad.append(f"triangle_count {job['tri']} != oracle {want}")
    return bad


def batch_rank(ctx) -> None:
    from wikipath_spark.sources.tables import write_table

    base = os.path.join(ctx.work, "source")
    ctx.record["input"] = {
        "classes_per_repo": BATCH_CLASSES, "repos": BATCH_REPOS,
        "source_rows": BATCH_CLASSES * 3 * BATCH_REPOS,
    }
    with ctx.rss.phase():
        with ctx.tracer.span("sources.write", group=True):
            write_table(seeded_source(ctx.spark, BATCH_CLASSES, BATCH_REPOS, ctx.seed), base, "repos")
        ctx.setup_done()
        # one cold job: it takes longer than --seconds at these sizes
        job = _batch_job(ctx, base)
    ctx.attempted = 4
    for problem in _check_batch(job):
        ctx.fail(problem)
    ctx.metrics["call_p50_ms"] = 1000 * job["wall"]  # the one call: the whole job
    ctx.record.update(pagerank_s=job["pagerank_s"], pagerank_supersteps=job["pr"].iterations)
    ctx.notes["pr_steps"] = job["steps"]


# ---------------------------------------------------------------------------
# serving: one client thread, closed loop
# ---------------------------------------------------------------------------


def _saved_dataset(ctx) -> tuple[str, str]:
    """Build the seeded source straight into the graph and save it through
    the catalog; returns its (repo, commit) key."""
    from wikipath_spark.plans.build import build_graph

    tr = ctx.tracer
    with tr.span("build", group=True):
        g = build_graph(ctx.spark, seeded_source(ctx.spark, HOT_CLASSES, 1, ctx.seed))
        g.pages = g.pages.persist()
        key = g.pages.select("repo", "commit").first()
    with tr.span("catalog.save", group=True):
        ctx.catalog.save(key.repo, key.commit, g)
    g.pages.unpersist()
    ctx.record["input"] = {"classes_per_repo": HOT_CLASSES, "repos": 1, "source_rows": HOT_CLASSES * 3}
    return key.repo, key.commit


class _Client:
    """One closed-loop client: issues requests, times each one, and counts
    failures (exceptions, budget overruns and wrong length/count)."""

    def __init__(self, ctx, svc, key, capacity: int) -> None:
        self.ctx, self.svc, self.key = ctx, svc, key
        # touched now, before any RSS phase: latency per timed request
        self.lat = np.full(capacity, -1.0)
        self.n = 0
        self.first: dict[tuple, dict] = {}

    def call(self, req: dict, rid: int) -> float:
        """One request; ``rid`` >= 0 marks the timed ones in the trace."""
        ctx, tr = self.ctx, self.ctx.tracer
        ctx.attempted += 1
        tr.request = rid
        t = time.perf_counter()
        try:
            with tr.span("api.request", group=rid < 0):
                res = self.svc.shortest_paths(*self.key, req["source"], req["target"])
        except Exception as exc:  # every failed request counts, the loop goes on
            res = None
            ctx.fail(f"{req['kind']} request {req['source']!r} -> {req['target']!r}: {exc!r}")
            if ctx.failed == 1:
                traceback.print_exc()
        dt = time.perf_counter() - t
        tr.request = None
        if res is not None:
            if (res["length"], res["count"]) != (req["length"], req["count"]):
                ctx.fail(
                    f"{req['kind']} {req['source']!r} -> {req['target']!r}: got "
                    f"({res['length']}, {res['count']}), oracle ({req['length']}, {req['count']})"
                )
            self.first.setdefault((req["source"], req["target"]), res)
        return dt

    def timed(self, req: dict) -> None:
        self.lat[self.n] = self.call(req, self.n)
        self.n += 1


def _pinned_mb(ctx, rss_before_kb: int) -> float:
    """Executor storage held by persisted frames plus the driver's resident
    growth across the opening request."""
    gc.collect()
    infos = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
    storage = sum(i.memSize() + i.diskSize() for i in infos)
    return storage / 2**20 + (status_kb("VmRSS") - rss_before_kb) / 1024


def _traced_api(ctx):
    """Wrap the module attributes the service calls so each call records a
    span, and time the service's pin checkout and title probes per request
    (timers, not spans, so the request span's self time keeps them);
    returns the undo function."""
    import wikipath_spark.api as api
    from wikipath_spark.plans.catalog import DatasetCatalog

    tr = ctx.tracer
    svc = api.LinkGraphService
    saved = (api.shortest_paths_driver, api.enumerate_paths, DatasetCatalog.get, svc._open, svc._page_id)
    timers = ctx.notes["timers"] = {"checkout": {}, "title_probe": {}}  # name -> request id -> s

    def timed(fn, sink: dict):
        def call(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                sink[tr.request] = sink.get(tr.request, 0.0) + time.perf_counter() - t

        return call

    if tr.enabled:
        api.shortest_paths_driver = tr.wrap(saved[0], "bfs.driver")
        api.enumerate_paths = tr.wrap(saved[1], "bfs.enumerate")
        DatasetCatalog.get = tr.wrap(saved[2], "catalog.get")
        svc._open = timed(saved[3], timers["checkout"])
        svc._page_id = timed(saved[4], timers["title_probe"])

    def undo():
        (api.shortest_paths_driver, api.enumerate_paths, DatasetCatalog.get,
         svc._open, svc._page_id) = saved

    return undo


def serve_hot(ctx) -> None:
    from wikipath_spark.api import LinkGraphService

    undo = _traced_api(ctx)
    try:
        with ctx.rss.phase():
            key = _saved_dataset(ctx)
        # benchmark-only work: read the saved tables, draw the pool, answer it
        t_oracle = time.perf_counter()
        oracle = read_dataset(os.path.join(ctx.catalog.root, f"wp-{key[0]}-{key[1]}"))
        keys = page_keys(oracle, module_permutation(HOT_CLASSES, ctx.seed))
        reqs = request_pool(oracle, HOT_POOL, keys)
        ctx.record["graph"] = {"pages": len(oracle.title), "edges": len(oracle.edges)}
        ctx.record["pool_kinds"] = {k: sum(r["kind"] == k for r in reqs) for k, _ in MIX}
        # equal across seeds: every seed serves an isomorphic pool
        answers = sorted((r["kind"], r["length"], r["count"]) for r in reqs)
        ctx.record["pool_answers_sha1"] = hashlib.sha1(repr(answers).encode()).hexdigest()[:12]
        client = _Client(ctx, LinkGraphService(ctx.catalog), key, capacity=ctx.seconds * 50_000)
        ctx.exclude_from_setup(time.perf_counter() - t_oracle)
        with ctx.rss.phase():
            rss0 = status_kb("VmRSS")
            client.call(reqs[0], -1)  # opens and pins the dataset
            ctx.record["pinned_mb"] = ctx.notes["pinned_mb"] = _pinned_mb(ctx, rss0)
            for i, r in enumerate(reqs):  # warm-up: every distinct request once
                client.call(r, -2 - i)
            ctx.setup_done()
            # timed: passes over the whole pool, each in a fresh seeded order.
            # The client thread moves to the next core every pass: tenant
            # contention lands on single cores for seconds at a time, and a
            # run pinned to one busy core would measure that core, not the
            # service.
            passes = []
            cores = sorted(os.sched_getaffinity(0))
            try:
                with ctx.tracer.span("serve.loop", group=True):
                    t_end = time.perf_counter() + ctx.seconds
                    while not passes or (
                        time.perf_counter() < t_end and client.n + len(reqs) <= client.lat.size
                    ):
                        os.sched_setaffinity(0, {cores[len(passes) % len(cores)]})
                        for i in ctx.rng.permutation(len(reqs)):
                            client.timed(reqs[i])
                        passes.append(client.lat[client.n - len(reqs): client.n].sum())
            finally:
                os.sched_setaffinity(0, cores)
    finally:
        undo()
    # full response check of the first answer to each distinct request:
    # the listed paths must be real walks of the reported length
    for (source, target), res in client.first.items():
        req = next(r for r in reqs if (r["source"], r["target"]) == (source, target))
        for problem in oracle.path_errors(res, req["length"], req["count"]):
            ctx.fail(f"{source!r} -> {target!r}: {problem}")
    # the median over every timed request; the median pass over the pool,
    # which the slowest requests dominate, is a per-layer metric
    lat = client.lat[: client.n]
    ctx.metrics["call_p50_ms"] = 1000 * float(np.median(lat))
    # the highest percentile with at least ten samples beyond it
    tail = next((q for q in (99.9, 99, 90) if client.n * (1 - q / 100) >= 10), None)
    ctx.record.update(
        requests=client.n,
        passes=len(passes),
        pass_s={"min": min(passes), "median": median(passes), "max": max(passes)},
        tail=None if tail is None else {"q": tail, "ms": 1000 * percentile(lat, tail)},
    )
    ctx.notes.update(latencies=lat, pass_s=median(passes))


WORKLOADS = {"batch_rank": batch_rank, "serve_hot": serve_hot}


# ---------------------------------------------------------------------------
# per-layer metrics from spans + the event log (traced runs)
# ---------------------------------------------------------------------------

PER_LAYER = (
    ("session.start_s", "s"),
    ("sources.write_s", "s"),
    ("build.wall_s", "s"),
    ("build.jobs", "count"),
    ("build.task_s", "s"),
    ("build.shuffle_write_mb", "MB"),
    ("pagerank.wall_s", "s"),
    ("pagerank.setup_s", "s"),
    ("pagerank.superstep_ms", "ms"),
    ("pagerank.supersteps", "count"),
    ("pagerank.jobs_per_superstep", "count"),
    ("pagerank.shuffle_mb_per_superstep", "MB"),
    ("components.wall_s", "s"),
    ("components.jobs", "count"),
    ("labelprop.wall_s", "s"),
    ("labelprop.jobs", "count"),
    ("triangles.wall_s", "s"),
    ("triangles.jobs", "count"),
    ("triangles.shuffle_write_mb", "MB"),
    ("api.request_p50_ms", "ms"),
    ("api.request_p99_ms", "ms"),
    ("api.resolve_ms", "ms"),
    ("api.checkout_ms", "ms"),
    ("api.title_probe_ms", "ms"),
    ("api.jobs_per_request", "count"),
    ("api.pinned_mb", "MB"),
    ("api.open_s", "s"),
    ("api.open_jobs", "count"),
    ("api.opens_per_request", "count"),
    ("bfs.driver_ms", "ms"),
    ("bfs.driver_p99_ms", "ms"),
    ("bfs.enumerate_ms", "ms"),
    ("catalog.get_ms", "ms"),
    ("catalog.save_s", "s"),
    ("api.pass_s", "s"),
    ("trace.call_p50_ms", "ms"),
)

# counts that must repeat exactly from run to run
EXACT_COUNTS = (
    "build.jobs", "pagerank.supersteps", "pagerank.jobs_per_superstep", "components.jobs",
    "labelprop.jobs", "triangles.jobs", "api.jobs_per_request", "api.open_jobs",
    "api.opens_per_request",
)


def per_layer(ctx, groups: dict) -> dict:
    """Every PER_LAYER metric; a layer the workload never reaches reads 0."""
    tr = ctx.tracer
    spans = tr.spans
    own = tr.self_times()
    # event-log stats per span, rolled up to every ancestor span
    stats = [{"jobs": 0, "task_s": 0.0, "shuffle_write_b": 0} for _ in spans]
    for gid, st in groups.items():
        sid = int(gid[1:]) if gid.startswith("s") and gid[1:].isdigit() else None
        while sid is not None:
            for k in st:
                stats[sid][k] += st[k]
            sid = spans[sid][3]
    idx = {}
    for i, s in enumerate(spans):
        idx.setdefault(s[0], []).append(i)
    dur = lambda i: spans[i][2] - spans[i][1]  # noqa: E731
    walls = lambda name: [dur(i) for i in idx.get(name, [])]  # noqa: E731
    # every layer below runs once per run, except catalog.get and the api spans
    one = lambda name, k: stats[idx[name][0]][k] if name in idx else 0  # noqa: E731
    m = {
        "session.start_s": ctx.session_s,
        "sources.write_s": median(walls("sources.write")),
        "build.wall_s": median(walls("build")),
        "build.jobs": one("build", "jobs"),
        "build.task_s": one("build", "task_s"),
        "build.shuffle_write_mb": one("build", "shuffle_write_b") / 2**20,
        "pagerank.wall_s": median(walls("pagerank")),
        "components.wall_s": median(walls("components")),
        "components.jobs": one("components", "jobs"),
        "labelprop.wall_s": median(walls("labelprop")),
        "labelprop.jobs": one("labelprop", "jobs"),
        "triangles.wall_s": median(walls("triangles")),
        "triangles.jobs": one("triangles", "jobs"),
        "triangles.shuffle_write_mb": one("triangles", "shuffle_write_b") / 2**20,
        "catalog.save_s": median(walls("catalog.save")),
        "catalog.get_ms": 1000 * median(walls("catalog.get")),
    }
    # pagerank: set-up = call -> first superstep callback; steady supersteps
    # are the callback-to-callback intervals, whose jobs the "pagerank.steps"
    # group collects
    steps = ctx.notes.get("pr_steps")
    if steps:
        gaps = [b - a for a, b in zip(steps, steps[1:])]
        steady = stats[idx["pagerank.steps"][0]]
        m.update({
            "pagerank.setup_s": steps[0] - spans[idx["pagerank"][0]][1],
            "pagerank.superstep_ms": 1000 * median(gaps),
            "pagerank.supersteps": ctx.record["pagerank_supersteps"],
            "pagerank.jobs_per_superstep": steady["jobs"] / len(gaps),
            "pagerank.shuffle_mb_per_superstep": steady["shuffle_write_b"] / len(gaps) / 2**20,
        })
    # api: measured requests have ids >= 0, set-up and warm-up ones < 0
    rid = lambda i: spans[i][4]  # noqa: E731
    reqs = [i for i in idx.get("api.request", []) if rid(i) >= 0]
    if reqs:
        lat = ctx.notes["latencies"]
        opened = {rid(i) for i in idx.get("catalog.get", [])}
        opening = [i for i in idx["api.request"] if rid(i) in opened]
        # the open is the part of an opening request before its BFS starts
        bfs_start = {spans[j][3]: spans[j][1] for j in reversed(idx.get("bfs.driver", []))}
        measured_open = [i for i in opening if rid(i) >= 0] or opening
        in_loop = lambda name: [dur(j) for j in idx.get(name, []) if rid(j) is not None and rid(j) >= 0]  # noqa: E731
        drv = in_loop("bfs.driver")
        loop_jobs = sum(stats[i]["jobs"] for i in idx.get("serve.loop", []))
        timed = {k: [v for r, v in t.items() if r is not None and r >= 0]
                 for k, t in ctx.notes["timers"].items()}
        m.update({
            "api.request_p50_ms": 1000 * median(lat.tolist()),
            "api.request_p99_ms": 1000 * percentile(lat, 99),
            "api.resolve_ms": 1000 * median([own[i] for i in reqs]),
            "api.checkout_ms": 1000 * median(timed["checkout"]),
            "api.title_probe_ms": 1000 * median(timed["title_probe"]),
            "api.jobs_per_request": (loop_jobs + sum(stats[i]["jobs"] for i in reqs)) / len(reqs),
            "api.pinned_mb": ctx.notes["pinned_mb"],
            "api.pass_s": ctx.notes["pass_s"],
            "api.open_s": median([bfs_start[i] - spans[i][1] for i in measured_open if i in bfs_start]),
            "api.open_jobs": stats[measured_open[0]]["jobs"],
            "api.opens_per_request": sum(rid(i) in opened for i in reqs) / len(reqs),
            "bfs.driver_ms": 1000 * median(drv),
            "bfs.driver_p99_ms": 1000 * percentile(drv, 99) if drv else 0.0,
            "bfs.enumerate_ms": 1000 * median(in_loop("bfs.enumerate")),
        })
    m["trace.call_p50_ms"] = ctx.metrics["call_p50_ms"]
    ctx.record["accounting"] = _accounting(ctx, m, timed if reqs else None)
    return {name: float(m.get(name, 0.0)) for name, _unit in PER_LAYER}


def _accounting(ctx, m: dict, timed: dict | None) -> dict:
    """Whether the layers account for the wall the user sees, from parts
    timed apart from that wall; more than 10% apart fails the run loudly.

    batch_rank: the job wall against the per-layer metrics, with PageRank as
    its set-up plus ``supersteps - 1`` median supersteps, so time after the
    last superstep and skew between supersteps show.  serve_hot: the summed
    request latencies, timed outside every span, against the summed pin
    checkouts, title probes, driver BFS and path enumeration of the same
    requests, so what the service does outside those parts shows."""
    if timed is not None:
        wall = float(ctx.notes["latencies"].sum())
        spans = ctx.tracer.spans
        parts = sum(sum(v) for v in timed.values()) + sum(
            s[2] - s[1] for s in spans
            if s[0] in ("bfs.driver", "bfs.enumerate") and s[4] is not None and s[4] >= 0
        )
    else:
        wall = ctx.metrics["call_p50_ms"] / 1000
        pagerank = m["pagerank.setup_s"] + (m["pagerank.supersteps"] - 1) * m["pagerank.superstep_ms"] / 1000
        parts = pagerank + sum(
            m[f"{layer}.wall_s"] for layer in ("build", "components", "labelprop", "triangles")
        )
    ratio = parts / wall
    if not 0.9 <= ratio <= 1.1:
        raise RuntimeError(f"accounting check failed: layer parts / measured wall = {ratio:.3f}")
    return {"wall_s": wall, "parts_s": parts, "ratio": ratio}

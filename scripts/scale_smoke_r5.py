#!/usr/bin/env python
"""Round-5 scale smoke (VERDICT r4 item 7): drive the round-4 operators well
past bench scale to confirm no cliffs beyond sf0.1.

Shape: the round-3 smoke's 480k-page synthetic build (20k classes × 3 langs
× 8 repos, 128 input splits), then over its outputs:

- ``pagerank_multi`` — k=8 personalized walks as one wide-state
  vector loop over the resulting multi-million-edge graph (the Arrow 2-D
  scatter-add kernel at ~6× bench-scale vertex count),
- PII redaction over all 480k file contents, with the driver query's
  deterministic synthesized PII per row (so every row exercises every
  pattern),
- Gopher repetition stats over the same 480k texts.

Prints one JSON line with wall seconds and rows/s (or edges/s) per stage and
appends a section to BENCH/BASELINE.md.  A "cliff" would show as a stage
rate far below its sf0.1 per-row rate — compare against
BENCH/bench_full_latest.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from wikipath_spark.functions.text import pii_stats, redact_pii, repetition_stats
from wikipath_spark.operators._loop import release_checkpoint
from wikipath_spark.operators.pagerank import pagerank_multi
from wikipath_spark.plans.build import build_graph
from wikipath_spark.session import get_spark
from wikipath_spark.sources.synthetic import synthetic_repos


def main() -> None:
    classes = int(os.environ.get("WPS_SMOKE_CLASSES", "20000"))
    repos = int(os.environ.get("WPS_SMOKE_REPOS", "8"))
    splits = int(os.environ.get("WPS_SMOKE_SPLITS", "128"))
    k = int(os.environ.get("WPS_SMOKE_SEEDS", "8"))
    iters = int(os.environ.get("WPS_SMOKE_ITERS", "8"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="wps-scale-smoke-r5",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"pages": classes * 3 * repos, "cores": int(cpus)}

    t0 = time.time()
    files = synthetic_repos(
        spark, classes_per_repo=classes, repos=repos, partitions=splits
    ).persist()
    n_files = files.count()
    g = build_graph(spark, files)
    g.edges = g.edges.persist()
    n_edges = g.edges.count()
    dt = time.time() - t0
    out["build"] = {
        "files": n_files,
        "edges": n_edges,
        "wall_sec": round(dt, 1),
        "pages_per_sec": round(n_files / dt, 1),
    }

    # --- PII redaction over every file body (driver-query synthesis: each
    # row gains one email + ip + phone derived from a stable int id)
    docs = files.select(
        F.xxhash64("repo", "path").alias("doc_id"), F.col("content").alias("text")
    )
    aug = F.concat(
        F.col("text"),
        F.lit(" contact u"), F.col("doc_id").cast("string"), F.lit("@ex.org ip 10."),
        (F.pmod(F.col("doc_id"), F.lit(256))).cast("string"), F.lit(".0.7 tel 555-123-4567"),
    )
    stats = pii_stats(aug)
    t0 = time.time()
    agg = docs.select(
        stats["email"].alias("e"), stats["ipv4"].alias("i"), stats["phone"].alias("p"),
        F.length(redact_pii(aug)).alias("rl"),
    ).agg(F.sum("e").alias("emails"), F.sum("i").alias("ips"),
          F.sum("p").alias("phones"), F.sum("rl").alias("redacted_chars")).collect()[0]
    dt = time.time() - t0
    out["pii_scrub"] = {
        "rows": n_files,
        "emails": int(agg["emails"]),
        "ips": int(agg["ips"]),
        "phones": int(agg["phones"]),
        "wall_sec": round(dt, 1),
        "rows_per_sec": round(n_files / dt, 1),
    }
    assert out["pii_scrub"]["emails"] >= n_files  # every row got one planted

    # --- Gopher repetition stats over the same corpus
    t0 = time.time()
    rep = repetition_stats(docs).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dup_lines").alias("dup_lines"),
        F.sum("top2_count").alias("top2"),
    ).collect()[0]
    dt = time.time() - t0
    out["repetition_stats"] = {
        "rows": int(rep["n"]),
        "dup_lines": int(rep["dup_lines"]),
        "wall_sec": round(dt, 1),
        "rows_per_sec": round(int(rep["n"]) / dt, 1),
    }
    # --- wide-state CSR kernel: k personalized walks in one vector loop
    seeds = [r.page_id for r in g.pages.select("page_id").orderBy("page_id").limit(k).collect()]
    t0 = time.time()
    ranks = pagerank_multi(g.edges, seeds, vertices=g.pages.select("page_id"), iters=iters)
    n_ranked = ranks.count()
    dt = time.time() - t0
    out["pagerank_multi_csr"] = {
        "k": k,
        "iters": iters,
        "vertices": n_ranked,
        "wall_sec": round(dt, 1),
        # per-superstep message volume is |E| rows regardless of k (the
        # vector rides one Arrow row) — edges/s is the comparable rate
        "edges_per_sec": round(n_edges * iters / dt, 1),
    }
    release_checkpoint(ranks)  # frees the checkpointed k-wide state blocks


    files.unpersist()
    g.edges.unpersist()

    print(json.dumps(out))
    ts = time.strftime("%Y-%m-%d %H:%M:%S")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCH", "BASELINE.md"), "a") as f:
        b, pm, pi, rs = out["build"], out["pagerank_multi_csr"], out["pii_scrub"], out["repetition_stats"]
        f.write(
            f"\n## Round-5 scale smoke {ts}\n\n"
            f"480k-page build shape (20k classes × 3 langs × {repos} repos, {splits}\n"
            f"input splits) on local[{cpus}], driving the round-4 operators past sf0.1:\n\n"
            f"- build: {b['files']} pages → {b['edges']} edges in {b['wall_sec']} s "
            f"({b['pages_per_sec']:.0f} pages/s)\n"
            f"- pagerank_multi csr (k={pm['k']}, {pm['iters']} supersteps): "
            f"{pm['wall_sec']} s = {pm['edges_per_sec']:.0f} edges/s with 8-wide vector state\n"
            f"- pii_scrub ({pi['rows']} rows, planted PII each): {pi['wall_sec']} s = "
            f"{pi['rows_per_sec']:.0f} rows/s\n"
            f"- repetition_stats ({rs['rows']} rows): {rs['wall_sec']} s = "
            f"{rs['rows_per_sec']:.0f} rows/s\n"
        )


if __name__ == "__main__":
    sys.exit(main())

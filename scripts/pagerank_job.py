"""Standalone spark-submit job — the engine's deployment contract.

Run as::

    spark-submit --master <cluster> --py-files wikipath_spark.zip \\
        scripts/pagerank_job.py <n_vertices> <n_edges>

The package arrives ONLY via ``--py-files`` (driver and every executor
resolve it from the shipped zip, the north rule's deployment mode); the
script itself carries no engine code.  Emits one ``JOB_RESULT`` JSON line:
iterations, convergence, rank sum (must be 1), top vertices, and the master
it actually ran on.
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    n_vertices, n_edges = int(sys.argv[1]), int(sys.argv[2])

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("wikipath-spark-pagerank-job").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # imported AFTER session start, resolved from the --py-files zip
    from wikipath_spark.operators.pagerank import pagerank
    from wikipath_spark.sources.synthetic import synthetic_edges

    edges = synthetic_edges(spark, n_vertices, n_edges).persist()
    vertices = spark.range(0, n_vertices).select(F.col("id").alias("page_id"))
    # the deployment contract is the distributed kernel on the cluster: keep
    # it off the driver lane, which the synthetic table's small size
    # estimate (12 B/row) would otherwise take
    res = pagerank(edges, vertices=vertices, tol=1e-6, max_iter=80, driver_threshold_bytes=0)
    rank_sum = res.ranks.agg(F.sum("rank")).collect()[0][0]
    top = [
        (r.page_id, round(r.rank, 10))
        for r in res.ranks.orderBy(F.desc("rank"), "page_id").limit(3).collect()
    ]
    print(
        "JOB_RESULT "
        + json.dumps(
            {
                "iterations": res.iterations,
                "converged": res.converged,
                "rank_sum": rank_sum,
                "top": top,
                "master": spark.sparkContext.master,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

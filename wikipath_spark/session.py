"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for correctness on local[N] while remaining the settings
you would ship to a 1000-executor cluster: AQE on (partition coalescing +
skew-join splitting), Arrow enabled for every pandas-UDF exchange, and a
shuffle-partition count tied to parallelism instead of the static 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "wikipath_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``*``).
    ``shuffle_partitions`` defaults to the core count — on a real cluster you
    would set this to 2-3x total executor cores; AQE coalesces down at runtime
    so erring high is safe.

    PySpark's per-call DataFrame debugging is off, so the error context of a
    failed DataFrame operation no longer names the Python call site that
    built the failing expression; pass
    ``{"spark.python.sql.dataFrameDebugging.enabled": "true"}`` in
    ``extra_conf`` to get it back.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing and skew-join splitting. Covers
        # join skew; groupBy skew on power-law dst is handled explicitly by
        # operators/skew.py salting (SURVEY.md §4.2).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas UDF / toPandas exchanges (the only sanctioned
        # Python crossing, per BASELINE.json input_hint: no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Iterative drivers re-use exchange output; keep in-memory shuffle.
        .config("spark.shuffle.compress", "true")
        .config("spark.rdd.compress", "true")
        .config("spark.driver.memory", os.environ.get("WPS_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
        # Per-Column call-site capture: its first wrapped call imports IPython
        # (538 modules, +26.5 MB driver max RSS), and every call walks the
        # stack and retries a failing `import ipykernel`.  Building 1000
        # `F.col + F.lit` took 5.4 and 15.0 s with it against 2.2 and 8.7 s
        # without (two alternating pairs, shared 4-vCPU host, PySpark 4.1.2).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

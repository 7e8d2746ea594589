"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch_rank,serve_hot} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Prints one JSON ``record`` line (host,
versions, input sizes, calibration samples, counts) and, last, the result
line ``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``.  Exits non-zero
without a result line when the package is missing or a run breaks."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
END_TO_END = (("setup_s", "s"), ("call_p50_ms", "ms"), ("driver_peak_rss_mb", "MB"))


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("batch_rank", "serve_hot"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pinned_env(run_dir: Path) -> dict[str, str]:
    """Environment every run starts from: hash seed, core count, Spark's
    scratch space and temp files inside the checkout, one interpreter."""
    return {
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": str(ROOT),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # spark-submit's launcher JVM: no /tmp files
        "TMPDIR": str(run_dir / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }


class Context:
    """State one run hands to its workload."""

    def __init__(self, spark, args, run_dir: Path, t0: float, session_s: float, trace: bool):
        import numpy as np

        from perfbench.harness import PeakRss, Tracer
        from wikipath_spark.plans.catalog import DatasetCatalog

        self.spark, self.seed, self.seconds = spark, args.seed, args.seconds
        self.work = str(run_dir)
        self.rng = np.random.default_rng(args.seed)
        self.tracer = Tracer(spark.sparkContext, trace)
        self.rss = PeakRss()
        self.catalog = DatasetCatalog(spark, str(run_dir / "catalog"))
        self.metrics: dict[str, float] = {}
        self.record: dict = {}
        self.notes: dict = {}
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.session_s = session_s
        self._t0, self._excluded = t0, 0.0
        self.setup_s = None

    def exclude_from_setup(self, seconds: float) -> None:
        """Benchmark-only work (oracles, request pools) is not set-up time."""
        self._excluded += seconds

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self._t0 - self._excluded

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(why)


def _stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, run_dir: Path) -> int:
    from perfbench.harness import calibration_s, read_event_log
    from perfbench.workloads import PER_LAYER, WORKLOADS, per_layer

    calib_before = calibration_s()
    t0 = time.perf_counter()
    import pyspark

    from wikipath_spark.session import get_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # the session's own flag, plus JVM temp files inside the checkout
        # (no hsperfdata under /tmp)
        "spark.driver.extraJavaOptions": (
            "-Dio.netty.tryReflectionSetAccessible=true -XX:-UsePerfData "
            f"-Djava.io.tmpdir={run_dir / 'tmp'}"
        ),
    }
    if args.trace:
        (run_dir / "eventlog").mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    ctx = Context(spark, args, run_dir, t0, session_s, bool(args.trace))
    ctx.record.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        nproc=cores, shuffle_partitions=cores, pyspark=pyspark.__version__,
        java=spark.sparkContext._jvm.System.getProperty("java.version"),
        python=sys.version.split()[0],
    )
    try:
        WORKLOADS[args.workload](ctx)
    finally:
        _stop_spark(spark)
    ctx.metrics.update(setup_s=ctx.setup_s, driver_peak_rss_mb=ctx.rss.peak_mb)
    if args.trace:
        values = per_layer(ctx, read_event_log(str(run_dir / "eventlog")))
        ctx.tracer.dump(str(WORK / f"spans-{args.workload}.json"))
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}
    else:
        metrics = {name: {"value": float(ctx.metrics[name]), "unit": unit} for name, unit in END_TO_END}
    ctx.record.update(
        calibration_s={"before": calib_before, "after": calibration_s()},
        failed_ratio=ctx.failed / max(ctx.attempted, 1),
        failures=ctx.failures,
    )
    print(json.dumps({"record": ctx.record}))
    if ctx.failures:
        print("failures:\n  " + "\n  ".join(ctx.failures), file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


def main() -> int:
    args = _args(sys.argv[1:])
    if not (ROOT / "wikipath_spark" / "__init__.py").is_file():
        print(f"perfbench: no wikipath_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = WORK / f"run-{os.getpid()}"
    env = _pinned_env(run_dir)
    if any(os.environ.get(k) != v for k, v in env.items()):
        # pin the environment before the interpreter or Spark reads it
        os.execve(sys.executable, [sys.executable, __file__, *sys.argv[1:]], {**os.environ, **env})
    sys.path.insert(0, str(ROOT))
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

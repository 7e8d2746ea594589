"""Durable superstep checkpoints with per-partition lineage + metrics.

The reference restarts builds from scratch (its only recovery is deleting a
stale tmp dir, main.rs:114-119).  The north rule requires better: any
iterative run must be resumable mid-iteration, with a manifest carrying
per-partition lineage and the convergence metric.

Layout under ``root``::

    <root>/<run_id>/superstep=<k>/state/      parquet snapshot of the state
    <root>/<run_id>/superstep=<k>/manifest/   per-partition rows:
        (run_id, superstep, part_id, rows, checksum, metric)
    <root>/<run_id>/superstep=<k>/_COMMITTED  atomicity marker

The manifest is computed from the *written* state in one scan grouped by
``spark_partition_id`` — checksum is an order-insensitive xxhash64 sum, so a
resume can verify integrity regardless of how parquet re-partitions rows.
A checkpoint is only valid if ``_COMMITTED`` exists (written last); resume
picks the highest committed superstep and re-verifies row counts.
``CheckpointManager.EVERY`` is the one save cadence of every resumable loop
(the last step always saves, marked ``final`` at a fixpoint);
``operators._loop.LoopState`` decides when to save and where to resume.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointManager:
    # steps between saves (the last step always saves); unmeasured
    EVERY = 5

    def __init__(self, root: str, run_id: str):
        self.root = root
        self.run_id = run_id

    def _dir(self, superstep: int) -> str:
        return os.path.join(self.root, self.run_id, f"superstep={superstep}")

    def save(self, superstep: int, state: DataFrame, metric: float, final: bool = False) -> dict:
        """Write state + manifest; returns the manifest summary.  ``final``
        marks the loop's fixpoint (:meth:`final`).

        Exactly TWO jobs: the state write, and ONE verified re-read pass that
        both produces the per-partition manifest and (via ``df.observe``
        riding the same action) the total row count for ``_COMMITTED`` — the
        separate ``reread.count()`` job was pure overhead at short checkpoint
        cadences."""
        from pyspark.sql import Observation

        d = self._dir(superstep)
        state_dir = os.path.join(d, "state")
        state.write.mode("overwrite").parquet(state_dir)

        # schema passed explicitly: an inferred read adds a footer-scan job
        reread = state.sparkSession.read.schema(state.schema).parquet(state_dir)
        cols = [F.col(c) for c in reread.columns]
        obs = Observation(f"ckpt_{self.run_id}_{superstep}")
        manifest = (
            reread.observe(obs, F.count(F.lit(1)).alias("n"))
            .withColumn("part_id", F.spark_partition_id())
            .withColumn("_h", F.pmod(F.xxhash64(*cols), F.lit(1 << 31)))
            .groupBy("part_id")
            .agg(F.count("*").alias("rows"), F.sum("_h").alias("checksum"))
            .withColumn("run_id", F.lit(self.run_id))
            .withColumn("superstep", F.lit(superstep))
            .withColumn("metric", F.lit(float(metric)))
            .select("run_id", "superstep", "part_id", "rows", "checksum", "metric")
        )
        manifest.write.mode("overwrite").parquet(os.path.join(d, "manifest"))
        total = int(obs.get["n"] or 0)
        with open(os.path.join(d, "_COMMITTED"), "w") as f:
            json.dump(dict(superstep=superstep, rows=total, metric=metric, final=final), f)
        return {"superstep": superstep, "rows": total, "metric": metric}

    def latest(self) -> int | None:
        base = os.path.join(self.root, self.run_id)
        if not os.path.isdir(base):
            return None
        steps = []
        for name in os.listdir(base):
            if name.startswith("superstep=") and os.path.exists(
                os.path.join(base, name, "_COMMITTED")
            ):
                steps.append(int(name.split("=")[1]))
        return max(steps) if steps else None

    def final(self, superstep: int) -> bool:
        """Whether the loop reached its fixpoint at this committed step."""
        with open(os.path.join(self._dir(superstep), "_COMMITTED")) as f:
            return bool(json.load(f).get("final", False))

    def load(self, spark: SparkSession, superstep: int, verify: bool = True) -> tuple[DataFrame, float]:
        """Read a committed checkpoint; verify row count against the marker
        AND the order-insensitive content checksum against the manifest (the
        checksum is a global sum of per-row hashes, so it is independent of
        how parquet re-partitions rows on re-read)."""
        d = self._dir(superstep)
        with open(os.path.join(d, "_COMMITTED")) as f:
            meta = json.load(f)
        state = spark.read.parquet(os.path.join(d, "state"))
        if verify:
            cols = [F.col(c) for c in state.columns]
            row = state.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 31))).alias("checksum"),
            ).collect()[0]
            if row["n"] != meta["rows"]:
                raise ValueError(
                    f"checkpoint {self.run_id}/superstep={superstep} corrupt: "
                    f"{row['n']} rows != recorded {meta['rows']}"
                )
            recorded = self.manifest(superstep, spark).agg(F.sum("checksum")).collect()[0][0]
            if int(row["checksum"] or 0) != int(recorded or 0):
                raise ValueError(
                    f"checkpoint {self.run_id}/superstep={superstep} corrupt: "
                    f"content checksum {row['checksum']} != manifest {recorded}"
                )
        return state, float(meta["metric"])

    def manifest(self, superstep: int, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self._dir(superstep), "manifest"))

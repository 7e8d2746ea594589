"""Table IO: Iceberg-first with a transparent parquet fallback.

The reference persists to LMDB and compacts to a single serve file
(database.rs:273-296); our sinks are columnar tables.  When an Iceberg
catalog is configured on the session we use ``DataFrame.writeTo`` /
``spark.read.table``; otherwise identical-schema parquet under a base dir.
Engine code never branches on the format — it calls these helpers.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

def load_table(
    spark: SparkSession, base: str, name: str, schema: str | None = None
) -> DataFrame:
    """Read one table from a base dir (parquet) or catalog (Iceberg).  A
    known parquet ``schema`` (DDL) replaces the schema-inference job."""
    if base.startswith("catalog:"):
        return spark.read.table(f"{base[len('catalog:'):]}.{name}")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(os.path.join(base, f"{name}.parquet"))


def write_table(
    df: DataFrame,
    base: str,
    name: str,
    mode: str = "overwrite",
    sort_by: list[str] | None = None,
    coalesce: int | None = None,
) -> None:
    """Write a derived table.

    ``sort_by`` applies write clustering (W2 — the reference's key-ordered
    LMDB writes, database.rs:252-264); ``coalesce`` is the small-file
    compaction analogue of database.rs:286-288.
    """
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    if coalesce:
        df = df.coalesce(coalesce)
    if base.startswith("catalog:"):
        ident = f"{base[len('catalog:'):]}.{name}"
        writer = df.writeTo(ident)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    df.write.mode(mode).parquet(os.path.join(base, f"{name}.parquet"))


def merge_upsert(
    spark: SparkSession,
    base: str,
    name: str,
    updates: DataFrame,
    key_cols: list[str],
    delete_missing: bool = False,
) -> dict:
    """Incremental MERGE INTO: upsert ``updates`` into an existing table by
    ``key_cols`` (S6 incremental variant — the reference rebuilds whole dumps,
    build.rs:19-134; an updatable dataset beats that for rolling commits).

    With an Iceberg catalog this is the native row-level ``MERGE INTO``
    (copy-on-write handled by the table format).  On the parquet fallback the
    merge is expressed as the equivalent join plan — matched target rows are
    replaced, unmatched update rows appended, and (optionally) target rows
    absent from ``updates`` dropped — then atomically swapped in via
    rename (write-new + move, never in-place).

    Returns counters {"matched": n, "inserted": n, "deleted": n}.
    """
    cond = " AND ".join(f"t.{c} = u.{c}" for c in key_cols)
    if base.startswith("catalog:"):
        ident = f"{base[len('catalog:'):]}.{name}"
        updates.createOrReplaceTempView("_merge_updates")
        clauses = (
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            + (" WHEN NOT MATCHED BY SOURCE THEN DELETE" if delete_missing else "")
        )
        spark.sql(f"MERGE INTO {ident} t USING _merge_updates u ON {cond} {clauses}")
        return {}

    target_path = os.path.join(base, f"{name}.parquet")
    bak = target_path + ".merge-old"
    # crash recovery: a previous merge can die between its two renames.
    # If the backup exists alongside a live target, the swap completed and
    # only cleanup was missed; if the backup exists and the target does NOT,
    # the crash hit the rename gap — restore the previous version first.
    if os.path.exists(bak):
        if os.path.exists(target_path):
            shutil.rmtree(bak)
        else:
            os.rename(bak, target_path)
    current = spark.read.parquet(target_path)
    # counters over DISTINCT update keys: duplicate keys in `updates` (or a
    # key matching several target rows) must not inflate matched/inserted
    ukeys = updates.select(*key_cols).distinct().persist()
    n_ukeys = ukeys.count()
    n_matched = current.join(ukeys, key_cols, "left_semi").select(*key_cols).distinct().count()
    n_inserted = n_ukeys - n_matched
    kept = current.join(ukeys, key_cols, "left_anti")
    n_deleted = kept.count() if delete_missing else 0
    merged = updates.select(*current.columns)
    if not delete_missing:
        merged = kept.select(*current.columns).unionByName(merged)
    # atomic-enough swap for a filesystem sink: the new table is fully
    # written to a temp dir before any rename; the only vulnerable window is
    # between the two renames below, and the recovery block above restores
    # the backup on the next call, so no crash point loses the table
    tmp = target_path + ".merge-tmp"
    merged.write.mode("overwrite").parquet(tmp)
    ukeys.unpersist()
    os.rename(target_path, bak)
    os.rename(tmp, target_path)
    shutil.rmtree(bak)
    return {"matched": n_matched, "inserted": n_inserted, "deleted": n_deleted}

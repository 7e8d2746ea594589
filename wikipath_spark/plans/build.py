"""Graph build pipeline: source table → ``pages`` / ``redirects`` / ``edges``.

The Spark re-expression of the reference's whole build (build.rs:19-134):

1. extract references + aliases from ``content`` (Arrow-batched pandas UDF ≈
   the regex extractors, parse.rs:174-387),
2. assign dense page ids (≈ title→id map, parse.rs:174-212; dense so CSR
   kernels can index numpy arrays, cf. the BTreeMap density note
   database.rs:252),
3. resolve reference targets by (repo, path) — inner join, dangling refs
   drop out (P4, parse.rs:354-358),
4. compress the alias map (G1, parse.rs:541-608),
5. resolve both edge endpoints through the compressed map with identity
   fallback (J4, parse.rs:360-361), drop self-links (P3, parse.rs:363-365),
   dedup (A2, database.rs:231-242) → one distinct ``(src, dst)`` edge table
   replacing the reference's incoming+outgoing LMDB pair (either adjacency
   is a groupBy away).

Parse-statistics counters (A5/A6, parse.rs:500-534) ride along via
``df.observe`` — no extra jobs.

Driver lane.  Steps 2-5 are many small Spark jobs (dense-id window, offset
probe, pointer-doubling compression, broadcast joins, distinct) whose cold
planning cost dominates a build of a few thousand pages.  When the checkpointed
extraction's Catalyst estimate (``_loop.estimated_bytes``) is at most the
one driver-lane gate (``_loop.DRIVER_THRESHOLD_BYTES``), one ``toArrow()``
of ``(_rowid, repo, path, shard, alias, refs, truncated)`` feeds an
Arrow/numpy resolution instead (:func:`_driver_build`); ``edges`` and
``redirects`` come back as local relations with a real size estimate, and
``pages`` is the checkpointed extraction joined to a broadcast ``(_rowid,
page_id)`` table, so path strings never cross back.  Unknown-size sources (a
``createDataFrame`` list) report no estimate and stay distributed, as do
sources with null keys or, without ``check_conflicts``, duplicate
``(repo, path)`` rows.

Id order (both lanes): ``page_id`` is the rank of a page by ``(repo,
pmod(xxhash64(path), 16), path)``, so both lanes give every page the same
id and every output table the same rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import ClassVar

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wikipath_spark.functions.extract import extract_refs_sql, extract_refs_udf, sha256_col
from wikipath_spark.operators._loop import DRIVER_THRESHOLD_BYTES, estimated_bytes
from wikipath_spark.operators.compress import (
    _compress_driver_side,
    compress_redirects,
    resolve_through,
)


@dataclass
class GraphTables:
    pages: DataFrame      # (page_id, repo, path, lang, commit, content_sha256, is_alias)
    redirects: DataFrame  # (src, dst) — compressed
    edges: DataFrame      # (src, dst) — resolved, self-free, distinct
    stats: dict = field(default_factory=dict)
    # the saved tables' schemas (both build lanes write these), so a reader
    # can skip the parquet schema-inference job
    SCHEMAS: ClassVar[dict[str, str]] = {
        "pages": "repo string, path string, lang string, commit string, "
        "content_sha256 string, is_alias boolean, page_id bigint",
        "redirects": "src bigint, dst bigint",
        "edges": "src bigint, dst bigint",
    }


_SHARDS = 16  # dense-id hash shards per partition before any escalation
_SHARD_TARGET_ROWS = 8_000_000  # max rows one dense-id window task should sort
_DRIVER_OFFSET_LIMIT = 100_000  # (repos × shards) rows above which offsets go distributed
_BROADCAST_PAGES_ROWS = 5_000_000  # id-probe side broadcast cap (~350 MB framed)


def _shard_col(order_cols, n_shards: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(n_shards))


def assign_dense_ids(
    df: DataFrame,
    partition_col: str = "repo",
    order_cols: tuple[str, ...] = ("path",),
    id_col: str = "page_id",
    shards: int | None = None,
    dup_flag_col: str | None = None,
) -> DataFrame:
    """Deterministic dense 0..N-1 ids without a global window.

    Two-level scheme: rows are sharded by (partition_col, hash-bucket of the
    order columns) so even a single mega repo fans out across ``shards``
    window tasks; per-shard ``row_number`` plus base offsets (a cumulative
    sum over the #repos × shards counts) make ids globally dense.
    Ids are deterministic (hash shard + in-shard ordering are both
    data-derived) but not path-ordered across shards — density is the
    requirement (CSR kernels, the BTreeMap-density analogue database.rs:252),
    not order; the reference's dump-assigned PageIds are unordered too.
    PageId is u32 in the reference (database.rs:11); we use LongType
    (Spark has no unsigned 32-bit).

    Offsets: up to ``_DRIVER_OFFSET_LIMIT`` count rows they are accumulated
    on the driver and broadcast (one tiny collect).  Above that — millions
    of repos at 10^12-file scale — the SAME cumulative sum runs as a window
    over the counts frame (global order (partition_col, _shard); one sort
    task over #groups rows, never driver memory) and joins back by shuffle.
    Both paths produce identical ids (same order, same prefix sums); the
    probe is a sorted ``limit(L+1)`` collect, so the common path spends no
    extra job.

    ``shards=None`` auto-scales: start at 16; if the first per-(partition,
    shard) count scan finds any shard above ``_SHARD_TARGET_ROWS`` rows, the
    shard count is re-derived from the observed maximum and the counts are
    recomputed once.  Ids depend only on the data (the escalation decision is
    a pure function of the counts), never on cluster parallelism — at
    10^12-file scale a single mega-repo escalates to enough shards that no
    window task sorts more than the target, at the cost of one extra pass.
    """
    auto = shards is None
    shards = _SHARDS if auto else shards
    spark = df.sparkSession
    probe_limit = _DRIVER_OFFSET_LIMIT

    def _counts(n_shards: int):
        sharded = df.withColumn("_shard", _shard_col(order_cols, n_shards))
        counts = sharded.groupBy(partition_col, "_shard").count()
        # ordered limit(L+1): if fewer than L+1 rows come back we hold the
        # FULL ordered count set (limit returns everything when the input is
        # smaller) — the driver path costs exactly the old collect; L+1 rows
        # back means "too many groups", switch to the distributed offsets
        rows = counts.orderBy(partition_col, "_shard").limit(probe_limit + 1).collect()
        return sharded, counts, rows

    sharded, counts, rows = _counts(shards)
    if auto:
        if len(rows) <= probe_limit:
            max_rows = max((r["count"] for r in rows), default=0)
        else:
            max_rows = counts.agg(F.max("count")).collect()[0][0] or 0
        if max_rows > _SHARD_TARGET_ROWS:
            shards = shards * (-(-max_rows // _SHARD_TARGET_ROWS))
            sharded, counts, rows = _counts(shards)

    if len(rows) <= probe_limit:
        offsets, base = [], 0
        for row in rows:
            offsets.append((row[partition_col], row["_shard"], base))
            base += row["count"]
        off_df = F.broadcast(
            spark.createDataFrame(offsets, f"{partition_col} string, _shard long, _base long")
        )
    else:
        # distributed prefix sum: exclusive running total in the SAME global
        # order the driver loop uses — identical _base values (tested)
        wo = (
            Window.orderBy(partition_col, "_shard")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        off_df = counts.select(
            partition_col,
            "_shard",
            F.coalesce(F.sum("count").over(wo), F.lit(0)).cast("long").alias("_base"),
        )
    w = Window.partitionBy(partition_col, "_shard").orderBy(*order_cols)
    out = sharded.join(off_df, [partition_col, "_shard"]).withColumn(
        id_col, F.row_number().over(w) + F.col("_base") - 1
    )
    if dup_flag_col is not None:
        # duplicate-(partition, order)-key detector riding the SAME window
        # sort: equal order keys hash to the same shard and sort adjacently,
        # so lag-equality flags every duplicate beyond the first — zero
        # extra shuffle, lets the caller observe conflicts on the
        # materializing pass instead of running a groupBy job (A7)
        dup = F.lag(F.struct(*[F.col(c) for c in order_cols])).over(w) == F.struct(
            *[F.col(c) for c in order_cols]
        )
        out = out.withColumn(dup_flag_col, F.coalesce(dup, F.lit(False)))
    return out.drop("_base", "_shard")


def build_graph(
    spark: SparkSession,
    repos_df: DataFrame,
    extractor: str = "pandas",
    with_stats: bool = False,
    check_conflicts: bool = True,
) -> GraphTables:
    """Run the full build. ``extractor`` ∈ {"pandas", "sql"} (identical
    semantics; pandas is the mandated Arrow path, sql the JVM benchmark).
    ``check_conflicts``: fail on duplicate (repo, path) source rows — A7,
    parse.rs:203-209 parity.  Small sources take the driver lane (module
    docstring)."""
    extract = extract_refs_udf if extractor == "pandas" else extract_refs_sql

    extracted = repos_df.select(
        # row key of the driver lane's (_rowid, page_id) join; frozen by the
        # checkpoint below, so the lane and its join read the same values
        F.monotonically_increasing_id().alias("_rowid"),
        "repo",
        "path",
        "commit",
        "lang",
        extract(F.col("content"), F.col("lang")).alias("_x"),
        sha256_col(F.col("content")).alias("content_sha256"),
    )
    # materialize the extraction ONCE: dense-id assignment scans its input
    # twice (per-shard counts, then the window pass), and without a barrier
    # the source scan + regex extraction — the most expensive stage of the
    # whole build at scale — would run twice.  `content` is already projected
    # away, so the checkpoint holds only refs/alias/sha columns.
    extracted = extracted.localCheckpoint(eager=True)
    if estimated_bytes(extracted) <= DRIVER_THRESHOLD_BYTES:
        graph = _driver_build(extracted, check_conflicts, with_stats)
        if graph is not None:
            return graph

    page_rows = extracted.select(
        "repo",
        "path",
        "lang",
        "commit",
        "content_sha256",
        F.col("_x.alias").isNotNull().alias("is_alias"),
        F.col("_x.refs").alias("_refs"),
        F.col("_x.alias").alias("_alias"),
        F.col("_x.truncated").alias("_truncated"),
    )
    # conflict detection (A7, parse.rs:203-209) rides the dense-id window
    # pass as a lag-equality flag + observe on the pages materialization —
    # the previous groupBy+limit+collect job over the window output was the
    # single most expensive build step at bench scale (measured 7.4s of a
    # 24s cold build; the count() below materializes the same cache in ~1s)
    conflict_obs = Observation("conflicts") if check_conflicts else None
    assigned = assign_dense_ids(
        page_rows, dup_flag_col="_dup" if check_conflicts else None
    )
    if check_conflicts:
        assigned = assigned.observe(
            conflict_obs, F.sum(F.col("_dup").cast("long")).alias("dups")
        ).drop("_dup")
    # parse-stats counters piggyback on the pages materialization — the
    # analogue of the reference's per-file counter block (A6, parse.rs:500-534).
    # After the window exchange, so an input with no partitions still reports.
    obs = Observation("parse_stats") if with_stats else None
    if obs is not None:
        assigned = assigned.observe(
            obs,
            F.count(F.lit(1)).alias("pages"),
            F.sum(F.when(F.col("is_alias"), 1).otherwise(0)).alias("aliases"),
            F.sum(F.size("_refs")).alias("raw_refs"),
            F.sum(F.when(F.col("_truncated"), 1).otherwise(0)).alias("truncated_rows"),
        )
    pages = assigned.persist()
    n_pages = pages.count()  # materializes the cache + collects the observes

    if check_conflicts and int(conflict_obs.get["dups"] or 0) > 0:
        # rare failure path: re-derive one offending key for the message
        r = (
            pages.groupBy("repo", "path").agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1).limit(1).collect()[0]
        )
        raise ValueError(
            f"conflicting source rows: ({r['repo']}, {r['path']}) appears {r['n']} times"
        )

    id_by_path = pages.select("repo", "path", "page_id")
    # the (repo, path) → id probes below are equi-joins against the full
    # page table; broadcast it while it fits (the bench-scale estimate from
    # Catalyst is opaque behind the cache + window, so SMJ both sides
    # otherwise) and fall back to shuffle joins above the row cap — the
    # broadcast gate a 100 TB build needs anyway
    if n_pages <= _BROADCAST_PAGES_ROWS:
        id_by_path = F.broadcast(id_by_path)

    # alias rows → raw redirects; dangling alias targets drop out via the
    # inner join, like every unresolvable (ns,title) probe (parse.rs:243-247)
    alias_rows = pages.filter(F.col("is_alias")).select(
        "repo", F.col("page_id").alias("src"), F.col("_alias").alias("_target_path")
    )
    tgt = id_by_path.select(
        "repo", F.col("path").alias("_target_path"), F.col("page_id").alias("dst")
    )
    redirects_raw = alias_rows.join(tgt, ["repo", "_target_path"], "inner").select("src", "dst")
    redirects = compress_redirects(redirects_raw).persist()

    # reference rows → raw edges
    refs = pages.select(
        "repo", F.col("page_id").alias("src"), F.explode("_refs").alias("_ref_path")
    )
    tgt2 = id_by_path.select(
        "repo", F.col("path").alias("_ref_path"), F.col("page_id").alias("dst")
    )
    resolved = refs.join(tgt2, ["repo", "_ref_path"], "inner").select("src", "dst")

    edges = (
        resolve_through(resolved, redirects, ["src", "dst"])
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )

    # alias pages are not graph vertices once compressed away; edges from an
    # alias page resolve to its target (parse.rs:360) — already handled above.
    pages_out = pages.drop("_refs", "_alias", "_truncated")

    stats: dict = {}
    if with_stats:
        resolved = resolved.persist()
        stats = {
            "resolved_refs": resolved.count(),
            "redirects_compressed": redirects.count(),
            "edges": edges.count(),
        }
        stats.update({k: int(v or 0) for k, v in obs.get.items()})
        # dangling references dropped by the inner resolution join (P4)
        stats["dangling_dropped"] = stats["raw_refs"] - stats["resolved_refs"]
        resolved.unpersist()
    return GraphTables(pages=pages_out, redirects=redirects, edges=edges, stats=stats)


def _local_frame(spark: SparkSession, columns: dict, schema: str) -> DataFrame:
    """``columns`` as a local relation, which carries a real size estimate,
    so the operators' driver lanes take it.  Arrow tables above
    ``spark.sql.execution.arrow.localRelationThreshold`` arrive as an RDD of
    unknown size instead; those are persisted and counted, which gives them
    the cache's measured size.  (The check reads the analyzed plan: an
    optimized plan read before the persist would keep the unknown size.)"""
    df = spark.createDataFrame(pa.table(columns), schema)
    if not df._jdf.queryExecution().analyzed().getClass().getName().endswith("LocalRelation"):
        df = df.persist()
        df.count()
    return df


def _driver_build(
    extracted: DataFrame, check_conflicts: bool, with_stats: bool
) -> GraphTables | None:
    """The driver lane: one Arrow collect of the checkpointed extraction,
    :func:`_resolve_on_driver`, and the tables back as local relations.
    ``None`` where :func:`_resolve_on_driver` declines."""
    spark = extracted.sparkSession
    tbl = extracted.select(
        "_rowid",
        "repo",
        "path",
        _shard_col(("path",), _SHARDS).alias("shard"),
        F.col("_x.alias").alias("alias"),
        F.col("_x.refs").alias("refs"),
        F.col("_x.truncated").alias("truncated"),
    ).toArrow()
    out = _resolve_on_driver(tbl, check_conflicts)
    if out is None:
        return None
    page_id, red, src, dst, stats = out
    ids = _local_frame(
        spark,
        {"_rowid": tbl.column("_rowid").to_numpy(), "page_id": page_id},
        "_rowid long, page_id long",
    )
    del tbl
    pages = extracted.join(F.broadcast(ids), "_rowid").select(
        "repo",
        "path",
        "lang",
        "commit",
        "content_sha256",
        F.col("_x.alias").isNotNull().alias("is_alias"),
        "page_id",
    )
    return GraphTables(
        pages=pages,
        redirects=_local_frame(
            spark, {"src": red[:, 0], "dst": red[:, 1]}, GraphTables.SCHEMAS["redirects"]
        ),
        edges=_local_frame(spark, {"src": src, "dst": dst}, GraphTables.SCHEMAS["edges"]),
        stats=stats if with_stats else {},
    )


def _resolve_on_driver(tbl: pa.Table, check_conflicts: bool = True):
    """Steps 2-5 of the build over the collected extraction ``tbl``
    (``repo``, ``path``, ``shard``, ``alias``, ``refs``, ``truncated``).

    Returns ``(page_id, redirects, src, dst, stats)``: the int64 id of each
    row of ``tbl``, the compressed ``(src, dst)`` alias map as a ``(k, 2)``
    array sorted by ``src``, the distinct self-free edges sorted by
    ``(src, dst)``, and the distributed lane's ``with_stats`` counters.
    Returns ``None`` (take the distributed lane) for a null ``repo`` or
    ``path``, for duplicate ``(repo, path)`` rows when ``check_conflicts``
    is off (their ids depend on the window's row order), and above the row
    count at which dense-id sharding escalates.

    Kept lean, because the later driver lanes share the process: int64
    numpy arrays and Arrow kernels, no pandas, no Acero joins and no
    per-row Python objects beyond the alias map."""
    n = tbl.num_rows
    repo, path = tbl.column("repo"), tbl.column("path")
    if repo.null_count or path.null_count or n > _SHARD_TARGET_ROWS:
        return None

    # dense ids: rank by (repo, shard, path), assign_dense_ids' order
    order = pc.sort_indices(
        tbl, sort_keys=[("repo", "ascending"), ("shard", "ascending"), ("path", "ascending")]
    ).to_numpy()
    page_id = np.empty(n, np.int64)
    page_id[order] = np.arange(n)
    del order

    # (repo, path) -> page_id: one sorted int64 key per page, repo code * m
    # + path code
    paths = pc.unique(path)
    m = len(paths)
    repo_code = pc.index_in(repo, pc.unique(repo)).to_numpy().astype(np.int64)
    key = repo_code * m + pc.index_in(path, paths).to_numpy()
    by_key = np.argsort(key)
    key = key[by_key]
    dup = np.flatnonzero(key[1:] == key[:-1])
    if dup.size:
        if not check_conflicts:
            return None
        row = int(by_key[dup[0]])
        raise ValueError(
            f"conflicting source rows: ({repo[row].as_py()}, {path[row].as_py()}) "
            f"appears {np.count_nonzero(key == key[dup[0]])} times"
        )
    id_by_key = page_id[by_key]
    del by_key

    def resolve(rows: np.ndarray, targets) -> tuple[np.ndarray, np.ndarray]:
        """``(src, dst)`` page ids of each ``rows[i]`` -> ``targets[i]``
        path in the same repo; unresolvable targets drop (P4)."""
        code = pc.fill_null(pc.index_in(targets, paths), -1).to_numpy()
        want = repo_code[rows] * m + code
        pos = np.searchsorted(key, want)
        hit = (code >= 0) & (key.take(pos, mode="clip") == want)
        return page_id[rows[hit]], id_by_key[pos[hit]]

    # alias rows -> raw redirects, compressed by the reference's walk (G1)
    alias = tbl.column("alias")
    is_alias = pc.is_valid(alias).to_numpy(zero_copy_only=False)
    red_src, red_dst = resolve(np.flatnonzero(is_alias), pc.drop_null(alias))
    compressed = _compress_driver_side(list(zip(red_src.tolist(), red_dst.tolist())))
    red = np.array(compressed, np.int64).reshape(-1, 2)
    red = red[np.argsort(red[:, 0])]

    # reference rows -> edges: resolve, map both ends through the compressed
    # map (J4), drop self-links (P3), dedup (A2)
    refs = tbl.column("refs")
    parent = pc.list_parent_indices(refs).to_numpy()
    src, dst = resolve(parent, pc.list_flatten(refs))
    raw_refs, resolved_refs = len(parent), len(src)
    del parent
    target = np.arange(n, dtype=np.int64)
    target[red[:, 0]] = red[:, 1]
    src, dst = target[src], target[dst]
    keep = src != dst
    pair = src[keep] * max(n, 1) + dst[keep]
    del src, dst, keep, target
    src, dst = np.divmod(np.unique(pair), max(n, 1))
    stats = {
        "resolved_refs": resolved_refs,
        "redirects_compressed": len(red),
        "edges": len(src),
        "pages": n,
        "aliases": int(np.count_nonzero(is_alias)),
        "raw_refs": raw_refs,
        "truncated_rows": int(pc.sum(tbl.column("truncated")).as_py() or 0),
        "dangling_dropped": raw_refs - resolved_refs,
    }
    return page_id, red, src, dst, stats

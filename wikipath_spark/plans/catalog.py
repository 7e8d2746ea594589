"""Dataset catalog + retention — the serve-side surface of the reference.

The reference serves from a directory of ``wp-{lang}-{date}`` LMDB files
(naming database.rs:30-48), lists them sorted (serve.rs:90-100), looks one up
by exact metadata (serve.rs:85-87 — J9), orders versions by string-comparing
date codes (database.rs:50-56 — F4), and garbage-collects dumps/DBs whose
date code differs from the anchor (misc.rs:9-36, dump.rs:315-338 — S8).

Here a *dataset* is a directory ``wp-{repo}-{commit}`` under a warehouse
root containing the ``pages``/``redirects``/``edges`` parquet tables; the
catalog is a tiny metadata DataFrame (cached — the precomputed
list_databases JSON analogue, serve.rs:68).
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from wikipath_spark.plans.build import GraphTables
from wikipath_spark.sources.tables import load_table, write_table

_NAME_RE = re.compile(r"^wp-(?P<repo>[A-Za-z0-9_.]+)-(?P<commit>[0-9a-f]+)$")


def dataset_name(repo: str, commit: str) -> str:
    """Format ``wp-{repo}-{commit}`` (database.rs:30-31 analogue)."""
    return f"wp-{repo}-{commit}"


def parse_dataset_name(name: str) -> tuple[str, str] | None:
    """Inverse of :func:`dataset_name`; None for foreign files
    (database.rs:38-48 tolerates unknown names by skipping them)."""
    m = _NAME_RE.match(name)
    return (m.group("repo"), m.group("commit")) if m else None


def is_newer(commit_a: str, commit_b: str) -> bool:
    """Version ordering by plain string compare (database.rs:50-56)."""
    return commit_a > commit_b


@dataclass
class DatasetCatalog:
    spark: SparkSession
    root: str

    def save(self, repo: str, commit: str, tables: GraphTables) -> str:
        base = os.path.join(self.root, dataset_name(repo, commit))
        write_table(tables.pages, base, "pages", sort_by=["page_id"])
        write_table(tables.redirects, base, "redirects", sort_by=["src"])
        # write clustering by src = the reference's key-ordered LMDB insert
        # (W2, database.rs:252-264); small-file compaction ≈ S7
        write_table(tables.edges, base, "edges", sort_by=["src", "dst"])
        return base

    def list_datasets(self) -> DataFrame:
        """Sorted (repo, commit, name) — list_databases (serve.rs:90-100)."""
        rows = []
        if os.path.isdir(self.root):
            for name in sorted(os.listdir(self.root)):
                parsed = parse_dataset_name(name)
                if parsed and os.path.isdir(os.path.join(self.root, name)):
                    rows.append((parsed[0], parsed[1], name))
        # NB: no .cache() here — the listing is a tiny driver-built frame and
        # caching a fresh copy per call would accumulate unbounded cached
        # plans in a long-lived service (the directory can change between
        # calls, so a once-cached listing would also go stale)
        df = self.spark.createDataFrame(rows or [], "repo string, commit string, name string")
        return df.orderBy("repo", "commit")

    def get(self, repo: str, commit: str) -> GraphTables:
        """Exact-key dataset lookup (J9, serve.rs:85-87).  Reads with the
        known :attr:`GraphTables.SCHEMAS`, so it runs no Spark job."""
        base = os.path.join(self.root, dataset_name(repo, commit))
        if not os.path.isdir(base):
            raise KeyError(f"no dataset {dataset_name(repo, commit)} under {self.root}")
        return GraphTables(**{
            name: load_table(self.spark, base, name, schema)
            for name, schema in GraphTables.SCHEMAS.items()
        })

    def latest_commit(self, repo: str) -> str | None:
        commits = [
            c for r, c, _ in ((row.repo, row.commit, row.name) for row in self.list_datasets().collect())
            if r == repo
        ]
        return max(commits) if commits else None

    def vacuum(self, keep_latest: int = 1) -> list[str]:
        """Retention GC (S8): drop all but the newest ``keep_latest`` commits
        per repo; returns removed dataset names.  Foreign dirs are never
        touched (misc.rs:9-36 semantics)."""
        by_repo: dict[str, list[str]] = {}
        if not os.path.isdir(self.root):
            return []
        for name in os.listdir(self.root):
            parsed = parse_dataset_name(name)
            if parsed and os.path.isdir(os.path.join(self.root, name)):
                by_repo.setdefault(parsed[0], []).append(parsed[1])
        removed = []
        for repo, commits in by_repo.items():
            for commit in sorted(commits)[:-keep_latest] if keep_latest else sorted(commits):
                name = dataset_name(repo, commit)
                shutil.rmtree(os.path.join(self.root, name))
                removed.append(name)
        return sorted(removed)

"""Per-partition checkpointed writes with lineage + row-count metrics,
resumable idempotently.

The reference's ancestor of this contract is its chunk-wise append import
with ``if_exists`` fail/replace/append semantics and its pickle-cache
short-circuit (/root/reference/pydriosm/ios/_ios.py:1026-1143,
/root/reference/pydriosm/reader/_reader.py:358-362): work already
materialized is never recomputed.  Here the unit of commit is a
*partition* of the output table:

* data lands under ``<base>/data/<part_col>=<value>/`` (Hive layout),
* a manifest line ``{partition, rows, committed_at_run}`` is appended to
  ``<base>/_manifest.jsonl`` only after the partition's files are fully
  written — the manifest is the source of truth,
* on resume, committed partitions are skipped; partitions that were
  mid-write when the job died are **rewritten whole** (dynamic partition
  overwrite), so the final state is identical to a single clean run.

On a real deployment the manifest role is played by Iceberg's snapshot
commit (``overwritePartitions``) and the lineage table by the snapshot
summary; this module keeps the same commit protocol over plain parquet
so it runs anywhere.  Lineage rows double as the per-partition metrics
feed (row counts per stage per partition).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydriosm_spark.session import local_frame


@dataclass
class CommitResult:
    written_partitions: list
    skipped_partitions: list
    rows_written: int


def _unescape_hive(name: str) -> str:
    """Invert Spark's partition-directory escaping (%XX for ':', '%',
    '=', control chars, ...) so directory names can be matched back to
    the original partition values.  Mirrors
    ``ExternalCatalogUtils.unescapePathName`` in Spark."""
    out, i = [], 0
    while i < len(name):
        if name[i] == "%" and i + 2 < len(name) + 1 and i + 3 <= len(name):
            try:
                out.append(chr(int(name[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(name[i])
        i += 1
    return "".join(out)


class PartitionedCheckpoint:
    def __init__(self, base_dir: str, partition_col: str):
        self.base = base_dir
        self.col = partition_col
        self.data_dir = os.path.join(base_dir, "data")
        self.manifest_path = os.path.join(base_dir, "_manifest.jsonl")
        os.makedirs(self.data_dir, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def committed(self) -> dict:
        """partition value (as str) -> manifest entry."""
        out = {}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                for line in f:
                    if line.strip():
                        e = json.loads(line)
                        out[str(e["partition"])] = e
        return out

    def _partition_dirs(self) -> dict:
        """Partition value (unescaped, as str) -> on-disk directory.
        Scanning the actual listing (instead of formatting
        ``f"{col}={v}"`` by hand) is what makes values containing ':',
        '%', '=', spaces, ... work — Spark escapes those in directory
        names, so a hand-built path would miss the real directory."""
        prefix = f"{self.col}="
        out = {}
        if os.path.isdir(self.data_dir):
            for name in os.listdir(self.data_dir):
                if name.startswith(prefix):
                    out[_unescape_hive(name[len(prefix) :])] = os.path.join(
                        self.data_dir, name
                    )
        return out

    def _append_manifest(self, entries: list[dict]) -> None:
        """Atomic append: rewrite to a temp file + rename, so a driver
        crash mid-write can never leave a torn manifest line (the commit
        either happened or it didn't — same guarantee Iceberg gets from
        its metadata swap)."""
        existing = ""
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                existing = f.read()
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(existing)
            for e in entries:
                f.write(json.dumps(e) + "\n")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.manifest_path)

    # -- write -------------------------------------------------------------
    def run(
        self,
        df: DataFrame,
        run_id: str = "run",
        fail_after: int | None = None,
        batch_size: int = 1,
    ) -> CommitResult:
        """Write every not-yet-committed partition of ``df``; skip
        committed ones.  ``fail_after`` aborts after N partition commits
        (test hook simulating a mid-job crash).

        ``batch_size`` partitions commit per Spark job (ONE dynamic-
        partition-overwrite write + ONE grouped count read-back per
        batch): the commit unit the resume contract requires without a
        serial job per partition — at scale each batch is one Iceberg
        overwritePartitions snapshot.  ``batch_size=1`` keeps the
        finest-grained resume (the kill-after-k tests rely on it).
        """
        spark = df.sparkSession
        done = self.committed()
        values = [
            r[0]
            for r in df.select(self.col).distinct().orderBy(self.col).collect()
        ]
        # A NULL partition value would silently vanish (filter(col == NULL)
        # matches nothing) while the manifest committed 'None' with rows=0 —
        # breaking the "resume state identical to a clean run" contract.
        # Reject up front; callers must map nulls to a sentinel themselves.
        if any(v is None for v in values):
            raise ValueError(
                f"partition column {self.col!r} contains NULL values; "
                "map them to an explicit sentinel before checkpointing"
            )
        skipped = [v for v in values if str(v) in done]
        todo = [v for v in values if str(v) not in done]

        written, rows_total = [], 0
        df = df.cache()
        # Dynamic partition overwrite: mode("overwrite") replaces ONLY the
        # partitions present in the batch, wholesale — half-written
        # directories of a dead run are swapped out atomically per
        # partition, with Spark handling its own directory-name escaping
        # (':' -> '%3A' etc.), which a manual rmtree of f"{col}={v}"
        # would miss.  This is the plain-parquet analogue of Iceberg's
        # overwritePartitions snapshot commit.
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            done_n = 0
            for b0 in range(0, len(todo), max(1, batch_size)):
                batch = todo[b0 : b0 + max(1, batch_size)]
                if fail_after is not None and done_n >= fail_after:
                    raise RuntimeError(f"injected failure after {fail_after} partitions")
                if fail_after is not None:
                    batch = batch[: fail_after - done_n]
                # ONE job writes the whole batch (Hive layout via
                # partitionBy), not one job per partition
                batch_df = df.filter(F.col(self.col).isin(list(batch)))
                batch_df.write.mode("overwrite").partitionBy(self.col).parquet(
                    self.data_dir
                )
                # Counts come from the batch itself (cached), not a
                # read-back of hand-built escaped paths that could
                # silently count 0 on type re-inference mismatches.
                counts = {
                    str(r[0]): r[1]
                    for r in batch_df.groupBy(self.col).count().collect()
                }
                entries = []
                for v in batch:
                    n = int(counts.get(str(v), 0))
                    entries.append(
                        {"partition": str(v), "rows": n, "committed_at_run": run_id}
                    )
                    written.append(v)
                    rows_total += n
                self._append_manifest(entries)
                done_n += len(batch)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
            df.unpersist()
        return CommitResult(written, skipped, rows_total)

    def drop(self, partitions=None) -> list:
        """Drop partitions (data + manifest entries) — the engine's DDL
        analogue of the reference's cascade table drops
        (/root/reference/pydriosm/ios/_ios.py:1780-2009).  ``None`` drops
        everything.  Returns the dropped partition values."""
        import shutil

        done = self.committed()
        dirs = self._partition_dirs()
        targets = list(done) if partitions is None else [str(p) for p in partitions]
        dropped = []
        for v in targets:
            if v not in done:
                continue
            if v in dirs:
                shutil.rmtree(dirs[v], ignore_errors=True)
            dropped.append(v)
        keep = [e for k, e in done.items() if k not in set(dropped)]
        with open(self.manifest_path, "w") as f:
            for e in keep:
                f.write(json.dumps(e) + "\n")
        return dropped

    # -- read --------------------------------------------------------------
    def read(self, spark: SparkSession, allow_missing: bool = False) -> DataFrame:
        """Read every committed partition.  The manifest is the source of
        truth: a committed partition with no on-disk directory means
        storage rot (or an external delete), and silently skipping it
        would hand the consumer a truncated table — so this raises,
        pointing at ``catalogue()``/``pending()`` for re-ingest planning
        (ADVICE r3).  ``allow_missing=True`` opts into best-effort
        reading of whatever survives."""
        dirs = self._partition_dirs()
        committed = self.committed()
        missing = [v for v in committed if v not in dirs]
        if missing and not allow_missing:
            raise FileNotFoundError(
                f"{len(missing)} committed partition(s) missing on disk "
                f"({', '.join(sorted(missing)[:5])}{'...' if len(missing) > 5 else ''}); "
                "storage rot — inspect plans.catalogue()/pending() to re-ingest, "
                "or pass allow_missing=True for a best-effort partial read"
            )
        paths = [dirs[v] for v in committed if v in dirs]
        return spark.read.option("basePath", self.data_dir).parquet(*paths)

    def lineage(self, spark: SparkSession) -> DataFrame:
        """The lineage/metrics sidecar as a DataFrame."""
        rows = [
            (e["partition"], e["rows"], e["committed_at_run"])
            for e in self.committed().values()
        ]
        return local_frame(spark, rows, f"{self.col} string, rows long, committed_at_run string")

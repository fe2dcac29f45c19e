"""Warehouse sinks: the one staged-write loop (``StagedSink``), the
parquet sink on it, and dead-letter capture.

Parity targets:
- Dynamic-destination write ``dataset.<schema>_<table>`` with
  create-table/dataset-on-demand and append semantics —
  DBImportPipeline.java:115-132, common/BigQueryTableDestination.java:41-68,
  dataset pre-create common/CreateTableMapDoFn.java:61-70. Spark has no
  per-row dynamic table sink; the idiomatic (and at 100 TB, faster)
  equivalent is a driver-side loop issuing one atomic columnar write per
  table — each write is a distributed job, the loop is metadata-only.
- Write method: the reference uses STREAMING_INSERTS with transient
  retry (DBImportPipeline.java:130) while its README claims load jobs
  (README.md:181). We use atomic batch writes, matching the README's
  stated intent; the transient retry is ``StagedSink.write``. The
  parquet publish primitive is rename: a directory swap for create and
  overwrite, one rename per part file for append.
- Failed-insert capture → quarantine (DBImportPipeline.java:134-146) and
  dead-letter union+log (DBImportPipeline.java:148-162): errors become
  rows in a quarantine parquet table instead of log lines.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import traceback
import uuid
from collections.abc import Sequence
from contextlib import suppress
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_log = logging.getLogger("dlp_rdb_bq_import_spark")

def replace_dir(staged: str, path: str) -> None:
    """Publish a fully-written staging directory over ``path`` by
    metadata-only renames — the ONE implementation of the swap
    (the Warehouse publish, which compaction goes through, and the
    streaming upsert view call this; hand-rolled copies had drifted).

    Failure semantics: the backup name is unique per publish, so a
    leftover backup from a crashed run can never wedge later publishes
    (the old fixed "._old" name made every subsequent rename fail with
    ENOTEMPTY). If the swap's second rename fails, the backup is
    restored — readers see the old table, not a missing one. Stale
    backups are swept only when ``path`` exists (if a hard crash left
    only the backup, it is the sole surviving copy — sweeping it would
    destroy data; restore it manually by renaming).

    Concurrency: the two renames are each atomic but not jointly — for
    a few microseconds between them ``path`` does not exist, and a
    crash inside that window leaves only the backup on disk. POSIX has
    no multi-directory atomic swap without renameat2(RENAME_EXCHANGE)
    or a symlink-flip layout, so this sink assumes a SINGLE WRITER and
    no reader racing the publish instant (Spark jobs reading the table
    resolve file lists at plan time, which widens their exposure to
    exactly that instant). Callers needing concurrent readers should
    publish via a symlinked current-version directory."""
    parent = os.path.dirname(path) or "."
    base = os.path.basename(path)
    if os.path.isdir(path):
        for entry in os.listdir(parent):
            if entry.startswith(base + "._old"):
                shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
        backup = f"{path}._old{uuid.uuid4().hex[:8]}"
        os.rename(path, backup)
        try:
            os.rename(staged, path)
        except BaseException:
            os.rename(backup, path)
            raise
        shutil.rmtree(backup, ignore_errors=True)
    else:
        os.makedirs(parent, exist_ok=True)
        os.rename(staged, path)


@dataclass
class WriteResult:
    table: str
    destination: str
    status: str  # "ok" | "failed"
    error: str | None = None
    attempts: int = 1
    quarantined_rows: int = 0
    rejected_files: int = 0  # whole source files quarantined (columnar drift)


class StagedSink:
    """The staged-atomic write contract every warehouse sink keeps.

    The reference writes each table with transient retry and captures
    failed inserts instead of failing the job (DBImportPipeline.java:
    115-146). ``write`` runs that contract once for every sink:

    - ``mode`` is ``append`` or ``overwrite``; anything else, or a
      destination name the sink rejects, raises before any attempt;
    - each attempt materializes the frame into a FRESH staging name
      (``_write_attempt``), then publishes it (``_publish``) in one step
      that lands all of the attempt or none of it. So a failed attempt
      leaves nothing visible and the retry cannot double-append;
    - append vs replace is decided here, per attempt, from ``mode`` and
      ``table_exists``: ``append`` into an existing table, ``replace``
      an existing table on overwrite, ``create`` a missing one;
    - the staging is discarded after every attempt, best-effort. After a
      committed publish a failed discard only leaves an orphan staging
      (harmless); it never re-enters the retry, which would append the
      committed rows twice;
    - after ``max_retries + 1`` failed attempts the result is
      ``status="failed"`` with the last error: dead-letter, not crash.
      Every failed attempt and the final dead letter are logged on the
      ``dlp_rdb_bq_import_spark`` logger.

    A sink supplies ``qualified``, ``table_exists`` and the four
    primitives ``_staging_name``, ``_write_attempt``, ``_publish`` and
    ``_discard``. Tests inject faults by overriding ``_write_attempt``."""

    def write(
        self,
        df: DataFrame,
        dataset: str,
        full_name: str,
        mode: str = "append",
        max_retries: int = 2,
        _partition_by: Sequence[str] = (),
    ) -> WriteResult:
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported write mode {mode!r}")
        dest = self.qualified(dataset, full_name)
        spark = df.sparkSession
        # the private _partition_by reaches only the parquet sink's attempt
        opts = {"partition_by": list(_partition_by)} if _partition_by else {}
        tries = max_retries + 1
        last: str | None = None
        for attempt in range(1, tries + 1):
            staging = self._staging_name(dest)
            try:
                self._write_attempt(df, staging, **opts)
                exists = self.table_exists(spark, dataset, full_name)
                how = "create" if not exists else "append" if mode == "append" else "replace"
                self._publish(spark, staging, dest, how)
                return WriteResult(full_name, dest, "ok", attempts=attempt)
            except Exception as e:  # dead-letter, not crash (S9)
                last = f"{e}\n{traceback.format_exc()}"
                _log.warning(
                    "write %s to %s: attempt %d of %d failed with %s",
                    full_name, dest, attempt, tries, type(e).__name__,
                )
            finally:
                with suppress(Exception):
                    self._discard(spark, staging)
        _log.error("write %s to %s: dead-lettered after %d attempts", full_name, dest, tries)
        return WriteResult(full_name, dest, "failed", last, attempts=tries)


class Warehouse(StagedSink):
    """A directory-backed dataset namespace: ``<root>/<dataset>/<table>/``
    parquet directories, created on demand. Staging is the sibling
    ``<table>._staging``; publish is a directory swap (``replace_dir``)
    or, for append, a rename of each staged part file into the table."""

    def __init__(self, root: str):
        self.root = root

    def table_path(self, dataset: str, full_name: str) -> str:
        return os.path.join(self.root, dataset, full_name)

    qualified = table_path

    def table_exists(self, spark: SparkSession, dataset: str, full_name: str) -> bool:
        return os.path.isdir(self.table_path(dataset, full_name))

    @staticmethod
    def _staging_name(path: str) -> str:
        return path + "._staging"

    def _write_attempt(
        self, df: DataFrame, staged: str, partition_by: Sequence[str] = ()
    ) -> None:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(staged)

    @staticmethod
    def _publish(spark: SparkSession, staged: str, path: str, how: str) -> None:
        """Renames are metadata-only, so readers see the old or the new
        table, never a partial write. Append moves each part file,
        uniquely prefixed, into the same ``col=value/`` directory of the
        table. If that fails partway, the moved files go BACK into
        staging before raising, so the retry re-publishes the whole
        attempt exactly once (best-effort: an I/O layer that fails the
        move-back too can still leave duplicates, but the window is one
        rename, not one attempt)."""
        if how != "append":
            replace_dir(staged, path)
            return
        token = uuid.uuid4().hex[:8]
        parts = [
            os.path.relpath(os.path.join(d, f), staged)
            for d, _, files in os.walk(staged)
            for f in files
            if f.endswith(".parquet")
        ]
        moved: list[tuple[str, str]] = []
        try:
            for rel in parts:
                head, fname = os.path.split(rel)
                src, dst = os.path.join(staged, rel), os.path.join(path, head, f"{token}-{fname}")
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
                moved.append((dst, src))
        except BaseException:
            for dst, src in moved:
                with suppress(OSError):
                    os.rename(dst, src)
            raise

    @staticmethod
    def _discard(spark: SparkSession, staged: str) -> None:
        shutil.rmtree(staged, ignore_errors=True)

    def read(self, spark: SparkSession, dataset: str, full_name: str) -> DataFrame:
        """Read a table; when an evolution sidecar exists the saved
        canonical schema is applied, so files written BEFORE a column
        was added surface typed NULLs for it (parquet fills missing
        user-schema columns with null)."""
        path = self.table_path(dataset, full_name)
        saved = self._load_schema(path)
        if saved is not None:
            return spark.read.schema(saved).parquet(path)
        return spark.read.parquet(path)

    # -- schema evolution --------------------------------------------------

    _SCHEMA_SIDECAR = "_schema.json"

    def _schema_path(self, path: str) -> str:
        return os.path.join(path, self._SCHEMA_SIDECAR)

    def _load_schema(self, path: str):
        sp = self._schema_path(path)
        if not os.path.isfile(sp):
            return None
        from pyspark.sql.types import StructType

        with open(sp) as f:
            return StructType.fromJson(json.load(f))

    def _save_schema(self, path: str, schema) -> None:
        # underscore prefix ⟹ invisible to Spark's parquet file listing
        with open(self._schema_path(path), "w") as f:
            json.dump(schema.jsonValue(), f)

    def write_evolved(
        self,
        df: DataFrame,
        dataset: str,
        full_name: str,
        mode: str = "append",
        max_retries: int = 2,
    ) -> WriteResult:
        """Schema-evolution-aware write: drift between the incoming
        frame and the existing table is APPLIED by policy instead of
        silently reshaping the output the way the reference does (it
        re-discovers the source schema every run, ServerUtil.java:47-52,
        and its BigQuery table just changes shape):

        - ADDED columns  → accepted: the canonical schema widens
          (nullable), and files written before the column existed read
          back as typed NULLs via the sidecar schema;
        - REMOVED columns → incoming rows are filled with typed NULLs
          so the table keeps its superset schema (history survives —
          a recurring import must not lose last month's column);
        - RETYPED columns → REJECTED to the dead-letter channel: no
          append can reconcile two types under one name, and guessing
          a cast silently corrupts whichever side loses. The write
          fails closed with the retype list; nothing lands.

        ``overwrite`` resets the canonical schema to the frame's.
        Evolution state rides a ``_schema.json`` sidecar (underscore
        prefix — ignored by parquet listings); tables written by plain
        ``write`` evolve from their on-disk parquet schema the first
        time this method touches them."""
        path = self.table_path(dataset, full_name)
        if mode == "overwrite" or not os.path.isdir(path):
            res = self.write(df, dataset, full_name, mode, max_retries)
            if res.status == "ok":
                self._save_schema(path, df.schema)
            return res
        current = self._load_schema(path)
        if current is None:
            current = df.sparkSession.read.parquet(path).schema
        cur_types = {f.name: f.dataType for f in current.fields}
        new_types = {f.name: f.dataType for f in df.schema.fields}
        retyped = sorted(
            n
            for n in cur_types.keys() & new_types.keys()
            if cur_types[n] != new_types[n]
        )
        if retyped:
            detail = "; ".join(
                f"{n}: {cur_types[n].simpleString()} -> "
                f"{new_types[n].simpleString()}"
                for n in retyped
            )
            self.quarantine(
                dataset,
                [
                    {
                        "table": full_name,
                        "error": f"schema retype rejected: {detail}",
                        "policy": "write_evolved",
                    }
                ],
            )
            return WriteResult(
                full_name, path, "failed", f"schema retype rejected: {detail}"
            )
        from pyspark.sql.types import StructField, StructType

        evolved = StructType(
            [StructField(f.name, f.dataType, True) for f in current.fields]
            + [
                StructField(f.name, f.dataType, True)
                for f in df.schema.fields
                if f.name not in cur_types
            ]
        )
        aligned = df.select(
            *[
                F.col(f.name)
                if f.name in new_types
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in evolved.fields
            ]
        )
        res = self.write(aligned, dataset, full_name, mode, max_retries)
        if res.status == "ok":
            self._save_schema(path, evolved)
        return res

    def quarantine(self, dataset: str, records: list[dict]) -> None:
        """Dead-letter channel: one JSONL file per job run (replaces the
        reference's Flatten→LOG.error at DBImportPipeline.java:148-162
        with something queryable). Each file gets a fresh unique name,
        opened with exclusive create, so no run can overwrite the dead
        letters of another."""
        if not records:
            return
        qdir = os.path.join(self.root, dataset, "_quarantine")
        os.makedirs(qdir, exist_ok=True)
        path = os.path.join(qdir, f"deadletter-{uuid.uuid4().hex}.jsonl")
        with open(path, "x") as f:
            for r in records:
                f.write(json.dumps(r) + "\n")

    def quarantine_rows(
        self, violations: DataFrame, dataset: str, full_name: str
    ) -> int:
        """Row-level failed-insert capture (DBImportPipeline.java:134-146,
        ``WriteResult.getFailedInserts``): individual rejected rows land
        as (table, payload, error) in a queryable parquet quarantine
        table — a distributed write, unlike the table-level JSONL channel,
        because at 100 TB a hot table can reject millions of rows.
        Expects columns (payload, error); returns the quarantined count,
        and raises when the quarantine write dead-letters."""
        n = violations.count()
        if n == 0:
            return 0
        res = self.write(
            violations.select(F.lit(full_name).alias("table"), "payload", "error"),
            os.path.join(dataset, "_quarantine_rows"),
            full_name,
        )
        if res.status != "ok":
            raise RuntimeError(
                f"write to {res.destination} failed after {res.attempts} attempts: "
                f"{res.error}"
            )
        return n

    def write_partitioned(
        self,
        df: DataFrame,
        dataset: str,
        full_name: str,
        partition_cols: list[str],
        mode: str = "append",
        files_per_partition: int = 1,
    ) -> WriteResult:
        """Hive-style partitioned layout (``col=value/`` directories) —
        the property that turns a date/tenant filter into partition
        PRUNING at read time instead of a full scan. Rows are
        repartitioned by the partition columns first, so each dynamic
        partition is written by ``files_per_partition`` tasks instead of
        every task appending a sliver to every partition — the classic
        small-file explosion (tasks × partitions files per load)."""
        by = [F.col(c) for c in partition_cols]
        shuffled = (
            df.repartition(*by)
            if files_per_partition == 1
            else df.repartition(files_per_partition, *by)
        )
        return self.write(shuffled, dataset, full_name, mode, _partition_by=partition_cols)

    def compact(
        self,
        spark: SparkSession,
        dataset: str,
        full_name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Rewrite a table to ~``target_file_bytes`` files (the
        maintenance pass every incrementally-appended table needs: each
        micro-batch/merge leaves small files; scans then pay per-file
        open cost and lose row-group locality). Returns the new file
        count. The rewrite is an overwrite ``write``, so readers see the
        old or the new layout, never a partial mix; an evolution sidecar
        is kept. (Flat tables; a Hive-partitioned table compacts per
        partition directory instead.)"""
        path = self.table_path(dataset, full_name)
        saved = self._load_schema(path)
        size = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
        n_files = max(1, -(-size // target_file_bytes))  # ceil
        df = self.read(spark, dataset, full_name).repartition(n_files)
        res = self.write(df, dataset, full_name, mode="overwrite")
        if res.status != "ok":
            raise RuntimeError(f"compaction of {path} failed: {res.error}")
        if saved is not None:
            self._save_schema(path, saved)
        return len(
            [f for f in os.listdir(path) if f.endswith(".parquet")]
        )

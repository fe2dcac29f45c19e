"""ORC / Avro directory source: the ``file_source`` catalog discipline
— frozen catalog-time schema + malformed-input quarantine — for the two
self-describing binary formats a warehouse migration brings along
(S11-ext of SURVEY.md §2.1; the reference's catalog surface is
format-agnostic — ServerUtil.java:179-204 reads INFORMATION_SCHEMA
whatever backs it).

Binary columnar formats shift where corruption is detectable. CSV and
JSONL fail per LINE, so :class:`FileDirSource` quarantines rows. ORC
and Avro are self-describing per FILE (footer/header schema, internal
checksums): a damaged file fails at open, and the real-world drift
mode is a part file whose embedded schema no longer matches the
catalog's (a producer deployed a new writer mid-directory). The
quarantine unit here is therefore the FILE:

- SCHEMA FREEZE: the catalog schema is read ONCE from the first
  readable part file and pinned; every later read passes it
  explicitly, so a new file cannot silently widen or retype a column
  between catalog time and read time (the same contract
  ``file_source`` gets from bounded inference).
- CONFORMANCE SPLIT: at catalog time every part file's embedded
  schema is probed; unreadable files and files whose schema is not
  identical to the frozen one are EXCLUDED from ``read_table`` and
  surfaced by ``read_corrupt`` as ``(path, reason)`` rows. Through
  ``scan`` they reach ``run_import``'s row quarantine, which
  counts them as rejected files (``REJECT_UNIT = "file"``), not rows.

ORC ships inside Spark. Avro is Spark's one EXTERNAL built-in module
(the ``spark-avro`` package must be on the classpath per its public
docs); :func:`avro_available` probes the session and the source
raises a clear error instead of Spark's opaque "failed to find data
source" when it is absent — the same import-guard discipline as the
BigQuery/PubSub adapters.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..catalog import SqlTable
from .base import DirSource


def avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro datasource module is deployed. Probed
    via the class lookup (cheap, no I/O); cached per JVM."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.avro.AvroFileFormat"
        )
        return True
    except Exception:
        return False


class ColumnarDirSource(DirSource):
    """One table per ``<name>.orc`` / ``<name>.avro`` entry in a
    directory; an entry may be a single file or a directory of part
    files (the shape Spark's own writers produce)."""

    EXTENSIONS = {".orc": "orc", ".avro": "avro"}
    REJECT_UNIT = "file"

    def __init__(self, directory: str, schema_name: str = "main"):
        super().__init__(directory, schema_name)
        self._probed: dict[str, tuple[T.StructType, list[str], list[tuple[str, str]]]] = {}

    # -- catalog ------------------------------------------------------------

    def _part_files(self, fmt: str, path: str) -> list[str]:
        if os.path.isfile(path):
            return [path]
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(f".{fmt}") and not f.startswith(("_", "."))
        )

    def _probe(
        self, spark: SparkSession, fmt: str, path: str
    ) -> tuple[T.StructType, list[str], list[tuple[str, str]]]:
        """Freeze the schema off the first readable part file and
        split the rest into conforming vs quarantined: ``(frozen
        schema, good files, [(bad file, reason)])``, probed once."""
        if path in self._probed:
            return self._probed[path]
        if fmt == "avro" and not avro_available(spark):
            raise RuntimeError(
                "Avro source requires the spark-avro module (Spark's "
                "external built-in; deploy org.apache.spark:spark-avro "
                "per the public Avro Data Source Guide) — not found on "
                "this session's classpath"
            )
        good: list[str] = []
        bad: list[tuple[str, str]] = []
        frozen: T.StructType | None = None
        for f in self._part_files(fmt, path):
            try:
                sch = spark.read.format(fmt).load(f).schema
            except Exception as e:
                bad.append((f, f"unreadable: {type(e).__name__}: {str(e)[:200]}"))
                continue
            if frozen is None:
                frozen = sch
                good.append(f)
            elif sch == frozen:
                good.append(f)
            else:
                bad.append(
                    (
                        f,
                        "schema drift vs frozen catalog schema: "
                        f"{sch.simpleString()[:200]}",
                    )
                )
        if frozen is None:
            raise ValueError(f"no readable {fmt} part file under {path}")
        self._probed[path] = (frozen, good, bad)
        return self._probed[path]

    def _catalog_schema(self, spark: SparkSession, fmt: str, path: str) -> T.StructType:
        return self._probe(spark, fmt, path)[0]

    # -- read paths ---------------------------------------------------------

    def read_table(
        self, spark: SparkSession, table: SqlTable, offset_count: int = 500
    ) -> DataFrame:
        """Conforming part files only, read under the FROZEN schema
        (passed explicitly — a drifted file added after catalog time
        is quarantined by the conformance split, never silently
        widened into the scan). ``offset_count`` is satisfied by the
        session's maxPartitionBytes split sizing, as for parquet."""
        fmt, path = self._path_for(table)
        frozen, good, _ = self._probe(spark, fmt, path)
        return spark.read.format(fmt).schema(frozen).load(good)

    def read_corrupt(self, spark: SparkSession, table: SqlTable) -> DataFrame:
        """Dead-letter feed: one row per quarantined part file —
        ``(path string, reason string)``."""
        _, _, bad = self._probe(spark, *self._path_for(table))
        return spark.createDataFrame(bad, schema="path string, reason string")

    @contextmanager
    def scan(
        self, spark: SparkSession, table: SqlTable, offset_count: int = 500
    ) -> Iterator[tuple[DataFrame, DataFrame]]:
        rejected = self.read_corrupt(spark, table).toDF("payload", "error")
        yield self.read_table(spark, table, offset_count), rejected

"""Source contract: catalog discovery + partitioned table reads.

Replaces the reference's catalog queries (common/ServerUtil.java:47-52:
INFORMATION_SCHEMA.TABLES / COLUMNS / CONSTRAINT_COLUMN_USAGE) and its
OFFSET/FETCH splittable scan (common/TableToDbRowFn.java:59-174) with a
uniform interface whose implementations map onto Spark-native
partitioned reads.
"""

from __future__ import annotations

import os
import re
from abc import ABC, abstractmethod
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..catalog import SqlColumn, SqlTable

# keyed by DataType.simpleString()
_SPARK_TO_SOURCE_TYPE = {
    "string": "VARCHAR",
    "bigint": "BIGINT",
    "int": "INT",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "double": "FLOAT",
    "float": "REAL",
    "boolean": "BIT",
    "date": "DATE",
    "timestamp": "DATETIMEOFFSET",
    "timestamp_ntz": "DATETIME",
    "binary": "VARBINARY",
}

_PK_PATTERN = re.compile(r"^(?:[a-z]{1,2}_)?(?:\w*key|\w*_id|id)$", re.IGNORECASE)


def _source_type(spark_type: str) -> str:
    if spark_type.startswith("decimal("):
        return spark_type.upper()
    return _SPARK_TO_SOURCE_TYPE.get(spark_type, "VARCHAR")


def table_from_schema(schema_name: str, name: str, key: int, schema: T.StructType) -> SqlTable:
    """A ``SqlTable`` for a self-describing source. Source type names
    come from the Spark types (``decimal(p,s)`` → ``DECIMAL(p,s)``, unknown
    → VARCHAR). The PK is the first column when its name looks like a key
    (``<prefix>key`` / ``*_id`` / ``id``), mirroring the reference's
    PK-probe-else-first-column rule (ServerUtil.java:234-246) without its
    hazard: these scans don't paginate, so a non-unique key cannot skip
    or repeat rows."""
    cols = tuple(
        SqlColumn(
            f.name,
            ordinal,
            _source_type(f.dataType.simpleString()),
            nullable=f.nullable,
            primary_key=ordinal == 1 and bool(_PK_PATTERN.match(f.name)),
        )
        for ordinal, f in enumerate(schema.fields, start=1)
    )
    return SqlTable(schema=schema_name, name=name, key=key, columns=cols)


class Source(ABC):
    """A source supplies a catalog (``list_tables``) and a scan
    (``read_table``). ``row_count`` is the scan's row count (only
    ``JdbcSource`` keeps the reference's ``COUNT(*)`` probe). ``scan``
    is what ``run_import`` reads: the scan plus the rows it rejected,
    the dead-letter feed of the row quarantine. A source that rejects
    rows overrides it, parsing its input once for both.

    ``REJECT_UNIT`` is what one rejected row stands for: a source
    ``"row"`` (its payload is the row's content, which ``run_import``
    reduces to a hash when the table is de-identified) or a whole
    ``"file"`` (its payload is the file's path)."""

    REJECT_UNIT = "row"

    @abstractmethod
    def list_tables(self, spark: SparkSession) -> list[SqlTable]:
        """Catalog scan: every table with its columns and PK attached
        (S1+S2+S3 of SURVEY.md §2.1)."""

    @abstractmethod
    def read_table(
        self, spark: SparkSession, table: SqlTable, offset_count: int = 500
    ) -> DataFrame:
        """S5 partitioned scan. ``offset_count`` = rows per split
        (README.md:99-104); implementations translate it into Spark
        partitioning (JDBC numPartitions / file split sizing) rather
        than O(n²) OFFSET re-sorts."""

    def row_count(self, spark: SparkSession, table: SqlTable) -> int:
        """S4 sizing probe (ServerUtil.java:136-155)."""
        return self.read_table(spark, table).count()

    @contextmanager
    def scan(
        self, spark: SparkSession, table: SqlTable, offset_count: int = 500
    ) -> Iterator[tuple[DataFrame, DataFrame | None]]:
        """``read_table`` and the rejected rows it left out because they
        do not fit the catalog schema, as ``(payload string, error
        string)`` rows (None when the source rejects nothing), for one
        import of ``table``; both are valid inside the ``with`` block."""
        yield self.read_table(spark, table, offset_count), None


class DirSource(Source):
    """A directory as a catalog: one table per ``<name><ext>`` entry,
    where ``EXTENSIONS`` maps each extension to its Spark format. A
    subclass supplies ``EXTENSIONS``, ``_catalog_schema`` and
    ``read_table``."""

    EXTENSIONS: dict[str, str] = {}

    def __init__(self, directory: str, schema_name: str = "main"):
        self.directory = directory.rstrip("/")
        self.schema_name = schema_name

    def _entries(self) -> list[tuple[str, str, str]]:
        return [
            (stem, self.EXTENSIONS[ext], os.path.join(self.directory, fname))
            for fname in sorted(os.listdir(self.directory))
            for stem, ext in [os.path.splitext(fname)]
            if ext in self.EXTENSIONS
        ]

    def _path_for(self, table: SqlTable) -> tuple[str, str]:
        for name, fmt, path in self._entries():
            if name == table.name:
                return fmt, path
        raise KeyError(
            f"no {sorted(self.EXTENSIONS)} entry for table {table.name!r} in {self.directory}"
        )

    @abstractmethod
    def _catalog_schema(self, spark: SparkSession, fmt: str, path: str) -> T.StructType:
        """The schema ``list_tables`` reports for one entry."""

    def list_tables(self, spark: SparkSession) -> list[SqlTable]:
        return [
            table_from_schema(self.schema_name, name, i, self._catalog_schema(spark, fmt, path))
            for i, (name, fmt, path) in enumerate(self._entries())
        ]

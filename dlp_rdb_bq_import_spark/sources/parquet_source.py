"""Parquet-directory source: a directory of ``<table>.parquet`` files is a
"database" (the primary test source, S11 of SURVEY.md §2.1).

Catalog discovery reads parquet footers (schema comes with the file —
the analogue of INFORMATION_SCHEMA.COLUMNS, ServerUtil.java:179-204),
and footers also make ``row_count`` a metadata-only job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..catalog import SqlTable
from .base import DirSource


class ParquetDirSource(DirSource):
    EXTENSIONS = {".parquet": "parquet"}

    def _catalog_schema(self, spark: SparkSession, fmt: str, path: str) -> T.StructType:
        return spark.read.parquet(path).schema

    def read_table(
        self, spark: SparkSession, table: SqlTable, offset_count: int = 500
    ) -> DataFrame:
        # Split sizing is byte-based for parquet
        # (spark.sql.files.maxPartitionBytes), already configured at the
        # session level; row-based offset_count is a JDBC-only concern.
        return spark.read.parquet(self._path_for(table)[1])

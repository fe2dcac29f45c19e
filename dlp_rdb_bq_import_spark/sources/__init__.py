"""Source registry.

The reference switches on a ``"TEST_HOST"`` sentinel inside production
DoFns (common/CreateTableMapDoFn.java:75,99,128-131;
common/TableToDbRowFn.java:74,122-130) — mock data baked into prod code.
We replace that with a scheme-dispatched registry: ``mock://`` /
``jdbc:...`` / a parquet directory, each a clean Source implementation.
"""

from __future__ import annotations

from .base import Source
from .columnar_source import ColumnarDirSource
from .file_source import FileDirSource
from .jdbc_source import JdbcSource
from .mock_source import MockSource
from .parquet_source import ParquetDirSource


def get_source(spec: str, **kwargs) -> Source:
    """Dispatch a connection spec to a Source (P6 parity, clean design).

    JDBC catalog strategy defaults by dialect: SQL Server URLs use the
    reference's INFORMATION_SCHEMA queries (ServerUtil.java:47-52);
    other engines use the portable java.sql.DatabaseMetaData API.
    Callers can override via ``catalog_strategy=``.
    """
    if spec.startswith("mock://") or spec == "TEST_HOST":
        return MockSource()
    if spec.startswith("jdbc:"):
        kwargs.setdefault(
            "catalog_strategy",
            "information_schema" if spec.startswith("jdbc:sqlserver:") else "metadata",
        )
        return JdbcSource(spec, **kwargs)
    if spec.startswith("files://"):
        return FileDirSource(spec[len("files://"):], **kwargs)
    if spec.startswith(("orc://", "avro://")):
        # same directory-catalog contract as files://, binary-columnar
        # formats; quarantine is per FILE (see columnar_source)
        return ColumnarDirSource(spec.split("://", 1)[1], **kwargs)
    return ParquetDirSource(spec, **kwargs)


__all__ = [
    "Source",
    "ColumnarDirSource",
    "MockSource",
    "JdbcSource",
    "ParquetDirSource",
    "FileDirSource",
    "get_source",
]

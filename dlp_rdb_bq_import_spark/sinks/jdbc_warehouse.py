"""JDBC warehouse sink — the dynamic-destination table writer (S8)
against a REAL SQL engine instead of the parquet stand-in.

The reference's sink is BigQuery with per-table dynamic destinations
and create-on-demand (DBImportPipeline.java:115-132); this adapter
gives the same ``write(df, dataset, table) -> WriteResult`` surface as
``sinks/warehouse.py`` but lands rows in any JDBC engine via Spark's
built-in JDBC writer — exercised LIVE against in-process Apache Derby
in tests (the same public driver the JDBC source tests use), and
engine-generic for PostgreSQL/MySQL/SQL Server (the publish SQL is
ANSI ``INSERT INTO … SELECT`` plus one RENAME).

The staged-atomic contract is ``StagedSink``'s; the SQL primitives:

- staging is a fresh ``<TABLE>_STG<hex>`` table written by Spark's JDBC
  writer, in the dataset's schema (created on demand);
- create publishes by ``RENAME TABLE staging TO final`` (atomic DDL —
  the destination appears fully populated or not at all); overwrite
  drops the destination first, then renames;
- append publishes by ONE ``INSERT INTO final SELECT * FROM staging``
  statement — statement atomicity means a failed append inserts
  nothing;
- discard is ``DROP TABLE staging``.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from .warehouse import StagedSink

_IDENT = re.compile(r"^[A-Za-z][A-Za-z0-9_]*$")


def _ident(name: str, what: str) -> str:
    """Validate-and-normalize an identifier: JDBC DDL is assembled
    text, so anything outside [A-Za-z0-9_] is rejected rather than
    quoted (the import job's sanitize step runs upstream)."""
    if not _IDENT.match(name or ""):
        raise ValueError(f"unusable {what} identifier: {name!r}")
    return name.upper()  # Derby/ANSI fold unquoted identifiers up


class JdbcWarehouse(StagedSink):
    """Dataset/table namespace on one JDBC engine. ``dataset`` maps to
    a SQL schema (created on demand); ``full_name`` to a table."""

    def __init__(self, url: str, driver: str | None = None):
        self.url = url
        self.driver = driver

    # -- naming -------------------------------------------------------------

    def qualified(self, dataset: str, full_name: str) -> str:
        return f"{_ident(dataset, 'dataset')}.{_ident(full_name, 'table')}"

    # -- driver-side SQL plumbing -------------------------------------------

    def _connect(self, spark: SparkSession):
        return spark._jvm.java.sql.DriverManager.getConnection(self.url)

    def _execute(self, spark: SparkSession, *statements: str) -> None:
        conn = self._connect(spark)
        try:
            st = conn.createStatement()
            try:
                for sql in statements:
                    st.execute(sql)
            finally:
                st.close()
        finally:
            conn.close()

    def _ensure_schema(self, spark: SparkSession, dataset: str) -> None:
        try:
            self._execute(spark, f"CREATE SCHEMA {_ident(dataset, 'dataset')}")
        except Exception as e:  # already exists — engine-specific code
            if "X0Y68" not in str(e) and "already exists" not in str(e).lower():
                raise

    def table_exists(self, spark: SparkSession, dataset: str, full_name: str) -> bool:
        conn = self._connect(spark)
        try:
            rs = conn.getMetaData().getTables(
                None, _ident(dataset, "dataset"), _ident(full_name, "table"), None
            )
            try:
                return bool(rs.next())
            finally:
                rs.close()
        finally:
            conn.close()

    # -- staged-write primitives ---------------------------------------------

    @staticmethod
    def _staging_name(dest: str) -> str:
        return f"{dest}_STG{uuid.uuid4().hex[:8].upper()}"

    def _write_attempt(self, df: DataFrame, staging: str) -> None:
        self._ensure_schema(df.sparkSession, staging.split(".", 1)[0])
        w = df.write.format("jdbc").option("url", self.url).option(
            "dbtable", staging
        )
        if self.driver:
            w = w.option("driver", self.driver)
        w.mode("overwrite").save()

    def _publish(self, spark: SparkSession, staging: str, dest: str, how: str) -> None:
        if how == "append":
            self._execute(spark, f"INSERT INTO {dest} SELECT * FROM {staging}")
            return
        if how == "replace":
            self._execute(spark, f"DROP TABLE {dest}")
        self._execute(spark, f"RENAME TABLE {staging} TO {dest.split('.', 1)[1]}")

    def _discard(self, spark: SparkSession, staging: str) -> None:
        self._execute(spark, f"DROP TABLE {staging}")

    def read(self, spark: SparkSession, dataset: str, full_name: str) -> DataFrame:
        r = spark.read.format("jdbc").option("url", self.url).option(
            "dbtable", self.qualified(dataset, full_name)
        )
        if self.driver:
            r = r.option("driver", self.driver)
        return r.load()

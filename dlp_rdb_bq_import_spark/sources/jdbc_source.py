"""JDBC source: catalog discovery + range-partitioned parallel scans.

Parity with the reference's SQL Server path:
- table list — ``SELECT TABLE_SCHEMA, TABLE_NAME, TABLE_TYPE FROM
  INFORMATION_SCHEMA.TABLES`` (ServerUtil.java:47-48,103-124);
- ordered columns — INFORMATION_SCHEMA.COLUMNS (ServerUtil.java:49-50,179-204);
- PK probe — CONSTRAINT_COLUMN_USAGE with ``PK%`` constraint
  (ServerUtil.java:51-52,157-177);
- row-count probe — SELECT COUNT(*) (ServerUtil.java:136-155; that code
  ignores its schemaName arg — ours does not);
- partitioned scan — the reference pages with ``ORDER BY pk OFFSET
  o*(i-1) FETCH NEXT o ROWS ONLY`` per splittable-DoFn restriction
  (TableToDbRowFn.java:80-89,150-174), which re-sorts the table per page
  (O(n²/b) work server-side) and double-executes each page query
  (TableToDbRowFn.java:92-93 — reference bug, not reproduced). We issue
  ONE ``spark.read.jdbc`` with ``partitionColumn/lowerBound/upperBound/
  numPartitions`` → Spark generates non-overlapping range predicates,
  each split a single index-range scan. Same result set, linear work,
  and numPartitions = ceil(rowcount / offset_count) preserves the
  reference's split arithmetic (TableToDbRowFn.java:157).

Full and incremental scans share one ranged read with ONE probe per
scan: the dialect's ``bounds_query`` returns the key's MIN, MAX and
``COUNT(*)`` (over the incremental predicate's rows, when there is
one). The read falls back to one partition when the key range is empty
(empty table) or when Spark cannot split the key's type — character
and fractional keys, which the reference's ORDER BY paging handles and
a range split does not. ``row_count`` keeps its own ``COUNT(*)`` for
S4 parity; the scans do not call it.

The SQL text is per engine (``sources/dialects.py``). The execution
path runs live against an in-process Derby (tests/test_jdbc_live.py) on
the ``metadata`` catalog strategy.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import types as T

from ..catalog import SqlColumn, SqlTable
from .base import Source
from .dialects import SqlDialect, dialect_for_url, get_dialect

_log = logging.getLogger("dlp_rdb_bq_import_spark")


def num_partitions_for(row_count: int, offset_count: int) -> int:
    """splits = ceil(count/offset) with a 1 floor (TableToDbRowFn.java:150-167)."""
    return max(1, math.ceil(row_count / max(1, offset_count)))


def _range_partitionable(key_type: T.DataType) -> bool:
    """Spark's JDBC reader splits a range of an integral, date or
    timestamp column; it parses numeric bounds as longs, so a
    fractional key cannot be split either."""
    return isinstance(
        key_type, (T.IntegralType, T.DateType, T.TimestampType, T.TimestampNTZType)
    ) or (isinstance(key_type, T.DecimalType) and key_type.scale == 0)


def _drain(rs, *names: str) -> list[tuple]:
    """The named columns, as strings, of every row of a ``java.sql.ResultSet``."""
    try:
        rows = []
        while rs.next():
            rows.append(tuple(rs.getString(n) for n in names))
        return rows
    finally:
        rs.close()


def _catalog(found) -> list[SqlTable]:
    """``SqlTable``s from ``(schema, name, table type, column rows, PK
    column names)``, whichever strategy read them; a column row is
    ``(name, ordinal, default, nullable, type)``, in ordinal order."""
    return [
        SqlTable(schema=schema, name=name, table_type=ttype, key=i, columns=tuple(
            SqlColumn(
                name=c, ordinal_position=int(ordinal), default_value=default,
                nullable=str(nullable).upper() == "YES", data_type=str(dtype),
                primary_key=c in pks,
            )
            for c, ordinal, default, nullable, dtype in cols
        ))
        for i, (schema, name, ttype, cols, pks) in enumerate(found)
    ]


class JdbcSource(Source):
    """``dialect`` picks the engine's SQL forms (a ``SqlDialect``, a
    name like ``"sqlserver"``, or None to infer from the URL scheme);
    ``catalog_strategy`` overrides the dialect's default:

    - ``"information_schema"`` — the reference's SQL Server dialect
      queries (ServerUtil.java:47-52 parity), reused by engines that
      ship INFORMATION_SCHEMA (PostgreSQL, MySQL with its
      KEY_COLUMN_USAGE PK probe);
    - ``"metadata"`` — the standard ``java.sql.DatabaseMetaData``
      catalog API (getTables/getColumns/getPrimaryKeys), which works
      across JDBC engines (Derby/H2/...) and is what lets the catalog
      path run against a live in-process Derby in tests.
    """

    def __init__(
        self,
        url: str,
        properties: dict[str, str] | None = None,
        catalog_strategy: str | None = None,
        dialect: SqlDialect | str | None = None,
    ):
        self.url = url
        self.properties = dict(properties or {})
        if dialect is None:
            self.dialect = dialect_for_url(url)
        elif isinstance(dialect, str):
            self.dialect = get_dialect(dialect)
        else:
            self.dialect = dialect
        self.catalog_strategy = catalog_strategy or self.dialect.catalog_strategy

    def _reader(self, spark: SparkSession, **options: str) -> DataFrameReader:
        return (
            spark.read.format("jdbc")
            .option("url", self.url)
            .options(**options)
            .options(**self.properties)
        )

    def _read_query(self, spark: SparkSession, query: str) -> DataFrame:
        return self._reader(spark, query=query).load()

    def list_tables(self, spark: SparkSession) -> list[SqlTable]:
        if self.catalog_strategy == "metadata":
            return self.list_tables_via_metadata(spark)
        d = self.dialect

        def query(sql: str) -> list:
            return self._read_query(spark, sql).collect()  # catalog: tiny

        return _catalog(
            (
                schema, name, ttype,
                query(d.columns_query.format(schema=schema, table=name)),
                {r[0] for r in query(d.pk_query.format(schema=schema, table=name))[:1]},
            )
            for schema, name, ttype in query(d.tables_query)
        )

    def list_tables_via_metadata(self, spark: SparkSession) -> list[SqlTable]:
        """Catalog discovery through ``java.sql.DatabaseMetaData`` — the
        engine-portable analogue of the reference's INFORMATION_SCHEMA
        queries (ServerUtil.java:103-204). Driver-side and tiny (catalog
        rows only); the data scan itself stays a distributed
        ``spark.read.jdbc``."""
        jvm = spark._jvm
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            if k != "driver":
                props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            meta = conn.getMetaData()
            types_arr = spark.sparkContext._gateway.new_array(jvm.java.lang.String, 1)
            types_arr[0] = "TABLE"
            found = _drain(meta.getTables(None, None, "%", types_arr), "TABLE_SCHEM", "TABLE_NAME")
            return _catalog(
                (
                    schema, name, "BASE TABLE",
                    _drain(
                        meta.getColumns(None, schema, name, "%"), "COLUMN_NAME",
                        "ORDINAL_POSITION", "COLUMN_DEF", "IS_NULLABLE", "TYPE_NAME",
                    ),
                    {c for (c,) in _drain(meta.getPrimaryKeys(None, schema, name), "COLUMN_NAME")},
                )
                for schema, name in found
            )
        finally:
            conn.close()

    def row_count(self, spark: SparkSession, table: SqlTable) -> int:
        df = self._read_query(
            spark, self.dialect.count_query.format(schema=table.schema, table=table.name)
        )
        return int(df.collect()[0][0])

    def read_table(
        self, spark: SparkSession, table: SqlTable, offset_count: int = 500
    ) -> DataFrame:
        return self._ranged_read(spark, table, offset_count)

    def read_incremental(
        self,
        spark: SparkSession,
        table: SqlTable,
        watermark_col: str,
        last_value,
        offset_count: int = 500,
    ) -> DataFrame:
        """Incremental scan: rows with ``watermark_col > last_value``
        only — the change-capture read the reference lacks (it reloads
        every table in full each run, DBImportPipeline.java:97-113).

        The predicate is part of the pushed-down dbtable subquery, so
        the database evaluates it (index range scan on the watermark
        column), and the range partitioning applies on top of the
        filtered set — an incremental batch of any size still splits
        across executors. String values are quoted; numeric/temporal
        values pass through str().
        """
        if isinstance(last_value, str):
            lit = "'" + last_value.replace("'", "''") + "'"
        else:
            lit = str(last_value)
        return self._ranged_read(spark, table, offset_count, f" WHERE {watermark_col} > {lit}")

    def _ranged_read(
        self, spark: SparkSession, table: SqlTable, offset_count: int, where: str = ""
    ) -> DataFrame:
        """The one scan behind ``read_table`` and ``read_incremental``:
        the table (or its rows matching the ``where`` clause),
        range-partitioned on the key by one bounds probe, or read as
        one partition."""
        relation = table.qualified_name
        dbtable = f"(SELECT * FROM {relation}{where}) incr" if where else relation
        pk, ranges, reason = table.primary_key_column, {}, "no key column"
        if pk is not None:
            probe = self._read_query(
                spark,
                self.dialect.bounds_query.format(
                    pk=pk, schema=table.schema, table=table.name, where=where
                ),
            )
            (lo, hi, n), key_type = probe.collect()[0], probe.schema.fields[0].dataType
            if lo is None:
                reason = "empty table or all-NULL key"
            elif not _range_partitionable(key_type):
                reason = f"key type {key_type.simpleString()} has no range split"
            else:
                reason, ranges = None, {
                    "partitionColumn": pk,
                    "lowerBound": str(lo),
                    "upperBound": str(hi),
                    "numPartitions": str(num_partitions_for(int(n), offset_count)),
                }
        _log.info(
            "jdbc read %s: key %s, %s partition(s)%s",
            table.qualified_name, pk, ranges.get("numPartitions", 1),
            f" ({reason})" if reason else "",
        )
        return self._reader(spark, dbtable=dbtable, **ranges).load()

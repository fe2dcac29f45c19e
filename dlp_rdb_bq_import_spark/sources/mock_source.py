"""Mock source: the reference's in-memory test fixture, as a clean Source.

Parity with common/TestUtil.java:38-63 (catalog: ``DBO.TEST_TABLE`` with
``NAME VARCHAR`` + ``COLUMN2_NAME INT``) and the single mock row
``["myname", "10"]`` emitted at common/TableToDbRowFn.java:122-129 under
the ``"TEST_HOST"`` sentinel. The reference's IT asserts count==1 on the
imported table (DBImportPipelineIT.java:79-89) — tests/test_m0 mirrors it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import SqlColumn, SqlTable
from .base import Source

MOCK_TABLE = SqlTable(
    schema="DBO",
    name="TEST_TABLE",
    table_type="BASE TABLE",
    key=0,
    columns=(
        SqlColumn("NAME", 1, "VARCHAR", nullable=True, primary_key=False),
        SqlColumn("COLUMN2_NAME", 2, "INT", nullable=True, primary_key=False),
    ),
)

MOCK_ROWS = [("myname", 10)]


class MockSource(Source):
    def list_tables(self, spark: SparkSession) -> list[SqlTable]:
        return [MOCK_TABLE]

    def read_table(
        self, spark: SparkSession, table: SqlTable, offset_count: int = 500
    ) -> DataFrame:
        return spark.createDataFrame(MOCK_ROWS, schema=table.spark_schema())

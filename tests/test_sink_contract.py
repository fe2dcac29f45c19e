"""The staged-write contract (``sinks.warehouse.StagedSink``), checked once
for every warehouse sink: the parquet ``Warehouse``, ``JdbcWarehouse``
live on in-process Apache Derby, and ``BigQueryWarehouse`` on the
in-memory ``_FakeBQClient``.

Each sink injects faults its own way: the parquet attempt leaves junk
in its staging directory, the JDBC attempt dies after staging its rows,
and the fake BigQuery client fails its next load job. A failing cleanup
is a raising ``_discard`` (parquet), a failing ``DROP TABLE`` of the
staging table (JDBC) or a failing staging delete (BigQuery).
"""

from __future__ import annotations

import logging
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dlp_rdb_bq_import_spark.sinks.bigquery_warehouse import BigQueryWarehouse
from dlp_rdb_bq_import_spark.sinks.jdbc_warehouse import JdbcWarehouse
from dlp_rdb_bq_import_spark.sinks.warehouse import Warehouse
from test_pubsub_bigquery_adapters import _FakeBQClient

URL = "jdbc:derby:memory:sinkcontract;create=true"
DS = "lake"


def _failing(base, fail, inject):
    """``base`` whose first ``fail`` write attempts run ``inject`` first,
    which raises or arms a fault the real attempt hits; counts every
    attempt."""

    class Faulty(base):
        attempts_seen = 0

        def _write_attempt(self, df, staging, **kw):
            self.attempts_seen += 1
            if self.attempts_seen <= fail:
                inject(self, df, staging)
            super()._write_attempt(df, staging, **kw)

    return Faulty


class _Parquet:
    fault, fault_class = "transient: backend unavailable", "OSError"

    def __init__(self, spark, tmp_path):
        self.root = str(tmp_path / "wh")

    def sink(self, fail=0, cleanup_fails=False):
        def inject(wh, df, staged):  # partial garbage must not become visible
            os.makedirs(staged, exist_ok=True)
            with open(os.path.join(staged, "part-junk.parquet"), "w") as f:
                f.write("partial")
            raise IOError(self.fault)

        class Sink(_failing(Warehouse, fail, inject)):
            def _discard(self, spark, staged):
                if cleanup_fails:
                    raise OSError("simulated cleanup failure")
                super()._discard(spark, staged)

        return Sink(self.root)

    def leftovers(self, table):
        ds = os.path.join(self.root, DS)
        staged = [f for f in os.listdir(ds) if "._staging" in f] if os.path.isdir(ds) else []
        path = os.path.join(ds, table)
        junk = [f for f in os.listdir(path) if "junk" in f] if os.path.isdir(path) else []
        return staged + junk


class _Jdbc:
    fault, fault_class = "transient: connection reset", "RuntimeError"

    def __init__(self, spark, tmp_path):
        # touching DriverManager once materializes the in-memory database
        spark._jvm.java.sql.DriverManager.getConnection(URL).close()
        self.spark = spark

    def sink(self, fail=0, cleanup_fails=False):
        def inject(wh, df, staging):  # dies AFTER staging its rows
            JdbcWarehouse._write_attempt(wh, df, staging)
            raise RuntimeError(self.fault)

        class Sink(_failing(JdbcWarehouse, fail, inject)):
            def _execute(self, spark, *statements):
                for sql in statements:
                    if cleanup_fails and sql.startswith("DROP TABLE") and "_STG" in sql:
                        raise RuntimeError("simulated lock timeout on DROP")
                super()._execute(spark, *statements)

        return Sink(URL)

    def leftovers(self, table):
        conn = self.spark._jvm.java.sql.DriverManager.getConnection(URL)
        try:
            rs = conn.getMetaData().getTables(None, DS.upper(), f"{table.upper()}_STG%", None)
            names = []
            while rs.next():
                names.append(rs.getString("TABLE_NAME"))
            return names
        finally:
            conn.close()


class _BigQuery:
    fault, fault_class = "simulated load-job failure", "RuntimeError"

    def __init__(self, spark, tmp_path):
        self.client = _FakeBQClient()

    def sink(self, fail=0, cleanup_fails=False):
        def inject(wh, df, staging):  # the fake's next load job dies
            self.client.fail_loads = 1

        self.client.fail_staging_delete = cleanup_fails
        return _failing(BigQueryWarehouse, fail, inject)(
            "proj", client_factory=lambda: self.client
        )

    def leftovers(self, table):
        return [t for t in self.client.tables if "_stg" in t]


@pytest.fixture(params=[_Parquet, _Jdbc, _BigQuery], ids=["parquet", "jdbc", "bigquery"])
def kit(request, spark, tmp_path):
    return request.param(spark, tmp_path)


def _table(request):
    """A table name unique to this test case (Derby's in-memory database
    lives as long as the JVM)."""
    return "t_" + request.node.name.replace("[", "_").replace("]", "").replace("-", "_")


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [Row(id=i, name=f"row_{i}") for i in range(lo, hi)],
        schema="id long, name string",
    )


def _logged(caplog):
    return [r for r in caplog.records if r.name == "dlp_rdb_bq_import_spark"]


def _ids(wh, spark, table):
    return sorted(r.id for r in wh.read(spark, DS, table).collect())


def test_create_on_demand_write_and_readback(spark, kit, request):
    t, wh = _table(request), kit.sink()
    res = wh.write(_df(spark, 0, 25), DS, t)
    assert res.status == "ok" and res.attempts == 1
    assert res.destination == wh.qualified(DS, t)
    assert wh.table_exists(spark, DS, t)
    assert _ids(wh, spark, t) == list(range(25))
    assert kit.leftovers(t) == []


def test_append_accumulates_exactly(spark, kit, request):
    t, wh = _table(request), kit.sink()
    wh.write(_df(spark, 0, 10), DS, t)
    wh.write(_df(spark, 10, 30), DS, t, mode="append")
    assert _ids(wh, spark, t) == list(range(30))  # no loss, no duplication


def test_overwrite_replaces(spark, kit, request):
    t, wh = _table(request), kit.sink()
    wh.write(_df(spark, 0, 10), DS, t)
    wh.write(_df(spark, 100, 105), DS, t, mode="overwrite")
    assert _ids(wh, spark, t) == list(range(100, 105))


@pytest.mark.parametrize("seeded", [False, True], ids=["create", "append"])
def test_flaky_first_attempt_lands_one_copy(spark, kit, request, caplog, seeded):
    """The first attempt fails after staging; the retry must leave the
    destination with exactly one copy and no staging visible, and the
    failed attempt is logged."""
    t = _table(request)
    if seeded:
        kit.sink().write(_df(spark, 0, 5), DS, t)
    wh = kit.sink(fail=1)
    with caplog.at_level(logging.WARNING, logger="dlp_rdb_bq_import_spark"):
        res = wh.write(_df(spark, 5, 12), DS, t, mode="append")
    assert res.status == "ok" and res.attempts == 2 and wh.attempts_seen == 2
    assert _ids(wh, spark, t) == list(range(0 if seeded else 5, 12))
    assert kit.leftovers(t) == []
    [rec] = _logged(caplog)
    assert rec.levelno == logging.WARNING
    msg = rec.getMessage()
    assert t in msg and "attempt 1 of 3" in msg and msg.endswith(kit.fault_class)


@pytest.mark.parametrize(
    "seeded,max_retries", [(False, 2), (True, 1)], ids=["create", "append"]
)
def test_exhausted_retries_dead_letter_leave_destination_intact(
    spark, kit, request, caplog, seeded, max_retries
):
    t = _table(request)
    if seeded:
        kit.sink().write(_df(spark, 0, 7), DS, t)
    wh = kit.sink(fail=99)
    with caplog.at_level(logging.WARNING, logger="dlp_rdb_bq_import_spark"):
        res = wh.write(_df(spark, 7, 9), DS, t, mode="append", max_retries=max_retries)
    assert res.status == "failed" and res.attempts == max_retries + 1
    assert wh.attempts_seen == max_retries + 1
    assert kit.fault in res.error
    if seeded:
        assert _ids(wh, spark, t) == list(range(7))  # untouched
    else:
        assert not wh.table_exists(spark, DS, t)  # nothing visible
    assert kit.leftovers(t) == []
    recs = _logged(caplog)
    assert [r.levelno for r in recs] == [logging.WARNING] * (max_retries + 1) + [logging.ERROR]
    assert "dead-lettered" in recs[-1].getMessage()


def test_mode_validation(spark, kit, request):
    wh = kit.sink()
    with pytest.raises(ValueError, match="mode"):
        wh.write(_df(spark, 0, 1), DS, _table(request), mode="merge")
    assert wh.attempts_seen == 0  # raised before the first attempt


def test_failed_cleanup_after_publish_does_not_double_append(spark, kit, request):
    """The publish committed and the staging cleanup fails: the write
    already succeeded, so the sink reports ok (an orphan staging is
    acceptable); re-entering the retry would append the rows again."""
    t, wh = _table(request), kit.sink(cleanup_fails=True)
    wh.write(_df(spark, 0, 7), DS, t)  # create on demand
    res = wh.write(_df(spark, 0, 7), DS, t, mode="append")
    assert res.status == "ok" and res.attempts == 1
    assert _ids(wh, spark, t) == sorted(list(range(7)) * 2)  # two copies, not three


def test_partitioned_append_retry_lands_one_copy_per_partition(spark, tmp_path):
    """A partitioned append whose first attempt staged every partition
    and then died: the retry publishes one file into each ``bucket=``
    directory, beside the one already there, and every row once."""

    class Flaky(Warehouse):
        fail_next = False

        def _write_attempt(self, df, staged, **kw):
            super()._write_attempt(df, staged, **kw)
            if self.fail_next:
                self.fail_next = False
                raise RuntimeError("transient: lost executor")

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            "id", (F.col("id") % 4).cast("string").alias("bucket")
        )

    wh = Flaky(str(tmp_path / "wh"))
    assert wh.write_partitioned(rows(0, 1000), DS, "t", ["bucket"]).status == "ok"
    wh.fail_next = True
    res = wh.write_partitioned(rows(1000, 2000), DS, "t", ["bucket"])
    assert res.status == "ok" and res.attempts == 2
    root = wh.table_path(DS, "t")
    assert not os.path.exists(root + "._staging")
    for b in range(4):
        files = os.listdir(os.path.join(root, f"bucket={b}"))
        assert len([f for f in files if f.endswith(".parquet")]) == 2
    got = spark.read.parquet(root)
    assert sorted(r.id for r in got.collect()) == list(range(2000))
    per_bucket = {r.bucket: r["count"] for r in got.groupBy("bucket").count().collect()}
    assert per_bucket == {b: 500 for b in range(4)}

"""S11-ext — the ORC/Avro binary-columnar source (VERDICT r13 task 5):
catalog discovery with a FROZEN footer schema, per-FILE conformance
quarantine (the binary-format analogue of file_source's corrupt-row
dead letters), warehouse write parity, and end-to-end run_import over
an orc:// spec. Avro tests run only where the spark-avro module is
deployed (it is Spark's one external built-in); the gating error
itself is always tested."""

from __future__ import annotations

import logging
import os

import pytest
from pyspark.sql import Row

from dlp_rdb_bq_import_spark.plans.import_job import ImportJobOptions, run_import
from dlp_rdb_bq_import_spark.sinks.warehouse import Warehouse
from dlp_rdb_bq_import_spark.sources import ColumnarDirSource, get_source
from dlp_rdb_bq_import_spark.sources.columnar_source import avro_available


def _people(spark):
    return spark.createDataFrame(
        [Row(person_id=i, name=f"p{i}", score=float(i) * 1.5) for i in range(1, 6)],
        schema="person_id long, name string, score double",
    )


def _orc_dir(spark, tmp_path):
    src = tmp_path / "columnar"
    src.mkdir()
    _people(spark).repartition(2).write.orc(str(src / "people.orc"))
    spark.createDataFrame(
        [Row(order_id=10, person_id=1), Row(order_id=11, person_id=2)],
        schema="order_id long, person_id long",
    ).write.orc(str(src / "orders.orc"))
    return str(src)


def test_orc_catalog_discovery_and_types(spark, tmp_path):
    src = ColumnarDirSource(_orc_dir(spark, tmp_path))
    tables = {t.name: t for t in src.list_tables(spark)}
    assert set(tables) == {"people", "orders"}
    people = tables["people"]
    assert [c.name for c in people.columns] == ["person_id", "name", "score"]
    assert people.columns[0].primary_key  # person_id matches the PK pattern
    assert people.columns[2].data_type == "FLOAT"


def test_orc_read_typed_and_counts(spark, tmp_path):
    src = ColumnarDirSource(_orc_dir(spark, tmp_path))
    tables = {t.name: t for t in src.list_tables(spark)}
    df = src.read_table(spark, tables["people"])
    assert dict(df.dtypes) == {
        "person_id": "bigint", "name": "string", "score": "double",
    }
    assert sorted(r.person_id for r in df.collect()) == [1, 2, 3, 4, 5]
    assert src.row_count(spark, tables["orders"]) == 2
    # conforming directory → empty quarantine with the documented schema
    q = src.read_corrupt(spark, tables["people"])
    assert q.columns == ["path", "reason"] and q.count() == 0


def test_orc_schema_drift_file_quarantined(spark, tmp_path):
    """A part file whose embedded schema differs from the frozen
    catalog schema must be excluded from the clean read and surfaced
    as a dead letter — never silently merged/widened into the scan."""
    root = tmp_path / "columnar"
    root.mkdir()
    tdir = root / "people.orc"
    _people(spark).coalesce(1).write.orc(str(tdir))
    # a later producer starts writing a drifted schema into the SAME dir
    drift = tmp_path / "drift"
    spark.createDataFrame(
        [Row(person_id=99, name="x", score="not-a-double")],
        schema="person_id long, name string, score string",
    ).coalesce(1).write.orc(str(drift))
    part = [f for f in os.listdir(drift) if f.endswith(".orc")][0]
    os.rename(str(drift / part), str(tdir / f"zz-{part}"))

    src = ColumnarDirSource(str(root))
    (table,) = src.list_tables(spark)
    clean = src.read_table(spark, table)
    assert sorted(r.person_id for r in clean.collect()) == [1, 2, 3, 4, 5]
    bad = src.read_corrupt(spark, table).collect()
    assert len(bad) == 1 and "schema drift" in bad[0].reason


def test_orc_unreadable_file_quarantined(spark, tmp_path):
    root = tmp_path / "columnar"
    root.mkdir()
    tdir = root / "people.orc"
    _people(spark).coalesce(1).write.orc(str(tdir))
    with open(tdir / "zz-junk.orc", "wb") as f:
        f.write(b"\x00\x01not really orc")
    src = ColumnarDirSource(str(root))
    (table,) = src.list_tables(spark)
    assert src.read_table(spark, table).count() == 5
    bad = src.read_corrupt(spark, table).collect()
    assert len(bad) == 1 and "unreadable" in bad[0].reason


def test_orc_warehouse_write_parity(spark, tmp_path):
    """Round-trip parity with the parquet warehouse: the same rows
    written through Warehouse (parquet) and as ORC read back equal."""
    df = _people(spark)
    wh = Warehouse(str(tmp_path / "wh"))
    wh.write(df, "DS", "people")
    df.write.orc(str(tmp_path / "columnar" / "people.orc"))
    src = ColumnarDirSource(str(tmp_path / "columnar"))
    (table,) = src.list_tables(spark)
    a = sorted(map(tuple, wh.read(spark, "DS", "people").collect()))
    b = sorted(map(tuple, src.read_table(spark, table).collect()))
    assert a == b


def test_run_import_over_orc_spec(spark, tmp_path):
    spec = "orc://" + _orc_dir(spark, tmp_path)
    assert isinstance(get_source(spec), ColumnarDirSource)
    wh_dir = str(tmp_path / "wh")
    results = run_import(
        spark, ImportJobOptions(jdbc_spec=spec, dataset="DS", warehouse_dir=wh_dir)
    )
    assert {r.table: r.status for r in results} == {
        "main_people": "ok",
        "main_orders": "ok",
    }
    wh = Warehouse(wh_dir)
    assert wh.read(spark, "DS", "main_people").count() == 5
    assert wh.read(spark, "DS", "main_orders").count() == 2


def test_avro_gated_with_clear_error_when_module_absent(spark, tmp_path):
    root = tmp_path / "columnar"
    root.mkdir()
    (root / "t.avro").mkdir()
    src = ColumnarDirSource(str(root))
    if avro_available(spark):
        pytest.skip("spark-avro deployed here; the gate cannot fire")
    with pytest.raises(RuntimeError, match="spark-avro"):
        src.list_tables(spark)


@pytest.mark.skipif(
    "not config.getoption('--run-avro', default=False)",
    reason="spark-avro module not deployed in this container",
)
def test_avro_round_trip_when_available(spark, tmp_path):
    root = tmp_path / "columnar"
    root.mkdir()
    _people(spark).write.format("avro").save(str(root / "people.avro"))
    src = ColumnarDirSource(str(root))
    (table,) = src.list_tables(spark)
    assert src.read_table(spark, table).count() == 5


def test_run_import_quarantines_drifted_part_file(spark, tmp_path, caplog):
    """A part file whose schema drifted reaches the row quarantine as
    one row holding its path. The quarantine unit is the file, so it
    counts as a rejected file, not as its rows."""
    root = tmp_path / "columnar"
    root.mkdir()
    tdir = root / "people.orc"
    _people(spark).coalesce(1).write.orc(str(tdir))
    drift = tmp_path / "drift"
    spark.createDataFrame(
        [Row(person_id=i, name="x", score="not-a-double") for i in (97, 98, 99)],
        schema="person_id long, name string, score string",
    ).coalesce(1).write.orc(str(drift))
    part = [f for f in os.listdir(drift) if f.endswith(".orc")][0]
    os.rename(str(drift / part), str(tdir / f"zz-{part}"))

    wh_dir = str(tmp_path / "wh")
    caplog.set_level(logging.INFO, logger="dlp_rdb_bq_import_spark")
    (res,) = run_import(
        spark, ImportJobOptions(jdbc_spec=f"orc://{root}", dataset="DS", warehouse_dir=wh_dir)
    )
    assert (res.status, res.quarantined_rows, res.rejected_files) == ("ok", 0, 1)
    assert Warehouse(wh_dir).read(spark, "DS", "main_people").count() == 5
    (q,) = spark.read.parquet(
        os.path.join(wh_dir, "DS", "_quarantine_rows", "main_people")
    ).collect()
    assert q["payload"] == str(tdir / f"zz-{part}")
    assert "schema drift" in q["error"]
    assert any(
        "main_people: 0 rows and 1 files quarantined" in r.getMessage() for r in caplog.records
    )

"""S11-ext — the delimited/JSON-lines file source: catalog discovery
with a frozen inferred schema, typed clean reads, corrupt-row
quarantine (the file-format analogue of failed-insert dead letters,
DBImportPipeline.java:134-146), and end-to-end run_import over a
files:// spec."""

from __future__ import annotations

import hashlib
import logging
import os

from dlp_rdb_bq_import_spark.functions.tokenize import (
    DeidTemplate,
    FieldTransform,
    TemplateRegistry,
)
from dlp_rdb_bq_import_spark.plans.import_job import ImportJobOptions, run_import
from dlp_rdb_bq_import_spark.sinks.warehouse import Warehouse
from dlp_rdb_bq_import_spark.sources import FileDirSource, get_source


def _write(path, text):
    with open(path, "w") as f:
        f.write(text)


def _mixed_dir(tmp_path):
    src = tmp_path / "files"
    src.mkdir()
    _write(
        src / "people.csv",
        "person_id,name,score\n1,alice,9.5\n2,bob,7.25\n3,carol,8.0\n",
    )
    _write(
        src / "orders.jsonl",
        '{"order_id": 10, "person_id": 1, "total": 99.5}\n'
        '{"order_id": 11, "person_id": 2, "total": 15.0}\n',
    )
    return str(src)


def test_catalog_discovery_and_types(spark, tmp_path):
    src = FileDirSource(_mixed_dir(tmp_path))
    tables = {t.name: t for t in src.list_tables(spark)}
    assert set(tables) == {"people", "orders"}
    people = tables["people"]
    assert [c.name for c in people.columns] == ["person_id", "name", "score"]
    assert people.columns[0].primary_key  # person_id matches the PK pattern
    assert people.columns[0].data_type == "INT"
    assert people.columns[2].data_type == "FLOAT"  # inferred double


def test_read_table_is_typed_and_clean(spark, tmp_path):
    src = FileDirSource(_mixed_dir(tmp_path))
    tables = {t.name: t for t in src.list_tables(spark)}
    df = src.read_table(spark, tables["people"])
    assert dict(df.dtypes) == {"person_id": "int", "name": "string", "score": "double"}
    assert df.count() == 3
    assert src.row_count(spark, tables["orders"]) == 2


def test_corrupt_rows_quarantined_not_poisoning(spark, tmp_path):
    """A malformed JSON line must not fail the scan or flip the schema:
    clean rows read typed, the bad line surfaces via read_corrupt."""
    src_dir = tmp_path / "files"
    src_dir.mkdir()
    _write(
        src_dir / "t.jsonl",
        '{"t_id": 1, "v": 10}\n'
        "this is not json at all\n"
        '{"t_id": 2, "v": 20}\n',
    )
    src = FileDirSource(str(src_dir))
    (table,) = src.list_tables(spark)
    clean = src.read_table(spark, table)
    assert sorted(r["t_id"] for r in clean.collect()) == [1, 2]
    corrupt = src.read_corrupt(spark, table).collect()
    assert len(corrupt) == 1 and "not json" in corrupt[0]["raw"]


def test_run_import_over_files_spec(spark, tmp_path):
    """files:// dispatches through the registry and the import pipeline
    lands every table in the warehouse with sanitized names."""
    spec = "files://" + _mixed_dir(tmp_path)
    assert isinstance(get_source(spec), FileDirSource)
    wh_dir = str(tmp_path / "wh")
    results = run_import(
        spark, ImportJobOptions(jdbc_spec=spec, dataset="DS", warehouse_dir=wh_dir)
    )
    assert {r.table: r.status for r in results} == {
        "main_people": "ok",
        "main_orders": "ok",
    }
    wh = Warehouse(wh_dir)
    assert wh.read(spark, "DS", "main_people").count() == 3
    assert wh.read(spark, "DS", "main_orders").count() == 2
    assert not os.path.exists(os.path.join(wh_dir, "DS", "_quarantine"))


def test_csv_data_row_identical_to_header_survives(spark, tmp_path):
    """Only the first PHYSICAL line is the header; a data row that is
    byte-identical to the header line is data and must be kept (as the
    all-string row it parses to)."""
    src_dir = tmp_path / "files"
    src_dir.mkdir()
    _write(src_dir / "w.csv", "a,b\n1,2\na,b\n3,4\n")
    src = FileDirSource(str(src_dir))
    (table,) = src.list_tables(spark)
    # schema inferred as strings (the 'a,b' data row forces it)
    rows = {tuple(r) for r in src.read_table(spark, table).collect()}
    assert ("a", "b") in rows and ("1", "2") in rows and ("3", "4") in rows
    assert len(rows) == 3


def test_csv_no_header_option(spark, tmp_path):
    """header='false' must read every line as data with positional
    column names."""
    src_dir = tmp_path / "files"
    src_dir.mkdir()
    _write(src_dir / "n.csv", "1,x\n2,y\n")
    src = FileDirSource(str(src_dir), csv_options={"header": "false"})
    (table,) = src.list_tables(spark)
    df = src.read_table(spark, table)
    assert df.count() == 2
    assert [c.name for c in table.columns] == ["_c0", "_c1"]


def test_csv_inference_reads_bounded_prefix(spark, tmp_path):
    """Schema inference must consume only the first infer_rows lines: a
    type-flipping value BEYOND the prefix cannot change the frozen
    schema (it quarantines at read time instead)."""
    src_dir = tmp_path / "files"
    src_dir.mkdir()
    lines = ["k_id,v"] + [f"{i},{i}" for i in range(50)] + ["50,not-a-number"]
    _write(src_dir / "b.csv", "\n".join(lines) + "\n")
    src = FileDirSource(str(src_dir), infer_rows=10)
    (table,) = src.list_tables(spark)
    assert dict((c.name, c.data_type) for c in table.columns)["v"] in ("INT", "BIGINT")
    clean = src.read_table(spark, table)
    assert clean.count() == 50  # the flipping row is quarantined, not schema-flipping
    assert src.read_corrupt(spark, table).count() == 1


def test_run_import_quarantines_malformed_lines(spark, tmp_path, caplog):
    """A line the source rejects reaches the row quarantine: rows in =
    written + quarantined, and the quarantine row holds the raw line."""
    src_dir = tmp_path / "files"
    src_dir.mkdir()
    _write(
        src_dir / "t.jsonl",
        '{"t_id": 1, "v": 10}\n'
        "this is not json at all\n"
        '{"t_id": 2, "v": 20}\n',
    )
    wh_dir = str(tmp_path / "wh")
    caplog.set_level(logging.INFO, logger="dlp_rdb_bq_import_spark")
    # the bad line adds no _corrupt_record column, so t_id stays first and the PK
    (table,) = FileDirSource(str(src_dir)).list_tables(spark)
    assert [(c.name, c.primary_key) for c in table.columns] == [("t_id", True), ("v", False)]
    (res,) = run_import(
        spark,
        ImportJobOptions(jdbc_spec=f"files://{src_dir}", dataset="DS", warehouse_dir=wh_dir),
    )
    assert (res.status, res.quarantined_rows) == ("ok", 1)
    written = Warehouse(wh_dir).read(spark, "DS", "main_t")
    assert written.columns == ["t_id", "v"]
    assert written.count() + res.quarantined_rows == 3
    q = spark.read.parquet(os.path.join(wh_dir, "DS", "_quarantine_rows", "main_t"))
    assert [tuple(r) for r in q.select("table", "payload").collect()] == [
        ("main_t", "this is not json at all")
    ]
    assert any("main_t: 1 rows and 0 files quarantined" in r.getMessage() for r in caplog.records)


def test_all_malformed_file_fails_only_its_table(spark, tmp_path):
    """A file with no parseable line has no columns: its table fails with
    the file named and is never written; the table next to it imports."""
    src_dir = tmp_path / "files"
    src_dir.mkdir()
    _write(src_dir / "bad.jsonl", "not json\nnor this {\n")
    _write(src_dir / "good.jsonl", '{"g_id": 1}\n')
    wh_dir = str(tmp_path / "wh")
    results = run_import(
        spark,
        ImportJobOptions(jdbc_spec=f"files://{src_dir}", dataset="DS", warehouse_dir=wh_dir),
    )
    by_table = {r.table: r for r in results}
    assert by_table["main_good"].status == "ok"
    assert by_table["main_bad"].status == "failed"
    assert str(src_dir / "bad.jsonl") in by_table["main_bad"].error
    assert not os.path.exists(os.path.join(wh_dir, "DS", "main_bad"))
    assert Warehouse(wh_dir).read(spark, "DS", "main_good").count() == 1


def test_rejected_line_of_deid_table_is_quarantined_as_hash(spark, tmp_path):
    """A malformed line never reaches deidentify, so for a table with a
    deid template the quarantine keeps the line's hash and the file's
    path, never the plaintext the template protects."""
    src_dir = tmp_path / "files"
    src_dir.mkdir()
    bad = '{"t_id": 2, "name": "CarolSecret", "v": }'
    _write(
        src_dir / "t.jsonl",
        '{"t_id": 1, "name": "AliceSmith", "v": 10}\n' + bad + "\n",
    )
    registry = TemplateRegistry()
    registry.register(
        DeidTemplate(
            name="deid-t",
            key=b"file-source-test-key-32-bytes!!!",
            field_transforms=(FieldTransform(fields=("name",)),),
        )
    )
    wh_dir = str(tmp_path / "wh")
    (res,) = run_import(
        spark,
        ImportJobOptions(
            jdbc_spec=f"files://{src_dir}",
            dataset="DS",
            warehouse_dir=wh_dir,
            dlp_config='[{"tableName": "t", "deidTemplate": "deid-t"}]',
        ),
        templates=registry,
    )
    assert (res.status, res.quarantined_rows) == ("ok", 1)
    (row,) = Warehouse(wh_dir).read(spark, "DS", "main_t").collect()
    assert row["name"] != "AliceSmith"
    (q,) = spark.read.parquet(os.path.join(wh_dir, "DS", "_quarantine_rows", "main_t")).collect()
    assert q["payload"] == "sha256:" + hashlib.sha256(bad.encode()).hexdigest()
    assert "CarolSecret" not in q["payload"] + q["error"]
    assert str(src_dir / "t.jsonl") in q["error"]

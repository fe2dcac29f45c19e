"""Schema-evolution policy on the warehouse sink (round 11).

The reference re-discovers source schemas each run and silently
reshapes its output table (common/ServerUtil.java:47-52); the engine's
policy (Warehouse.write_evolved + catalog.evolution_plan) applies
drift explicitly: added columns widen the table (history reads NULL),
removed columns fill with typed NULLs (superset schema survives),
retypes reject to the dead-letter channel and nothing lands.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from dlp_rdb_bq_import_spark.sinks.warehouse import Warehouse


def _wh(tmp_path):
    return Warehouse(str(tmp_path / "wh"))


def test_added_column_widens_and_history_reads_null(spark, tmp_path):
    wh = _wh(tmp_path)
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    assert wh.write_evolved(v1, "ds", "t").status == "ok"
    v2 = spark.createDataFrame(
        [(3, "c", 9.5)], "id long, name string, score double"
    )
    assert wh.write_evolved(v2, "ds", "t").status == "ok"
    got = wh.read(spark, "ds", "t")
    assert set(got.columns) == {"id", "name", "score"}
    rows = {r.id: r for r in got.collect()}
    assert rows[1].score is None and rows[2].score is None
    assert rows[3].score == 9.5


def test_removed_column_fills_null_keeps_superset(spark, tmp_path):
    wh = _wh(tmp_path)
    v1 = spark.createDataFrame(
        [(1, "a", 9.5)], "id long, name string, score double"
    )
    assert wh.write_evolved(v1, "ds", "t").status == "ok"
    v2 = spark.createDataFrame([(2,)], "id long")  # source dropped 2 columns
    assert wh.write_evolved(v2, "ds", "t").status == "ok"
    got = wh.read(spark, "ds", "t")
    assert set(got.columns) == {"id", "name", "score"}
    rows = {r.id: r for r in got.collect()}
    assert rows[1].name == "a" and rows[1].score == 9.5
    assert rows[2].name is None and rows[2].score is None


def test_retype_rejects_to_dead_letter_nothing_lands(spark, tmp_path):
    wh = _wh(tmp_path)
    v1 = spark.createDataFrame([(1, 9.5)], "id long, score double")
    assert wh.write_evolved(v1, "ds", "t").status == "ok"
    v2 = spark.createDataFrame([(2, "bad")], "id long, score string")
    res = wh.write_evolved(v2, "ds", "t")
    assert res.status == "failed"
    assert "retype" in res.error and "score" in res.error
    # nothing landed: the table still holds exactly the v1 row
    got = wh.read(spark, "ds", "t").collect()
    assert [(r.id, r.score) for r in got] == [(1, 9.5)]
    # and the rejection is on the dead-letter channel
    qdir = os.path.join(wh.root, "ds", "_quarantine")
    records = []
    for fname in os.listdir(qdir):
        with open(os.path.join(qdir, fname)) as f:
            records += [json.loads(line) for line in f]
    assert any(
        r["table"] == "t" and "retype" in r["error"] for r in records
    )


def test_overwrite_resets_canonical_schema(spark, tmp_path):
    wh = _wh(tmp_path)
    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    assert wh.write_evolved(v1, "ds", "t").status == "ok"
    v2 = spark.createDataFrame([(2, 3.5)], "id long, score double")
    assert wh.write_evolved(v2, "ds", "t", mode="overwrite").status == "ok"
    got = wh.read(spark, "ds", "t")
    assert set(got.columns) == {"id", "score"}
    # a retype against the NEW canon is judged against v2, not v1
    v3 = spark.createDataFrame([(3, "x")], "id long, score string")
    assert wh.write_evolved(v3, "ds", "t").status == "failed"


def test_plain_written_table_evolves_from_disk_schema(spark, tmp_path):
    wh = _wh(tmp_path)
    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    assert wh.write(v1, "ds", "t").status == "ok"  # no sidecar
    v2 = spark.createDataFrame([(2, "b", 1.5)], "id long, name string, x double")
    assert wh.write_evolved(v2, "ds", "t").status == "ok"
    got = wh.read(spark, "ds", "t")
    assert set(got.columns) == {"id", "name", "x"}
    assert {r.id for r in got.collect()} == {1, 2}


def test_compact_keeps_evolution_sidecar(spark, tmp_path):
    """Compaction rewrites an evolved table through ``read``/``write``
    and keeps its ``_schema.json``: both columns read back, the rows
    written before the column existed still read NULL for it, and no
    row is lost or doubled."""
    wh = _wh(tmp_path)
    v1 = spark.createDataFrame([(1,), (2,)], "id long")
    assert wh.write_evolved(v1, "ds", "t").status == "ok"
    v2 = spark.createDataFrame([(3, "x")], "id long, extra string")
    assert wh.write_evolved(v2, "ds", "t").status == "ok"
    assert wh.compact(spark, "ds", "t") == 1
    assert os.path.isfile(os.path.join(wh.table_path("ds", "t"), "_schema.json"))
    got = wh.read(spark, "ds", "t")
    assert got.columns == ["id", "extra"]
    assert got.count() == 3
    assert {r.id: r.extra for r in got.collect()} == {1: None, 2: None, 3: "x"}


def test_evolution_plan_actions(spark):
    from dlp_rdb_bq_import_spark.catalog import evolution_plan

    schema = "table_name string, column_name string, data_type string"
    old = spark.createDataFrame(
        [("t", "a", "bigint"), ("t", "b", "string"), ("t", "c", "double")],
        schema,
    )
    new = spark.createDataFrame(
        [("t", "a", "bigint"), ("t", "b", "int"), ("t", "d", "string")],
        schema,
    )
    got = {
        (r.column_name, r.change, r.action)
        for r in evolution_plan(old, new).collect()
    }
    assert got == {
        ("b", "retyped", "reject"),
        ("c", "removed", "fill_null"),
        ("d", "added", "add_nullable"),
    }

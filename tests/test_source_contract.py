"""The directory-source contract, checked once over the parquet,
csv/jsonl and ORC sources: each directory holds a ``people`` table
(keyed by ``person_id``) and a key-less ``notes`` table, reached
through ``get_source`` with a custom ``schema_name``. The catalog
gives names, ordinals, the first-column PK flag and source type names;
``read_table`` gives typed rows, ``row_count`` their number, and
``scan`` the same rows and no rejects for clean inputs."""

from __future__ import annotations

from decimal import Decimal

import pytest

from dlp_rdb_bq_import_spark.sources import get_source

# balance is past a long, so csv inference types it decimal(20,0) too
PEOPLE = [
    (1, "alice", 9.5, Decimal(10**19 + 1)),
    (2, "bob", 7.25, Decimal(10**19 + 2)),
    (3, "carol", 8.0, Decimal(10**19 + 3)),
]
NOTES = [("x", 1), ("y", 2)]


def _spark_written(fmt):
    def build(spark, root):
        for name, rows, schema in (
            ("people", PEOPLE, "person_id long, name string, score double, balance decimal(20,0)"),
            ("notes", NOTES, "label string, n smallint"),
        ):
            spark.createDataFrame(rows, schema).coalesce(1).write.format(fmt).save(
                str(root / f"{name}.{fmt}")
            )
        return ("orc://" if fmt == "orc" else "") + str(root)

    return build


def _text_files(spark, root):
    (root / "people.csv").write_text(
        "person_id,name,score,balance\n" + "".join(f"{i},{n},{s},{b}\n" for i, n, s, b in PEOPLE)
    )
    (root / "notes.jsonl").write_text(
        "".join(f'{{"label": "{lb}", "n": {n}}}\n' for lb, n in NOTES)
    )
    return f"files://{root}"


@pytest.mark.parametrize(
    "build, int_types",  # person_id, n
    [
        (_spark_written("parquet"), ["BIGINT", "SMALLINT"]),
        (_text_files, ["INT", "BIGINT"]),  # csv infers int, json long
        (_spark_written("orc"), ["BIGINT", "SMALLINT"]),
    ],
    ids=["parquet", "csv-jsonl", "orc"],
)
def test_directory_source_contract(spark, tmp_path, build, int_types):
    src = get_source(build(spark, tmp_path), schema_name="crm")
    tables = src.list_tables(spark)
    assert [(t.schema, t.name, t.key) for t in tables] == [("crm", "notes", 0), ("crm", "people", 1)]
    notes, people = tables
    assert [
        (c.name, c.ordinal_position, c.primary_key, c.data_type) for c in people.columns
    ] == [
        ("person_id", 1, True, int_types[0]),
        ("name", 2, False, "VARCHAR"),
        ("score", 3, False, "FLOAT"),
        ("balance", 4, False, "DECIMAL(20,0)"),
    ]
    assert people.spark_schema()["balance"].dataType.simpleString() == "decimal(20,0)"
    assert [(c.name, c.primary_key, c.data_type) for c in notes.columns] == [
        ("label", False, "VARCHAR"),
        ("n", False, int_types[1]),
    ]

    df = src.read_table(spark, people)
    assert [t for _, t in df.dtypes][1:] == ["string", "double", "decimal(20,0)"]
    assert sorted(map(tuple, df.collect())) == PEOPLE
    assert src.row_count(spark, notes) == len(NOTES)
    with src.scan(spark, people) as (rows, rejected):
        assert rows.count() == len(PEOPLE)
        assert rejected is None or rejected.count() == 0

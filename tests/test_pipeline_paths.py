"""Failure-path and binding tests for the import/reid pipelines —
closes the untested rows from round 1: S9 (quarantine/dead-letter),
S10 (batched message sink limits), J3 (column-rename map), T5
(per-table transform binding e2e).

Reference behaviors exercised:
- dead-letter capture instead of job failure — DBImportPipeline.java:134-162;
- Pub/Sub batch limits ≤1000 msgs / ≤10,000 bytes —
  BQReidentificationPipeline.java:70-72,126-128;
- column map tolerating missing keys — BQReidentificationPipeline.java:288-300;
- per-table deid template binding — sqlserver/dlp_config.json:15-31,
  common/DLPProperties.java:21-26.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from dlp_rdb_bq_import_spark.config import ImportJobOptions, ReidJobOptions
from dlp_rdb_bq_import_spark.functions.tokenize import (
    DeidTemplate,
    FieldTransform,
    TemplateRegistry,
    deidentify,
    reidentify,
)
from dlp_rdb_bq_import_spark.plans.import_job import run_import
from dlp_rdb_bq_import_spark.plans.reid_job import run_reid
from dlp_rdb_bq_import_spark.sinks.messages import publish_json
from dlp_rdb_bq_import_spark.sinks.warehouse import Warehouse

KEY = b"pipeline-paths-test-key-32bytes!"


def _write_parquet(path: str, pdf: pd.DataFrame) -> None:
    pdf.to_parquet(path, index=False)


# ---------------------------------------------------------------------------
# S9 — poisoned table → dead-letter quarantine, healthy tables unaffected
# ---------------------------------------------------------------------------


def test_quarantine_on_poisoned_table(spark, tmp_path):
    """One table with an unsanitizable column name (F1 validation throws,
    ServerUtil.java:303-313) must dead-letter WITHOUT failing the job or
    the healthy table, and produce exactly ONE quarantine record
    (regression: the failure used to be recorded twice)."""
    src = tmp_path / "src"
    src.mkdir()
    _write_parquet(str(src / "good.parquet"), pd.DataFrame({"id": [1, 2], "v": ["a", "b"]}))
    # '123 bad' sanitizes to '123_bad' which fails ^[A-Za-z_]... validation
    _write_parquet(str(src / "poison.parquet"), pd.DataFrame({"123 bad": [1], "v": ["x"]}))

    wh_dir = str(tmp_path / "wh")
    options = ImportJobOptions(jdbc_spec=str(src), dataset="DS", warehouse_dir=wh_dir)
    results = run_import(spark, options)

    by_status = {r.table: r.status for r in results}
    assert by_status["main_good"] == "ok"
    assert by_status["main_poison"] == "failed"

    wh = Warehouse(wh_dir)
    assert wh.read(spark, "DS", "main_good").count() == 2

    qdir = os.path.join(wh_dir, "DS", "_quarantine")
    records = []
    for fname in os.listdir(qdir):
        with open(os.path.join(qdir, fname)) as f:
            records.extend(json.loads(line) for line in f)
    assert len(records) == 1  # exactly once, not double-recorded
    assert records[0]["table"] == "main_poison"
    assert "123_bad" in records[0]["error"]


def test_no_quarantine_dir_when_all_ok(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_parquet(str(src / "t.parquet"), pd.DataFrame({"id": [1], "v": ["a"]}))
    wh_dir = str(tmp_path / "wh")
    run_import(spark, ImportJobOptions(jdbc_spec=str(src), dataset="DS", warehouse_dir=wh_dir))
    assert not os.path.exists(os.path.join(wh_dir, "DS", "_quarantine"))


# ---------------------------------------------------------------------------
# S10 — batched message sink limits
# ---------------------------------------------------------------------------


def _read_batches(out_dir: str) -> list[list[str]]:
    batches = []
    for fname in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, fname)) as f:
            batches.append([ln for ln in f.read().splitlines() if ln])
    return batches


def test_publish_json_message_count_limit(spark, tmp_path):
    """2500 tiny rows in one partition → batches of ≤1000 messages, every
    row delivered exactly once (BQReidentificationPipeline.java:70-72)."""
    out = str(tmp_path / "msgs")
    df = spark.range(2500).withColumnRenamed("id", "k").repartition(1)
    publish_json(df, out, max_messages=1000, max_bytes=10_000_000)
    batches = _read_batches(out)
    assert all(len(b) <= 1000 for b in batches)
    assert sum(len(b) for b in batches) == 2500
    keys = sorted(json.loads(m)["k"] for b in batches for m in b)
    assert keys == list(range(2500))


def test_publish_json_byte_limit(spark, tmp_path):
    """Rows of ~2 KB against a 10 KB cap → ≤5 messages per batch, and no
    batch (beyond a single oversized message) exceeds the byte cap."""
    out = str(tmp_path / "msgs")
    big = "x" * 2000
    df = spark.createDataFrame([(i, big) for i in range(20)], ["k", "pad"]).repartition(1)
    publish_json(df, out, max_messages=1000, max_bytes=10_000)
    batches = _read_batches(out)
    assert sum(len(b) for b in batches) == 20
    for b in batches:
        assert len(b) <= 5
        if len(b) > 1:
            assert sum(len(m.encode()) for m in b) <= 10_000


# ---------------------------------------------------------------------------
# J3 — column-rename map through the reid pipeline
# ---------------------------------------------------------------------------


def test_reid_column_map_renames_and_tolerates_missing(spark, tmp_path):
    spark.createDataFrame(
        [(1, "4111111111111111", "ALICE"), (2, "5500005555555559", "BOB")],
        ["id", "card_number", "Card_Holders_Name"],
    ).createOrReplaceTempView("cards")
    out = run_reid(
        spark,
        ReidJobOptions(
            query="SELECT id, card_number, Card_Holders_Name FROM cards",
            column_map={
                "card_number": "cardNumber",
                "not_a_column": "whatever",  # must be tolerated (ref :288-300)
            },
        ),
    )
    assert out.columns == ["id", "cardNumber", "Card_Holders_Name"]
    assert out.count() == 2


# ---------------------------------------------------------------------------
# T5 — per-table transform binding, import → warehouse → reid roundtrip
# ---------------------------------------------------------------------------


def test_transform_binding_end_to_end(spark, tmp_path):
    """dlp_config binds a deid template to ONE table by name; that
    table's configured column is tokenized in the warehouse, the other
    table passes through untouched, and reidentify restores the
    original values (T1/T2/T5 + dlp_config.json:15-31 shape)."""
    src = tmp_path / "src"
    src.mkdir()
    _write_parquet(
        str(src / "patient.parquet"),
        pd.DataFrame({"patient_id": [1, 2], "name": ["AliceSmith", "BobJones"], "age": [30, 40]}),
    )
    _write_parquet(
        str(src / "visit.parquet"),
        pd.DataFrame({"visit_id": [10], "note": ["routine"]}),
    )
    cfg_path = str(tmp_path / "dlp_config.json")
    with open(cfg_path, "w") as f:
        json.dump(
            [{"tableName": "patient", "batchSize": 500, "deidTemplate": "deid-patient"}], f
        )

    registry = TemplateRegistry()
    template = DeidTemplate(
        name="deid-patient", key=KEY, field_transforms=(FieldTransform(fields=("name",)),)
    )
    registry.register(template)

    wh_dir = str(tmp_path / "wh")
    results = run_import(
        spark,
        ImportJobOptions(
            jdbc_spec=str(src), dataset="DS", dlp_config=cfg_path, warehouse_dir=wh_dir
        ),
        templates=registry,
    )
    assert {r.table: r.status for r in results} == {"main_patient": "ok", "main_visit": "ok"}

    wh = Warehouse(wh_dir)
    tokenized = {r["patient_id"]: r["name"] for r in wh.read(spark, "DS", "main_patient").collect()}
    assert tokenized[1] != "AliceSmith" and tokenized[2] != "BobJones"

    untouched = wh.read(spark, "DS", "main_visit").collect()
    assert untouched[0]["note"] == "routine"

    restored = {
        r["patient_id"]: r["name"]
        for r in reidentify(wh.read(spark, "DS", "main_patient"), template).collect()
    }
    assert restored == {1: "AliceSmith", 2: "BobJones"}


def test_reid_pipeline_publishes_detokenized_json(spark, tmp_path):
    """Full reid path: tokenized view → run_reid(template + column_map +
    output_dir) → JSON batches contain the ORIGINAL values under the
    RENAMED headers (BQReidentificationPipeline.java:106-129 shape)."""
    registry = TemplateRegistry()
    template = DeidTemplate(
        name="deid-cards", key=KEY, field_transforms=(FieldTransform(fields=("card_number",)),)
    )
    registry.register(template)

    plain = spark.createDataFrame(
        [(1, "4111111111111111"), (2, "5500005555555559")], ["id", "card_number"]
    )
    deidentify(plain, template).createOrReplaceTempView("tokenized_cards")

    out = str(tmp_path / "msgs")
    run_reid(
        spark,
        ReidJobOptions(
            query="SELECT id, card_number FROM tokenized_cards",
            deid_template="deid-cards",
            column_map={"card_number": "cardNumber"},
            output_dir=out,
        ),
        templates=registry,
    )
    msgs = [json.loads(m) for b in _read_batches(out) for m in b]
    by_id = {m["id"]: m["cardNumber"] for m in msgs}
    assert by_id == {1: "4111111111111111", 2: "5500005555555559"}


def test_write_partitioned_prunes_at_read(spark, tmp_path):
    """Hive-partitioned warehouse layout: one file per dynamic
    partition (no small-file fan-out) and a partition filter reaches
    the scan as PartitionFilters, reading only that directory."""
    from pyspark.sql import functions as F

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("bucket")
    )
    res = wh.write_partitioned(df, "DS", "t", ["bucket"])
    assert res.status == "ok"
    root = wh.table_path("DS", "t")
    for b in range(4):
        pdir = os.path.join(root, f"bucket={b}")
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        assert len(files) == 1  # repartition-before-write collapsed the fan-out

    read = spark.read.parquet(root).where(F.col("bucket") == "2")
    assert read.count() == 250
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan


def test_compact_rewrites_small_files(spark, tmp_path):
    """Ten tiny appends → one compacted file, same rows."""
    wh = Warehouse(str(tmp_path / "wh"))
    for i in range(10):
        wh.write(spark.range(i * 10, (i + 1) * 10), "DS", "t")
    root = wh.table_path("DS", "t")
    before = [f for f in os.listdir(root) if f.endswith(".parquet")]
    assert len(before) >= 10
    n_files = wh.compact(spark, "DS", "t")
    assert n_files == 1
    got = sorted(r["id"] for r in wh.read(spark, "DS", "t").collect())
    assert got == list(range(100))


# ---------------------------------------------------------------------------
# Row-level failed-insert capture (DBImportPipeline.java:134-146) and
# transient write retry (DBImportPipeline.java:130-132)
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from dlp_rdb_bq_import_spark.catalog import SqlColumn, SqlTable  # noqa: E402
from dlp_rdb_bq_import_spark.sources.base import Source  # noqa: E402


class _TypedStringSource(Source):
    """A source whose DECLARED schema is typed but whose wire values are
    strings (the JDBC-read-then-tokenize shape) — so poisoned values are
    only detectable at the conformance split, like BigQuery rejecting a
    streaming insert."""

    TABLE = SqlTable(
        schema="main",
        name="t",
        columns=(
            SqlColumn("id", 1, "INT", nullable=True, primary_key=True),
            SqlColumn("qty", 2, "INT", nullable=True, primary_key=False),
            SqlColumn("req", 3, "VARCHAR", nullable=False, primary_key=False),
        ),
    )
    ROWS = [
        ("1", "10", "a"),
        ("2", "20", "b"),
        ("3", "30", "c"),
        ("4", "40", "d"),
        ("5", "50", "e"),
        ("6", "60", "f"),
        ("7", "60", "g"),
        ("8", "not-a-number", "h"),  # qty fails INT cast
        ("oops", "90", "i"),  # id fails INT cast
        ("10", "100", None),  # req is non-nullable
    ]

    def list_tables(self, spark):
        return [self.TABLE]

    def row_count(self, spark, table):
        return len(self.ROWS)

    def read_table(self, spark, table, offset_count=500):
        return spark.createDataFrame(self.ROWS, "id string, qty string, req string")


def test_quarantine_never_overwrites_dead_letters(tmp_path):
    """Two runs into one dataset, with a dead-letter file already named
    the way a count-based name would pick next: every record set must
    survive."""
    wh = Warehouse(str(tmp_path))
    qdir = os.path.join(str(tmp_path), "DS", "_quarantine")
    os.makedirs(qdir)
    with open(os.path.join(qdir, "deadletter-1.jsonl"), "w") as f:
        f.write(json.dumps({"table": "old", "error": "e0"}) + "\n")
    wh.quarantine("DS", [{"table": "a", "error": "e1"}])
    wh.quarantine("DS", [{"table": "b", "error": "e2"}, {"table": "c", "error": "e3"}])
    records = []
    for fname in os.listdir(qdir):
        with open(os.path.join(qdir, fname)) as f:
            records.extend(json.loads(line) for line in f)
    assert sorted(r["table"] for r in records) == ["a", "b", "c", "old"]


def test_row_level_quarantine(spark, tmp_path):
    """Three poisoned rows: the table still imports n-3 rows (typed) and
    exactly 3 quarantine records carry the row payload + reason."""
    wh_dir = str(tmp_path / "wh")
    options = ImportJobOptions(jdbc_spec="unused", dataset="DS", warehouse_dir=wh_dir)
    results = run_import(spark, options, source=_TypedStringSource())

    assert len(results) == 1 and results[0].status == "ok"
    assert results[0].quarantined_rows == 3

    wh = Warehouse(wh_dir)
    good = wh.read(spark, "DS", "main_t")
    assert good.count() == 7
    assert dict(good.dtypes)["qty"] == "bigint"  # conforming rows got the typed schema

    q = spark.read.parquet(os.path.join(wh_dir, "DS", "_quarantine_rows", "main_t"))
    rows = {json.loads(r["payload"])["id"]: r["error"] for r in q.collect()}
    assert len(rows) == 3
    assert "qty: not castable to" in rows["8"]
    assert "id: not castable to" in rows["oops"]
    assert "req: null in required column" in rows["10"]
    assert q.filter(F.col("table") != "main_t").count() == 0


def _dead_letters(wh_dir):
    qdir = os.path.join(wh_dir, "DS", "_quarantine")
    records = []
    for fname in os.listdir(qdir):
        with open(os.path.join(qdir, fname)) as f:
            records.extend(json.loads(line) for line in f)
    return records


def test_row_quarantine_disabled_loses_whole_table(spark, tmp_path):
    """row_quarantine=False reproduces the failure mode row-level capture
    exists to fix: ANSI cast aborts the job, the WHOLE table dead-letters
    (table-level channel), and nothing is written — one poisoned row
    costs every row."""
    wh_dir = str(tmp_path / "wh")
    options = ImportJobOptions(
        jdbc_spec="unused", dataset="DS", warehouse_dir=wh_dir, row_quarantine=False
    )
    results = run_import(spark, options, source=_TypedStringSource())
    assert results[0].status == "failed" and results[0].quarantined_rows == 0
    assert "CAST_INVALID_INPUT" in results[0].error
    assert not os.path.exists(os.path.join(wh_dir, "DS", "main_t"))  # atomic: nothing visible
    assert not os.path.exists(os.path.join(wh_dir, "DS", "_quarantine_rows"))
    # table-level dead-letter recorded exactly once
    assert [r["table"] for r in _dead_letters(wh_dir)] == ["main_t"]


def test_failed_row_quarantine_keeps_table_destination(spark, tmp_path, monkeypatch):
    """The conforming rows are published, then every row-quarantine
    attempt fails: the table's result keeps its destination (its rows
    are visible) and fails with an error naming the quarantine write,
    and the dead letter says the same."""
    from dlp_rdb_bq_import_spark.plans import import_job

    class QuarantineDown(Warehouse):
        def _write_attempt(self, df, staged, **kw):
            if f"{os.sep}_quarantine_rows{os.sep}" in staged:
                raise IOError("quarantine volume unavailable")
            super()._write_attempt(df, staged, **kw)

    monkeypatch.setattr(import_job, "Warehouse", QuarantineDown)
    wh_dir = str(tmp_path / "wh")
    options = ImportJobOptions(jdbc_spec="unused", dataset="DS", warehouse_dir=wh_dir)
    results = run_import(spark, options, source=_TypedStringSource())

    wh = Warehouse(wh_dir)
    assert results[0].destination == wh.table_path("DS", "main_t")
    assert results[0].status == "failed"
    assert "row quarantine failed" in results[0].error
    assert "quarantine volume unavailable" in results[0].error
    assert wh.read(spark, "DS", "main_t").count() == 7
    assert _dead_letters(wh_dir) == [{"table": "main_t", "error": results[0].error}]


def test_run_import_calls_the_swappable_warehouse(spark, tmp_path, monkeypatch):
    """perfbench times the sink by swapping ``import_job.Warehouse`` for a
    subclass that wraps ``write`` and ``quarantine_rows`` and reads their
    positional arguments. run_import must keep calling both, that way,
    or the benchmark's warehouse.* layer metrics silently read zero."""
    from dlp_rdb_bq_import_spark.plans import import_job

    calls = []

    class Recording(Warehouse):
        def write(self, df, dataset, full_name, *args, **kwargs):
            calls.append(("write", dataset, full_name))
            return super().write(df, dataset, full_name, *args, **kwargs)

        def quarantine_rows(self, violations, dataset, full_name):
            calls.append(("quarantine_rows", dataset, full_name))
            return super().quarantine_rows(violations, dataset, full_name)

    monkeypatch.setattr(import_job, "Warehouse", Recording)
    options = ImportJobOptions(
        jdbc_spec="unused", dataset="DS", warehouse_dir=str(tmp_path / "wh")
    )
    results = run_import(spark, options, source=_TypedStringSource())
    assert results[0].status == "ok" and results[0].quarantined_rows == 3
    assert calls == [
        ("write", "DS", "main_t"),
        ("quarantine_rows", "DS", "main_t"),
        ("write", os.path.join("DS", "_quarantine_rows"), "main_t"),
    ]


def test_iter_batches_limits_order_and_oversize():
    """Transport-independent batching: order preserved, count/byte caps
    honored, an oversized single message ships alone."""
    from dlp_rdb_bq_import_spark.sinks.messages import iter_batches

    msgs = [f"m{i:04d}" for i in range(25)]
    batches = list(iter_batches(msgs, max_messages=10, max_bytes=10**9))
    assert [len(b) for b in batches] == [10, 10, 5]
    assert [m for b in batches for m in b] == msgs  # ordering

    sized = ["a" * 40, "b" * 40, "c" * 40]
    assert [len(b) for b in iter_batches(sized, 1000, 100)] == [2, 1]

    big = ["x" * 500, "tiny"]
    out = list(iter_batches(big, 1000, 100))
    assert out == [["x" * 500], ["tiny"]]  # oversize ships alone, order kept


def test_publish_pluggable_transport_lifecycle_and_ordering(spark, tmp_path):
    """The pluggable-transport path: per-partition producer lifecycle
    (open → batches → close), batch caps, and within-partition message
    order all hold through a fake broker."""
    import json

    from dlp_rdb_bq_import_spark.sinks.messages import publish

    class _FileLogTransport:
        """In-process fake broker: appends every lifecycle event to one
        log file per partition so the test can audit producer behavior
        that ran inside executor workers. Defined locally so cloudpickle
        ships it by value (test modules aren't importable on workers)."""

        def __init__(self, log_dir):
            self.log_dir = log_dir
            self.f = None

        def open(self):
            import os
            import uuid

            os.makedirs(self.log_dir, exist_ok=True)
            self.f = open(f"{self.log_dir}/p-{uuid.uuid4().hex}.log", "w")
            self.f.write("OPEN\n")

        def send_batch(self, messages):
            self.f.write(f"BATCH {len(messages)}\n")
            for m in messages:
                self.f.write(m + "\n")

        def close(self):
            self.f.write("CLOSE\n")
            self.f.close()

    log_dir = str(tmp_path / "fakebroker")
    df = (
        spark.range(500)
        .selectExpr("id", "id * 2 AS v")
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
    )
    publish(df, lambda: _FileLogTransport(log_dir), max_messages=50, max_bytes=10**9)

    import glob

    logs = sorted(glob.glob(f"{log_dir}/p-*.log"))
    assert len(logs) == 4  # one producer per partition
    seen = []
    for path in logs:
        lines = open(path).read().splitlines()
        assert lines[0] == "OPEN" and lines[-1] == "CLOSE"
        ids = []
        for ln in lines[1:-1]:
            if ln.startswith("BATCH "):
                assert int(ln.split()[1]) <= 50
            else:
                ids.append(json.loads(ln)["id"])
        assert ids == sorted(ids)  # partition order preserved end-to-end
        seen.extend(ids)
    assert sorted(seen) == list(range(500))


def test_durable_log_transport_atomic_ordered_gap_checked(spark, tmp_path):
    """The durable file transport publishes atomically (a crashed
    mid-write batch is invisible), replays in per-producer sequence
    order, and raises loudly on a sequence gap."""
    import os

    from dlp_rdb_bq_import_spark.sinks.messages import (
        DurableLogTransport,
        publish,
        read_log,
    )

    out = str(tmp_path / "log")
    df = spark.range(0, 250).selectExpr("id", "concat('payload_', id) AS body")
    publish(df.repartition(4), lambda: DurableLogTransport(out), max_messages=30)
    batches = read_log(out)
    msgs = [m for b in batches for m in b]
    assert len(msgs) == 250
    assert all(len(b) <= 30 for b in batches)
    # per-producer batch files are sequence-ordered and replay stable
    assert batches == read_log(out)

    # a crashed mid-write publish (tmp never renamed) stays invisible
    with open(os.path.join(out, "log-deadbeef0000-00000000.jsonl.tmp"), "w") as f:
        f.write('{"half": "written')
    assert [m for b in read_log(out) for m in b] == msgs

    # an UNCOMMITTED producer (crashed task, no commit marker) is
    # skipped entirely — its partial output is never delivered
    t = DurableLogTransport(out)
    t.open()
    t.send_batch(['{"uncommitted": 1}'])
    assert [m for b in read_log(out) for m in b] == msgs

    # a committed producer with a mid-stream gap raises loudly
    t2 = DurableLogTransport(out)
    t2.open()
    t2.send_batch(['{"a":1}'])
    t2.seq = 5  # skip 1..4
    t2.send_batch(['{"b":2}'])
    t2.close()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="absent"):
        read_log(out)
    os.remove(os.path.join(out, f"commit-{t2.producer_id}"))

    # TAIL loss is equally loud: the commit marker records the count,
    # so a vanished last batch cannot pass a contiguity-only check
    t3 = DurableLogTransport(out)
    t3.open()
    t3.send_batch(['{"x":1}'])
    t3.send_batch(['{"y":2}'])
    t3.close()
    os.remove(os.path.join(out, f"log-{t3.producer_id}-00000001.jsonl"))
    with _pytest.raises(ValueError, match="absent"):
        read_log(out)


def test_durable_log_duplicate_successful_attempts_fenced(tmp_path):
    """Two SUCCESSFUL attempts of the same partition (speculative
    execution / stage resubmission: same fence, different producer
    ids) both run the full send_batch+close lifecycle — the partition
    must still be delivered exactly once, by whichever attempt won the
    commit race, and the loser's batch files must be reclaimed."""
    import os

    from dlp_rdb_bq_import_spark.sinks.messages import (
        DurableLogTransport,
        read_log,
    )

    out = str(tmp_path / "log")
    attempt_a = DurableLogTransport(out)
    attempt_b = DurableLogTransport(out)
    for t in (attempt_a, attempt_b):
        t.bind_task("run123-p00007")
        t.open()
        t.send_batch(['{"id": 1}', '{"id": 2}'])
        t.send_batch(['{"id": 3}'])
        t.close()
    assert read_log(out) == [['{"id": 1}', '{"id": 2}'], ['{"id": 3}']]
    # exactly one commit marker exists, named by the partition fence,
    # and the losing attempt's uncommitted batch files were discarded
    names = sorted(os.listdir(out))
    assert names.count("commit-run123-p00007") == 1
    assert sum(1 for n in names if n.startswith("log-")) == 2

    # a DIFFERENT partition (or a different publish run) is a
    # different fence and commits independently
    other = DurableLogTransport(out)
    other.bind_task("run123-p00008")
    other.open()
    other.send_batch(['{"id": 9}'])
    other.close()
    assert [m for b in read_log(out) for m in b] == [
        '{"id": 1}',
        '{"id": 2}',
        '{"id": 3}',
        '{"id": 9}',
    ]


def test_line_framed_transports_reject_embedded_newlines(tmp_path):
    """A message containing '\\n' would silently split into two
    messages on replay of a line-framed file — both file transports
    must refuse it loudly instead."""
    import pytest as _pytest

    from dlp_rdb_bq_import_spark.sinks.messages import (
        DurableLogTransport,
        JsonDirTransport,
        read_log,
    )

    for cls in (JsonDirTransport, DurableLogTransport):
        t = cls(str(tmp_path / cls.__name__))
        t.open()
        with _pytest.raises(ValueError, match="newline"):
            t.send_batch(["one\ntwo"])

    # the durable transport stays consistent after the rejection:
    # nothing was published, and a clean retry round-trips
    t = DurableLogTransport(str(tmp_path / "clean"))
    t.open()
    t.send_batch(["one", "two"])
    t.close()
    assert read_log(str(tmp_path / "clean")) == [["one", "two"]]


def test_read_log_replays_legacy_single_token_markers(tmp_path):
    """Directories written before fence markers carried the producer id
    are still replayable: a single-token commit marker means the fence
    WAS the producer (the old semantics); garbage markers fail with a
    descriptive error, not a bare unpacking ValueError."""
    import pytest as _pytest

    from dlp_rdb_bq_import_spark.sinks.messages import read_log

    out = tmp_path / "legacy"
    out.mkdir()
    (out / "log-abc123-00000000.jsonl").write_text('{"id": 1}\n{"id": 2}\n')
    (out / "log-abc123-00000001.jsonl").write_text('{"id": 3}\n')
    (out / "commit-abc123").write_text("2")
    assert read_log(str(out)) == [['{"id": 1}', '{"id": 2}'], ['{"id": 3}']]

    (out / "commit-bad1").write_text("a b c")
    with _pytest.raises(ValueError, match="unrecognized commit marker"):
        read_log(str(out))
    (out / "commit-bad1").write_text("notanumber")
    with _pytest.raises(ValueError, match="not an integer"):
        read_log(str(out))


def test_schema_drift_classification(spark):
    """Schema drift between catalog snapshots: added / removed /
    retyped classify correctly, unchanged columns stay silent, a
    vanished table reports one removal per column, a rename shows as
    removed + added, and malformed snapshots fail loudly."""
    import pytest as _pytest

    from dlp_rdb_bq_import_spark.catalog import schema_drift

    schema = "table_name string, column_name string, data_type string"
    old = spark.createDataFrame(
        [
            ("t1", "id", "bigint"),
            ("t1", "name", "string"),
            ("t1", "bal", "double"),
            ("gone", "x", "int"),
            ("gone", "y", "int"),
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            ("t1", "id", "bigint"),          # unchanged
            ("t1", "full_name", "string"),   # rename: removed + added
            ("t1", "bal", "decimal(12,2)"),  # retyped
        ],
        schema,
    )
    got = {
        (r.table_name, r.column_name): (r.change, r.old_type, r.new_type)
        for r in schema_drift(old, new).collect()
    }
    assert got[("t1", "name")] == ("removed", "string", None)
    assert got[("t1", "full_name")] == ("added", None, "string")
    assert got[("t1", "bal")] == ("retyped", "double", "decimal(12,2)")
    assert got[("gone", "x")][0] == "removed" and got[("gone", "y")][0] == "removed"
    assert ("t1", "id") not in got
    assert len(got) == 5

    with _pytest.raises(ValueError, match="old snapshot is missing"):
        schema_drift(old.drop("data_type"), new)

"""W1 — the reference's processing-time chunked-ingest idiom
(DBImportPipeline.java:109-113: FixedWindows 30 s + AfterProcessingTime
trigger before the sink) as Structured Streaming foreachBatch; plus the
URL-scheme config loader hook (ServerUtil.java:252-272 reads gs://)."""

from __future__ import annotations

import json
import sys
import types

import pandas as pd

from dlp_rdb_bq_import_spark.config import load_dlp_configs
from dlp_rdb_bq_import_spark.streaming.jobs import chunked_ingest


def test_chunked_ingest_delivers_all_rows_in_micro_batches(spark, tmp_path):
    """Two source files with maxFilesPerTrigger=1 → ≥2 micro-batches,
    each an atomic append; the union of batches is exactly the input."""
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"id": range(0, 50)}).to_parquet(src / "a.parquet", index=False)
    pd.DataFrame({"id": range(50, 100)}).to_parquet(src / "b.parquet", index=False)

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )

    out = tmp_path / "out"
    batch_sizes: list[int] = []  # foreachBatch runs driver-side

    def write_fn(batch_df, epoch_id):
        n = batch_df.count()
        if n:
            batch_sizes.append(n)
            batch_df.write.mode("append").parquet(str(out))

    q = chunked_ingest(stream, write_fn, trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(batch_sizes) >= 2  # chunking actually chunked
    got = sorted(r["id"] for r in spark.read.parquet(str(out)).collect())
    assert got == list(range(100))  # nothing lost, nothing duplicated


def test_load_dlp_configs_url_scheme_uses_fsspec(tmp_path, monkeypatch):
    """gs://-style paths route through the fsspec interface (stubbed
    here — no network in the environment); the parsed config must be
    identical to the local-file path."""
    payload = [{"tableName": "patient", "batchSize": 250, "deidTemplate": "d1"}]

    class _Opened:
        def __enter__(self):
            import io

            return io.StringIO(json.dumps(payload))

        def __exit__(self, *a):
            return False

    stub = types.ModuleType("fsspec")
    seen = {}

    def _open(path, mode="r"):
        seen["path"] = path
        return _Opened()

    stub.open = _open
    monkeypatch.setitem(sys.modules, "fsspec", stub)

    cfgs = load_dlp_configs("gs://bucket/dlp_config.json")
    assert seen["path"] == "gs://bucket/dlp_config.json"
    assert len(cfgs) == 1
    assert cfgs[0].table_name == "patient"
    assert cfgs[0].batch_size == 250
    assert cfgs[0].deid_template == "d1"


def test_stateful_sessionize_matches_batch_windows(spark):
    """The applyInPandasWithState sessionizer must produce exactly the
    batch window-function sessions (same gap boundary, same first-event
    labels) — micro-batching and timeouts are implementation detail."""
    from dlp_rdb_bq_import_spark import harness
    from dlp_rdb_bq_import_spark.streaming.jobs import stateful_sessionize

    sf = "/root/testdata/sf0.001"
    streamed = stateful_sessionize(spark, f"{sf}/events.parquet")
    batch = harness.queries()["sessionize"](spark, sf)
    got = {(r["user_id"], r["first_event"]): r["n_events"] for r in streamed.collect()}
    want = {(r["user_id"], r["first_event"]): r["n_events"] for r in batch.collect()}
    assert got == want
    assert len(got) > 100  # real sessions, not a trivial pass


def test_session_window_builtin_agrees_with_stateful(spark):
    """Built-in session_window aggregation and the custom stateful
    operator sessionize identically on microsecond-resolution data."""
    from dlp_rdb_bq_import_spark.streaming.jobs import (
        session_window_counts,
        stateful_sessionize,
    )

    src = "/root/testdata/sf0.001/events.parquet"
    builtin = {
        (r["user_id"], r["first_event"]): r["n_events"]
        for r in session_window_counts(spark, src).collect()
    }
    custom = {
        (r["user_id"], r["first_event"]): r["n_events"]
        for r in stateful_sessionize(spark, src).collect()
    }
    assert builtin == custom


def test_stream_stream_join_pairs(spark, tmp_path):
    """Watermarked stream-stream interval join on a hand-built stream:
    only purchases within the hour after a click by the same user pair
    up."""
    import pandas as pd

    from dlp_rdb_bq_import_spark.streaming.jobs import stream_stream_interval_join

    rows = [
        # user 1: click 10:00 → purchase 10:30 (pairs), purchase 11:30 (too late)
        (1, pd.Timestamp("2024-01-01 10:00:00"), 1, "click", 0.0, "{}"),
        (2, pd.Timestamp("2024-01-01 10:30:00"), 1, "purchase", 9.5, "{}"),
        (3, pd.Timestamp("2024-01-01 11:30:00"), 1, "purchase", 1.0, "{}"),
        # user 2: purchase before the click — no pair
        (4, pd.Timestamp("2024-01-01 09:00:00"), 2, "purchase", 5.0, "{}"),
        (5, pd.Timestamp("2024-01-01 09:30:00"), 2, "click", 0.0, "{}"),
        # user 3: two clicks share one purchase
        (6, pd.Timestamp("2024-01-01 12:00:00"), 3, "click", 0.0, "{}"),
        (7, pd.Timestamp("2024-01-01 12:10:00"), 3, "click", 0.0, "{}"),
        (8, pd.Timestamp("2024-01-01 12:40:00"), 3, "purchase", 2.5, "{}"),
    ]
    src = tmp_path / "events"
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(src / "part.parquet" if src.mkdir() else src / "part.parquet", index=False)

    out = stream_stream_interval_join(spark, str(src))
    pairs = {(r["left_event"], r["right_event"]) for r in out.collect()}
    assert pairs == {(1, 2), (6, 8), (7, 8)}


def test_stream_stream_left_join_null_extends_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream join: unmatched clicks (including the
    tail-end one only a watermark flush can release) are null-extended;
    matched clicks carry their purchases."""
    import pandas as pd

    from dlp_rdb_bq_import_spark.streaming.jobs import stream_stream_left_join

    rows = [
        # user 1: click with a purchase in the window
        (1, pd.Timestamp("2024-01-01 10:00:00"), 1, "click", 0.0, "{}"),
        (2, pd.Timestamp("2024-01-01 10:30:00"), 1, "purchase", 9.5, "{}"),
        # user 2: click whose only purchase is outside the window
        (3, pd.Timestamp("2024-01-01 09:00:00"), 2, "click", 0.0, "{}"),
        (4, pd.Timestamp("2024-01-01 11:00:00"), 2, "purchase", 5.0, "{}"),
        # user 3: the LAST event is an unmatched click — emitted only
        # because the sentinel advances the watermark past its window
        (5, pd.Timestamp("2024-01-01 12:00:00"), 3, "click", 0.0, "{}"),
    ]
    src = tmp_path / "events"
    src.mkdir()
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(src / "part.parquet", index=False)

    out = stream_stream_left_join(spark, str(src))
    got = {(r["left_event"], r["right_event"]) for r in out.collect()}
    assert got == {(1, 2), (3, None), (5, None)}


def test_stream_stream_left_join_empty_input(spark, tmp_path):
    import pandas as pd

    from dlp_rdb_bq_import_spark.streaming.jobs import stream_stream_left_join

    src = tmp_path / "events"
    src.mkdir()
    pd.DataFrame(
        [], columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).astype({"event_id": "int64", "ts": "datetime64[us]", "user_id": "int64",
              "event_type": "string", "value": "float64", "props": "string"}
    ).to_parquet(src / "part.parquet", index=False)
    assert stream_stream_left_join(spark, str(src)).count() == 0


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Event-time correctness under out-of-order delivery: batch 1
    carries window-A events plus a later event that advances the
    watermark past window A's end. The watermark used to filter late
    rows in batch N is the one committed at the end of batch N-1, so
    the straggler is staged TWO batches after the advancing event; it
    must be DROPPED (window A already finalized) while later in-time
    events still count."""
    import time as _time

    import pandas as pd

    src = tmp_path / "events"
    src.mkdir()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    batch1 = [
        (1, pd.Timestamp("2024-01-01 00:10:00"), 1, "click", 1.0, "{}"),  # window A (00:00)
        (2, pd.Timestamp("2024-01-01 00:20:00"), 1, "click", 1.0, "{}"),  # window A
        (3, pd.Timestamp("2024-01-01 03:00:00"), 1, "click", 1.0, "{}"),  # advances watermark to 02:00
    ]
    batch2 = [
        (4, pd.Timestamp("2024-01-01 03:10:00"), 1, "click", 1.0, "{}"),  # in time (window 03:00)
    ]
    batch3 = [
        (5, pd.Timestamp("2024-01-01 00:40:00"), 1, "click", 1.0, "{}"),  # LATE: window A closed
        (6, pd.Timestamp("2024-01-01 06:00:00"), 1, "click", 1.0, "{}"),  # flushes window 03:00
    ]
    # µs timestamps: the session reads parquet TIMESTAMP(NANOS) as long
    for i, rows in enumerate([batch1, batch2, batch3]):
        d = pd.DataFrame(rows, columns=cols).astype({"ts": "datetime64[us]"})
        d.to_parquet(src / f"batch{i}.parquet", index=False)
        _time.sleep(1.1)  # distinct mtimes → deterministic file order

    from pyspark.sql import functions as F  # noqa: F811

    schema = spark.read.parquet(str(src)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    # watermarks need TIMESTAMP (tz); pandas wrote TIMESTAMP_NTZ
    raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        raw.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), "HH:mm").alias("w"), "n"
        )
    )
    name = "late_data_test"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        got = {r["w"]: r["n"] for r in spark.table(name).collect()}
    finally:
        q.stop()
    assert got.get("00:00") == 2, f"late straggler leaked into a closed window: {got}"
    assert got.get("03:00") == 2, f"in-time batch-2 events lost: {got}"


def test_stream_static_join_unmatched_rolls_up_unknown(spark, sf_dir):
    """Events whose user is absent from the static dim must roll up
    under 'UNKNOWN', and totals must equal the batch equivalent."""
    from dlp_rdb_bq_import_spark.harness import t
    from dlp_rdb_bq_import_spark.streaming.jobs import stream_static_segment_rollup

    import os

    from pyspark.sql import functions as F

    events_path = os.path.join(sf_dir, "events.parquet")
    dim = t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 5)
    got = {
        r["segment"]: (r["n"], r["total_value"])
        for r in stream_static_segment_rollup(spark, events_path, dim).collect()
    }
    assert "UNKNOWN" in got

    ev = spark.read.parquet(events_path)
    if dict(ev.dtypes).get("ts") in ("bigint", "long"):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    batch = (
        ev.join(
            dim.select(F.col("c_custkey").alias("user_id"), "c_mktsegment"),
            "user_id",
            "left",
        )
        .groupBy(F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("tv"),
        )
    )
    expected = {r["segment"]: (r["n"], r["tv"]) for r in batch.collect()}
    assert got == expected


def test_streaming_upsert_latest_state_and_replay(spark, tmp_path):
    """foreachBatch upsert view: incremental batches maintain latest-
    per-key state; a full replay with a fresh checkpoint converges to
    the same table (idempotence by max-seq content, not delivery)."""
    from dlp_rdb_bq_import_spark.streaming.jobs import streaming_upsert

    schema = "k long, v string, seq long"
    src, state = str(tmp_path / "src"), str(tmp_path / "state")

    def read_state():
        return {
            (r.k, r.v, r.seq) for r in spark.read.parquet(state).collect()
        }

    def run(cp):
        stream = spark.readStream.schema(schema).parquet(src)
        streaming_upsert(stream, state, ["k"], "seq", str(tmp_path / cp))

    spark.createDataFrame([(1, "a", 1), (2, "b", 1)], schema).write.mode(
        "append"
    ).parquet(src)
    run("cp1")
    assert read_state() == {(1, "a", 1), (2, "b", 1)}

    spark.createDataFrame([(1, "a2", 2), (3, "c", 1)], schema).write.mode(
        "append"
    ).parquet(src)
    run("cp1")  # same checkpoint: only the new file is processed
    assert read_state() == {(1, "a2", 2), (2, "b", 1), (3, "c", 1)}

    run("cp2")  # fresh checkpoint: full replay over existing state
    assert read_state() == {(1, "a2", 2), (2, "b", 1), (3, "c", 1)}


def test_stream_stream_full_join_extends_both_sides(spark, tmp_path):
    """FULL OUTER: unmatched clicks AND unmatched purchases both
    null-extend after the watermark flush."""
    import pandas as pd

    from dlp_rdb_bq_import_spark.streaming.jobs import stream_stream_full_join

    rows = [
        (1, pd.Timestamp("2024-01-01 10:00:00"), 1, "click", 0.0, "{}"),
        (2, pd.Timestamp("2024-01-01 10:30:00"), 1, "purchase", 9.5, "{}"),
        # user 2: purchase with no click before it
        (3, pd.Timestamp("2024-01-01 09:00:00"), 2, "purchase", 5.0, "{}"),
        # user 3: click with no purchase
        (4, pd.Timestamp("2024-01-01 12:00:00"), 3, "click", 0.0, "{}"),
    ]
    src = tmp_path / "events"
    src.mkdir()
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(src / "part.parquet", index=False)

    got = {(r["left_event"], r["right_event"])
           for r in stream_stream_full_join(spark, str(src)).collect()}
    assert got == {(1, 2), (None, 3), (4, None)}


def test_row_minhash_signatures_equal_aggregate_form(spark, sf_dir):
    """The stateless per-row signer must produce bit-identical
    signatures to the explode+groupBy aggregate form for both shingle
    units — the equivalence that lets the streaming ingest path share
    the batch path's persisted index."""
    from dlp_rdb_bq_import_spark.harness import t
    from dlp_rdb_bq_import_spark.operators import dedup

    d = t(spark, sf_dir, "documents").limit(120)
    for unit, n in (("word", 3), ("char", 5)):
        agg = dedup.minhash_signatures(
            d, "text", "doc_id", num_hashes=16, shingle_n=n, shingle_unit=unit
        )
        row = dedup.row_minhash_signatures(
            d, "text", "doc_id", num_hashes=16, shingle_n=n, shingle_unit=unit
        )
        assert sorted(map(tuple, agg.collect())) == sorted(map(tuple, row.collect()))
    # sub-shingle-width docs are absent from both forms
    tiny = spark.createDataFrame([(1, "a b"), (2, None)], ["doc_id", "text"])
    assert (
        dedup.row_minhash_signatures(
            tiny, "text", "doc_id", num_hashes=4, shingle_n=3, shingle_unit="word"
        ).count()
        == 0
    )


def test_streaming_incremental_neardup_equals_batch(spark, sf_dir):
    """The streaming stream-vs-static-index path must emit exactly the
    batch incremental_minhash_pairs rows (same threshold/bands/k) —
    the guarantee that a pipeline can switch ingestion modes without
    changing what gets flagged. The planted verbatim corpus copy is
    flagged at est_jaccard 1.0."""
    from dlp_rdb_bq_import_spark.harness import t
    from dlp_rdb_bq_import_spark.operators import dedup
    from dlp_rdb_bq_import_spark.streaming.jobs import streaming_incremental_neardup

    from pyspark.sql import functions as F

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    corpus = d.where(F.col("doc_id") % 5 != 0)
    new = d.where(F.col("doc_id") % 5 == 0).unionByName(
        corpus.where(F.col("doc_id") == 1).withColumn("doc_id", F.lit(900))
    )
    index = dedup.minhash_signatures(
        corpus, "text", "doc_id", num_hashes=64, shingle_n=3, shingle_unit="word"
    )
    kw = dict(threshold=0.3, bands=16, shingle_n=3, shingle_unit="word")
    batch = sorted(
        map(
            tuple,
            dedup.incremental_minhash_pairs(
                new, index, "text", "doc_id", **kw
            ).collect(),
        )
    )
    stream = sorted(
        map(tuple, streaming_incremental_neardup(spark, new, index, **kw).collect())
    )
    assert batch == stream and batch
    assert (900, 1, 1.0) in stream


def test_streaming_curation_equals_batch_stages(spark, sf_dir):
    """The streaming curation screen keeps exactly the docs the batch
    stage composition keeps, modulo the documented first-arrival-wins
    choice for a duplicate pair SPLIT ACROSS MICRO-BATCHES: exactly
    one of the two copies survives (the cross-batch fingerprint
    accumulation drops the other), and every other document matches
    the batch answer exactly."""
    from dlp_rdb_bq_import_spark.harness import t
    from dlp_rdb_bq_import_spark.operators import dedup
    from dlp_rdb_bq_import_spark.operators.decontam import (
        bench_gram_index,
        decontaminate_incremental,
    )
    from dlp_rdb_bq_import_spark.operators.dedup import content_fingerprint
    from dlp_rdb_bq_import_spark.streaming.jobs import streaming_curation

    from pyspark.sql import functions as F

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    bench = d.where(F.col("doc_id") % 10 == 5)
    corpus = d.where((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 5))
    base_new = d.where(F.col("doc_id") % 10 == 0)
    # plants: corpus copy (exact), bench copy (decontam), and a
    # cross-batch duplicate pair: id 20 re-keyed to 900 — same text,
    # later micro-batch (repartitionByRange puts 900 in the last file)
    rekey = lambda df, off: df.withColumn("doc_id", F.col("doc_id") + F.lit(off))
    new = (
        base_new.unionByName(rekey(corpus.where(F.col("doc_id") == 1), 100))
        .unionByName(rekey(bench.where(F.col("doc_id") == 5), 300))
        .unionByName(rekey(base_new.where(F.col("doc_id") == 20), 880))
    )
    fingerprints = content_fingerprint(corpus, ["text"]).select("fingerprint")
    kw = dict(num_hashes=64, shingle_n=3, shingle_unit="word")
    index = dedup.minhash_signatures(corpus, "text", "doc_id", **kw)
    grams = bench_gram_index(bench, "text", "doc_id", n=3)

    got = sorted(
        r.doc_id
        for r in streaming_curation(
            spark, new.repartitionByRange(3, "doc_id"), fingerprints, index, grams,
            threshold=0.3, bands=16, shingle_n=3, shingle_unit="word", min_hits=3,
        ).collect()
    )

    # batch composition of the same stages
    surv = dedup.incremental_dedup(new, corpus, ["text"], "doc_id")
    near = (
        dedup.incremental_minhash_pairs(
            surv, index, "text", "doc_id", threshold=0.3, bands=16,
            shingle_n=3, shingle_unit="word",
        )
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    surv = surv.join(near, "doc_id", "left_anti")
    surv = decontaminate_incremental(surv, grams, "text", "doc_id", min_hits=3)
    want = sorted(r.doc_id for r in surv.collect())

    # first-arrival-wins: micro-batches arrive in input-partition
    # order, so of the duplicate pair {20, 900} the copy in the first
    # range partition survives, and the rest of the answer matches the
    # batch stages exactly
    dup_pair = {20, 900}
    assert dup_pair & set(got) == {20}  # cross-batch dedup fired
    assert sorted(set(got) - dup_pair) == sorted(set(want) - dup_pair) and got
    assert 101 not in got  # corpus copy dropped at the exact stage
    assert 305 not in got  # bench copy dropped at decontamination


def test_streaming_decontam_equals_batch(spark, sf_dir):
    """The streaming decontamination path (foreachBatch over the
    persisted bench-gram index) must emit exactly the batch
    incremental_contamination_pairs rows; a planted verbatim benchmark
    doc in the stream is flagged against its source."""
    from dlp_rdb_bq_import_spark.harness import t
    from dlp_rdb_bq_import_spark.operators.decontam import (
        bench_gram_index,
        incremental_contamination_pairs,
    )
    from dlp_rdb_bq_import_spark.streaming.jobs import streaming_decontam

    from pyspark.sql import functions as F

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    bench = d.where(F.col("doc_id") % 5 == 0)
    new = d.where(F.col("doc_id") % 5 == 1).unionByName(
        bench.orderBy("doc_id").limit(1).withColumn("doc_id", F.lit(900).cast("long"))
    )
    index = bench_gram_index(bench, "text", "doc_id", n=3)
    kw = dict(n=3, min_hits=3)
    batch = sorted(
        map(
            tuple,
            incremental_contamination_pairs(new, index, "text", "doc_id", **kw).collect(),
        )
    )
    stream = sorted(map(tuple, streaming_decontam(spark, new, index, **kw).collect()))
    assert batch == stream and batch
    planted_src = bench.orderBy("doc_id").first().doc_id
    assert any(a == 900 and b == planted_src for a, b, _ in stream)


def test_streaming_curation_threads_gram_size_to_decontam(spark, sf_dir):
    """The decontamination probe's gram size is a parameter, not a
    hardcoded 3: an index built at n=2 paired with gram_n=2 catches a
    planted benchmark copy that the MISMATCHED default probe (gram 3
    vs an n=2 index — zero hash overlap by construction) silently
    passes. Pins the round-7 advisory."""
    from dlp_rdb_bq_import_spark.harness import t
    from dlp_rdb_bq_import_spark.operators import dedup
    from dlp_rdb_bq_import_spark.operators.decontam import bench_gram_index
    from dlp_rdb_bq_import_spark.operators.dedup import content_fingerprint
    from dlp_rdb_bq_import_spark.streaming.jobs import streaming_curation

    from pyspark.sql import functions as F

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    bench = d.where(F.col("doc_id") % 10 == 5)
    corpus = d.where((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 5))
    new = d.where(F.col("doc_id") % 10 == 0).unionByName(
        bench.where(F.col("doc_id") == 5).withColumn("doc_id", F.lit(905))
    )
    fingerprints = content_fingerprint(corpus, ["text"]).select("fingerprint")
    index = dedup.minhash_signatures(
        corpus, "text", "doc_id", num_hashes=64, shingle_n=3, shingle_unit="word"
    )
    grams2 = bench_gram_index(bench, "text", "doc_id", n=2)

    kw = dict(threshold=0.3, bands=16, shingle_n=3, shingle_unit="word", min_hits=3)
    matched = {
        r.doc_id
        for r in streaming_curation(
            spark, new, fingerprints, index, grams2, gram_n=2, **kw
        ).collect()
    }
    assert 905 not in matched  # n=2 probe against the n=2 index flags it

    mismatched = {
        r.doc_id
        for r in streaming_curation(
            spark, new, fingerprints, index, grams2, **kw  # default gram_n=3
        ).collect()
    }
    assert 905 in mismatched  # the silent-pass failure mode the param fixes


def test_streaming_to_batch_packing_is_packed_survivors(spark):
    """The stream→batch hand-off query emits exactly the packed layout
    of the streaming screen's survivors: same doc set, and
    (seq_id, seq_offset) equal to pack_sequences run in batch over the
    survivor rows."""
    from dlp_rdb_bq_import_spark import harness
    from dlp_rdb_bq_import_spark.operators.packing import pack_sequences

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    qs = harness.queries()
    survivors = qs["streaming_curation"](spark, sf)
    want = sorted(
        map(
            tuple,
            pack_sequences(survivors, F.col("n_chars"), 4096)
            .select("doc_id", "source", "n_tokens", "seq_id", "seq_offset")
            .collect(),
        )
    )
    got = sorted(map(tuple, qs["streaming_to_batch_packing"](spark, sf).collect()))
    assert got == want and got
    # layout invariant: offsets stay inside the budget
    assert all(0 <= off < 4096 for *_, off in got)


def test_streaming_url_frontier_requeues_and_never_doubles(spark):
    """Streaming frontier invariants on a hand fixture: (a) a host's
    backlog over the per-round cap re-queues and fully drains across
    rounds instead of being dropped; (b) every canonical form is
    scheduled at most once even when re-discovered in a later round;
    (c) pre-seen URLs are never scheduled; (d) no (host, round)
    exceeds the cap; (e) canonicalization is idempotent, so queued
    canon strings survive the pending round-trip."""
    from dlp_rdb_bq_import_spark.operators.urls import canonicalize_url
    from dlp_rdb_bq_import_spark.streaming.jobs import streaming_url_frontier

    from pyspark.sql import functions as F

    urls = [
        (1, "https://a.com/p1"),
        (2, "https://a.com/p2"),
        (3, "https://a.com/p3"),
        (4, "https://a.com/p4"),
        (5, "https://a.com/p5"),
        (10, "https://b.com/q1"),
        (11, "https://WWW.A.com/p1/"),   # re-discovery of p1, later round
        (20, "https://c.com/r1"),
        (21, "https://b.com/q2"),        # pre-seen
    ]
    df = spark.createDataFrame(urls, ["id", "url"])
    seen = spark.createDataFrame([("https://b.com/q2",)], ["canon"])
    out = streaming_url_frontier(
        spark, df.repartitionByRange(3, "id"), seen, "url", "id", per_host_cap=2
    ).collect()

    canons = [r.canon for r in out]
    assert len(canons) == len(set(canons))          # (b) never twice
    assert "https://b.com/q2" not in canons         # (c) seen excluded
    per_round = {}
    for r in out:
        per_round[(r.host, r.batch)] = per_round.get((r.host, r.batch), 0) + 1
    assert all(n <= 2 for n in per_round.values())  # (d) cap per round
    # (a) a.com's 5 fresh pages all schedule across the 3 rounds
    assert sorted(c for c in canons if c.startswith("https://a.com")) == [
        f"https://a.com/p{i}" for i in range(1, 6)
    ]
    assert "https://b.com/q1" in canons and "https://c.com/r1" in canons

    # (e) canonicalization idempotence
    c1 = canonicalize_url(F.col("url"))["canon"]
    once = df.select(F.col("id"), c1.alias("url"))
    twice = once.select(
        "id", canonicalize_url(F.col("url"))["canon"].alias("url")
    )
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_streaming_ewma_equals_single_pass_recursion(spark, sf_dir):
    """The micro-batched recursive EWMA is EXACTLY the single-pass
    pandas recursion over the whole ordered input — slice boundaries
    must be invisible (the carried per-key seed makes the segmented
    fold associative). Also pins: first value seeds e_0 = x_0, every
    input row is emitted exactly once."""
    import pandas as pd

    from dlp_rdb_bq_import_spark import harness
    from dlp_rdb_bq_import_spark.streaming.jobs import streaming_ewma

    events = harness.t(spark, sf_dir, "events")
    got = streaming_ewma(spark, events, alpha=0.3, n_slices=4).collect()

    pdf = events.select("event_type", "ts", "event_id", "value").toPandas()
    pdf = pdf.dropna(subset=["value", "ts"]).sort_values(["ts", "event_id"])
    want = {}
    for k, grp in pdf.groupby("event_type"):
        e = None
        for _, row in grp.iterrows():
            x = float(row["value"])
            e = x if e is None else 0.3 * x + 0.7 * e
            want[int(row["event_id"])] = round(e, 9)
    assert len(got) == len(want)
    for r in got:
        assert abs(r["ewma"] - want[r["event_id"]]) < 1e-9, r["event_id"]

    # a different slicing gives the identical result
    again = streaming_ewma(spark, events, alpha=0.3, n_slices=2).collect()
    a = {r["event_id"]: r["ewma"] for r in again}
    g = {r["event_id"]: r["ewma"] for r in got}
    assert a == g

    import pytest

    with pytest.raises(ValueError):
        streaming_ewma(spark, events, alpha=1.5)
    with pytest.raises(ValueError):
        streaming_ewma(spark, events, n_slices=0)

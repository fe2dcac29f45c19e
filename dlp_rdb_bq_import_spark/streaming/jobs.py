"""Structured Streaming surface.

The reference's only streaming artifact is a processing-time chunking
window before its BigQuery write (DBImportPipeline.java:109-113 —
FixedWindows 30 s + AfterProcessingTime trigger, discarding panes; a
batching idiom, not event-time semantics). Parity: ``chunked_ingest``
reproduces the idiom with ``foreachBatch``. Extension (SURVEY.md §2.10):
real event-time processing over the ``events`` fixture — watermark +
tumbling window, the thing the reference *cannot* do.

The sixteen ``foreachBatch`` folds below (``streaming_incremental_neardup``
through ``streaming_mase``) run a batch operator per micro-batch and
carry their state between batches as parquet. They share one driver,
:func:`_run_fold`, and one contract:

- Slicing. The input is staged as one parquet file per slice, file
  mtimes pinned in slice order, and replayed with
  ``maxFilesPerTrigger=1``: each slice is one micro-batch, in slice
  order. For order-free folds a slice is an input partition (pass a
  one-partition input for a single batch); time-ordered folds slice by
  event-time range (:func:`_range_slices`).
- Epoch-keyed generations. Every state generation and every per-batch
  output is written to ``<root>/<name>/<epoch_id>`` in overwrite mode,
  and a batch reads only generations of EARLIER epochs
  (:class:`_Epoch`). A write never overwrites what its own plan reads,
  so each is one lazy job; every read supplies its schema.
- At-least-once safety. Spark replays a batch that failed after
  writing with the same epoch id. The replay reads the same earlier
  generations and overwrites its own, so it is folded once.
- Scratch lifetime. The root (staged slices, generations, the stream's
  checkpoint) is a per-call :func:`_stream_scratch` dir, removed after
  the result is ``localCheckpoint``-ed; superseded state generations
  are dropped as the fold advances, so at most two are on disk. A
  caller-owned root is kept, so a failed run can restart on its
  checkpoint.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import local_rows_df


def _stream_scratch(prefix: str) -> str:
    """Micro-batch scratch root (staged slices, state and output
    generations, the stream's checkpoint): the fastest writable local dir.

    Defaults to tmpfs (/dev/shm) when present: every micro-batch pays
    offset/commit-log and state-parquet writes here, and on a
    disk-backed /tmp those fsync-bound metadata writes are a measured
    ~10-15% of each streaming twin's wall (r15). The scratch is
    per-run, deleted in the operator's ``finally`` — nothing crosses
    runs. Deployment-parameterised via $SPARK_GRAFT_STREAM_SCRATCH
    (point it at fast local NVMe on a cluster; per-key-scalar state
    here is MB-scale, but a corpus whose state exceeds RAM needs a
    disk-backed path)."""
    base = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if base is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        base = "/dev/shm"
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def _event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """readStream over the events fixture (file or directory), with the
    TIMESTAMP(NANOS)-as-long conversion the batch reader applies."""
    batch_df = spark.read.parquet(source_dir)
    schema = batch_df.schema
    if source_dir.endswith(".parquet"):
        directory, fname = os.path.split(source_dir)
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", fname)
            .parquet(directory)
        )
    else:
        raw = spark.readStream.schema(schema).parquet(source_dir)
    if dict(raw.dtypes).get("ts") in ("bigint", "long"):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dict(raw.dtypes).get("ts") == "timestamp_ntz":
        # Watermarks/event-time ops require TIMESTAMP; parquet micros
        # without a zone infer as NTZ. The cast is linear under the
        # session's pinned UTC zone, so event-time semantics are exact.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _slice_files(tmp: str) -> list[tuple[int, str]]:
    """``(slice, path)`` of every parquet file a staging write left under
    ``tmp``: the slice is the ``_slice=`` directory of a partitioned
    write, else the writing task's partition index (``part-NNNNN-…``)."""
    found = []
    for d, _, names in os.walk(tmp):
        part = os.path.basename(d)
        for n in names:
            if n.endswith(".parquet"):
                if part.startswith("_slice="):
                    i = part[len("_slice="):]
                else:
                    i = n.split("-")[1]
                found.append((int(i), os.path.join(d, n)))
    return sorted(found)


def _stage_slices(
    src: DataFrame, stage: str, slice_by=None, n_slices: int = 1
) -> None:
    """Stage ``src`` under ``stage`` as one parquet file per slice, in
    ONE pass, with mtimes strictly increasing in slice order.
    ``slice_by`` (int Column in [0, n_slices)) routes each row: a hash
    repartition on it lands every slice in one task, and ``partitionBy``
    writes one file per slice. Without it each input partition's file
    is its own slice. Row order within a slice is not kept; every fold
    sorts per batch or folds order-free. The files are assembled beside
    ``stage`` and renamed into place, so an existing ``stage`` is
    complete."""
    tmp, ready = stage + "_tmp", stage + "_ready"
    if slice_by is None:
        src.write.mode("overwrite").parquet(tmp)
    else:
        (
            src.withColumn("_slice", slice_by.cast("int"))
            .repartition(n_slices, "_slice")
            .write.partitionBy("_slice")
            .mode("overwrite")
            .parquet(tmp)
        )
    files = _slice_files(tmp)
    if not files:
        # an empty source stages one empty slice: the fold still runs once
        src.limit(0).coalesce(1).write.mode("overwrite").parquet(tmp)
        files = _slice_files(tmp)
    shutil.rmtree(ready, ignore_errors=True)
    os.makedirs(ready)
    base = int(time.time()) - 3600
    for j, (i, path) in enumerate(files):
        dst = os.path.join(ready, f"slice{i:05d}_{j}.parquet")
        os.rename(path, dst)
        os.utime(dst, (base + i, base + i))
    shutil.rmtree(tmp, ignore_errors=True)
    os.rename(ready, stage)


def _range_slices(src: DataFrame, expr: str, n_slices: int):
    """Slice id for the time-ordered folds: exact percentiles of the SQL
    expression ``expr`` cut it into ``n_slices`` contiguous, ordered
    ranges, and a row's slice is the number of cutpoints strictly below
    its value (``lo < x <= hi``). ONE array-percentile aggregate — N
    separate percentile() exprs would each buffer the full column."""
    if n_slices < 2:
        return F.lit(0)
    fracs = ", ".join(repr(i / n_slices) for i in range(1, n_slices))
    cuts = src.select(F.expr(f"percentile({expr}, array({fracs}))")).first()[0]
    sid = F.lit(0)
    for c in cuts or []:
        sid = sid + F.when(F.expr(expr) > F.lit(c), F.lit(1)).otherwise(F.lit(0))
    return sid


class _Epoch:
    """One micro-batch's view of the fold's generations under ``root``:
    reads see only generations of earlier epochs; writes go to this
    epoch's own generation, ``<root>/<name>/<epoch>``, in overwrite
    mode. The final read after the stream drains is the view of an
    epoch later than every batch."""

    def __init__(self, spark: SparkSession, root: str, epoch: int) -> None:
        self.spark, self.root, self.epoch = spark, root, epoch

    def _older(self, name: str) -> list[str]:
        d = os.path.join(self.root, name)
        if not os.path.isdir(d):
            return []
        gens = sorted(int(g) for g in os.listdir(d) if g.isdigit())
        return [os.path.join(d, str(g)) for g in gens if g < self.epoch]

    def _read(self, paths: list[str], schema) -> DataFrame:
        if not paths:
            return local_rows_df(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def previous(self, name: str, schema) -> DataFrame | None:
        """The latest earlier generation of state ``name``, or None."""
        older = self._older(name)
        return self._read(older[-1:], schema) if older else None

    def state(self, name: str, schema) -> DataFrame:
        """:meth:`previous`, or an empty frame of ``schema``."""
        return self._read(self._older(name)[-1:], schema)

    def history(self, name: str, schema) -> DataFrame:
        """Every earlier generation of output ``name``, unioned."""
        return self._read(self._older(name), schema)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name, str(self.epoch))

    def write(self, name: str, df: DataFrame) -> None:
        """Write ``df`` as this epoch's generation of output ``name``."""
        df.write.mode("overwrite").parquet(self.path(name))

    def advance(self, name: str, df: DataFrame) -> None:
        """Write ``df`` as this epoch's generation of state ``name``, then
        drop the generations before the one this epoch read (a replay of
        this epoch reads that one again)."""
        older = self._older(name)
        self.write(name, df)
        for p in older[:-1]:
            shutil.rmtree(p, ignore_errors=True)


def _run_fold(
    spark: SparkSession,
    name: str,
    src: DataFrame,
    fold,
    result,
    slice_by=None,
    n_slices: int = 1,
    root: str | None = None,
) -> DataFrame:
    """Run ``fold(batch_df, epoch)`` (``epoch`` an :class:`_Epoch`) over
    ``src``, one micro-batch per staged slice, and return
    ``result(final_view)`` checkpointed — the fold contract in the
    module docstring. ``root`` defaults to a fresh scratch dir removed
    on return; a caller-owned root is kept, and a second run on it
    resumes from its checkpoint (staging is skipped once done)."""
    owned = root is None
    if owned:
        root = _stream_scratch(f"{name}_stream_")
    try:
        stage = os.path.join(root, "staged")
        if not os.path.isdir(stage):
            _stage_slices(src, stage, slice_by, n_slices)
        q = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.option("checkpointLocation", os.path.join(root, "_ckpt"))
            .foreachBatch(lambda df, epoch_id: fold(df, _Epoch(spark, root, epoch_id)))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return result(_Epoch(spark, root, sys.maxsize)).localCheckpoint(eager=True)
    finally:
        if owned:
            shutil.rmtree(root, ignore_errors=True)


def _run_to_memory(stream: DataFrame, output_mode: str) -> DataFrame:
    """Drive a finite file stream to completion into a memory sink and
    return the result table."""
    name = f"st_{uuid.uuid4().hex[:12]}"
    q = stream.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        return stream.sparkSession.table(name)
    finally:
        q.stop()


def windowed_event_counts(
    spark: SparkSession,
    source_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window aggregation over the events table,
    executed as a real Structured Streaming query (parquet stream source
    → watermark → window agg → memory sink, driven to completion).

    Returns the finished result as a DataFrame with columns
    (window_start string, event_type, n, total_value) — deterministic,
    so it oracle-checks against a plain GROUP BY date_trunc.
    """
    raw = _event_stream(spark, source_dir)
    stream = (
        raw.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).alias("_tv"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            F.col("_tv").cast("double").alias("total_value"),
        )
    )
    return _run_to_memory(stream, "complete")


def chunked_ingest(
    df_stream: DataFrame,
    write_fn,
    trigger_seconds: int = 30,
):
    """The reference's 30 s chunked-write idiom (DBImportPipeline.java:
    109-113), Spark-natively: micro-batch trigger + foreachBatch, each
    batch an atomic write with task-retry semantics."""
    return (
        df_stream.writeStream.trigger(processingTime=f"{trigger_seconds} seconds")
        .foreachBatch(lambda batch_df, epoch_id: write_fn(batch_df, epoch_id))
        .start()
    )


def streaming_upsert(
    df_stream: DataFrame,
    table_path: str,
    key_cols: list[str],
    seq_col: str,
    checkpoint_dir: str,
):
    """Streaming materialized upsert view — the production
    stream→warehouse pattern: ``foreachBatch`` applies each micro-batch
    to a keyed latest-state parquet table with an atomic staged swap.

    Effectively-exactly-once without a transactional table format: the
    merge keeps the max-``seq_col`` row per key, so a replayed batch
    (foreachBatch is at-least-once across restarts) re-applies to the
    same result — idempotence by content, with the checkpoint only
    bounding how much is replayed.

    Precondition (same contract as ``scd2_build``): ``(key, seq)`` is
    unique across the stream — ``seq_col`` is a version/sequence
    number, so two DIFFERENT payloads must never share a key and
    sequence. The tie-break window orders by ``seq`` alone; under a
    violated precondition the winner would be partition-order-dependent
    and replay idempotence would not hold. Readers see the old or new table,
    never a partial write (directory-rename publish, same discipline as
    sinks/warehouse.py).

    At 100 TB the per-batch cost is one shuffle of (batch ∪ current
    state) on the key; for narrow keyed state this is the right shape,
    and a partitioned variant would swap only touched partitions.
    Blocks until the available data is processed (availableNow trigger).
    """
    from pyspark.sql import Window

    from ..sinks.warehouse import replace_dir

    def apply_batch(batch_df, epoch_id):
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        if os.path.isdir(table_path):
            base = spark.read.parquet(table_path)
            merged = (
                base.unionByName(latest)
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            merged = latest
        staged = f"{table_path}._staged_{epoch_id}"
        merged.write.mode("overwrite").parquet(staged)  # reads old table
        replace_dir(staged, table_path)

    q = (
        df_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_static_segment_rollup(
    spark: SparkSession,
    source_dir: str,
    dim: DataFrame,
    key: str = "user_id",
    dim_key: str = "c_custkey",
    segment_col: str = "c_mktsegment",
) -> DataFrame:
    """Stream-static join: every micro-batch of the event stream joins
    against a static dimension table — the streaming spelling of the
    reference's config-lookup join (`ServerUtil.java:274-286`), and the
    third Structured Streaming join flavor next to the batch and
    stream-stream paths. The static side needs no watermark or state:
    Spark re-plans it per micro-batch, broadcasting when small. Output
    is a complete-mode rollup per segment (unmatched users roll up as
    'UNKNOWN'), so the finished table oracle-checks against the plain
    batch LEFT JOIN + GROUP BY."""
    raw = _event_stream(spark, source_dir)
    joined = raw.join(
        F.broadcast(dim.select(F.col(dim_key).alias(key), segment_col)),
        key,
        "left",
    )
    stream = (
        joined.groupBy(
            F.coalesce(F.col(segment_col), F.lit("UNKNOWN")).alias("segment")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).alias("_tv"),
        )
        .select("segment", "n", F.col("_tv").cast("double").alias("total_value"))
    )
    return _run_to_memory(stream, "complete")


def stream_stream_interval_join(
    spark: SparkSession,
    source_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: for every *left_type* event,
    the *right_type* events by the same user within ``within`` after it.

    Both sides carry a watermark and the join condition bounds
    right.ts in [left.ts, left.ts + within], so the state store can
    evict rows once the watermark passes — the property that makes the
    join runnable forever on an unbounded stream. Columns are
    projected/renamed BEFORE the join (stream-stream joins reject
    ambiguous attribute references after the fact).
    """
    raw = _event_stream(spark, source_dir)
    left = (
        raw.where(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("left_event"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        raw.where(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("right_event"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("right_value"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = left.join(
        right,
        (F.col("l_user") == F.col("user_id"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select("user_id", "left_event", "right_event", "right_value")
    return _run_to_memory(joined, "append")


def stream_stream_left_join(
    spark: SparkSession,
    source_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "leftOuter",
) -> DataFrame:
    """Watermarked stream-stream LEFT (or FULL) OUTER interval join:
    every *left_type* event with its *right_type* matches within
    ``within`` after it, null-extended when none arrive — the streaming
    semantics the inner join can't express (an unmatched row can only
    be emitted once the watermark PROVES no match can still arrive, so
    the state store both evicts and drives null emission).
    ``how='fullOuter'`` additionally null-extends unmatched RIGHT rows
    (purchases no click preceded).

    A finite file stream never advances the final watermark past the
    last event, so tail-end unmatched rows would sit in state forever;
    the input is staged with one far-future sentinel event per side
    (user −1, filtered from the output) whose arrival flushes every
    pending null-extension in the engine's no-data batch — the same
    discipline as stateful_sessionize. The emitted set then equals the
    batch LEFT JOIN exactly, which is the oracle.
    """
    import pandas as pd

    batch = spark.read.parquet(source_dir)
    if dict(batch.dtypes).get("ts") in ("bigint", "long"):
        batch = batch.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dict(batch.dtypes).get("ts") == "timestamp_ntz":
        batch = batch.withColumn("ts", F.col("ts").cast("timestamp"))
    max_ts = batch.agg(F.max("ts")).first()[0]
    if max_ts is None:
        return local_rows_df(
            spark, [], "user_id long, left_event long, right_event long, right_value double"
        )

    stage = os.path.join(_stream_scratch("left_join_stream_"), "staged")
    far = max_ts + pd.Timedelta(days=3650)
    sentinels = spark.createDataFrame(
        [(-1, far, -1, left_type, 0.0), (-2, far, -1, right_type, 0.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    staged = batch.select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).unionByName(sentinels)
    staged.write.parquet(stage)

    raw = spark.readStream.schema(staged.schema).parquet(stage)
    left = (
        raw.where(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("left_event"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        raw.where(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("right_event"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("right_value"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        how,
    ).select(
        F.coalesce(F.col("l_user"), F.col("r_user")).alias("user_id"),
        "left_event",
        "right_event",
        "right_value",
    )
    try:
        out = _run_to_memory(joined, "append")
    finally:
        # the memory sink holds the materialized result; the staged
        # scratch (tmpfs) is dead weight after the stream drains (r15 —
        # this operator previously leaked its per-run staging dir)
        shutil.rmtree(os.path.dirname(stage), ignore_errors=True)
    return out.where(F.col("user_id") >= 0)


def stream_stream_full_join(
    spark: SparkSession,
    source_dir: str,
    **kwargs,
) -> DataFrame:
    """FULL OUTER variant of :func:`stream_stream_left_join`: unmatched
    rows on BOTH sides are null-extended once the watermark proves no
    partner can arrive (the sentinel staging already flushes both
    sides)."""
    return stream_stream_left_join(spark, source_dir, how="fullOuter", **kwargs)


def session_window_counts(
    spark: SparkSession,
    source_dir: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Session windows via the built-in ``session_window`` streaming
    aggregation: per (user, session) event count and first event id.

    Boundary semantics: an event extends the session while
    ts < last_ts + gap (the batch sessionize query uses gap <= 1800 s —
    the two differ only for gaps of exactly ``gap``, which the
    microsecond-resolution fixture never produces).
    """
    raw = _event_stream(spark, source_dir)
    stream = (
        raw.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.min("event_id").alias("first_event"))
        .select("user_id", "n_events", "first_event")
    )
    return _run_to_memory(stream, "complete")


def stateful_sessionize(
    spark: SparkSession,
    source_dir: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` (the extension hook for operators the
    built-ins can't express — this one also tracks the session's first
    event id, which session_window aggregation can do but, e.g.,
    per-session event-sequence features cannot).

    Per user the state holds the open session (start/last micros,
    count, first event id). Each micro-batch merges its rows in
    (ts, event_id) order, emitting sessions closed by a gap >
    ``gap_seconds`` and keeping the open one in state with an
    event-time timeout at last_ts + gap; when the watermark passes
    that, the timeout path emits the final session. Matches the batch
    ``sessionize`` query's boundary exactly (new session iff gap >
    gap_seconds).

    A finite file stream never advances the watermark past the last
    event, so open sessions would sit in state forever; the input is
    staged to a temp dir with one far-future sentinel event (user -1,
    filtered from the output) whose arrival flushes every timeout.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    batch = spark.read.parquet(source_dir)
    if dict(batch.dtypes).get("ts") in ("bigint", "long"):
        batch = batch.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    max_ts = batch.agg(F.max("ts")).first()[0]
    if max_ts is None:
        # Empty input: no sentinel timestamp to derive, and nothing to
        # sessionize — return an empty frame with the output schema.
        return local_rows_df(
            spark,
            [],
            "user_id long, session_start timestamp, session_end timestamp, "
            "n_events long, first_event long",
        )

    stage = os.path.join(
        _stream_scratch("sessionize_stream_"), "staged"
    )
    sentinel = spark.createDataFrame(
        [(-1, max_ts + pd.Timedelta(days=3650), -1)], "event_id long, ts timestamp, user_id long"
    )
    # One flat parquet dir (file stream sources don't recurse); the
    # sentinel lands in the same single micro-batch as the data, and the
    # watermark jump after that batch fires every session's timeout in
    # the engine's no-data batch.
    batch.select("event_id", "ts", "user_id").unionByName(sentinel).write.parquet(stage)

    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, first_event long"
    )
    state_schema = "start long, last long, n long, first_ev long"
    gap_us = gap_seconds * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        user_id = key[0]

        def emit(start_us, last_us, n, first_ev):
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "first_event": [first_ev],
                }
            )

        if state.hasTimedOut:
            start, last, n, first_ev = state.get
            state.remove()
            yield emit(start, last, n, first_ev)
            return

        pdf = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        # normalize to µs regardless of the Arrow batch's time unit
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        ev_ids = pdf["event_id"].to_numpy()
        if state.exists:
            cur = list(state.get)
        else:
            cur = None
        for t_us, ev in zip(ts_us.tolist(), ev_ids.tolist()):
            if cur is None:
                cur = [t_us, t_us, 1, int(ev)]
            elif t_us - cur[1] > gap_us:
                yield emit(*cur)
                cur = [t_us, t_us, 1, int(ev)]
            else:
                cur[1] = t_us
                cur[2] += 1
        # state values must be plain Python ints (JSON-serialized)
        state.update(tuple(int(v) for v in cur))
        state.setTimeoutTimestamp(cur[1] // 1000 + gap_seconds * 1000)

    raw = _event_stream(spark, stage).select("event_id", "ts", "user_id")
    stream = (
        raw.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )
    try:
        result = _run_to_memory(stream, "append")
        return (
            result.where(F.col("user_id") >= 0)
            .select(
                "user_id",
                F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
                "n_events",
                "first_event",
            )
        )
    finally:
        shutil.rmtree(os.path.dirname(stage), ignore_errors=True)


def streaming_dedup_events(
    spark: SparkSession,
    source_dir: str,
    key: str = "event_id",
    replays: int = 2,
) -> DataFrame:
    """Exactly-once semantics over an at-least-once stream: the events
    file is staged ``replays`` times (simulating redelivery), streamed,
    and deduplicated on ``key`` with streaming dropDuplicates — state
    keyed by event id, the idiom a replayed ingest pipeline runs.

    Returns (event_id, user_id, event_type) — one row per original
    event regardless of delivery count.
    """
    batch = spark.read.parquet(source_dir).select(key, "user_id", "event_type")
    stage = os.path.join(_stream_scratch("dedup_stream_"), "staged")
    for _ in range(replays):
        batch.write.parquet(stage, mode="append")
    try:
        raw = spark.readStream.schema(batch.schema).parquet(stage)
        deduped = raw.dropDuplicates([key])
        return _run_to_memory(deduped, "append")
    finally:
        shutil.rmtree(os.path.dirname(stage), ignore_errors=True)


def streaming_incremental_neardup(
    spark: SparkSession,
    new_docs: DataFrame,
    corpus_signatures: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.35,
    bands: int = 16,
    shingle_n: int = 3,
    shingle_unit: str = "word",
) -> DataFrame:
    """Streaming near-dup detection against a PERSISTED MinHash index —
    the streaming spelling of ``dedup.incremental_minhash_pairs``: new
    documents arrive as a file stream, and each micro-batch runs the
    BATCH operator unchanged — signed by its explode+groupBy MinHash
    stage, banded, equi-joined against the static band index, pair-key
    deduped, and filtered to component-agreement >= ``threshold``.

    Output: (new_id, corpus_id, est_jaccard), equal to the batch path
    on the same data by CONSTRUCTION: each micro-batch runs the exact
    batch operator — the Structured Streaming idiom for reusing a
    batch pipeline stage unchanged, and the fast path here, since the
    batch operator's explode+groupBy signing is whole-stage codegen'd
    while a row-wise signing via nested higher-order functions
    (``dedup.row_minhash_signatures``, the rejected alternative)
    evaluates interpreted (~8x slower at 10x scale when this job was
    first written that way). Documents don't span micro-batches, so
    per-batch results union to the batch answer with no cross-batch
    state; the static index is materialized once up front rather than
    re-signed per micro-batch."""
    from ..operators import dedup as dedup_ops

    k = len([c for c in corpus_signatures.columns if c.startswith("mh_")])
    if k == 0 or k % bands != 0:
        raise ValueError(
            f"corpus_signatures must carry mh_* columns with k a multiple of "
            f"bands; got k={k}, bands={bands}"
        )
    corpus_signatures = corpus_signatures.localCheckpoint(eager=True)

    def fold(batch_df, ep):
        ep.write("flagged", dedup_ops.incremental_minhash_pairs(
            batch_df, corpus_signatures, text_col, id_col,
            threshold=threshold, bands=bands,
            shingle_n=shingle_n, shingle_unit=shingle_unit,
        ))

    src = new_docs.select(F.col(id_col).cast("long").alias(id_col), text_col)
    return _run_fold(spark, "neardup", src, fold, lambda ep: ep.history(
        "flagged", "new_id long, corpus_id long, est_jaccard double"
    ))


def streaming_decontam(
    spark: SparkSession,
    new_docs: DataFrame,
    bench_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 3,
    unit: str = "word",
) -> DataFrame:
    """Streaming benchmark decontamination against a PERSISTED
    bench-gram index — the decontamination twin of
    :func:`streaming_incremental_neardup`, same design: each
    micro-batch runs the BATCH operator
    (``decontam.incremental_contamination_pairs``) unchanged. The
    benchmark corpus is grammed once at freeze time into
    ``bench_index`` (``decontam.bench_gram_index``) and checkpointed
    here, never re-built per micro-batch; documents don't span
    micro-batches and the per-pair overlap count is within-document,
    so per-batch results union to the batch answer with no cross-batch
    state (pytest-pinned ≡ the batch operator on the same data).

    Returns (train_id, bench_id, overlap_ngrams) for flagged pairs
    across all micro-batches.
    """
    from ..operators import decontam as decontam_ops

    if "_h" not in bench_index.columns:
        raise ValueError(
            f"bench_index must be a bench_gram_index result; got "
            f"{bench_index.columns}"
        )
    bench_index = bench_index.localCheckpoint(eager=True)
    # Bloom sizing paid ONCE for the static index, not per micro-batch
    index_rows = bench_index.count()

    def fold(batch_df, ep):
        ep.write("flagged", decontam_ops.incremental_contamination_pairs(
            batch_df, bench_index, text_col, id_col, n=n, min_hits=min_hits,
            unit=unit, index_size_hint=index_rows,
        ))

    src = new_docs.select(F.col(id_col).cast("long").alias(id_col), text_col)
    return _run_fold(spark, "decontam", src, fold, lambda ep: ep.history(
        "flagged", "train_id long, bench_id long, overlap_ngrams long"
    ))


def streaming_curation(
    spark: SparkSession,
    new_docs: DataFrame,
    corpus_fingerprints: DataFrame,
    corpus_signatures: DataFrame,
    bench_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.35,
    bands: int = 16,
    shingle_n: int = 3,
    shingle_unit: str = "word",
    min_hits: int = 3,
    gram_n: int = 3,
    gram_unit: str = "word",
) -> DataFrame:
    """The FULL curation screen in streaming form — exact-fingerprint
    dedup → near-dup vs the persisted MinHash index → decontamination
    vs the persisted bench-gram index — each micro-batch running the
    same batch operators ``incremental_curation`` composes, unchanged.
    All three standing artifacts (corpus fingerprint set, signature
    index, bench-gram index) are checkpointed ONCE up front;
    micro-batches pay only their own side.
    ``(gram_n, gram_unit)`` parameterize the decontamination PROBE and
    must match how ``bench_index`` was built (``bench_gram_index``'s
    contract) — an index built at a different gram size would produce
    zero hash hits and silently pass contamination; ``(shingle_n,
    shingle_unit)`` independently parameterize the MinHash near-dup
    probe against ``corpus_signatures``.
    Packing is deliberately NOT in the stream: sequence ids are a
    corpus-level layout decision, assigned when the accumulated
    survivors are packed in batch.

    Cross-batch semantics: near-dup and decontamination screen against
    STATIC artifacts (exactly the batch pipeline's contract — the
    batch operator doesn't near-dup a batch against itself either),
    but exact-fingerprint dedup ACCUMULATES: each micro-batch's
    admitted fingerprints block every later batch, so a duplicate
    arriving in a later micro-batch is dropped — first arrival wins,
    the streaming analogue of the batch path's lowest-id-wins
    (identical when the input partitions are in id order;
    pytest-pinned ≡ batch on the same data, duplicate-across-batches
    case covered by the multi-partition test). Returns the surviving
    rows of ``new_docs``.
    """
    from ..operators import decontam as decontam_ops
    from ..operators import dedup as dedup_ops

    for need, d, cols in (
        ("corpus_fingerprints", corpus_fingerprints, {"fingerprint"}),
        ("bench_index", bench_index, {"bench_id", "_h"}),
    ):
        if not cols <= set(d.columns):
            raise ValueError(f"{need} must carry {sorted(cols)}; got {d.columns}")
    src = new_docs.select(
        F.col(id_col).cast("long").alias(id_col),
        *[c for c in new_docs.columns if c != id_col],
    )
    seen = corpus_fingerprints.select("fingerprint").distinct().localCheckpoint(
        eager=True
    )
    corpus_signatures = corpus_signatures.localCheckpoint(eager=True)
    bench_index = bench_index.localCheckpoint(eager=True)
    # Bloom sizing paid ONCE for the static index, not per micro-batch
    index_rows = bench_index.count()

    def fold(batch_df, ep):
        fresh = dedup_ops.content_fingerprint(batch_df, [text_col])
        keep = fresh.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
        blocked = seen.unionByName(ep.history("admitted", "fingerprint string"))
        # checkpoint the exact-stage output once: it feeds the
        # fingerprint write AND the three later consumers
        admitted = (
            fresh.join(keep, ["fingerprint", id_col], "left_semi")
            .join(blocked, "fingerprint", "left_anti")
            .localCheckpoint(eager=True)
        )
        # record at the EXACT stage, not post-screen: a doc dropped by
        # a later stage must still block future identical arrivals
        # (matching the batch path, where within-batch dedup runs
        # before any screening)
        ep.write("admitted", admitted.select("fingerprint"))
        survivors = admitted.drop("fingerprint")
        near = (
            dedup_ops.incremental_minhash_pairs(
                survivors, corpus_signatures, text_col, id_col,
                threshold=threshold, bands=bands,
                shingle_n=shingle_n, shingle_unit=shingle_unit,
            )
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        survivors = survivors.join(near, id_col, "left_anti")
        ep.write("survivors", decontam_ops.decontaminate_incremental(
            survivors, bench_index, text_col, id_col,
            n=gram_n, unit=gram_unit, min_hits=min_hits,
            index_size_hint=index_rows,
        ))

    return _run_fold(
        spark, "curation", src, fold, lambda ep: ep.history("survivors", src.schema)
    )


def streaming_url_frontier(
    spark: SparkSession,
    discovered: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    id_col: str = "id",
    per_host_cap: int = 10,
) -> DataFrame:
    """The crawl frontier in STREAMING form: each input partition of
    ``discovered`` is one discovery batch, and each micro-batch runs
    the BATCH operator (``urls.frontier_next_batch``) unchanged
    against the persisted seen set — with the two scheduling decisions
    a real crawler needs:

    1. canonical forms SCHEDULED by earlier micro-batches count as seen
       (they are queued for fetch), so a page re-discovered later is
       never scheduled twice — the same accumulation discipline as
       ``streaming_curation``'s admitted fingerprints;
    2. fresh candidates OVER a host's per-round cap are NOT dropped —
       they re-queue into a pending set that joins the next round's
       candidates (politeness means a host serves at most
       ``per_host_cap`` fetches per round, not that its backlog is
       discarded). Pending rows carry the canonical form, which is
       safe because canonicalization is idempotent (pytest-pinned).

    The initial seen set is checkpointed once. Candidates still
    pending when the stream drains are simply the remaining backlog —
    a real frontier would schedule them next round; the single-pass
    form returns only what was scheduled.

    Returns all scheduled fetches: (id_col, canon, host, rk, batch).
    """
    from ..operators import urls as url_ops

    if "canon" not in seen.columns:
        raise ValueError(f"seen must carry a 'canon' column; got {seen.columns}")
    src = discovered.select(
        F.col(id_col).cast("long").alias(id_col), F.col(url_col).alias(url_col)
    )
    seen0 = seen.select("canon").distinct().localCheckpoint(eager=True)
    scheduled = f"`{id_col}` long, canon string, host string, rk long, batch long"

    def fold(batch_df, ep):
        cand = batch_df.unionByName(ep.state("pending", src.schema))
        emitted = ep.history("scheduled", scheduled).select("canon")
        blocked = seen0.unionByName(emitted)
        fresh = url_ops.frontier_next_batch(
            cand, blocked, url_col, id_col,
            per_host_cap=per_host_cap, keep_overflow=True,
        ).localCheckpoint(eager=True)  # eager: feeds both writes below
        ep.write("scheduled", fresh.where(F.col("rk") <= per_host_cap).withColumn(
            "batch", F.lit(ep.epoch).cast("long")
        ))
        # over-cap backlog re-queues: canon doubles as the next round's
        # url (canonicalization is idempotent)
        ep.advance("pending", fresh.where(F.col("rk") > per_host_cap).select(
            F.col(id_col), F.col("canon").alias(url_col)
        ))

    return _run_fold(
        spark, "frontier", src, fold, lambda ep: ep.history("scheduled", scheduled)
    )


def streaming_cms(
    spark: SparkSession,
    values: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Streaming count-min sketch: fold each micro-batch's sketch into
    the accumulated counter table — the sketch's defining property
    (sketch-of-union = elementwise counter sum, ``profiling.merge_cms``)
    makes the stream fold EXACT: after any number of micro-batches the
    accumulated table is bit-identical to one batch ``cms_build`` over
    everything seen (pytest-pinned). This is the constant-state
    streaming frequency summary: state is ≤ depth·width counters
    forever, where the exact streaming alternatives grow with the key
    space.

    Returns the accumulated ``(row, bucket, c)`` sketch.
    """
    from ..operators import profiling as prof

    schema = "row int, bucket long, c long"

    def fold(batch_df, ep):
        sketch = prof.cms_build(batch_df, col, depth=depth, width=width)
        prev = ep.previous("sketch", schema)
        if prev is not None:
            sketch = prof.merge_cms(prev, sketch)
        ep.advance("sketch", sketch)

    src = values.select(F.col(col).cast("string").alias(col))
    return _run_fold(spark, "cms", src, fold, lambda ep: ep.state("sketch", schema))


def streaming_anchor_index(
    spark: SparkSession,
    pages: DataFrame,
    html_col: str,
    id_col: str,
) -> DataFrame:
    """Streaming anchor-text index maintenance — the streaming twin of
    the batch fold (``urls.merge_anchor_index``), same design as
    :func:`streaming_cms`: each micro-batch of crawled pages extracts
    its outlinks + visible anchor text
    (``html_extract.extract_links_with_text``), aggregates them
    (``urls.anchor_text_index``) and folds the batch aggregate into
    the accumulated standing index. A page's links live in exactly one
    micro-batch (a crawl emits a page once), so per-(canon, token)
    ``tf`` AND ``n_docs`` are disjoint-partition sums and the
    accumulated index is EXACTLY the batch rebuild over everything
    seen (pytest-pinned; the registered query hash-matches the
    full-rebuild SQL oracle). State is index-sized — (canon, token)
    counters — never the crawl.

    Returns the accumulated ``(canon, token, tf, n_docs)`` index.
    """
    from ..operators.html_extract import extract_links_with_text
    from ..operators.urls import anchor_text_index, merge_anchor_index

    schema = "canon string, token string, tf long, n_docs long"

    def fold(batch_df, ep):
        index = anchor_text_index(
            extract_links_with_text(batch_df, html_col, id_col), id_col
        )
        prev = ep.previous("index", schema)
        if prev is not None:
            index = merge_anchor_index(prev, index)
        ep.advance("index", index)

    src = pages.select(F.col(id_col), F.col(html_col))
    return _run_fold(spark, "anchor", src, fold, lambda ep: ep.state("index", schema))


def streaming_bottomk(
    spark: SparkSession,
    values: DataFrame,
    key_col: str,
    k: int,
) -> DataFrame:
    """Streaming bottom-k (KMV) uniform sample: fold each
    micro-batch's bottom-k into the standing sample — the KMV merge
    property (``bottomk(A ∪ B) = bottomk(bottomk(A) ∪ bottomk(B))``,
    ``sampling.merge_bottomk``) makes the stream fold EXACT: after any
    number of micro-batches the standing sample is the batch
    ``bottomk_sample`` over everything seen (pytest-pinned; the
    registered query hash-matches the batch oracle). This is the
    bounded-state streaming uniform sample — k rows forever — where a
    naive reservoir needs per-row RNG state that no SQL engine can
    restate; the same k rows also carry the KMV distinct-count
    estimator."""
    from pyspark.sql import types as T

    from ..operators import sampling as samp

    schema = T.StructType(
        values.schema.fields + [T.StructField("hkey", T.DoubleType())]
    )

    def fold(batch_df, ep):
        sample = samp.bottomk_sample(batch_df, key_col, k)
        prev = ep.previous("sample", schema)
        if prev is not None:
            sample = samp.merge_bottomk(prev, sample, key_col, k)
        ep.advance("sample", sample)

    return _run_fold(
        spark, "bottomk", values, fold, lambda ep: ep.state("sample", schema)
    )


def streaming_linkage_probe(
    spark: SparkSession,
    new_records: DataFrame,
    corpus: DataFrame,
    variant_index: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Streaming record-linkage candidates against a PERSISTED FastSS
    variant index — the linkage twin of :func:`streaming_decontam`,
    same design: each micro-batch of new records runs the BATCH probe
    unchanged (``dedup.probe_variant_index`` →
    ``verify_edit_distance``). The standing corpus is variant-expanded
    once at freeze time into ``variant_index`` and checkpointed here,
    never re-expanded per micro-batch; the verify joins names from the
    static corpus plus the micro-batch itself (id-disjoint by
    contract), and batch↔batch pairs are deliberately NOT emitted
    (same contract as the batch probe — run the cheap self-join path
    over the accumulated batch set for those). Per-pair verification
    is independent, so per-batch results union to the all-at-once
    probe answer with no cross-batch state (pytest-pinned).

    Returns ``(id_a, id_b, dist)`` — id_a the new record, id_b the
    corpus record — across all micro-batches. Scoring (e.g.
    Fellegi-Sunter) composes downstream; it is a pure projection.
    """
    from ..operators import dedup as dedup_ops

    needed = {"id", "pos", "vh"}
    if not needed <= set(variant_index.columns):
        raise ValueError(
            f"variant_index must be a fastss_variant_index result; got "
            f"{variant_index.columns}"
        )
    variant_index = variant_index.localCheckpoint(eager=True)
    corpus_names = corpus.select(
        F.col(id_col).cast("long").alias(id_col), text_col
    ).localCheckpoint(eager=True)

    def fold(batch_df, ep):
        cand = dedup_ops.probe_variant_index(
            batch_df, variant_index, text_col, id_col
        )
        names = corpus_names.unionByName(batch_df.select(id_col, text_col))
        ep.write("verified", dedup_ops.verify_edit_distance(
            cand, names, text_col, id_col, max_dist=max_dist
        ))

    src = new_records.select(F.col(id_col).cast("long").alias(id_col), text_col)
    return _run_fold(spark, "linkage", src, fold, lambda ep: ep.history(
        "verified", "id_a long, id_b long, dist long"
    ))


def streaming_ewma(
    spark: SparkSession,
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.3,
    n_slices: int = 4,
) -> DataFrame:
    """Streaming RECURSIVE EWMA — the infinite-history fold
    ``e_t = α·x_t + (1−α)·e_{t−1}`` (e_0 = x_0) carried across
    micro-batches: the true sequential control-chart statistic whose
    batch counterpart (timeseries.ewma_outliers) deliberately
    truncates the window to stay a closed-form SQL expression. In a
    stream the recursion is natural — per key the state is ONE number
    (the running EWMA), folded forward each event-time-ordered
    micro-batch by a per-key ``applyInPandas`` seeded from the state.
    The result is EXACTLY the single-pass recursion over the whole
    ordered input regardless of slice boundaries (pytest-pinned
    against a pandas reference), because EWMA folding is associative
    over ordered segments given the carried seed.

    Returns every row with its EWMA: ``(key, ts, id, value, ewma)``,
    ewma rounded to 9."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"streaming_ewma: alpha must be in (0,1), got {alpha}")
    if n_slices < 1:
        raise ValueError(f"streaming_ewma: n_slices must be >= 1, got {n_slices}")
    import pandas as pd

    src = events.select(
        F.col(key_col).alias("k"),
        F.col(ts_col).alias("ts"),
        # NTZ-safe epoch seconds for range slicing (NTZ has no direct
        # BIGINT cast; the TIMESTAMP hop only shifts by a constant tz
        # offset, which cannot reorder anything)
        F.col(ts_col).cast("timestamp").cast("long").alias("tsl"),
        F.col(id_col).cast("long").alias("eid"),
        F.col(value_col).cast("double").alias("x"),
    ).where(F.col("x").isNotNull() & F.col("ts").isNotNull())
    state_schema = "k string, ewma double"
    out_schema = "k string, ts timestamp, eid long, x double, ewma double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "eid"])
        seed = pdf["_seed"].iloc[0]
        e = None if pd.isna(seed) else float(seed)
        out = []
        for x in pdf["x"].tolist():
            e = float(x) if e is None else alpha * float(x) + (1.0 - alpha) * e
            out.append(e)
        pdf = pdf.drop(columns=["_seed"]).copy()
        pdf["ewma"] = out
        return pdf

    def fold(batch_df, ep):
        state = ep.state("state", state_schema)
        seeded = batch_df.drop("tsl").join(
            state.withColumnRenamed("ewma", "_seed"), "k", "left"
        )
        # The fold runs ONCE, inside the output write; the state job
        # then reads back the bytes that write produced — no eager
        # checkpoint job, no second applyInPandas execution. (A
        # persist() variant measured 6.2s -> 10.9s in the r14 profiler:
        # building the columnar InMemoryRelation per batch costs more
        # than the job it saves.)
        ep.write("out", seeded.groupBy("k").applyInPandas(fn, out_schema))
        last = (
            spark.read.schema(out_schema).parquet(ep.path("out"))
            .groupBy("k")
            .agg(F.max_by("ewma", F.struct("ts", "eid")).alias("ewma"))
        )
        ep.advance(
            "state", state.join(last.select("k"), "k", "left_anti").unionByName(last)
        )

    return _run_fold(
        spark, "ewma", src, fold,
        lambda ep: ep.history("out", out_schema).select(
            F.col("k").alias(key_col),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias(ts_col),
            F.col("eid").alias(id_col),
            F.col("x").alias(value_col),
            F.round("ewma", 9).alias("ewma"),
        ),
        slice_by=_range_slices(src, "tsl", n_slices),
        n_slices=n_slices,
    )


def streaming_quantile_digest(
    spark: SparkSession,
    values: DataFrame,
    value_col: str,
    k: int = 32,
    group_cols: list[str] | None = None,
    n_slices: int = 4,
) -> DataFrame:
    """Streaming quantile summary: build a k-point equi-depth digest
    per micro-batch and FOLD it into the standing digest via
    ``rollup.digest_merge`` — the quantile sibling of
    :func:`streaming_bottomk` (bottom-k folds exactly by the KMV
    merge property; digests fold within the pytest-pinned ≤2/k rank
    bound, the price a bounded-state quantile pays — an exact
    streaming quantile needs every value forever). State is the
    (k+1)-row digest per group regardless of stream length — the
    bounded-state monitor a 100 TB ingest keeps per partition/day.

    The input is hash-sliced on the value into ``n_slices``
    micro-batches, so the multi-batch history is deterministic.
    Returns the standing digest in :func:`rollup.quantile_digest`'s
    schema after the stream drains."""
    from pyspark.sql import types as T

    from ..operators.rollup import digest_merge, quantile_digest

    keys = group_cols or []
    src = values.select(
        *keys, F.col(value_col).cast("double").alias("_v")
    ).where(F.col("_v").isNotNull())
    schema = T.StructType(
        [src.schema[c] for c in keys]
        + T.StructType.fromDDL("rank_frac double, value double, n long").fields
    )

    def fold(batch_df, ep):
        digest = quantile_digest(batch_df, "_v", k=k, group_cols=keys or None)
        prev = ep.previous("digest", schema)
        if prev is not None:
            digest = digest_merge(prev, digest, group_cols=keys or None, k=k)
        ep.advance("digest", digest)

    return _run_fold(
        spark, "qdigest", src, fold, lambda ep: ep.state("digest", schema),
        slice_by=F.pmod(F.xxhash64("_v"), F.lit(n_slices)), n_slices=n_slices,
    )


def streaming_skyline(
    spark: SparkSession,
    rows: DataFrame,
    minimize: list[str] | None = None,
    maximize: list[str] | None = None,
) -> DataFrame:
    """Streaming skyline (Pareto-optimal set) maintenance: fold each
    micro-batch's local skyline into the standing skyline — the same
    merge identity the batch operator's partition phase uses
    (``skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B))``, dominance
    being transitive) makes the stream fold EXACT for inserts: after
    any number of micro-batches the standing set is the batch
    ``sampling.skyline`` over everything seen (pytest-pinned; the
    registered query hash-matches the same NOT-EXISTS oracle). State
    is the skyline itself — bounded by the answer's size, not the
    stream's. Insert-only by construction (deletions would need
    dominated candidates retained; out of contract, like every fold in
    this module)."""
    from ..operators.sampling import skyline

    def fold(batch_df, ep):
        sky = skyline(batch_df, minimize=minimize, maximize=maximize)
        prev = ep.previous("skyline", rows.schema)
        if prev is not None:
            sky = skyline(prev.unionByName(sky), minimize=minimize, maximize=maximize)
        ep.advance("skyline", sky)

    return _run_fold(
        spark, "skyline", rows, fold, lambda ep: ep.state("skyline", rows.schema)
    )


def streaming_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Streaming connected-components maintenance: edges arrive in
    micro-batches and each batch folds into a standing ``(node,
    component)`` labeling — exact by the contraction identity
    ``CC(E₁ ∪ E₂) = CC(star(E₁) ∪ E₂)``: a component's star edges
    (every node → its label) are connectivity-equivalent to the
    original edges, so re-running the batch operator
    (``graph.connected_components``, the Kiveris et al. star
    contraction) on standing-star-edges ∪ new-batch-edges yields the
    labeling of everything seen (pytest-pinned; the registered query
    hash-matches the batch recursive-CTE oracle). State is one row per
    node — the answer itself — and each fold's input is |V| + |batch|
    edges, never the full history."""
    from ..operators.graph import connected_components

    src = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    dt = src.schema["src"].dataType.simpleString()
    schema = f"node {dt}, component {dt}"

    def fold(batch_df, ep):
        prev = ep.previous("components", schema)
        if prev is not None:
            star = prev.where(F.col("node") != F.col("component")).select(
                F.col("component").alias("src"), F.col("node").alias("dst")
            )
            batch_df = star.unionByName(batch_df)
        ep.advance("components", connected_components(batch_df))

    return _run_fold(spark, "cc", src, fold, lambda ep: ep.state("components", schema))


def streaming_twap(
    spark: SparkSession,
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    unit_scale: int = 100,
    n_slices: int = 4,
) -> DataFrame:
    """Streaming time-weighted average — the incremental twin of
    ``timeseries.time_weighted_avg`` (same TWAP convention: each
    observation holds until the next, weighted by exact holding
    MICROSECONDS; the per-key tail observation is pending until a
    successor arrives). Per key the carried state is FOUR scalars —
    last timestamp, last value, the exact Σ v·Δt accumulator and the
    Σ Δt span — folded forward each event-time-ordered micro-batch,
    so the final fold is EXACTLY the batch operator's answer
    regardless of slice boundaries: this query hash-matches the SAME
    DuckDB oracle as the batch form.

    Exactness AND speed: the TWAP fold is ASSOCIATIVE over ordered
    segments, so each batch reduces JVM-side to per-key partials
    (first/last observation, within-batch Σ v·Δt in DECIMAL(38,0),
    span) via one key-partitioned lead window + one groupBy, and the
    state merge is a single full-outer join with pure decimal
    expressions — no Python touches the running sums (the first cut
    folded row-at-a-time in ``applyInPandas`` and spent 46s at sf0.1
    on per-key pandas dispatch; this shape is ~5×). Output one row
    per key: ``(key, n_events (long), span_seconds (long), twap
    (double))`` — the batch operator's exact schema."""
    if n_slices < 1:
        raise ValueError(f"streaming_twap: n_slices must be >= 1, got {n_slices}")
    from pyspark.sql import Window

    src = events.select(
        F.col(key_col).cast("string").alias("k"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t"),
        F.round(F.col(value_col).cast("double") * F.lit(unit_scale))
        .cast("long")
        .alias("v"),
    ).where(
        F.col("k").isNotNull() & F.col("t").isNotNull() & F.col("v").isNotNull()
    )
    state_schema = (
        "k string, n long, last_t long, last_v long, "
        "acc_vt decimal(38,0), acc_dt long"
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731

    def fold(batch_df, ep):
        state = ep.state("state", state_schema)
        # per-key batch partials, all JVM-side: one lead window + one
        # groupBy (the batch operator's own shape, scoped to the batch)
        # tie-breaker MUST be (t, v) — the batch operator and the shared
        # _TWAP_SQL oracle both order the lead window by (t, v); on
        # same-microsecond events the LAST in that order carries the
        # bridging duration, so any other tie order silently diverges
        w = Window.partitionBy("k").orderBy(F.col("t").asc(), F.col("v").asc())
        order = F.struct(F.col("t"), F.col("v"))
        stepped = batch_df.withColumn("_nt", F.lead("t").over(w))
        part = stepped.groupBy("k").agg(
            F.count(F.lit(1)).cast("long").alias("_bn"),
            F.min_by(F.col("t"), order).alias("_bft"),
            F.max_by(F.col("t"), order).alias("_blt"),
            F.max_by(F.col("v"), order).alias("_blv"),
            F.coalesce(
                F.sum(dec("v") * (F.col("_nt") - F.col("t")).cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("_bvt"),
            F.coalesce(F.sum(F.col("_nt") - F.col("t")), F.lit(0))
            .cast("long")
            .alias("_bdt"),
        )
        # merge: the carried last observation bridges to the batch's
        # first (state precedes the batch — event-time-ordered slices)
        joined = state.join(part, "k", "full")
        bridge = F.when(
            F.col("last_t").isNotNull() & F.col("_bft").isNotNull(),
            F.col("_bft") - F.col("last_t"),
        ).otherwise(F.lit(0)).cast("long")
        ep.advance("state", joined.select(
            "k",
            (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("_bn"), F.lit(0)))
            .cast("long")
            .alias("n"),
            F.coalesce(F.col("_blt"), F.col("last_t")).alias("last_t"),
            F.coalesce(F.col("_blv"), F.col("last_v")).alias("last_v"),
            (
                F.coalesce(dec("acc_vt"), F.lit(0).cast("decimal(38,0)"))
                + F.coalesce(dec("_bvt"), F.lit(0).cast("decimal(38,0)"))
                + F.coalesce(dec("last_v"), F.lit(0).cast("decimal(38,0)"))
                * bridge.cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("acc_vt"),
            (
                F.coalesce(F.col("acc_dt"), F.lit(0))
                + F.coalesce(F.col("_bdt"), F.lit(0))
                + bridge
            )
            .cast("long")
            .alias("acc_dt"),
        ))

    def readout(ep):
        return ep.state("state", state_schema).select(
            F.col("k").alias("key"),
            F.col("n").alias("n_events"),
            F.floor(F.col("acc_dt") / F.lit(1_000_000))
            .cast("long")
            .alias("span_seconds"),
            F.when(
                F.col("acc_dt") > 0,
                F.round(
                    F.col("acc_vt").cast("decimal(38,0)").cast("double")
                    / (F.col("acc_dt").cast("double") * F.lit(float(unit_scale))),
                    9,
                ),
            ).alias("twap"),
        )

    return _run_fold(
        spark, "twap", src, fold, readout,
        slice_by=_range_slices(src, "t", n_slices), n_slices=n_slices,
    )


_DAY_SCHEMA = "day date, sv decimal(38,6)"


def _day_fold(
    spark: SparkSession,
    fn_name: str,
    events: DataFrame,
    ts_col: str,
    value_col: str,
    unit_scale: int,
    n_slices: int,
    readout,
) -> DataFrame:
    """The day-grain fold shared by the calendar folds
    (:func:`streaming_ols_trend`, :func:`streaming_max_drawdown`,
    :func:`streaming_mase`). The carried state is the DAY-GRAIN total
    table — one ``(day, Σ value)`` row per present day, CALENDAR-
    bounded (the period_over_period contract: decades of state fit in
    kilobytes) — folded forward each day-range micro-batch with one
    day aggregation and one full-outer decimal merge. A calendar day
    may SPAN two micro-batches, and none of the three readouts is
    additive over partial days (Σy², demeaning by the final mean, |Δ|
    against a neighbor day), while daily totals are: the day merge is
    the associative unit, so every readout hash-matches its batch
    oracle for ANY slicing. ``readout`` gets the final day table as
    ``(day, _x)``, ``_x`` the total quantized to ``unit_scale``."""
    if n_slices < 1:
        raise ValueError(f"{fn_name}: n_slices must be >= 1, got {n_slices}")
    src = events.select(
        F.date_trunc("day", F.col(ts_col).cast("timestamp"))
        .cast("date")
        .alias("day"),
        F.col(value_col).cast("decimal(30,6)").alias("v"),
    ).where(F.col("day").isNotNull() & F.col("v").isNotNull())
    zero = F.lit(0).cast("decimal(38,6)")

    def fold(batch_df, ep):
        part = batch_df.groupBy("day").agg(
            F.sum("v").cast("decimal(38,6)").alias("_bv")
        )
        merged = ep.state("days", _DAY_SCHEMA).join(part, "day", "full").select(
            "day",
            (F.coalesce(F.col("sv"), zero) + F.coalesce(F.col("_bv"), zero))
            .cast("decimal(38,6)")
            .alias("sv"),
        )
        ep.advance("days", merged)

    def result(ep):
        return readout(ep.state("days", _DAY_SCHEMA).select(
            "day",
            F.round(F.col("sv").cast("double") * F.lit(unit_scale))
            .cast("long")
            .alias("_x"),
        ))

    return _run_fold(
        spark, fn_name, src, fold, result,
        slice_by=_range_slices(src, "unix_date(day)", n_slices), n_slices=n_slices,
    )


def streaming_ols_trend(
    spark: SparkSession,
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    unit_scale: int = 100,
    n_slices: int = 4,
) -> DataFrame:
    """Streaming OLS daily trend — the incremental twin of
    ``timeseries.ols_trend`` on the shared day-grain fold
    (:func:`_day_fold`); the batch operator's regression readout
    (slope/SE/t/R²) runs once on the final day table. Why the state is
    the day table and not the five moment sums: Σy² over day totals is
    not additive across partial days ((y₁+y₂)² ≠ y₁²+y₂²), so a
    moment-sum fold would silently depend on slice boundaries. Output:
    the batch operator's exact one-row schema ``(n_days, slope,
    intercept, se_slope, t_stat, r2)``."""
    from ..operators.timeseries import _ols_readout

    return _day_fold(
        spark, "streaming_ols_trend", events, ts_col, value_col, unit_scale, n_slices,
        lambda daily: _ols_readout(daily.withColumnRenamed("_x", "_y"), unit_scale),
    )


def streaming_max_drawdown(
    spark: SparkSession,
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    unit_scale: int = 100,
    n_slices: int = 4,
) -> DataFrame:
    """Streaming maximum drawdown — the incremental twin of
    ``timeseries.max_drawdown`` on the shared day-grain fold
    (:func:`_day_fold`; demeaning needs the FINAL global mean, so no
    scalar fold can be exact mid-stream). The batch operator's
    finishing readout (n-scaled deviations, exact running sum/max
    windows, first trough day) runs once on the final day table.
    Output: the batch operator's one-row schema ``(n_days,
    max_drawdown, trough_day)``."""
    from ..operators.timeseries import _drawdown_readout

    return _day_fold(
        spark, "streaming_max_drawdown", events, ts_col, value_col, unit_scale,
        n_slices, lambda daily: _drawdown_readout(daily, unit_scale),
    )


def streaming_mase(
    spark: SparkSession,
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    season: int = 7,
    unit_scale: int = 100,
    n_slices: int = 4,
) -> DataFrame:
    """Streaming MASE — the incremental twin of
    ``timeseries.mase_seasonal_naive`` on the shared day-grain fold
    (:func:`_day_fold`; a |Δ| against a neighbor day is NOT additive
    when either day spans two batches). The batch operator's
    finishing readout (date-shift equi-joins, two exact |Δ| folds, one
    IEEE ratio) runs once on the final day table. Output: the batch
    operator's one-row schema ``(n_seasonal_pairs, n_naive_pairs,
    mae_seasonal, mae_naive, mase)``."""
    if season < 2:
        raise ValueError(f"streaming_mase: season must be >= 2, got {season}")
    from ..operators.timeseries import _mase_readout

    return _day_fold(
        spark, "streaming_mase", events, ts_col, value_col, unit_scale, n_slices,
        lambda daily: _mase_readout(daily, season, unit_scale),
    )

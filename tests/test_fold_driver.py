"""The streaming fold driver under failure: foreachBatch is at-least-once,
so a micro-batch that fails after writing is replayed with the same epoch
id when the query restarts on its checkpoint. Epoch-keyed generations make
the replay fold once: a restarted run equals an uninterrupted one and the
batch answer, for both a keyed state fold and an append-output fold."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from dlp_rdb_bq_import_spark.streaming import jobs

SUMS = "k string, s long"
ROWS = "i long, k string, v long"


def _src(spark):
    rows = [(i, "abc"[i % 3], i * i % 17) for i in range(60)]
    return spark.createDataFrame(rows, ROWS).repartitionByRange(4, "i")


def _failing_once(write, fail_epoch, epochs):
    """``write(batch_df, ep)``, recording each epoch run, and raising once
    on ``fail_epoch`` after its write landed."""

    def fold(batch_df, ep):
        epochs.append(ep.epoch)
        write(batch_df, ep)
        if ep.epoch == fail_epoch and epochs.count(fail_epoch) == 1:
            raise RuntimeError("injected failure after the epoch's write")

    return fold


def _keyed_sum(batch_df, ep):
    part = batch_df.groupBy("k").agg(F.sum("v").alias("s"))
    merged = ep.state("sums", SUMS).unionByName(part).groupBy("k").agg(
        F.sum("s").alias("s")
    )
    ep.advance("sums", merged)


def _append(batch_df, ep):
    ep.write("out", batch_df)


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize(
    "write, result, batch_answer",
    [
        (
            _keyed_sum,
            lambda ep: ep.state("sums", SUMS),
            lambda src: src.groupBy("k").agg(F.sum("v").alias("s")),
        ),
        (_append, lambda ep: ep.history("out", ROWS), lambda src: src),
    ],
    ids=["keyed_sum", "append_output"],
)
def test_fold_restarted_after_failure_equals_uninterrupted_run(
    spark, tmp_path, micro_batches, write, result, batch_answer
):
    src = _src(spark)
    clean = jobs._run_fold(spark, "clean", src, write, result)
    assert micro_batches.count() == 4  # one batch per input partition

    root, epochs = str(tmp_path / "root"), []
    fold = _failing_once(write, 1, epochs)
    with pytest.raises(StreamingQueryException, match="injected failure"):
        jobs._run_fold(spark, "restart", src, fold, result, root=root)
    restarted = jobs._run_fold(spark, "restart", src, fold, result, root=root)

    # epoch 1 ran twice: once failing after its write, once on restart
    assert epochs == [0, 1, 1, 2, 3]
    assert _rows(restarted) == _rows(clean) == _rows(batch_answer(src))

from __future__ import annotations

import os
import sys
import time

import pytest
from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dlp_rdb_bq_import_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


class _MicroBatchCounter(StreamingQueryListener):
    """Counts the micro-batches of every streaming query started while it
    is registered (one progress event per executed batch)."""

    def __init__(self) -> None:
        self.started = self.ended = 0
        self.batches: set[tuple[str, int]] = set()

    def onQueryStarted(self, event) -> None:
        self.started += 1

    def onQueryProgress(self, event) -> None:
        self.batches.add((str(event.progress.id), event.progress.batchId))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.ended += 1

    def count(self) -> int:
        """Batches run so far, once every started query's events are in
        (listener events arrive asynchronously, termination last)."""
        deadline = time.monotonic() + 30
        while self.ended < self.started and time.monotonic() < deadline:
            time.sleep(0.05)
        return len(self.batches)


@pytest.fixture
def micro_batches(spark):
    counter = _MicroBatchCounter()
    spark.streams.addListener(counter)
    yield counter
    spark.streams.removeListener(counter)


@pytest.fixture
def driver_bound(monkeypatch):
    """Set ``operators.DRIVER_VALUE_BOUND``, the one driver-or-distributed
    bound of the dual-path operators, for this test: ``driver_bound(0)``
    sends every non-empty input to the distributed loop, ``-1`` every
    input."""
    from dlp_rdb_bq_import_spark import operators

    def set_bound(values: int) -> None:
        monkeypatch.setattr(operators, "DRIVER_VALUE_BOUND", values)

    return set_bound

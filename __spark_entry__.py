"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``dlp_rdb_bq_import_spark`` (see
``dlp_rdb_bq_import_spark/harness.py`` for the registry; SURVEY.md §2
maps each query to the reference operator it covers).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dlp_rdb_bq_import_spark import harness  # noqa: E402
from dlp_rdb_bq_import_spark.session import sql_confs  # noqa: E402


def _configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's session posture to a driver-provided session
    (idempotent; the runtime-settable confs of ``session.sql_confs``)."""
    for k, v in sql_confs().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep going
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return harness.flagship(_configure(spark), "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ §2.12 EXT)."""
    wrapped = {}
    for name, fn in harness.queries().items():
        wrapped[name] = (lambda f: lambda spark, sf_dir: f(_configure(spark), sf_dir))(fn)
    return wrapped


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return harness.oracle_sql()

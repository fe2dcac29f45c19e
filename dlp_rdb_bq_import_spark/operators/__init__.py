"""LLM-data-pipeline operators: dedup, similarity, text analysis, multimodal."""

from __future__ import annotations

import logging
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

_P = TypeVar("_P")


def fan_out(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Widen a DataFrame to the session's parallelism IF it is narrower.

    CPU-heavy per-document stages (stride-1 gram explodes, Arrow-batched
    numpy kernels) inherit the scan's partitioning, which is sized for
    the RAW bytes — a 1 MB parquet split that explodes into GBs of work
    runs on one core. At fixture scale that starves a 32-core session;
    the conditional matters for the 100 TB posture: a corpus with more
    input splits than cores passes through untouched, so this never
    inserts a full-corpus shuffle where the scan is already wide."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


# local_rows_df fast path accepts only types whose pandas/Arrow
# round-trip is exact and whose validation mirrors createDataFrame's
# classic verifier (ints only into integral fields, floats only into
# fractional ones, None only into strings here — None-bearing numeric
# rows take the classic path rather than risk NaN/null coercion).
_LOCAL_DF_ROW_CAP = 200_000


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """DataFrame from driver-local rows WITHOUT the Python-RDD fan-out.

    ``createDataFrame(list, schema)`` parallelizes the pickled rows
    into ``defaultParallelism`` slices and each slice's task round-trips
    through a Python worker — measured at local[32] (r15): ~400 ms for
    200 rows, ~400-800 ms for an EMPTY frame, paid per driver-result
    query (graph/BPE/k-center fixpoints, union-find labels, streaming
    first-batch state) and growing with core count — the r14 verdict's
    anti-scaling family. Here instead:

    - empty rows → a JVM-only ``range(0)`` projection cast to the
      target schema (one empty partition, no Python);
    - flat rows of (int/float/str/bool) under a row cap → one Arrow
      batch via pandas (column-wise exact dtypes, no executor-side
      Python), coalesced to 1 partition — driver-result tables are
      kilobyte-scale by construction, 32 partitions was pure task
      overhead;
    - anything else (None in numerics, nested/Decimal/datetime values,
      Row objects, huge lists) → the classic verified path unchanged.

    Value validation mirrors the classic verifier strictly (no silent
    int→double or bool→int admission), so the fast path can never
    coerce where createDataFrame would have raised; parity is pinned
    in tests/test_opt_r15.py."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    struct = T._parse_datatype_string(schema) if isinstance(schema, str) else schema
    if not isinstance(struct, T.StructType):
        return spark.createDataFrame(rows, schema)
    rows = rows if isinstance(rows, (list, tuple)) else list(rows)
    if len(rows) == 0:
        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in struct.fields]
        )
    if len(rows) <= _LOCAL_DF_ROW_CAP and _local_rows_arrow_ok(rows, struct):
        try:
            import pandas as pd

            data = {}
            cols = list(zip(*rows))
            for i, f in enumerate(struct.fields):
                dt = type(f.dataType)
                if dt in (T.LongType, T.IntegerType, T.ShortType, T.ByteType):
                    np_dt = {T.LongType: "int64", T.IntegerType: "int32",
                             T.ShortType: "int16", T.ByteType: "int8"}[dt]
                    data[f.name] = pd.Series(cols[i], dtype=np_dt)
                elif dt in (T.DoubleType, T.FloatType):
                    data[f.name] = pd.Series(
                        cols[i], dtype="float64" if dt is T.DoubleType else "float32"
                    )
                elif dt is T.BooleanType:
                    data[f.name] = pd.Series(cols[i], dtype="bool")
                else:  # StringType (may carry None)
                    data[f.name] = pd.Series(cols[i], dtype="object")
            pdf = pd.DataFrame(data, columns=[f.name for f in struct.fields])
            return spark.createDataFrame(pdf, schema=struct).coalesce(1)
        except Exception:
            # e.g. int out of the field's range — the classic verifier
            # below owns the canonical error (or acceptance) semantics
            pass
    return spark.createDataFrame(rows, struct)


def _local_rows_arrow_ok(rows, struct) -> bool:
    """True when every row is a flat tuple/list matching the field
    count and every value passes the strict per-type admission above."""
    from pyspark.sql import types as T

    fields = struct.fields
    kinds = []
    for f in fields:
        dt = type(f.dataType)
        if dt in (T.LongType, T.IntegerType, T.ShortType, T.ByteType):
            kinds.append("i")
        elif dt in (T.DoubleType, T.FloatType):
            kinds.append("f")
        elif dt is T.BooleanType:
            kinds.append("b")
        elif dt is T.StringType:
            kinds.append("s")
        else:
            return False
    # Exact-type admission ONLY: the classic verifier rejects numpy
    # scalars (and bool-into-int, int-into-double, ...), so the fast
    # path must never accept a value the classic path would refuse —
    # anything not exactly (int | float | str | bool) falls back and
    # gets the canonical acceptance/error semantics.
    nf = len(fields)
    for r in rows:
        if type(r) is not tuple and type(r) is not list:
            return False
        if len(r) != nf:
            return False
        for v, k in zip(r, kinds):
            if k == "s":
                if v is not None and type(v) is not str:
                    return False
            elif k == "i":
                if type(v) is not int:
                    return False
            elif k == "f":
                # NaN must fall back: the Arrow path converts float NaN
                # to SQL NULL, the classic path keeps it a NaN value
                if type(v) is not float or v != v:
                    return False
            else:
                if type(v) is not bool:
                    return False
    return True


# The one driver-or-distributed bound of the dual-path operators
# (pagerank, personalized_pagerank, hits, kcore, label_propagation,
# connected_components, kcenter_sample, bpe_learn), counted in values
# the driver branch would collect: 2 per edge, k-center rows × dim, BPE
# vocab characters. 2M values is the 1M-edge bound the graph driver
# fixpoints were measured at (r14: each eager round of a distributed
# loop pays ~0.3 s of job overhead at any size). A module constant, not
# an option: the tests and the sf1 soak set it (0 sends every non-empty
# input to the distributed loop, -1 every input).
DRIVER_VALUE_BOUND = 2_000_000

_log = logging.getLogger("dlp_rdb_bq_import_spark")

# (operator, branch) -> count of fixpoint invocations this process.
# The soak asserts every fixpoint operator exercised its DISTRIBUTED
# branch at least once at sf1 (r14 verdict: after the measured-size
# driver fast paths landed, no *timed* run covered the distributed
# loops at sf0.1 — a regression there could hide behind the driver
# path; this counter plus one log record per invocation makes which
# branch ran visible and assertable).
FIXPOINT_BRANCHES: dict[tuple[str, str], int] = {}


def note_fixpoint_branch(op: str, branch: str) -> None:
    """Record + log that measured-size fixpoint ``op`` took ``branch``
    ('driver' or 'distributed') for this invocation."""
    key = (op, branch)
    FIXPOINT_BRANCHES[key] = FIXPOINT_BRANCHES.get(key, 0) + 1
    _log.info("fixpoint-branch %s=%s", op, branch)


def driver_payload(op: str, values: int, collect: Callable[[], _P | None]) -> _P | None:
    """Decide and record the branch of dual-path operator ``op``.

    ``values`` is the measured number of values its driver branch would
    collect. Within ``DRIVER_VALUE_BOUND`` this calls ``collect()``,
    which fetches the driver payload or returns None when the input is
    not driver-safe (NULL endpoints, ragged vectors, ids whose Python
    order is not Spark's). Returns the payload when the driver branch
    runs, None when the caller must run its distributed loop."""
    payload = collect() if values <= DRIVER_VALUE_BOUND else None
    note_fixpoint_branch(op, "distributed" if payload is None else "driver")
    return payload

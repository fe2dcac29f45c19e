"""Round-15 optimization parity tests.

local_rows_df must be OBSERVATIONALLY IDENTICAL to
``spark.createDataFrame(rows, schema)`` — same rows, same order, same
schema, same acceptance/rejection of values — because ~25 call sites
(driver fixpoints, union-find labels, streaming first-batch state,
rule/catalog fixtures) switched to it for the Python-RDD fan-out cut.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from dlp_rdb_bq_import_spark.operators import (
    _local_rows_arrow_ok,
    local_rows_df,
)
from pyspark.sql import types as T


def _same_rows(a, b):
    ra = [tuple(r) for r in a.collect()]
    rb = [tuple(r) for r in b.collect()]
    if len(ra) != len(rb):
        return False
    for p, q in zip(ra, rb):
        for x, y in zip(p, q):
            if x is None or y is None:
                if x is not y:
                    return False
            elif isinstance(x, float) and isinstance(y, float):
                if not (x == y or (math.isnan(x) and math.isnan(y))):
                    return False
            elif x != y:
                return False
    return True


PARITY_CASES = [
    ([(1, 2.5, "a", True), (2, -0.0, None, False)],
     "i long, d double, s string, b boolean"),
    ([(i, float(i) * 1.5) for i in range(1000)], "x long, y double"),
    ([], "k string, v double"),
    ([], "a long, b int, c boolean"),
    ([(float("nan"),), (1.0,)], "v double"),          # NaN → fallback path
    ([(float("inf"),), (-0.0,)], "v double"),
    ([(2**62,), (-(2**62),)], "v long"),
    ([("x",), (None,)], "s string"),
    ([(1, 2)], "a int, b short"),
    ([(5, "x")] * 300, "n long, s string"),
]


@pytest.mark.parametrize("rows,schema", PARITY_CASES)
def test_local_rows_df_parity(spark, rows, schema):
    fast = local_rows_df(spark, rows, schema)
    classic = spark.createDataFrame(rows, schema)
    assert fast.schema == classic.schema
    assert _same_rows(fast, classic)


def test_local_rows_df_preserves_row_order(spark):
    rows = [(i, f"r{i}") for i in (5, 1, 9, 3, 7)]
    got = [tuple(r) for r in local_rows_df(spark, rows, "k long, v string").collect()]
    assert got == rows


def test_local_rows_df_rejects_like_classic(spark):
    # classic createDataFrame refuses an int into a double field and a
    # numpy scalar into a long field; the helper must refuse the same
    # way (it falls back to the classic verifier, which raises)
    for rows, schema in [
        ([(3,)], "v double"),
        ([(np.int64(3),)], "v long"),
        ([(True,)], "v long"),
        ([(1.5,)], "v long"),
    ]:
        with pytest.raises(Exception):
            spark.createDataFrame(rows, schema).collect()
        with pytest.raises(Exception):
            local_rows_df(spark, rows, schema).collect()


def test_local_rows_df_nan_takes_fallback():
    st = T.StructType([T.StructField("v", T.DoubleType())])
    assert not _local_rows_arrow_ok([(float("nan"),)], st)
    assert _local_rows_arrow_ok([(1.0,)], st)


def test_local_rows_df_nested_takes_fallback(spark):
    # array-typed field: helper must route to the classic path and
    # produce identical values
    rows = [([1, 2, 3],), ([],)]
    schema = "v array<long>"
    fast = local_rows_df(spark, rows, schema)
    classic = spark.createDataFrame(rows, schema)
    assert fast.schema == classic.schema
    assert [r["v"] for r in fast.collect()] == [r["v"] for r in classic.collect()]


def test_local_rows_df_empty_matches_schema(spark):
    schema = "a long, b string, c double, d boolean, e int"
    fast = local_rows_df(spark, [], schema)
    classic = spark.createDataFrame([], schema)
    assert fast.schema == classic.schema
    assert fast.count() == 0
    # and the empty frame is JVM-only: at most one (empty) partition
    # (Spark collapses the empty range to a zero-partition local scan)
    assert fast.rdd.getNumPartitions() <= 1


def test_attach_media_per_row_dispatch_matches_scalar(spark):
    # the mixed-corpus per-row dispatch must synthesize byte-identical
    # payloads/metadata to the per-branch scalar form
    from pyspark.sql import functions as F

    from dlp_rdb_bq_import_spark.operators.multimodal import attach_media

    d = spark.range(0, 60).select(F.col("id").alias("doc_id"))
    mod3 = F.col("doc_id") % 3
    spec = d.select(
        "doc_id",
        F.when(mod3 == 0, F.lit("image"))
        .when(mod3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("_media"),
        F.when((mod3 == 0) & (F.col("doc_id") % 6 != 0), F.lit("png")).alias(
            "_container"
        ),
    )
    mixed = attach_media(spec, media_col="_media", container_col="_container")
    parts = [
        attach_media(d.where((mod3 == 0) & (F.col("doc_id") % 6 == 0))),
        attach_media(
            d.where((mod3 == 0) & (F.col("doc_id") % 6 != 0)), container="png"
        ),
        attach_media(d.where(mod3 == 1), media="audio"),
        attach_media(d.where(mod3 == 2), media="video"),
    ]
    ref = parts[0]
    for p in parts[1:]:
        ref = ref.unionByName(p)
    a = sorted((r["doc_id"], bytes(r["payload"]), r["media_type"], r["format"],
                r["width"], r["height"], r["duration_ms"]) for r in mixed.collect())
    b = sorted((r["doc_id"], bytes(r["payload"]), r["media_type"], r["format"],
                r["width"], r["height"], r["duration_ms"]) for r in ref.collect())
    assert a == b
    import pytest

    with pytest.raises(Exception):
        attach_media(
            spec.withColumn("_media", F.lit("hologram")), media_col="_media"
        ).collect()


def test_fixpoint_branch_telemetry(spark, driver_bound):
    from dlp_rdb_bq_import_spark import operators as ops
    from dlp_rdb_bq_import_spark.operators import dedup

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    before = dict(ops.FIXPOINT_BRANCHES)
    dedup.duplicate_clusters(pairs).collect()
    assert ops.FIXPOINT_BRANCHES.get(("connected_components", "driver"), 0) > before.get(
        ("connected_components", "driver"), 0
    )
    driver_bound(0)
    before = dict(ops.FIXPOINT_BRANCHES)
    dedup.duplicate_clusters(pairs).collect()
    assert ops.FIXPOINT_BRANCHES.get(
        ("connected_components", "distributed"), 0
    ) > before.get(("connected_components", "distributed"), 0)

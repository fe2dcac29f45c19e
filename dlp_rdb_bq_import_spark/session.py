"""SparkSession factory with scale-conscious defaults.

Local test posture is ``local[$SPARK_GRAFT_CPUS]``; the same config
block is what we would ship to a 1000-executor cluster minus the
master/memory overrides: AQE (runtime re-planning, skew-join splitting,
small-partition coalescing) on, Arrow on for the Pandas-UDF tokenize
path, session timezone pinned UTC so results compare bit-identically
against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def sql_confs() -> dict[str, str]:
    """The engine's runtime-settable SQL confs: ``get_spark`` sets them
    on the builder and ``__spark_entry__._configure`` on a session it is
    handed, so both run the same plans."""
    return {
        # Shuffle sizing: ~cores locally. On a real cluster this would be
        # sized to data volume (AQE coalesces down from a high initial
        # number); at 100 TB you set the *initial* partition count high
        # (e.g. 2000+) and let adaptive coalescing right-size each stage.
        "spark.sql.shuffle.partitions": str(default_parallelism()),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # AQE coalescing floor: the default 1 MB minPartitionSize lets
        # the coalescer collapse a small-byte stage to ONE task even
        # when its CPU-per-byte is enormous (this package's regex/text/
        # graph-expansion stages: e.g. web_curation's block-classify
        # reduce — 1.5 MB, 1.4 s of single-task CPU at the default).
        # 64 KB keeps such stages parallel; measured in-process A/B
        # min-of-3 at sf0.1 local[32]: web_curation 2.83→1.76,
        # record_linkage_review 2.49→1.31, clustering_coeff 2.98→1.89,
        # assortativity 3.12→1.82, CC star 3.13→2.12, TPC-H and the
        # dedup family flat (±0.1 s). Scale-safe: parallelismFirst
        # already targets bytes/defaultParallelism, so this floor only
        # binds on stages tiny relative to the cluster.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Parquet scans: 128 MB split targets; vectorized reader on.
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.parquet.filterPushdown": "true",
        # Fixture `events` stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert (values are µs-precision).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }


def get_spark(
    app_name: str = "dlp_rdb_bq_import_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{default_parallelism()}]")
        # Shuffle writer: always the sort-based writer. The bypass-merge
        # writer (default below 200 reduce partitions when there is no
        # map-side combine) opens one file stream PER REDUCER PER MAP
        # TASK — measured here (r15 stage metrics, dedup_clusters_exact
        # at local[32]): ~100 ms of Shuffle Write Time per map task for
        # 16 KB of data, 3-8 s of executor time per KB-scale exchange,
        # and the cost grows with core count (R tracks parallelism) —
        # the source of the r14 verdict's 8-core-faster-than-32
        # anti-scaling. The sort writer pays one data+index file per
        # map task regardless of R; on the 5 MB/518k-row exchange of
        # the same query both writers measured equal. At cluster scale
        # R exceeds the 200 default anyway, so forcing the sort writer
        # is the scale-consistent posture, not a local tune.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(map=sql_confs())
    )
    # Deployment-parameterised overrides (cluster posture differs from
    # the local default): JSON dict of spark conf key -> value, applied
    # after the defaults so a cluster/experiment can retune without
    # code edits. Unset = local defaults, so the bench contract
    # ($SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS) is unchanged.
    env_conf = os.environ.get("SPARK_GRAFT_CONF_JSON")
    if env_conf:
        import json as _json

        for k, v in _json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

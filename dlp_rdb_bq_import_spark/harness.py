"""Query/oracle registry — the correctness-gate contract.

Every operator from SURVEY.md §2 (plus the LLM-data extension ops) gets:
- a Spark implementation ``(spark, sf_dir) -> DataFrame``, and
- where SQL-expressible, a DuckDB oracle producing identical columns.

Determinism rules used throughout (so value-hashes match bit-for-bit):
- money/double aggregation: per-row double arithmetic (IEEE —
  deterministic and engine-identical), then CAST to DECIMAL(30,6) and
  SUM (exact, order-independent), then CAST back to DOUBLE. Written as
  the same expression tree on both sides.
- embedding math: components quantized to int64 (round(x*1e7)), dot
  products/norms in exact integer arithmetic (see operators/similarity).
- LIMIT/top-k: always ordered by a unique key suffix.
- derived integers (year/rank/…): cast to BIGINT on both sides.
- timestamps in outputs: formatted to strings or cast to DATE.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.tokenize import (
    DeidTemplate,
    FieldTransform,
    InfoTypeTransform,
    TemplateRegistry,
    deidentify,
    reidentify,
)
from . import operators
from .operators import dedup, features, sampling, similarity, text as text_ops
from .operators.multimodal import attach_payload, payload_stats
from .streaming.jobs import windowed_event_counts

# ---------------------------------------------------------------------------
# plumbing
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

HARNESS_KEY = b"spark-graft-harness-key-32bytes!"


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table; events' TIMESTAMP(NANOS) column arrives as
    long (session sets nanosAsLong) and is converted to a µs timestamp.

    The ANALYZED READER PLAN is memoized per session (stored on the
    session object, so it dies with it): fixtures are immutable, and
    re-running ``spark.read.parquet`` re-lists the path and re-reads
    footers on the driver for every one of a query's table references —
    pure per-query constant overhead. No data is cached or persisted;
    the memo holds the same lazy DataFrame a local variable would."""
    memo = getattr(spark, "_dlp_table_memo", None)
    if memo is None:
        memo = {}
        spark._dlp_table_memo = memo
    key = (sf_dir, name)
    df = memo.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events" and dict(df.dtypes).get("ts") in ("bigint", "long"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        memo[key] = df
    return df


_SCRATCH_MEMO: dict[tuple, str] = {}
# Hit counter so timing harnesses (tools/soak_full.py) can tell a warm
# memo-served re-run apart from a cold run — the two have different
# timing semantics and must be distinguishable in committed artifacts.
_SCRATCH_MEMO_HITS: int = 0


def scratch_roundtrip(
    df: DataFrame, sf_dir: str, table_prefix: str, memo: str | None = None
) -> DataFrame:
    """Persist an index artifact through the warehouse sink and read
    it back — the between-batches seam of the incremental ingest
    queries (a real pipeline KEEPS these artifacts; the round-trip
    proves the persisted form is what gets probed).

    PROCESS-SCOPED MEMO (opt-in): a call site whose artifact is a
    deterministic function of (sf_dir, construction site) passes a
    site-unique ``memo`` token, and a repeated run in the same session
    reuses the copy it already persisted instead of rebuilding — so
    min-of-N soak/bench runs measure the STEADY-STATE probe/fold with
    the bootstrap paid once, which is exactly the semantics of an
    artifact a pipeline keeps between batches. A fresh process still
    pays the bootstrap, so one-shot gate runs are unaffected. The
    token is EXPLICIT rather than a plan hash because checkpointed
    plans (the fuzzy-candidate seam) have no stable semantic hash —
    and explicit tokens make the two different bench-gram artifacts
    that share the "bench_grams" prefix impossible to confuse. The
    memo never crosses processes; dirs held by a live pid are never
    pruned, so a memoized destination stays valid for the session.

    The table name is VERSIONED per run (pid + uuid) under a
    per-corpus scratch root: two concurrent runs over the same sf_dir
    (soak + bench, parallel pytest workers) must not overwrite a
    shared fixed path — one run's overwrite could delete parquet files
    out from under the other's in-flight lazy read. Stale versions are
    pruned so a long-lived host doesn't accumulate one copy per
    execution, but pruning keys on RUN LIVENESS, not wall clock alone:
    the table name embeds the writer's pid, and a version whose pid is
    still alive is never pruned — a concurrent soak holding a lazy
    reference past the age cutoff keeps its files. Only dead-pid
    versions past the cutoff go, and only directories matching this
    function's EXACT name shape (``{prefix}_{pid}_{uuid8}``) are ever
    candidates — a prefix that extends another ('bigram_lm' vs
    'bigram_lm_v2') must not make the longer prefix's live dirs parse
    as garbage-pid under the shorter one and get deleted under a live
    writer; anything shape-unparseable is left alone."""
    import hashlib
    import re
    import shutil
    import tempfile
    import time
    import uuid

    from .sinks.warehouse import Warehouse

    root = os.path.join(
        tempfile.gettempdir(),
        f"curation_wh_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    ds_dir = os.path.join(root, "curation")

    memo_key = (sf_dir, table_prefix, memo) if memo is not None else None
    if memo_key is not None:
        dest = _SCRATCH_MEMO.get(memo_key)
        if dest and os.path.isdir(dest):
            global _SCRATCH_MEMO_HITS
            _SCRATCH_MEMO_HITS += 1
            cached = df.sparkSession.read.parquet(dest)
            # The memo key carries no trace of df's construction; a call
            # site that reuses a (prefix, memo) pair for a DIFFERENT
            # plan would silently be served the other plan's rows.
            # Column-set equality is a cheap metadata-only tripwire.
            if set(cached.columns) != set(df.columns):
                raise ValueError(
                    f"scratch memo {memo_key} column mismatch: cached "
                    f"{sorted(cached.columns)} vs requested {sorted(df.columns)}"
                )
            return cached

    name_re = re.compile(
        "^" + re.escape(table_prefix) + r"_(\d+)_[0-9a-f]{8}$"
    )

    def _writer_alive(pid: int) -> bool:
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return False
        except (PermissionError, OSError):
            return True  # exists but owned elsewhere: treat as live
        return True

    if os.path.isdir(ds_dir):
        cutoff = time.time() - 3600
        for name in os.listdir(ds_dir):
            m = name_re.match(name)
            if not m:
                continue  # not this prefix's exact shape: never prunable
            p = os.path.join(ds_dir, name)
            try:
                stale = os.path.getmtime(p) < cutoff and not _writer_alive(
                    int(m.group(1))
                )
            except OSError:
                continue  # pruned by a concurrent run between listdir and stat
            if stale:
                shutil.rmtree(p, ignore_errors=True)
    wh = Warehouse(root)
    table = f"{table_prefix}_{os.getpid()}_{uuid.uuid4().hex[:8]}"
    res = wh.write(df, "curation", table, mode="overwrite")
    if res.status != "ok":
        raise RuntimeError(f"{table_prefix} index write failed: {res.error}")
    if memo_key is not None:
        _SCRATCH_MEMO[memo_key] = res.destination
    return df.sparkSession.read.parquet(res.destination)


def dsum(col, alias: str, scale: int = 6):
    """Exact order-independent money sum → double."""
    return F.sum(col.cast(f"decimal(30,{scale})")).cast("double").alias(alias)


def _dsum_sql(expr: str, alias: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,{scale}))) AS DOUBLE) AS {alias}"


# ---------------------------------------------------------------------------
# §2.1 scans / SQL surface
# ---------------------------------------------------------------------------


@query(
    "scan_count",
    oracle="SELECT CAST(count(*) AS BIGINT) AS total FROM lineitem",
)
def q_scan_count(spark, sf_dir):
    """A1/S4 — the reference's IT verification query
    (DBImportPipelineIT.java:79-89) and scan-sizing probe
    (ServerUtil.java:136-155)."""
    return t(spark, sf_dir, "lineitem").agg(F.count("*").alias("total"))


@query(
    "pushdown_scan",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, strftime(l_shipdate, '%Y-%m-%d') AS ship_day
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-02-01 00:00:00'
  AND l_discount > 0.08
""",
)
def q_pushdown_scan(spark, sf_dir):
    """S5/S11 — projection+filter reaching the parquet scan (Catalyst
    pushdown replaces the reference's hand-built OFFSET paging,
    TableToDbRowFn.java:80-89)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-02-01").cast("timestamp"))
            & (F.col("l_discount") > 0.08)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        )
    )


@query(
    "tpch_q1",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {_dsum_sql('l_quantity', 'sum_qty')},
       {_dsum_sql('l_extendedprice', 'sum_base_price')},
       {_dsum_sql('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {_dsum_sql('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)', 'sum_charge')},
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty,
       CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_tpch_q1(spark, sf_dir):
    """S7 — the flagship aggregation query run natively by Catalyst (the
    reference delegates its SQL to BigQuery,
    BQReidentificationPipeline.java:100-105)."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax")), "sum_charge"),
            (
                F.sum(F.col("l_quantity").cast("decimal(30,6)")).cast("double")
                / F.count("*").cast("double")
            ).alias("avg_qty"),
            (
                F.sum(F.col("l_discount").cast("decimal(30,6)")).cast("double")
                / F.count("*").cast("double")
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       {_dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')},
       strftime(o_orderdate, '%Y-%m-%d') AS order_day
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q_tpch_q3(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "tpch_q5_local_volume",
    oracle=f"""
SELECT n_name, {_dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM region JOIN nation ON n_regionkey = r_regionkey
            JOIN customer ON c_nationkey = n_nationkey
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
)
def q_tpch_q5(spark, sf_dir):
    """J-family — multiway join; small dims broadcast, big join keys
    shuffle-hashed by Catalyst/AQE."""
    region = t(spark, sf_dir, "region")
    nation = t(spark, sf_dir, "nation")
    customer = t(spark, sf_dir, "customer")
    supplier = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (supplier.s_nationkey == customer.c_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ---------------------------------------------------------------------------
# §2.2 projections / predicates
# ---------------------------------------------------------------------------


@query(
    "exclusion_filter",
    oracle="""
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_mktsegment NOT IN ('BUILDING', 'AUTOMOBILE')
""",
)
def q_exclusion_filter(spark, sf_dir):
    """P1 — anti-membership filter (the data-scale analogue of the
    catalog exclusion list, ServerUtil.java:126-134)."""
    return (
        t(spark, sf_dir, "customer")
        .where(~F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select("c_custkey", "c_mktsegment")
    )


@query(
    "cast_filter_groupby_dedup",
    oracle="""
SELECT user_id, event_type FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
GROUP BY user_id, event_type
""",
)
def q_cast_filter(spark, sf_dir):
    """P3+P4+A2+F6 — the reid default-query shape: projection, CAST
    predicate, GROUP BY dedup
    (common/BQReIdentificationPipelineOptions.java:15-17)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.where(F.get_json_object("props", "$.k").cast("long") > 50)
        .select("user_id", "event_type")
        .distinct()
    )


@query(
    "null_value_rules",
    oracle="""
SELECT doc_id,
       CASE WHEN lower(lang) = 'null' THEN NULL
            WHEN lang = 'es' THEN NULL ELSE lang END AS lang_clean,
       COALESCE(CASE WHEN lang = 'es' THEN NULL ELSE lang END, '') AS lang_compat
FROM documents
""",
)
def q_null_rules(spark, sf_dir):
    """P5/F4 — the 'null'-string drop (BigQueryTableRowDoFn.java:48) and
    null→'' coalesce (DLPTokenizationDoFn.java:84-87) as explicit
    column rules."""
    d = t(spark, sf_dir, "documents")
    nulled = F.when(F.col("lang") == "es", F.lit(None)).otherwise(F.col("lang"))
    return d.select(
        "doc_id",
        F.when(F.lower(F.col("lang")) == "null", F.lit(None))
        .otherwise(nulled)
        .alias("lang_clean"),
        F.coalesce(nulled, F.lit("")).alias("lang_compat"),
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@query(
    "broadcast_lookup_join",
    oracle=f"""
SELECT p_brand, {_dsum_sql('l_extendedprice', 'revenue')}, CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
)
def q_broadcast_join(spark, sf_dir):
    """J1 — broadcast lookup join (the reference's driver-side
    stream().filter().findFirst() config lookup, ServerUtil.java:274-286,
    at data scale)."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(dsum(F.col("l_extendedprice"), "revenue"), F.count("*").alias("n_items"))
    )


@query(
    "semi_join_exists",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_discount > 0.09)
""",
)
def q_semi_join(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").where(F.col("l_discount") > 0.09)
    return orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


@query(
    "anti_join_not_exists",
    oracle="""
SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def q_anti_join(spark, sf_dir):
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey")


@query(
    "outer_join_coalesce",
    oracle=f"""
SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
       COALESCE({_dsum_sql('o_totalprice', 'x').replace(' AS x', '')}, 0.0) AS total_spend
FROM customer LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
""",
)
def q_outer_join(spark, sf_dir):
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"),
                F.lit(0.0),
            ).alias("total_spend"),
        )
    )


@query(
    "asof_prev_signup",
    oracle="""
SELECT event_id,
       last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_signup_id
FROM events
""",
)
def q_asof_join(spark, sf_dir):
    """As-of join (Spark lacks a native one): most recent prior 'signup'
    event per user, expressed as last_value IGNORE NULLS over a
    preceding frame — shuffle-once, no pairwise join at any scale."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return ev.select(
        "event_id",
        F.last(
            F.when(F.col("event_type") == "signup", F.col("event_id")), ignorenulls=True
        )
        .over(w)
        .alias("prev_signup_id"),
    )


@query(
    "asof_click_signup",
    oracle="""
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
signups AS (SELECT user_id, ts AS sts, max(event_id) AS signup_id
            FROM events WHERE event_type = 'signup' GROUP BY user_id, ts)
SELECT c.event_id, s.signup_id,
       epoch_us(c.ts) - epoch_us(s.sts) AS lag_us
FROM clicks c ASOF LEFT JOIN signups s
  ON c.user_id = s.user_id AND c.ts >= s.sts
""",
)
def q_asof_click_signup(spark, sf_dir):
    """Two-table as-of join: each click matched to the user's most
    recent signup at-or-before it. The Spark side is the general
    `joins.asof_join` operator (union + one ignorenulls window — one
    shuffle, no candidate pairs at any scale); the oracle is DuckDB's
    NATIVE ASOF LEFT JOIN, so the two implementations share no code
    path at all. Right side pre-deduped per (user, ts) so tie
    semantics are identical across engines."""
    from .operators.joins import asof_join

    ev = t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id", F.col("ts").alias("sts"))
        .agg(F.max("event_id").alias("signup_id"))
    )
    out = asof_join(clicks, signups, on="user_id", left_ts="ts", right_ts="sts")
    return out.select(
        "event_id",
        "signup_id",
        (F.unix_micros("ts") - F.unix_micros("sts")).alias("lag_us"),
    )


@query(
    "incident_overlap_join",
    oracle="""
WITH act AS (
  SELECT user_id, CAST(ts AS DATE) AS day, min(ts) AS start_ts, max(ts) AS end_ts
  FROM events WHERE event_type <> 'error'
  GROUP BY user_id, CAST(ts AS DATE)
  HAVING max(ts) > min(ts)
),
inc AS (
  SELECT event_id AS incident_id, ts AS inc_start, ts + INTERVAL 1 HOUR AS inc_end
  FROM events WHERE event_type = 'error' AND value >= 300
)
SELECT a.user_id, a.day, i.incident_id
FROM act a JOIN inc i ON a.start_ts <= i.inc_end AND i.inc_start <= a.end_ts
""",
)
def q_incident_overlap_join(spark, sf_dir):
    """Interval-overlap (range) join without a cartesian product:
    user-day activity spans × high-severity incident windows, via the
    bucketed `joins.range_overlap_join` (explode-to-buckets equi-join +
    exact verify, pair attributed to the max(start) bucket). The oracle
    is DuckDB's plain inequality join — the naive formulation the Spark
    operator exists to avoid. Plan-shape test pins the absence of
    BroadcastNestedLoopJoin."""
    from .operators.joins import range_overlap_join

    ev = t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    act = (
        ev.where(F.col("event_type") != "error")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
        .where(F.col("end_ts") > F.col("start_ts"))
    )
    inc = ev.where((F.col("event_type") == "error") & (F.col("value") >= 300)).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("inc_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("inc_end"),
    )
    out = range_overlap_join(
        act,
        inc,
        ("start_ts", "end_ts"),
        ("inc_start", "inc_end"),
        bucket=6 * 3600 * 1_000_000,
    )
    return out.select("user_id", "day", "incident_id")


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


@query(
    "header_group_batch",
    oracle=f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(min(event_id) AS BIGINT) AS first_id,
       CAST(max(event_id) AS BIGINT) AS last_id,
       {_dsum_sql('value', 'total_value')}
FROM events GROUP BY event_type
""",
)
def q_header_group(spark, sf_dir):
    """A3 — GroupByKey on a signature column (the reid header grouping,
    BQReidentificationPipeline.java:106-107, generalized)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("first_id"),
            F.max("event_id").alias("last_id"),
            dsum(F.col("value"), "total_value"),
        )
    )


@query(
    "count_distinct",
    oracle="""
SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
FROM lineitem GROUP BY l_returnflag
""",
)
def q_count_distinct(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
    )


@query("approx_count_distinct")  # approximate — rows-only check by design
def q_approx_distinct(spark, sf_dir):
    """A5 — sketch-based distinct (the 100 TB path where exact distinct
    would shuffle every key)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        )
    )


@query(
    "cube_rollup",
    oracle=f"""
SELECT l_returnflag, l_linestatus, {_dsum_sql('l_quantity', 'sum_qty')},
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q_cube(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(dsum(F.col("l_quantity"), "sum_qty"), F.count("*").alias("n"))
    )


@query(
    "pivot_conditional_agg",
    oracle=f"""
SELECT l_returnflag,
       {_dsum_sql("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 'qty_open')},
       {_dsum_sql("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 'qty_fulfilled')}
FROM lineitem GROUP BY l_returnflag
""",
)
def q_pivot(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        dsum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")), "qty_open"),
        dsum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")), "qty_fulfilled"),
    )


# ---------------------------------------------------------------------------
# §2.5 window functions
# ---------------------------------------------------------------------------


@query(
    "topk_per_group",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
  FROM orders) WHERE rn <= 3
""",
)
def q_topk_per_group(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "lag_lead_gaps",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(datediff('day',
            CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
            CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
FROM orders
""",
)
def q_lag_lead(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate")).over(w).cast("date"),
        )
        .cast("long")
        .alias("days_since_prev"),
    )


@query(
    "running_total",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
FROM orders
""",
)
def q_running_total(spark, sf_dir):
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


@query(
    "rank_dense_rank",
    oracle="""
SELECT s_suppkey, s_name,
       CAST(rank() OVER (ORDER BY s_acctbal DESC) AS BIGINT) AS bal_rank,
       CAST(dense_rank() OVER (ORDER BY s_acctbal DESC) AS BIGINT) AS bal_dense_rank
FROM supplier
""",
)
def q_rank(spark, sf_dir):
    w = Window.orderBy(F.col("s_acctbal").desc())
    return t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
    )


@query(
    "sessionize",
    oracle="""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR datediff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(event_id) AS BIGINT) AS first_event
FROM s GROUP BY user_id, session_id
""",
)
def q_sessionize(spark, sf_dir):
    """Sessionization: gap > 30 min starts a new session. Both window
    passes order by (ts, event_id) — keying the cumulative sum on
    event_id alone would silently depend on ids arriving in time order,
    a trap on real data even though this fixture happens to satisfy it."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(wc).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"), F.min("event_id").alias("first_event"))
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / limits  +  §2.7 set ops
# ---------------------------------------------------------------------------


@query(
    "orderby_limit_topk",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
)
def q_top10(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "offset_fetch",
    oracle="SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100",
)
def q_offset_fetch(spark, sf_dir):
    """O2 — OFFSET/FETCH pagination (the reference's scan idiom,
    TableToDbRowFn.java:82-89) as a declarative query."""
    return (
        t(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .offset(100)
        .limit(50)
        .select("o_orderkey", "o_custkey")
    )


@query(
    "union_dead_letters",
    oracle="""
SELECT o_orderkey, 'high_value_fail' AS reason FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 300000
UNION ALL
SELECT o_orderkey, 'stale_open' AS reason FROM orders
WHERE o_orderstatus = 'O' AND o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
""",
)
def q_union(spark, sf_dir):
    """U1 — dead-letter union (DBImportPipeline.java:148-162)."""
    orders = t(spark, sf_dir, "orders")
    a = orders.where(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 300000)
    ).select("o_orderkey", F.lit("high_value_fail").alias("reason"))
    b = orders.where(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_orderdate") < F.lit("1996-06-01").cast("timestamp"))
    ).select("o_orderkey", F.lit("stale_open").alias("reason"))
    return a.unionByName(b)


@query(
    "intersect_except",
    oracle="""
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
""",
)
def q_intersect(spark, sf_dir):
    rich = t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000).select("c_custkey")
    open_cust = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return rich.intersect(open_cust)


@query(
    "except_distinct",
    oracle="""
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders
""",
)
def q_except(spark, sf_dir):
    all_cust = t(spark, sf_dir, "customer").select("c_custkey")
    with_orders = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return all_cust.subtract(with_orders)  # EXCEPT DISTINCT semantics


# ---------------------------------------------------------------------------
# §2.8 scalar functions
# ---------------------------------------------------------------------------


@query(
    "string_functions",
    oracle="""
SELECT c_custkey, lower(c_name) AS name_lower, substring(c_name, 1, 8) AS name_prefix,
       concat_ws('|', c_mktsegment, c_name) AS tagged,
       replace(c_name, 'Customer', 'Cst') AS renamed,
       CAST(length(c_name) AS BIGINT) AS name_len,
       regexp_replace(c_name, '[0-9]+', '#') AS name_masked
FROM customer
""",
)
def q_strings(spark, sf_dir):
    """F1/F3/F5 family — sanitation-style string ops as query functions."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("name_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("tagged"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cst")).alias("renamed"),
        F.length("c_name").cast("long").alias("name_len"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_masked"),
    )


@query(
    "date_functions",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(month(o_orderdate) AS BIGINT) AS order_month,
       strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_day,
       CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_epoch95,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month_start
FROM orders
""",
)
def q_dates(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").alias("due_day"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch95"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("order_month_start"),
    )


@query(
    "json_functions",
    oracle="""
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 80
""",
)
def q_json(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_id", k.alias("k")).where(F.col("k") >= 80)


@query(
    "binary_base64_md5",
    oracle="""
SELECT c_custkey, to_base64(encode(c_name)) AS name_b64, md5(c_name) AS name_md5,
       CAST(octet_length(encode(c_name)) AS BIGINT) AS n_bytes
FROM customer
""",
)
def q_binary(spark, sf_dir):
    """F2 — base64 (the IMAGE-column rule, BigQueryTableRowDoFn.java:42-46)
    + digest + byte length on binary payloads."""
    c = t(spark, sf_dir, "customer")
    payload = F.encode(F.col("c_name"), "UTF-8")
    return c.select(
        "c_custkey",
        F.base64(payload).alias("name_b64"),
        F.md5(payload).alias("name_md5"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


@query(
    "case_arithmetic",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_discount >= 0.08 THEN 'deep' WHEN l_discount >= 0.04 THEN 'mid' ELSE 'low' END AS disc_band,
       CAST(ROUND(l_extendedprice * l_discount * 100, 0) AS BIGINT) / 100.0 AS discount_amt,
       CAST(l_orderkey % 7 AS BIGINT) AS bucket7,
       ABS(l_extendedprice - 50000.0) AS dist_from_50k
FROM lineitem
""",
)
def q_case_arith(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_discount") >= 0.08, "deep")
        .when(F.col("l_discount") >= 0.04, "mid")
        .otherwise("low")
        .alias("disc_band"),
        # ROUND-to-2-decimals via integer quantization: round(x*100) is
        # the same double op on both engines, and the integer divide by
        # 100.0 is deterministic — unlike decimal downscale casts, whose
        # tie handling differs across engines.
        (
            F.round(F.col("l_extendedprice") * F.col("l_discount") * 100, 0).cast("long")
            / 100.0
        ).alias("discount_amt"),
        (F.col("l_orderkey") % 7).cast("long").alias("bucket7"),
        F.abs(F.col("l_extendedprice") - 50000.0).alias("dist_from_50k"),
    )


# ---------------------------------------------------------------------------
# §2.9 tokenization (T1-T4) — round-trip + format-preservation oracles
# ---------------------------------------------------------------------------

_FIELD_TEMPLATE = DeidTemplate(
    name="harness_field",
    key=HARNESS_KEY,
    field_transforms=(FieldTransform(fields=("c_name",), alphabet="ALPHA_NUMERIC"),),
)

_INSPECT_TEMPLATE = DeidTemplate(
    name="harness_inspect",
    key=HARNESS_KEY,
    info_type_transforms=(
        InfoTypeTransform(fields=("text2",), info_types=("PHONE_NUMBER",), surrogate="PHONE"),
    ),
)


@query(
    "tokenize_roundtrip",
    oracle="SELECT c_custkey, c_name AS name_rt FROM customer",
)
def q_tokenize_roundtrip(spark, sf_dir):
    """T1→T2 — deidentify then reidentify restores the source exactly
    (the invertibility contract, SURVEY.md §7.4.1)."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    tokenized = deidentify(c, _FIELD_TEMPLATE)
    restored = reidentify(tokenized, _FIELD_TEMPLATE)
    return restored.select("c_custkey", F.col("c_name").alias("name_rt"))


@query(
    "tokenize_format_preserved",
    oracle="""
SELECT c_custkey, CAST(length(c_name) AS BIGINT) AS tok_len FROM customer
""",
)
def q_tokenize_format(spark, sf_dir):
    """FPE format preservation: token length == source length, provable
    via oracle without revealing tokens."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    tokenized = deidentify(c, _FIELD_TEMPLATE)
    return tokenized.select("c_custkey", F.length("c_name").cast("long").alias("tok_len"))


@query(
    "inspect_surrogate_roundtrip",
    oracle="SELECT doc_id, text || ' call 647-780-3777 now' AS text2 FROM documents",
)
def q_inspect_roundtrip(spark, sf_dir):
    """T4 — infoType inspect transform: PHONE_NUMBER found in free text,
    FPE'd under a surrogate annotation, then re-identified back
    (README.md:283-339 flow with the planted-PII fixture shape)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), F.lit(" call 647-780-3777 now")).alias("text2")
    )
    deid = deidentify(d, _INSPECT_TEMPLATE)
    reid = reidentify(deid, _INSPECT_TEMPLATE)
    return reid.select("doc_id", "text2")


@query(
    "reid_pipeline",
    oracle="""
SELECT c_custkey AS id, c_name AS holder_name, c_acctbal
FROM customer
WHERE c_custkey % 3 = 0 AND c_acctbal > 1000
GROUP BY 1, 2, 3
""",
)
def q_reid_pipeline(spark, sf_dir):
    """The reid pipeline as ONE unit (plans/reid_job.py:29): tokenized
    table → SQL query (the reference's default-query shape: projection +
    CAST filter + GROUP BY dedup) → re-identify → column rename map.
    FPE invertibility makes the oracle the same query over the ORIGINAL
    table: grouping on tokens partitions rows identically (FPE is
    injective) and reidentify restores the source values exactly."""
    from .config import ReidJobOptions
    from .plans.reid_job import run_reid

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    deidentify(c, _FIELD_TEMPLATE).createOrReplaceTempView("harness_tok_customer")
    registry = TemplateRegistry()
    registry.register(_FIELD_TEMPLATE)
    options = ReidJobOptions(
        query=(
            "SELECT c_custkey, c_name, c_acctbal FROM harness_tok_customer "
            "WHERE c_custkey % 3 = 0 AND c_acctbal > 1000 "
            "GROUP BY c_custkey, c_name, c_acctbal"
        ),
        deid_template=_FIELD_TEMPLATE.name,
        column_map={"c_custkey": "id", "c_name": "holder_name"},
    )
    return run_reid(spark, options, templates=registry)


@query(
    "compat_stringify",
    oracle="""
SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name AS c_name,
       CAST(c_nationkey AS VARCHAR) AS c_nationkey,
       CAST(c_acctbal AS VARCHAR) AS c_acctbal, c_mktsegment AS c_mktsegment
FROM customer
""",
)
def q_compat_stringify(spark, sf_dir):
    """F3 compat mode — every value stringified
    (BigQueryTableRowDoFn.java:40; SURVEY.md §1.2 quirk table)."""
    from .functions.rowshape import stringify_compat

    return stringify_compat(t(spark, sf_dir, "customer"))


# ---------------------------------------------------------------------------
# §2.10/§2.12 streaming + batch windowed aggregation
# ---------------------------------------------------------------------------

_WINDOW_ORACLE = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, CAST(count(*) AS BIGINT) AS n, {_dsum_sql('value', 'total_value')}
FROM events GROUP BY 1, 2
"""


@query("batch_window_agg", oracle=_WINDOW_ORACLE)
def q_batch_window(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "total_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query("streaming_window_agg", oracle=_WINDOW_ORACLE)
def q_streaming_window(spark, sf_dir):
    """W-EXT — the same aggregation executed as a real Structured
    Streaming query (watermark + tumbling window + memory sink);
    deterministic, so it shares the batch oracle."""
    return windowed_event_counts(spark, os.path.join(sf_dir, "events.parquet"))


@query(
    "streaming_sessionize",
    oracle="""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR datediff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(event_id) AS BIGINT) AS first_event
FROM s GROUP BY user_id, session_id
""",
)
def q_streaming_sessionize(spark, sf_dir):
    """W-EXT — custom stateful streaming operator: gap sessionization
    via applyInPandasWithState with event-time timeouts. Deterministic
    (same sessions regardless of micro-batching), so it hash-checks
    against the batch window-function oracle."""
    from .streaming.jobs import stateful_sessionize

    return stateful_sessionize(spark, os.path.join(sf_dir, "events.parquet"))


@query(
    "streaming_stream_join",
    oracle="""
SELECT p.user_id, CAST(c.event_id AS BIGINT) AS left_event,
       CAST(p.event_id AS BIGINT) AS right_event, p.value AS right_value
FROM events c JOIN events p ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
""",
)
def q_streaming_stream_join(spark, sf_dir):
    """W-EXT — watermarked stream-stream interval join (clicks to the
    purchases they convert to within the hour); the inner join emits
    exactly the batch join's pairs, so it shares a plain SQL oracle."""
    from .streaming.jobs import stream_stream_interval_join

    return stream_stream_interval_join(spark, os.path.join(sf_dir, "events.parquet"))


@query(
    "streaming_left_join",
    oracle="""
SELECT c.user_id, CAST(c.event_id AS BIGINT) AS left_event,
       CAST(p.event_id AS BIGINT) AS right_event, p.value AS right_value
FROM events c LEFT JOIN events p
  ON c.user_id = p.user_id AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click'
""",
)
def q_streaming_left_join(spark, sf_dir):
    """W-EXT — watermarked stream-stream LEFT OUTER interval join:
    unmatched clicks are null-extended only once the watermark proves
    no purchase can still arrive (sentinel-flushed on the finite
    fixture), so the emitted set equals the batch LEFT JOIN oracle."""
    from .streaming.jobs import stream_stream_left_join

    return stream_stream_left_join(spark, os.path.join(sf_dir, "events.parquet"))


@query(
    "streaming_full_join",
    oracle="""
SELECT coalesce(c.user_id, p.user_id) AS user_id,
       CAST(c.event_id AS BIGINT) AS left_event,
       CAST(p.event_id AS BIGINT) AS right_event, p.value AS right_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
""",
)
def q_streaming_full_join(spark, sf_dir):
    """W-EXT — watermarked stream-stream FULL OUTER interval join:
    unmatched clicks AND unmatched purchases are null-extended once the
    watermark proves no partner can arrive; equals the batch FULL JOIN
    oracle on the finite fixture."""
    from .streaming.jobs import stream_stream_full_join

    return stream_stream_full_join(spark, os.path.join(sf_dir, "events.parquet"))


@query(
    "streaming_dedup",
    oracle="""
SELECT event_id, user_id, event_type FROM events
""",
)
def q_streaming_dedup(spark, sf_dir):
    """W-EXT — exactly-once over at-least-once delivery: the stream is
    staged with every event delivered twice; streaming dropDuplicates
    on event_id restores exactly the original set, so the oracle is the
    plain table."""
    from .streaming.jobs import streaming_dedup_events

    return streaming_dedup_events(
        spark, os.path.join(sf_dir, "events.parquet"), replays=2
    )


_STREAM_STATIC_SQL = f"""
SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
       CAST(count(*) AS BIGINT) AS n,
       {_dsum_sql('value', 'total_value')}
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY 1
"""


@query("streaming_static_join", oracle=_STREAM_STATIC_SQL)
def q_streaming_static_join(spark, sf_dir):
    """W-EXT — stream-static enrichment join: micro-batches of the
    event stream join a static customer dimension (broadcast,
    re-planned per batch, no state), rolled up per market segment in
    complete mode. Oracle is the identical batch LEFT JOIN."""
    from .streaming.jobs import stream_static_segment_rollup

    return stream_static_segment_rollup(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        t(spark, sf_dir, "customer"),
    )


# ---------------------------------------------------------------------------
# §2.12 LLM-data ops: dedup / similarity / text / multimodal
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, text FROM documents GROUP BY text",
)
def q_dedup_exact(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, keys=["text"], id_col="doc_id")


@query(
    "dedup_fingerprint",
    oracle="""
SELECT md5(text) AS fingerprint, CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS keeper
FROM documents GROUP BY md5(text)
""",
)
def q_dedup_fingerprint(spark, sf_dir):
    d = dedup.content_fingerprint(t(spark, sf_dir, "documents"), ["text"])
    return d.groupBy("fingerprint").agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper")
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
sh AS (
  SELECT DISTINCT d.doc_id, substring(d.text, CAST(g.i AS INTEGER), 5) AS shingle
  FROM docs d JOIN generate_series(1, 4000) g(i) ON g.i <= length(d.text) - 4
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(c / (sa.n + sb.n - c), 6) AS jaccard
FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id JOIN sizes sb ON inter.id_b = sb.doc_id
WHERE ROUND(c / (sa.n + sb.n - c), 6) >= 0.35
""",
)
def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (restricted to doc_id<200 so
    the quadratic oracle stays cheap; the engine path itself is the
    inverted-index join that scales)."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return dedup.ngram_jaccard_pairs(d, "text", "doc_id", n=5, threshold=0.35)


@query(
    "dedup_containment",
    oracle="""
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
sh AS (
  SELECT DISTINCT d.doc_id, substring(d.text, CAST(g.i AS INTEGER), 5) AS shingle
  FROM docs d JOIN generate_series(1, 4000) g(i) ON g.i <= length(d.text) - 4
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_sub, b.doc_id AS id_super, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_sub, id_super, ROUND(c / s.n, 6) AS containment
FROM inter JOIN sizes s ON inter.id_sub = s.doc_id
WHERE ROUND(c / s.n, 6) >= 0.8
""",
)
def q_dedup_containment(spark, sf_dir):
    """EXT — asymmetric n-gram containment (dedup.
    ngram_containment_pairs): |grams(sub) ∩ grams(super)| / |grams(sub)|
    — catches a short document quoted inside a long one, where Jaccard
    stays below any threshold (Broder's second resemblance axis). Same
    inverted-index shape and doc_id<200 oracle restriction as the
    Jaccard twin."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return dedup.ngram_containment_pairs(d, "text", "doc_id", n=5, threshold=0.8)


@query(
    "dedup_paragraphs",
    oracle="""
WITH p AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS para,
         generate_subscripts(str_split(text, ' '), 1) AS pos
  FROM documents
),
f AS (SELECT doc_id, para, min(pos) AS pos FROM p GROUP BY doc_id, para)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       string_agg(para, ' ' ORDER BY pos) AS text
FROM f GROUP BY doc_id
""",
)
def q_dedup_paragraphs(spark, sf_dir):
    """Within-document repetition removal (Gopher's within-doc
    complement, operators/text.py:drop_repeated_paragraphs): keep the
    first occurrence of each distinct segment, reassemble in order.
    Exercised at word granularity — the fixture has no paragraph
    breaks, and word-level dedup runs the identical machinery with an
    exactly-expressible oracle; the blank-line default is pinned by a
    planted-repetition pytest."""
    d = t(spark, sf_dir, "documents")
    return text_ops.drop_repeated_paragraphs(d, "text", "doc_id", sep=" ")


@query(
    "dedup_substring",
    oracle="""
WITH pos AS (
  SELECT doc_id, text,
         unnest(generate_series(1, length(text) - 39)) AS pos
  FROM documents WHERE length(text) >= 40
),
grams AS (
  SELECT doc_id, pos, substr(text, CAST(pos AS INT), 40) AS g FROM pos
),
dup AS (SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id)),
hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
islands AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(MIN(pos) AS BIGINT) AS dup_start,
       CAST(MAX(pos) + 39 AS BIGINT) AS dup_end
FROM islands GROUP BY doc_id, grp
""",
)
def q_dedup_substring(spark, sf_dir):
    """Exact substring-level dedup: maximal character runs (>= 40
    chars) shared verbatim across documents — the suffix-array-style
    operator for training-data curation, as stride-1 grams + two
    shuffles (operators/dedup.py:duplicated_substring_spans)."""
    d = t(spark, sf_dir, "documents")
    return dedup.duplicated_substring_spans(d, "text", "doc_id", min_len=40)


@query("dedup_minhash_lsh")  # LSH recall < 1 by construction — rows-only
def q_minhash(spark, sf_dir):
    """Production near-dup config: MinHash over word 3-shingles (Broder
    w-shingling), 64 hashes, 16 bands. Word shingles keep background
    similarity between unrelated documents near 0, so the banded
    equi-join passes ~true-near-dup candidates, not a quadratic soup
    (char 5-grams over this word-soup corpus give unrelated pairs
    Jaccard ≈0.3, which no banding can separate from a 0.35 threshold).
    Containment vs exact Jaccard is pinned in tests/test_llm_ops.py."""
    d = t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(
        d, "text", "doc_id", threshold=0.35, shingle_n=3, shingle_unit="word"
    )


@query("dedup_incremental_minhash")  # LSH + signature estimate — rows-only
def q_dedup_incremental_minhash(spark, sf_dir):
    """Batch-ingest near-dup dedup: every 10th document plays the
    arriving batch (plus a re-keyed copy of corpus doc 1 as a planted
    near-dup); the standing corpus exists only as its MinHash signature
    index (the warehouse-persistable artifact — fixed-width mh_* rows,
    corpus text never re-read). Band equi-join against the index, then
    the component-agreement Jaccard estimate over candidates. Subset-of
    full-corpus-LSH and index round-trip pinned in tests."""
    d = t(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 10 != 0)
    new = d.where(F.col("doc_id") % 10 == 0).unionByName(
        d.where(F.col("doc_id") == 1).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    index = dedup.minhash_signatures(
        corpus, "text", "doc_id", num_hashes=64, shingle_n=3, shingle_unit="word"
    )
    return dedup.incremental_minhash_pairs(
        new, index, "text", "doc_id",
        threshold=0.35, bands=16, shingle_n=3, shingle_unit="word",
    )


@query("incremental_curation")  # end-to-end batch-ingest composition — rows-only
def q_incremental_curation(spark, sf_dir):
    """Steady-state training-data ingest, END TO END: new batch →
    exact fingerprint check vs the standing corpus → near-dup check vs
    the PERSISTED MinHash signature index — written to and read back
    from the warehouse sink INSIDE the query, because the index is the
    artifact a real pipeline keeps between batches (fixed-width mh_*
    rows; corpus text is never re-read) → benchmark decontamination →
    sequence packing of the survivors.

    Deterministic plants, one per stage: a re-keyed verbatim corpus
    doc (exact stage drops it), a re-keyed corpus doc with an appended
    tail (not byte-identical, so only the MinHash stage catches it),
    and a re-keyed verbatim benchmark doc (survives both dedup stages
    — the bench set is in neither the fingerprint set nor the index —
    and falls to decontamination). Per-stage drops pinned in
    tests/test_llm_ops.py; deterministic synth keeps rows-only stable."""
    from .operators.decontam import bench_gram_index, decontaminate_incremental
    from .operators.packing import pack_sequences

    d = t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 10 == 5)
    corpus = d.where((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 5))
    rekey = lambda df, off: df.withColumn("doc_id", F.col("doc_id") + F.lit(off))
    new = (
        d.where(F.col("doc_id") % 10 == 0)
        .unionByName(rekey(corpus.where(F.col("doc_id") == 1), 100000))
        .unionByName(
            rekey(corpus.where(F.col("doc_id") == 2), 200000).withColumn(
                "text", F.concat(F.col("text"), F.lit(" appended tail marker"))
            )
        )
        .unionByName(rekey(bench.where(F.col("doc_id") == 5), 300000))
    )

    # stage 1 — exact: fingerprint check vs the corpus, lowest id wins.
    # Each stage's survivors feed MULTIPLE downstream branches (the
    # near-dup signing AND the anti-join left side), so cut the plan
    # with a lazy localCheckpoint per stage — without it the whole
    # upstream tree re-executes once per consumer branch.
    survivors = dedup.incremental_dedup(new, corpus, ["text"], "doc_id").localCheckpoint(
        eager=False
    )

    # stage 2 — near-dup: the index round-trips through the warehouse
    index = dedup.minhash_signatures(
        corpus, "text", "doc_id", num_hashes=64, shingle_n=3, shingle_unit="word"
    )
    index = scratch_roundtrip(index, sf_dir, "minhash_index", memo="corpus_mh")
    near = dedup.incremental_minhash_pairs(
        survivors, index, "text", "doc_id",
        threshold=0.35, bands=16, shingle_n=3, shingle_unit="word",
    ).select(F.col("new_id").alias("doc_id")).distinct()
    survivors = survivors.join(near, "doc_id", "left_anti").localCheckpoint(eager=False)

    # stage 3 — decontaminate vs the held-out benchmark slice, probing
    # the PERSISTED bench-gram index (like the MinHash index above, the
    # artifact a real pipeline keeps between batches: bench text is
    # grammed once at freeze time, never re-read per ingest)
    grams = scratch_roundtrip(
        bench_gram_index(bench, "text", "doc_id", n=3), sf_dir, "bench_grams",
        memo="bench_mod10_5_n3",
    )
    survivors = decontaminate_incremental(
        survivors, grams, "text", "doc_id", n=3, min_hits=3, num_partitions=32
    )

    # stage 4 — pack into fixed token budgets per source stream
    return pack_sequences(survivors, F.col("n_chars"), 4096).select(
        "doc_id", "source", "n_tokens", "seq_id", "seq_offset"
    )


@query("dedup_incremental_two_batch")  # multi-batch index maintenance — rows-only
def q_dedup_incremental_two_batch(spark, sf_dir):
    """Two consecutive ingest batches against a MAINTAINED index — the
    steady state the single-batch queries only approximate: batch 1
    (doc_id%10==0) is screened against the corpus index, its survivors'
    signatures merge INTO the index (dedup.merge_signature_index), and
    batch 2 (doc_id%10==9, plus a planted tail-modified copy of a
    BATCH-1 document) is screened against the updated index. The plant
    can only be caught because the index grew — its source is in
    neither the original corpus nor batch 2. Output: batch-2 flags;
    the cross-batch catch is pytest-pinned."""
    d = t(spark, sf_dir, "documents")
    corpus = d.where((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 9))
    batch1 = d.where(F.col("doc_id") % 10 == 0)
    batch2 = d.where(F.col("doc_id") % 10 == 9).unionByName(
        batch1.where(F.col("doc_id") == 10)
        .withColumn("doc_id", F.col("doc_id") + 500000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" trailing batch marker")))
    )
    kw = dict(num_hashes=64, shingle_n=3, shingle_unit="word")
    jkw = dict(threshold=0.35, bands=16, shingle_n=3, shingle_unit="word")
    index = dedup.minhash_signatures(corpus, "text", "doc_id", **kw)
    b1_flags = dedup.incremental_minhash_pairs(
        batch1, index, "text", "doc_id", **jkw
    ).select(F.col("new_id").alias("doc_id")).distinct()
    survivors1 = batch1.join(b1_flags, "doc_id", "left_anti")
    index = dedup.merge_signature_index(
        index, dedup.minhash_signatures(survivors1, "text", "doc_id", **kw)
    ).localCheckpoint(eager=False)
    return dedup.incremental_minhash_pairs(batch2, index, "text", "doc_id", **jkw)


@query("streaming_incremental_neardup")  # stream-vs-index LSH — rows-only
def q_streaming_incremental_neardup(spark, sf_dir):
    """W-EXT — streaming near-dup detection against the persisted
    MinHash index: the new batch (every 10th doc + a planted copy of
    corpus doc 1) arrives as one micro-batch (a one-partition input)
    that runs the EXACT batch operator via foreachBatch (the streaming
    idiom for
    reusing a batch stage unchanged — and the fast path: the batch
    signer is whole-stage codegen'd where row-wise HOF signing
    evaluates interpreted). Output equals the batch
    incremental_minhash_pairs on the same data (pytest-pinned), so the
    streaming and batch ingest paths are interchangeable; the static
    index is materialized once, never re-signed per micro-batch."""
    from .streaming.jobs import streaming_incremental_neardup

    d = t(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 10 != 0)
    new = d.where(F.col("doc_id") % 10 == 0).unionByName(
        d.where(F.col("doc_id") == 1).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    index = dedup.minhash_signatures(
        corpus, "text", "doc_id", num_hashes=64, shingle_n=3, shingle_unit="word"
    )
    return streaming_incremental_neardup(
        spark, new.repartition(1), index,
        threshold=0.35, bands=16, shingle_n=3, shingle_unit="word",
    )


@query("streaming_decontam")  # stream-vs-bench-gram-index — rows-only
def q_streaming_decontam(spark, sf_dir):
    """W-EXT — streaming benchmark decontamination against the
    persisted bench-gram index: the ingest batch (the %20==1 slice + a
    planted verbatim benchmark doc) arrives as one micro-batch (a
    one-partition input) that runs the batch incremental_contamination_pairs
    operator unchanged via foreachBatch, probing the index built once
    from the %20==0 benchmark slice. The decontamination twin of
    streaming_incremental_neardup — with it, the full curation
    pipeline's screening stages are available in BOTH ingestion modes
    (pytest-pinned ≡ batch)."""
    from .operators.decontam import bench_gram_index
    from .streaming.jobs import streaming_decontam

    d = t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 20 == 0)
    new = d.where(F.col("doc_id") % 20 == 1).unionByName(
        bench.orderBy("doc_id").limit(1).withColumn(
            "doc_id", F.col("doc_id") + 900000
        )
    )
    index = bench_gram_index(bench, "text", "doc_id", n=3)
    return streaming_decontam(spark, new.repartition(1), index, n=3, min_hits=3)


def _streaming_curation_survivors(spark, sf_dir):
    """Plants + artifacts + the streaming screen, shared by
    streaming_curation (the screen itself) and
    streaming_to_batch_packing (the batch hand-off on its
    survivors)."""
    from .operators.decontam import bench_gram_index
    from .operators.dedup import content_fingerprint
    from .streaming.jobs import streaming_curation

    d = t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 10 == 5)
    corpus = d.where((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 5))
    rekey = lambda df, off: df.withColumn("doc_id", F.col("doc_id") + F.lit(off))
    new = (
        d.where(F.col("doc_id") % 10 == 0)
        .unionByName(rekey(corpus.where(F.col("doc_id") == 1), 100000))
        .unionByName(
            rekey(corpus.where(F.col("doc_id") == 2), 200000).withColumn(
                "text", F.concat(F.col("text"), F.lit(" appended tail marker"))
            )
        )
        .unionByName(rekey(bench.where(F.col("doc_id") == 5), 300000))
    )
    fingerprints = content_fingerprint(corpus, ["text"]).select("fingerprint")
    index = dedup.minhash_signatures(
        corpus, "text", "doc_id", num_hashes=64, shingle_n=3, shingle_unit="word"
    )
    grams = bench_gram_index(bench, "text", "doc_id", n=3)
    return streaming_curation(
        spark, new.repartitionByRange(2, "doc_id"), fingerprints, index, grams,
        threshold=0.35, bands=16, shingle_n=3, shingle_unit="word", min_hits=3,
    ).select("doc_id", "source", "n_chars")


@query("streaming_curation")  # full screen, streaming form — rows-only
def q_streaming_curation(spark, sf_dir):
    """W-EXT — the full curation SCREEN in streaming form: each
    micro-batch (one per input partition, two here) runs exact-fingerprint
    dedup, near-dup vs the persisted MinHash index, and
    decontamination vs the persisted bench-gram index — the same
    operators incremental_curation composes in batch, via foreachBatch
    against once-checkpointed artifacts. Admitted fingerprints
    accumulate across micro-batches (first arrival wins), so a
    duplicate arriving later in the stream is dropped exactly as the
    batch path's lowest-id-wins would. Same plants as
    incremental_curation: survivors exclude the verbatim corpus copy
    (exact stage), the tail-edited copy (near-dup stage), and the
    benchmark copy (decontam stage) — pinned ≡ the batch stages in
    pytest."""
    return _streaming_curation_survivors(spark, sf_dir)


@query("streaming_to_batch_packing")  # stream→batch hand-off — rows-only
def q_streaming_to_batch_packing(spark, sf_dir):
    """W-EXT — the full streaming→batch LOOP: the streaming curation
    screen's accumulated survivors hand off to BATCH sequence packing
    (packing.pack_sequences, 4096-char budget per source stream).
    Packing deliberately stays out of the stream — seq_id/seq_offset
    are a corpus-level layout decision over the ACCUMULATED survivor
    set (a per-micro-batch packer would renumber every time a batch
    lands), so the steady-state pipeline is screen-in-stream, pack-in-
    batch. Registered so the hand-off seam itself is swept: output is
    the packed layout of exactly the streaming screen's survivors,
    pytest-pinned ≡ packing the batch composition's survivors."""
    from .operators.packing import pack_sequences

    survivors = _streaming_curation_survivors(spark, sf_dir)
    return pack_sequences(survivors, F.col("n_chars"), 4096).select(
        "doc_id", "source", "n_tokens", "seq_id", "seq_offset"
    )


@query("bin_packed_sequences")  # greedy best-fit-decreasing — rows-only
def q_bin_packed_sequences(spark, sf_dir):
    """EXT — padding-MINIMIZING whole-document packing
    (packing.bin_pack_sequences): best-fit-decreasing bin packing
    (public 11/9-OPT heuristic) assigns every document to exactly one
    4096-char-budget sequence without splitting — the packing regime
    for trainers that refuse cross-document truncation, next to the
    zero-waste-but-splitting contiguous pack_sequences. Documents
    hash-shard deterministically (xxhash64) and each shard's greedy
    runs in one Arrow batch — the greedy is order-sequential, which is
    the honest reason this is applyInPandas and rows-only (no SQL
    oracle for an iterative heuristic). Pytest pins the exact
    assignment on a hand case, waste <= the contiguous-arrival
    baseline on a deterministic fixture, partitioning-independence,
    and the oversized-document own-bin contract."""
    from .operators.packing import bin_pack_sequences

    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return bin_pack_sequences(d, "n_chars", 4096, key_col="doc_id", n_shards=32)


@query("dedup_partial_overlap")  # chunk-level near-dup rollup — rows-only
def q_dedup_partial_overlap(spark, sf_dir):
    """EXT — partial-document near-dup (dedup.partial_overlap_pairs):
    document pairs sharing at least one near-duplicate word-aligned
    chunk — syndicated passages and lightly-edited quotes that keep
    whole-document Jaccard below any sane threshold. A planted
    "frankendoc" (the first 60 words of doc 3 + the last 60 of doc 8,
    planted at id 2^42 — outside any fixture id space) must surface
    against BOTH parents; whole-doc-misses-it pinned in tests."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    w3 = F.split(F.col("text"), " ")
    franken = (
        d.where(F.col("doc_id") == 3)
        .select(F.concat_ws(" ", F.slice(w3, 1, 60)).alias("_head"))
        .crossJoin(
            d.where(F.col("doc_id") == 8).select(
                F.concat_ws(
                    " ", F.slice(w3, F.greatest(F.size(w3) - 59, F.lit(1)), 60)
                ).alias("_tail")
            )
        )
        .select(
            # 2^42: inside the operator's [0, 2^43) id guard but far
            # beyond any fixture id space, so the plant can never
            # collide with a real document
            F.lit(1 << 42).cast("long").alias("doc_id"),
            F.concat_ws(" ", F.col("_head"), F.col("_tail")).alias("text"),
        )
    )
    return dedup.partial_overlap_pairs(d.unionByName(franken))


@query("dedup_simhash")  # banded Hamming candidates — rows-only
def q_simhash(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return dedup.simhash_neardup_pairs(d, "text", "doc_id", max_hamming=3)


@query(
    "decontaminate_overlap",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(ws[CAST(i AS BIGINT):CAST(i AS BIGINT)+2], ' ') AS g
  FROM w JOIN generate_series(1, 4000) g(i) ON i <= len(ws) - 2
),
tr AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
be AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
ov AS (
  SELECT tr.doc_id AS train_id, be.doc_id AS bench_id,
         CAST(count(*) AS BIGINT) AS overlap_ngrams
  FROM tr JOIN be ON tr.g = be.g GROUP BY 1, 2
)
SELECT train_id, bench_id, overlap_ngrams FROM ov WHERE overlap_ngrams >= 3
""",
)
def q_decontaminate_overlap(spark, sf_dir):
    """Benchmark decontamination (GPT-3-style exact n-gram overlap):
    every 20th document plays the held-out benchmark; training docs
    sharing >=3 distinct word 3-grams with a benchmark doc are flagged.
    The benchmark n-gram set broadcasts, so the training corpus is
    scanned once and never shuffled before the per-pair count."""
    from .operators.decontam import contamination_pairs

    d = t(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 20 != 0)
    bench = d.where(F.col("doc_id") % 20 == 0)
    return contamination_pairs(
        train, bench, "text", "doc_id", n=3, min_hits=3, num_partitions=32
    )


@query(
    "decontam_incremental",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(ws[CAST(i AS BIGINT):CAST(i AS BIGINT)+2], ' ') AS g
  FROM w JOIN generate_series(1, 4000) g(i) ON i <= len(ws) - 2
),
tr AS (SELECT * FROM sh WHERE doc_id % 20 = 1),
be AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
ov AS (
  SELECT tr.doc_id AS train_id, be.doc_id AS bench_id,
         CAST(count(*) AS BIGINT) AS overlap_ngrams
  FROM tr JOIN be ON tr.g = be.g GROUP BY 1, 2
)
SELECT train_id, bench_id, overlap_ngrams FROM ov WHERE overlap_ngrams >= 3
""",
)
def q_decontam_incremental(spark, sf_dir):
    """EXT — steady-state decontamination: the benchmark's n-gram
    digests are built ONCE (decontam.bench_gram_index), persisted
    through the warehouse sink, and the day's ingest batch (the %20==1
    slice here) probes the read-back index without ever re-reading the
    benchmark text (decontam.incremental_contamination_pairs — the
    symmetry partner of dedup_incremental_minhash). The oracle is the
    FULL overlap SQL restricted to the same batch: the incremental
    path hash-matches the from-scratch operator by construction."""
    from .operators.decontam import bench_gram_index, incremental_contamination_pairs

    d = t(spark, sf_dir, "documents")
    index = scratch_roundtrip(
        bench_gram_index(d.where(F.col("doc_id") % 20 == 0), "text", "doc_id", n=3),
        sf_dir,
        "bench_grams",
        memo="bench_mod20_0_n3",
    )
    return incremental_contamination_pairs(
        d.where(F.col("doc_id") % 20 == 1),
        index,
        "text",
        "doc_id",
        n=3,
        min_hits=3,
        num_partitions=32,
    )


@query(
    "contamination_spans",
    oracle="""
WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
be AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
bg AS (
  SELECT DISTINCT substr(b.text, CAST(i AS INT), 40) AS g
  FROM be b JOIN generate_series(1, 4000) s(i) ON i <= length(b.text) - 39
),
hits AS (
  SELECT t.doc_id, i AS pos
  FROM tr t JOIN generate_series(1, 4000) s(i) ON i <= length(t.text) - 39
  WHERE substr(t.text, CAST(i AS INT), 40) IN (SELECT g FROM bg)
),
islands AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits)
SELECT CAST(doc_id AS BIGINT) AS train_id,
       CAST(MIN(pos) AS BIGINT) AS dup_start,
       CAST(MAX(pos) + 39 AS BIGINT) AS dup_end
FROM islands GROUP BY doc_id, grp
""",
)
def q_contamination_spans(spark, sf_dir):
    """EXT — character-exact contamination audit
    (decontam.contamination_spans): maximal >= 40-char runs of training
    text that appear verbatim anywhere in the held-out benchmark slice
    (same %20 split as decontaminate_overlap) — WHAT leaked and WHERE,
    next to the n-gram-overlap drop decision. Cross-corpus digest
    probe, single traversal of the training gram stream."""
    from .operators.decontam import contamination_spans

    d = t(spark, sf_dir, "documents")
    return contamination_spans(
        d.where(F.col("doc_id") % 20 != 0),
        d.where(F.col("doc_id") % 20 == 0),
        "text",
        "doc_id",
        min_len=40,
    )


@query("tokenize_and_pack")  # BPE-true token budgets — rows-only by design
def q_tokenize_and_pack(spark, sf_dir):
    """EXT — the last mile of a training-data pipeline, end to end:
    learn BPE merges on the bounded 1% sample, tokenize the WHOLE
    corpus with them (text.bpe_encode, Arrow priority-loop path),
    count each document's TRUE subword tokens, and pack documents into
    1024-token training sequences per source stream
    (packing.pack_sequences) — packing by the tokenizer's own counts,
    not the synthetic n_tokens column, because budget overruns in real
    loaders come exactly from that gap. Output: (doc_id, source,
    n_tokens, seq_id, seq_offset) with n_tokens the BPE count."""
    from .operators.packing import pack_sequences
    from .operators.text import bpe_encode, bpe_learn

    d = t(spark, sf_dir, "documents")
    merges = bpe_learn(d.where(F.col("doc_id") % 100 == 0), num_merges=16)
    counts = (
        bpe_encode(d, merges, method="pandas")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bpe"))
    )
    docs = d.select("doc_id", "source").join(counts, "doc_id")
    return pack_sequences(docs, F.col("n_bpe"), 1024).select(
        "doc_id", "source", "n_tokens", "seq_id", "seq_offset"
    )


# the one SQL statement of the bigram-LM scorer — shared by the score
# and gate queries so the two oracles cannot silently diverge
_LM_SCORES_SQL = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
bg AS (
  SELECT doc_id, ws[CAST(i AS BIGINT)] AS w1, ws[CAST(i AS BIGINT)+1] AS w2
  FROM w JOIN generate_series(1, 4000) g(i) ON i <= len(ws) - 1
),
lm AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
  FROM bg WHERE doc_id % 10 = 1 GROUP BY 1, 2
  HAVING count(*) >= 2
),
ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM lm GROUP BY 1),
v AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
  FROM (SELECT w1 AS w FROM lm UNION ALL SELECT w2 FROM lm)
),
sc AS (
  SELECT b.doc_id,
         CAST(round(ln((CAST(COALESCE(l.c12, 0) AS DOUBLE) + 0.5) /
              (CAST(COALESCE(c.c1, 0) AS DOUBLE) + 0.5 * CAST(v.v AS DOUBLE)))
              * 1000000.0) AS BIGINT) AS lp
  FROM bg b
  LEFT JOIN lm l ON b.w1 = l.w1 AND b.w2 = l.w2
  LEFT JOIN ctx c ON b.w1 = c.w1
  CROSS JOIN v
  WHERE b.doc_id % 10 = 0
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(lp) AS BIGINT) AS logprob_micro,
       CAST(SUM(lp) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0)
         AS avg_logprob
FROM sc GROUP BY doc_id
"""


@query("lm_quality_scores", oracle=_LM_SCORES_SQL)
def q_lm_quality_scores(spark, sf_dir):
    """EXT — CCNet-style LM fluency filtering: a word-bigram LM with
    add-½ smoothing is trained on a bounded in-domain REFERENCE slice
    (%10==1 — CCNet trains its LM on a fixed reference corpus, e.g.
    Wikipedia, never the target corpus itself, so training cost stays
    FLAT as the target grows; same discipline as the bounded-sample
    BPE trainer), its count table persists through the warehouse sink
    (the model IS one (w1,w2,c) table — context totals and vocabulary
    derive from it at scoring time), and the incoming batch (%10==0)
    is scored under it (text.ngram_lm_scores). Per-bigram log-probs
    quantize to integer micro-logs before the per-doc sum, so the
    result is aggregation-order-independent and hash-matches the full
    SQL restatement. Low avg_logprob = improbable word transitions =
    the mangled/boilerplate docs a quality gate drops. min_count=2
    prunes singleton bigrams (standard LM pruning; pruned pairs fall
    back to the smoothed unseen path), keeping the model broadcast-
    sized; the oracle prunes and slices identically."""
    from .operators.text import ngram_lm_counts, ngram_lm_scores

    d = t(spark, sf_dir, "documents")
    lm = scratch_roundtrip(
        ngram_lm_counts(d.where(F.col("doc_id") % 10 == 1), min_count=2),
        sf_dir,
        "bigram_lm",
        memo="lm_mod10_1_mc2",
    )
    return ngram_lm_scores(d.where(F.col("doc_id") % 10 == 0), lm)


@query(
    "lm_quality_gate",
    oracle=f"""
WITH scored AS ({_LM_SCORES_SQL}),
th AS (SELECT quantile_cont(avg_logprob, 0.1) AS p10 FROM scored)
SELECT doc_id, n_bigrams, logprob_micro, avg_logprob,
       round(p10, 9) AS p10_threshold
FROM scored CROSS JOIN th
WHERE avg_logprob >= p10
""",
)
def q_lm_quality_gate(spark, sf_dir):
    """EXT — the quality GATE on top of the LM scorer: score the
    incoming batch under the persisted bigram LM and drop the bottom
    decile of fluency — the relative-threshold drop rule quality
    filters actually apply (an absolute logprob cut would need
    recalibration per domain). The decile boundary comes from ONE
    exact-percentile aggregate (percentile ≡ quantile_cont, the
    engine's pinned cross-engine interpolation) broadcast back as a
    1-row scalar attach and applied as a plain filter — the
    quantile_binning shape. NO global percent_rank window: the old
    rank form forced |corpus| scored rows through a single partition,
    which is exactly the shape that dies at 100 TB; the value
    threshold keeps the plan fully parallel (ties AT the boundary are
    kept in both engines by the >= comparison)."""
    from .operators.text import ngram_lm_counts, ngram_lm_scores

    d = t(spark, sf_dir, "documents")
    lm = scratch_roundtrip(
        ngram_lm_counts(d.where(F.col("doc_id") % 10 == 1), min_count=2),
        sf_dir,
        "bigram_lm",
        memo="lm_mod10_1_mc2",
    )
    scored = ngram_lm_scores(d.where(F.col("doc_id") % 10 == 0), lm)
    th = scored.agg(F.expr("percentile(avg_logprob, 0.1)").alias("_p10"))
    return (
        scored.crossJoin(F.broadcast(th))
        .where(F.col("avg_logprob") >= F.col("_p10"))
        .select(
            "doc_id",
            "n_bigrams",
            "logprob_micro",
            "avg_logprob",
            F.round(F.col("_p10"), 9).alias("p10_threshold"),
        )
    )


@query("bpe_merges")  # iterative vocab induction — rows-only by design
def q_bpe_merges(spark, sf_dir):
    """EXT — BPE tokenizer training over the corpus (text.bpe_learn,
    16 merges): the corpus is scanned ONCE into the word-frequency
    table; every merge round is one weighted adjacent-pair count over
    the VOCAB (not the corpus) plus a single-row driver argmax with
    deterministic tie-break. Output is the learned merge table —
    pinned against an independent pure-Python reference trainer in
    tests (the Sennrich worked example reproduces exactly)."""
    from .operators.text import bpe_learn

    return bpe_learn(t(spark, sf_dir, "documents"), num_merges=16)


@query("bpe_encode")  # learned-merge tokenization — rows-only by design
def q_bpe_encode(spark, sf_dir):
    """EXT — the tokenizer a training pipeline runs DAILY: merges are
    learned once on a 10% document sample (train-once), then the WHOLE
    corpus is encoded with them (encode-many: text.bpe_encode). Merge
    folds run over the distinct-word table (work ∝ vocabulary, not
    corpus) and the vocabulary-sized word→segments map broadcast-joins
    back to the exploded corpus. Output is the all-scalar token stream
    (doc_id, word_pos, tok_pos, token); both the JVM-fold and the
    Pandas priority-loop paths are pytest-pinned to the independent
    pure-Python tokenizer."""
    from .operators.text import bpe_encode, bpe_learn

    d = t(spark, sf_dir, "documents")
    # tokenizers train on a BOUNDED sample regardless of corpus size
    # (the 1% slice here): training cost stays flat as sf grows, and
    # only the encode side scales with the corpus — the same
    # train-small/encode-everything split real pipelines use. The
    # Arrow priority-loop encoder is the production path (measured
    # faster than the JVM fold chain from 16 merges up).
    merges = bpe_learn(d.where(F.col("doc_id") % 100 == 0), num_merges=16)
    return bpe_encode(d, merges, method="pandas")


@query(
    "heavy_hitter_terms",
    oracle="""
WITH words AS (
  SELECT w AS v
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
  WHERE w <> ''
), n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM words)
SELECT v AS value, CAST(count(*) AS BIGINT) AS n,
       round(CAST(count(*) AS DOUBLE) / CAST((SELECT total FROM n) AS DOUBLE), 9) AS share
FROM words GROUP BY v
HAVING CAST(count(*) AS DOUBLE) >= 0.02 * CAST((SELECT total FROM n) AS DOUBLE)
""",
)
def q_heavy_hitter_terms(spark, sf_dir):
    """EXT — exact 2%-heavy-hitter terms of the corpus word stream
    (profiling.heavy_hitters): two-pass bounded-memory Misra-Gries —
    O(capacity) state per task regardless of vocabulary size, shuffle
    carries at most tasks x capacity candidates instead of one partial
    per distinct value — then an exact candidate recount, so the
    result (and this oracle) is a plain exact frequency query. The
    fixture's rare term sits at ~0.08% share, so the threshold
    genuinely bites."""
    from .operators.profiling import heavy_hitters

    words = t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).where(F.col("w") != "")
    return heavy_hitters(words, "w", phi=0.02)


@query(
    "kcenter_diversity_sample",
    # greedy farthest-point is deterministic given exact distances, so
    # a recursive CTE replaying the same integer argmax picks is a
    # full hash oracle for the iterative driver loop
    oracle="""
WITH RECURSIVE q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000, 0) AS BIGINT)) AS qv
  FROM embeddings
), seed AS (
  SELECT vec_id, qv FROM q
  ORDER BY list_sum(list_transform(qv, x -> x * x)) DESC, vec_id ASC LIMIT 1
), pick(r, ids, qvs) AS (
  SELECT 1, [vec_id], [qv] FROM seed
  UNION ALL
  SELECT r + 1, list_append(ids, nxt.vec_id), list_append(qvs, nxt.qv)
  FROM pick, LATERAL (
    SELECT cand.vec_id, cand.qv FROM (
      SELECT q.vec_id, q.qv,
             min(list_sum(list_transform(range(1, len(q.qv) + 1),
               i -> (q.qv[i] - t.cqv[i]) * (q.qv[i] - t.cqv[i])))) AS md
      FROM q, unnest(pick.qvs) AS t(cqv)
      WHERE NOT list_contains(pick.ids, q.vec_id)
      GROUP BY q.vec_id, q.qv
    ) cand
    ORDER BY cand.md DESC, cand.vec_id ASC
    LIMIT 1
  ) nxt
  WHERE r < 12
), final AS (SELECT ids FROM pick ORDER BY r DESC LIMIT 1)
SELECT CAST(ids[i] AS BIGINT) AS vec_id, CAST(i AS BIGINT) AS pick_order
FROM final, unnest(range(1, len(ids) + 1)) AS s(i)
""",
)
def q_kcenter_diversity_sample(spark, sf_dir):
    """EXT — greedy k-center diversity selection over the embedding
    table (similarity.kcenter_sample, k=12): coverage-maximizing
    data-selection via farthest-point picks on EXACT int64 squared
    distances, so the iterative driver loop hash-matches a DuckDB
    recursive-CTE replay of the same discrete argmax sequence."""
    from .operators.similarity import kcenter_sample

    return kcenter_sample(t(spark, sf_dir, "embeddings"), k=12)


_EMB_EX = """
ex AS (
  SELECT vec_id,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000000, 0) AS BIGINT) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
norms AS (
  SELECT vec_id, sqrt(CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE)) AS nrm
  FROM ex GROUP BY vec_id
)
"""


@query(
    "embedding_neardup",
    oracle=f"""
WITH {_EMB_EX},
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(SUM(a.x * b.x) AS BIGINT) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 9) AS cosine
FROM dots JOIN norms na ON id_a = na.vec_id JOIN norms nb ON id_b = nb.vec_id
WHERE ROUND(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 9) >= 0.35
""",
)
def q_embedding_neardup(spark, sf_dir):
    """Oracle-checked EXACT path (the all-pairs verification oracle);
    the production scale path is `embedding_neardup_lsh` below."""
    e = t(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs_exact(e, threshold=0.35)


@query("embedding_neardup_lsh")  # sign-LSH candidates — recall pinned in pytest
def q_embedding_neardup_lsh(spark, sf_dir):
    """Production near-dup path: banded sign-LSH bucket join + exact
    rerank — no cross join at any scale. Output ⊆ the exact path by
    construction (candidates are exactly verified), so precision is 1.0.
    Recall on THIS fixture is bounded by the data, not the engine: the
    embeddings are isotropic random vectors, where threshold-0.35 pairs
    are statistically indistinguishable from noise for any sublinear
    scheme; recall ≥0.95 in LSH's actual operating regime (high-cosine
    near-dup clusters) is asserted in tests/test_llm_ops.py."""
    e = t(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(e, threshold=0.35, bands=16, bits_per_band=8)


@query("semantic_dedup")  # k-means cells are not SQL-expressible — rows-only
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup: k-means-cell the embedding space, compare only
    within-cell pairs exactly, keep one representative per connected
    component. Quadratic cost shrinks to n²/k; recall on planted
    clusters and pair-subset-of-exact are pinned in
    tests/test_llm_ops.py. Gate output is the kept id set (the corpus
    row minus its array column — scalar-sortable)."""
    e = t(spark, sf_dir, "embeddings")
    kept = similarity.semantic_dedup(e, threshold=0.35, n_cells=32)
    return kept.select("vec_id")


@query(
    "knn_bruteforce_topk",
    oracle=f"""
WITH {_EMB_EX},
dots AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid, CAST(SUM(q.x * c.x) AS BIGINT) AS dot
  FROM ex q JOIN ex c ON q.i = c.i
  WHERE q.vec_id < 20 AND q.vec_id != c.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, nid, ROUND(CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm), 9) AS cosine
  FROM dots JOIN norms nq ON qid = nq.vec_id JOIN norms nc ON nid = nc.vec_id
),
ranked AS (
  SELECT qid, nid, cosine,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rank
  FROM scored
)
SELECT qid, nid, rank, cosine FROM ranked WHERE rank <= 5
""",
)
def q_knn(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    queries_df = e.where(F.col("vec_id") < 20)
    return similarity.brute_force_topk(queries_df, e, k=5)


@query(
    "contrastive_mining",
    oracle=f"""
WITH {_EMB_EX},
dots AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid, CAST(SUM(q.x * c.x) AS BIGINT) AS dot
  FROM ex q JOIN ex c ON q.i = c.i
  WHERE q.vec_id < 20 AND q.vec_id != c.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, nid, ROUND(CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm), 9) AS cosine
  FROM dots JOIN norms nq ON qid = nq.vec_id JOIN norms nc ON nid = nc.vec_id
),
pos AS (
  SELECT qid, nid, cosine, 'positive' AS role,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid)
              AS BIGINT) AS rank
  FROM scored WHERE cosine >= 0.3
),
neg AS (
  SELECT qid, nid, cosine, 'hard_negative' AS role,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid)
              AS BIGINT) AS rank
  FROM scored WHERE cosine < 0.3
  QUALIFY rank <= 5
)
SELECT * FROM pos UNION ALL SELECT * FROM neg
""",
)
def q_contrastive_mining(spark, sf_dir):
    """EXT — contrastive-pair mining (similarity.
    mine_contrastive_pairs): per anchor, positives (cosine ≥ 0.3 on
    this isotropic fixture) plus the 5 hardest negatives — the most
    similar items BELOW the band, the near-misses that carry training
    signal for embedding models (DPR/RocketQA-style hard-negative
    mining, public technique). One scored pass split by predicate;
    int64-quantized exact cosine, so both bands hash-match the SQL
    restatement. At scale the scored stream swaps for IVF/LSH
    candidates with the same band-split; this exact form is the
    recall oracle."""
    e = t(spark, sf_dir, "embeddings")
    anchors = e.where(F.col("vec_id") < 20)
    return similarity.mine_contrastive_pairs(
        anchors, e, k_neg=5, pos_threshold=0.3
    )


@query(
    "embedding_outliers",
    oracle="""
WITH exl AS (
  SELECT vec_id, label,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000000, 0) AS BIGINT)
           AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
cent AS (
  SELECT label, i, CAST(SUM(x) AS BIGINT) AS s FROM exl GROUP BY 1, 2
),
cn AS (
  SELECT label, SUM(CAST(s AS HUGEINT) * s) AS ns FROM cent GROUP BY 1
),
dots AS (
  SELECT e.vec_id, e.label,
         SUM(CAST(e.x AS HUGEINT) * c.s) AS dot,
         SUM(CAST(e.x AS HUGEINT) * e.x) AS nv
  FROM exl e JOIN cent c ON e.label = c.label AND e.i = c.i
  GROUP BY 1, 2
),
scored AS (
  SELECT d.vec_id, d.label,
         ROUND(CAST(d.dot AS DOUBLE) /
               (sqrt(CAST(d.nv AS DOUBLE)) * sqrt(CAST(cn.ns AS DOUBLE))), 9)
           AS centroid_cosine
  FROM dots d JOIN cn ON d.label = cn.label
)
SELECT vec_id, label, centroid_cosine,
       CAST(row_number() OVER (
         PARTITION BY label ORDER BY centroid_cosine ASC, vec_id ASC
       ) AS BIGINT) AS rk
FROM scored QUALIFY rk <= 20
""",
)
def q_embedding_outliers(spark, sf_dir):
    """EXT — embedding-space outlier screening
    (similarity.embedding_group_outliers): each vector's cosine to its
    label-group centroid, bottom-20 per group — the distance-to-
    centroid quality filter (mislabeled/off-distribution items sit far
    from their cluster center; complement of SemDeDup's too-close
    screen). Centroids ride as UN-DIVIDED integer sum vectors (cosine
    is 1/n-scale-invariant), so every aggregation is an exact
    integer/decimal sum and the single final double expression
    hash-matches; the oracle uses HUGEINT where Spark uses
    decimal(38,0) — both exact, both rounding to the same double."""
    from .operators.similarity import embedding_group_outliers

    return embedding_group_outliers(t(spark, sf_dir, "embeddings"), k=20)


@query("knn_lsh_topk")  # approximate — recall tested vs brute force in pytest
def q_knn_lsh(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    queries_df = e.where(F.col("vec_id") < 20)
    return similarity.lsh_topk(queries_df, e, k=5, bands=16, bits_per_band=8)


@query("knn_ivf_incremental")  # persisted-index ANN ingest — rows-only
def q_knn_ivf_incremental(spark, sf_dir):
    """EXT — the ANN family's steady-state ingest loop, completing the
    persisted-artifact symmetry (MinHash index / bench-gram index / LM
    counts / IVF index): the quantizer + vector table build ONCE on
    the standing corpus (%10≠0), round-trip through the warehouse
    sink, the day's new vectors (%10==0) insert with the quantizer
    FROZEN (FAISS's add-after-train contract — assignments of old
    vectors never move), and the probe set searches the updated index
    without the corpus ever being re-read or re-quantized.
    Deterministic end-to-end (hash-picked quantizer sample, seeded
    init, stable tie-breaks); ≡-batch and insert≡rebuild pinned in
    pytest."""
    from .operators.similarity import (
        build_ivf_index,
        ivf_index_insert,
        ivf_topk_index,
    )

    e = t(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") % 10 != 0)
    batch = e.where(F.col("vec_id") % 10 == 0)
    cents, vecs = build_ivf_index(corpus, n_cells=32)
    cents = scratch_roundtrip(cents, sf_dir, "ivf_centroids", memo="ivf_cents")
    vecs = scratch_roundtrip(vecs, sf_dir, "ivf_vectors", memo="ivf_vecs")
    vecs = ivf_index_insert(vecs, cents, batch)
    queries_df = e.where(F.col("vec_id") < 20)
    return ivf_topk_index(queries_df, cents, vecs, k=5, nprobe=8)


@query("knn_pq_topk")  # approximate (quantization error) — recall in pytest
def q_knn_pq(spark, sf_dir):
    """ANN scale path #3: product quantization — the corpus compressed
    to 8 one-byte codes per vector, queries scanned against the code
    table with ADC lookup tables. Fully deterministic (seeded per-
    subspace k-means, stable tie-breaks)."""
    e = t(spark, sf_dir, "embeddings")
    books = similarity.train_pq_codebooks(e, n_subspaces=8, n_centroids=64)
    codes = similarity.pq_encode(e, books)
    queries_df = e.where(F.col("vec_id") < 20)
    return similarity.pq_topk(queries_df, codes, books, k=5)


@query("knn_ivf_topk")  # approximate — recall tested vs brute force in pytest
def q_knn_ivf(spark, sf_dir):
    """ANN scale path #2: IVF — k-means coarse quantizer trained on a
    deterministic sample, cell equi-join + exact rerank. Deterministic
    end-to-end (hash-picked training sample, seeded init, stable tie-
    breaks), so the rows-only gate check is stable across runs."""
    e = t(spark, sf_dir, "embeddings")
    queries_df = e.where(F.col("vec_id") < 20)
    return similarity.ivf_topk(queries_df, e, k=5, n_cells=32, nprobe=8)


def _occ_sql(padded: str, needle: str) -> str:
    n = len(needle)
    return f"CAST((length({padded}) - length(replace({padded}, '{needle}', ''))) / {n} AS BIGINT)"


def _word_occ_sql(word: str) -> str:
    return _occ_sql("(' ' || text || ' ')", f" {word} ")


def _lang_hits_sql(lang: str) -> str:
    words = text_ops.LANG_MARKERS[lang]
    return "(" + " + ".join(_word_occ_sql(w) for w in words) + ")"


def _lang_case_sql() -> str:
    langs = list(text_ops.LANG_MARKERS)
    hits = {lg: _lang_hits_sql(lg) for lg in langs}
    expr = "'und'"
    for lang in reversed(langs):
        conds = [f"{hits[lang]} > 0"]
        for other in langs:
            if other == lang:
                continue
            op = ">" if langs.index(other) < langs.index(lang) else ">="
            conds.append(f"{hits[lang]} {op} {hits[other]}")
        expr = f"CASE WHEN {' AND '.join(conds)} THEN '{lang}' ELSE {expr} END"
    return expr


_QUALITY_SQL = (
    "ROUND("
    "LEAST(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.4 + "
    "LEAST(CAST(("
    + " + ".join(_word_occ_sql(w) for w in text_ops.STOPWORDS)
    + ") AS DOUBLE) / GREATEST(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) * 4.0, 1.0) * 0.4 + "
    "(1.0 - LEAST(CAST(("
    + " + ".join(_occ_sql("text", ch) for ch in [".", ",", "!"])
    + ") AS DOUBLE) / GREATEST(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0), 1.0)) * 0.2"
    ", 9)"
)


@query(
    "text_analysis",
    oracle=f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_obs,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       {_QUALITY_SQL} AS quality,
       {_lang_case_sql()} AS lang_pred,
       md5(text) AS fingerprint
FROM documents
""",
)
def q_text_analysis(spark, sf_dir):
    return text_ops.analyze_documents(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# HTML boilerplate extraction (operators/html_extract.py)
# ---------------------------------------------------------------------------
# Fixture HTML is synthesized DETERMINISTICALLY from the documents
# table (driver-generated parquet stays the only input): each doc is
# wrapped in a realistic page — head with title/style/script, nav and
# share-bar link clusters, the doc text as the main <p>, a stopword-
# free footer. Spark and the oracle build the identical string, so the
# extraction pipeline hash-matches end to end.

_HTML_STOPS = "'the','a','an','and','of','to','in','is','on','for','with'"
_HTML_BLOCK_RE = (
    "(?i)</?(?:p|div|td|th|h[1-6]|li|ul|ol|table|tr|nav|header|footer|"
    "aside|article|section|main|body|html|blockquote|pre|form|br)[^>]*>"
)
_HTML_FIXTURE_SQL_TMPL = """
  SELECT doc_id,
    '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) || '</title>' ||
    '<style>p { margin: 0; }</style>' ||
    '<script>var tracker = "x < y";</script></head><body>' ||
    '<nav><a href="/">home</a> <a href="/tags">tags</a> ' ||
    '<a href="/login">login</a></nav>' ||
    '<h1>doc ' || CAST(doc_id AS VARCHAR) || '</h1>' ||
    '<p>' || text || '</p>' ||
    '<div class="share"><a href="#">share</a> <a href="#">tweet</a> ' ||
    '<a href="#">pin</a></div>' ||
    '<footer>copyright 2026 example &amp; co. all rights reserved' ||
    '</footer></body></html>' AS html
  FROM (__DOCS__)
"""
_HTML_FIXTURE_SQL = _HTML_FIXTURE_SQL_TMPL.replace(
    "__DOCS__", "SELECT doc_id, text FROM documents"
)
def _html_blocks_sql(docs_sql: str = "SELECT doc_id, text FROM documents") -> str:
    """The block-classification SQL over any (doc_id, text) source —
    shared by the two html queries and the web_curation composition."""
    fixture = _HTML_FIXTURE_SQL_TMPL.replace("__DOCS__", docs_sql)
    return f"""
WITH h AS ({fixture}),
cleaned AS (
  SELECT doc_id,
    regexp_replace(html,
      '(?is)<(?:script|style|noscript|template)[^>]*>' ||
      '.*?</(?:script|style|noscript|template)>|<!--.*?-->',
      ' ', 'g') AS html
  FROM h
),
parts AS (
  SELECT doc_id, i AS pos,
    string_split_regex(html, '{_HTML_BLOCK_RE}')[CAST(i AS BIGINT)] AS raw
  FROM cleaned
  JOIN generate_series(1, 100) g(i)
    ON i <= len(string_split_regex(html, '{_HTML_BLOCK_RE}'))
),
feat0 AS (
  SELECT doc_id, pos,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(raw, '<[^>]*>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        '&nbsp;', ' '), '&amp;', '&'),
      '\\s+', ' ', 'g')) AS text,
    CAST(COALESCE(list_sum(list_transform(
      regexp_extract_all(raw, '(?is)<a[^>]*>(.*?)</a>', 1),
      x -> length(trim(regexp_replace(
        replace(replace(replace(replace(replace(replace(
          regexp_replace(x, '<[^>]*>', ' ', 'g'),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
          '&nbsp;', ' '), '&amp;', '&'),
        '\\s+', ' ', 'g'))))), 0) AS BIGINT) AS link_chars
  FROM parts
),
feat AS (
  SELECT doc_id, pos, text, link_chars,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
    CAST(length(text) AS BIGINT) AS n_chars,
    len(list_filter(string_split(text, ' '),
        x -> list_contains([{_HTML_STOPS}], lower(x)))) AS stop_words
  FROM feat0 WHERE text <> ''
),
classified AS (
  SELECT doc_id, pos, text, n_words, n_chars,
    round(CAST(link_chars AS DOUBLE) / CAST(n_chars AS DOUBLE), 9)
      AS link_density,
    round(CAST(stop_words AS DOUBLE) / CAST(n_words AS DOUBLE), 9)
      AS stop_density,
    CASE WHEN round(CAST(link_chars AS DOUBLE) / CAST(n_chars AS DOUBLE), 9)
              > 0.4
           OR round(CAST(stop_words AS DOUBLE) / CAST(n_words AS DOUBLE), 9)
              < 0.02
         THEN 'bad'
         WHEN n_words >= 5 THEN 'good' ELSE 'near' END AS k
  FROM feat
)
SELECT doc_id,
  CAST(row_number() OVER w AS BIGINT) AS block_ord,
  text, n_words, n_chars, link_density, stop_density,
  CASE WHEN k = 'good'
         OR (k = 'near'
             AND (lag(k) OVER w = 'good' OR lead(k) OVER w = 'good'))
       THEN 'content' ELSE 'boilerplate' END AS verdict
FROM classified
WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
"""


_HTML_BLOCKS_SQL = _html_blocks_sql()


def _fixture_html() -> F.Column:
    """The Spark twin of _HTML_FIXTURE_SQL's page builder."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("<html><head><title>doc "), did, F.lit("</title>"),
        F.lit("<style>p { margin: 0; }</style>"),
        F.lit('<script>var tracker = "x < y";</script></head><body>'),
        F.lit('<nav><a href="/">home</a> <a href="/tags">tags</a> '),
        F.lit('<a href="/login">login</a></nav>'),
        F.lit("<h1>doc "), did, F.lit("</h1>"),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit('<div class="share"><a href="#">share</a> <a href="#">tweet</a> '),
        F.lit('<a href="#">pin</a></div>'),
        F.lit("<footer>copyright 2026 example &amp; co. all rights reserved"),
        F.lit("</footer></body></html>"),
    )


@query("html_block_classify", oracle=_HTML_BLOCKS_SQL)
def q_html_block_classify(spark, sf_dir):
    """EXT — jusText/Boilerpipe-family block classification
    (operators/html_extract.py): pages segment at block-tag
    boundaries after script/style/comment spans drop; each non-empty
    block carries the three densitometric features (word count, link
    density = anchor-chars/chars, stopword density) and classifies
    content vs boilerplate (short OR link-dense OR stopword-free →
    boilerplate). Segmentation, features and classification are pure
    expression chains — regexp/split/explode/higher-order functions,
    zero joins, zero UDFs — so at 100 TB the stage is a map over the
    crawl; the only shuffle is the doc_id window numbering each
    page's handful of blocks. The oracle restates every regex
    (RE2-compatible subset) and the entity-decode chain."""
    from .operators.html_extract import html_blocks

    d = t(spark, sf_dir, "documents").select(
        "doc_id", _fixture_html().alias("html")
    )
    return html_blocks(
        d, "html", "doc_id", min_words=5, max_link_density=0.4,
        min_stop_density=0.02,
    )


@query(
    "html_extract_main",
    oracle=f"""
WITH blocks AS ({_HTML_BLOCKS_SQL})
SELECT doc_id,
  string_agg(text, ' ' ORDER BY block_ord) AS main_text,
  CAST(count(*) AS BIGINT) AS n_blocks,
  CAST(length(string_agg(text, ' ' ORDER BY block_ord)) AS BIGINT) AS n_chars
FROM blocks WHERE verdict = 'content'
GROUP BY doc_id
""",
)
def q_html_extract_main(spark, sf_dir):
    """EXT — main-content extraction: the content blocks of each page
    reassemble IN ORDER into the cleaned text that feeds dedup /
    quality gates / decontamination; chrome (nav, share bar, footer,
    head debris) is gone, entities are decoded, whitespace is
    normalized. Pure-chrome pages drop out entirely. The per-document
    reassembly is the one exchange; ordering is deterministic
    (sorted (block_ord, text) structs, never collect_list order), so
    the assembled STRING hash-matches the SQL string_agg ORDER BY
    restatement."""
    from .operators.html_extract import extract_main_content

    d = t(spark, sf_dir, "documents").select(
        "doc_id", _fixture_html().alias("html")
    )
    return extract_main_content(
        d, "html", "doc_id", min_words=5, max_link_density=0.4,
        min_stop_density=0.02,
    )


@query(
    "interval_join",
    oracle="""
SELECT a.event_id, CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(b.value AS DECIMAL(30,6))) AS DOUBLE) AS attributed_value
FROM events a JOIN events b
  ON b.user_id = a.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 30 MINUTE
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
GROUP BY a.event_id
""",
)
def q_interval_join(spark, sf_dir):
    """Interval (range) join: purchases attributed to a same-user click
    in the preceding 30 minutes. Planned as an equi-join on user_id with
    the time range as a join-time residual — the scale-correct shape
    (the range alone would be a nested loop; the equi component keeps it
    a hash/merge join that partitions by user)."""
    e = t(spark, sf_dir, "events")
    a = e.where(F.col("event_type") == "click").select(
        F.col("event_id"), F.col("user_id"), F.col("ts").alias("ts_a")
    )
    b = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("ts_b"), F.col("value")
    )
    cond = (
        (a["user_id"] == b["user_id"])
        & (b["ts_b"] > a["ts_a"])
        & (b["ts_b"] <= a["ts_a"] + F.expr("INTERVAL 30 MINUTES"))
    )
    return (
        a.join(b, cond)
        .groupBy("event_id")
        .agg(F.count("*").alias("n_purchases"), dsum(F.col("value"), "attributed_value"))
    )


@query("hll_sketch_rollup")  # mergeable-sketch rollup — rel-error pinned in pytest
def q_hll_sketch_rollup(spark, sf_dir):
    """Two-level distinct counting with mergeable HLL sketch state: a
    sketch per nation, then a union-merge to the global estimate —
    the shape that lets 100 TB distinct-counts pre-aggregate per
    partition/day and combine later without rescanning. Estimates are
    deterministic (no RNG) but engine-specific, so the bound vs exact
    countDistinct lives in tests/test_llm_ops.py."""
    c = t(spark, sf_dir, "customer")
    per_nation = c.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk")
    )
    return per_nation.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("distinct_customers_est")
    )


@query("dedup_clusters")  # iterative connected components — rows-only
def q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs → transitive duplicate clusters (min-id label).
    Rows-only; correctness is pinned against a union-find reference in
    tests/test_llm_ops.py, and dedup_clusters_exact below hash-matches
    a recursive-CTE oracle."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        d, "text", "doc_id", threshold=0.35, shingle_n=3, shingle_unit="word"
    )
    return dedup.duplicate_clusters(pairs)


@query(
    "dedup_clusters_exact",
    oracle="""
WITH RECURSIVE
docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
sh AS (
  SELECT DISTINCT d.doc_id, substring(d.text, CAST(g.i AS INTEGER), 5) AS shingle
  FROM docs d JOIN generate_series(1, 4000) g(i) ON g.i <= length(d.text) - 4
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
             JOIN sizes sb ON inter.id_b = sb.doc_id
  WHERE ROUND(c / (sa.n + sb.n - c), 6) >= 0.35
),
und AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT src AS node, src AS r FROM und
  UNION
  SELECT reach.node, u.dst FROM reach JOIN und u ON u.src = reach.r
)
SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
""",
)
def q_dedup_clusters_exact(spark, sf_dir):
    """Connected components over the EXACT Jaccard pair graph — the
    oracle states the fixpoint as a DuckDB recursive CTE (set-semantics
    UNION bounds the reachability walk), so the clustering operator
    itself is hash-checked, not just pinned by the union-find pytest.
    Restricted to doc_id<200 to keep the oracle's quadratic shingle
    self-join cheap; the Spark side is the same operator the unrestricted
    rows-only query uses."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = dedup.ngram_jaccard_pairs(d, "text", "doc_id", n=5, threshold=0.35)
    return dedup.duplicate_clusters(pairs)


@query("pagerank_supplier_part")  # iterative float fixpoint — rows-only by design
def q_pagerank(spark, sf_dir):
    """PageRank over the supplier→part bipartite edge set (the
    domain-quality ranking shape of crawl curation). Iterative power
    method: genuinely non-SQL-expressible, so the gate records the
    rows-only check; the numeric fixpoint is pinned against a numpy
    power-iteration reference in tests/test_llm_ops.py. Edge list is
    deterministically thinned (orderkey % 10) to bound gate time."""
    from .operators.graph import pagerank

    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 10 == 0)
    edges = li.select(
        F.col("l_suppkey").alias("src"), (F.col("l_partkey") + 1_000_000).alias("dst")
    ).distinct()
    return pagerank(edges, iterations=8).select(
        F.col("node").cast("long").alias("node"), F.round("rank", 12).alias("rank")
    )


@query("personalized_pagerank_seeds")  # iterative float fixpoint — rows-only
def q_personalized_pagerank(spark, sf_dir):
    """EXT — personalized PageRank from a trusted seed set (graph.
    personalized_pagerank; Page et al. 1999 §6 / TrustRank, Gyöngyi
    et al. 2004): same supplier→part edge universe as the global
    pagerank query, but ALL teleport mass returns to the %40==0
    supplier seeds — scores become proximity-weighted reachability
    FROM the seeds, the crawl-prioritization / spam-demotion signal
    (nodes unreachable from seeds score exactly 0, pinned in tests
    along with numpy power-iteration parity). Iterative fixpoint ⟹
    rows-only gate, same contract as pagerank_supplier_part."""
    from .operators.graph import personalized_pagerank

    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 10 == 0)
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1_000_000).alias("dst"),
    ).distinct()
    seeds = (
        edges.select(F.col("src").alias("node"))
        .where(F.col("node") % 40 == 0)
        .distinct()
    )
    return personalized_pagerank(edges, seeds, iterations=8).select(
        F.col("node").cast("long").alias("node"),
        F.round("rank", 12).alias("rank"),
    )


@query("curation_pipeline")  # composition over iterative clustering — rows-only
def q_curation_pipeline(spark, sf_dir):
    """The end-to-end curation shape a training-data run executes:
    near-dup pairs → keep one representative per cluster → benchmark
    decontamination → quality filter → deterministic subsample →
    train/val/test split → sequence packing. Each stage is
    individually verified (minhash containment, cluster union-find,
    decontam oracle, sample/split/packing oracles); this query checks
    they compose."""
    from .operators.decontam import decontaminate
    from .operators.packing import pack_sequences
    from .operators.sampling import train_val_test_split

    d = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        d, "text", "doc_id", threshold=0.35, shingle_n=3, shingle_unit="word"
    )
    kept = dedup.dedup_keep_representative(d, pairs, "doc_id")
    bench = d.where(F.col("doc_id") % 20 == 0)
    kept = decontaminate(
        kept.where(F.col("doc_id") % 20 != 0), bench, "text", "doc_id", n=3, min_hits=3
    )
    kept = kept.where(text_ops.quality_score(F.col("text")) >= 0.5)
    kept = sampling.deterministic_sample(kept, "doc_id", 0.5)
    kept = train_val_test_split(kept, "doc_id", train=0.8, val=0.1)
    packed = pack_sequences(
        kept, text_ops.token_count(F.col("text")), budget=2048, stream_col="split"
    )
    return packed.select("doc_id", "lang", "source", "split", "seq_id", "seq_offset")


@query(
    "domain_cap",
    oracle="""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY n_chars DESC, md5(CAST(doc_id AS VARCHAR))
         ) AS rk
  FROM documents
)
SELECT doc_id, source, n_chars FROM ranked WHERE rk <= 50
""",
)
def q_domain_cap(spark, sf_dir):
    """Per-source document cap (the anti-domination stage of web-scale
    curation): keep the 50 'best' docs per source, quality proxied by
    n_chars, ties broken by key hash so the kept set is deterministic
    and partitioning-independent."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return sampling.cap_per_group(d, "source", "doc_id", cap=50, order_col="n_chars")


@query(
    "text_normalize",
    oracle="""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) AS norm
FROM documents
""",
)
def q_text_normalize(spark, sf_dir):
    """Canonical text normalization for dedup keys — must be
    byte-identical across engines (the oracle IS the cross-engine
    check) or fingerprints computed on different engines diverge."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", text_ops.normalize_text(F.col("text")).alias("norm"))


# ---------------------------------------------------------------------------
# Markdown / code normalization — operators/markup.py. Fixtures are
# deterministic twins (same discipline as the HTML fixture): each doc
# wraps into a markdown page / source file with every construct the
# normalizers claim to handle.
# ---------------------------------------------------------------------------
_MD_FIXTURE_SQL = """
SELECT doc_id,
  '# doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
  'intro [link ' || CAST(doc_id % 7 AS VARCHAR) ||
  '](https://ex.example.com/a) and ![pic alt](i.png) with `x=1` inline' ||
  chr(10) ||
  '## part ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) ||
  '- ' || text || chr(10) ||
  '1. second *item*' || chr(10) ||
  '```' || chr(10) || '# not a heading' || chr(10) || 'int x = 1;' ||
  chr(10) || '```' || chr(10) ||
  '> good prose quote' || chr(10) || '---' || chr(10) AS md
FROM documents
"""


def _fixture_markdown(spark, sf_dir):
    did = F.col("doc_id").cast("string")
    nl = F.lit("\n")
    md = F.concat(
        F.lit("# doc "), did, nl,
        F.lit("intro [link "), (F.col("doc_id") % 7).cast("string"),
        F.lit("](https://ex.example.com/a) and ![pic alt](i.png) with `x=1` inline"),
        nl,
        F.lit("## part "), (F.col("doc_id") % 5).cast("string"), nl,
        F.lit("- "), F.col("text"), nl,
        F.lit("1. second *item*"), nl,
        F.lit("```"), nl, F.lit("# not a heading"), nl, F.lit("int x = 1;"),
        nl, F.lit("```"), nl,
        F.lit("> good prose quote"), nl, F.lit("---"), nl,
    )
    return t(spark, sf_dir, "documents").select("doc_id", md.alias("md"))


_MD_STRIP_SQL_CHAIN = r"""
trim(regexp_replace(
  regexp_replace(
  regexp_replace(
  regexp_replace(
  regexp_replace(
  regexp_replace(
  regexp_replace(
  regexp_replace(
  regexp_replace(
  regexp_replace(
  regexp_replace(md,
    '(?s)```.*?```', ' ', 'g'),
    '`[^`]*`', ' ', 'g'),
    '!\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
    '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
    '(?m)^[-*]{3,}[ \t]*$', ' ', 'g'),
    '(?m)^#{1,6}[ \t]*', '', 'g'),
    '(?m)^>[ \t]?', '', 'g'),
    '(?m)^[ \t]*[-+*][ \t]+', '', 'g'),
    '(?m)^[ \t]*[0-9]+[.)][ \t]+', '', 'g'),
    '\*{1,3}', '', 'g'),
  '\s+', ' ', 'g'))
"""


@query(
    "markdown_extract_text",
    oracle=f"""
WITH m AS ({_MD_FIXTURE_SQL})
SELECT doc_id, {_MD_STRIP_SQL_CHAIN} AS md_text FROM m
""",
)
def q_markdown_extract_text(spark, sf_dir):
    """EXT — markdown-to-prose normalization (markup.markdown_strip):
    fenced + inline code spans drop (quality/language features must
    not see code), links and images keep their visible text, heading/
    list/blockquote/rule markers and * emphasis strip, whitespace
    collapses — the README/wiki/forum cleaning stage next to
    html_extract. Pure fixed-order regexp_replace chain, zero
    UDFs/joins — a map over the corpus; the oracle restates every
    regex (RE2 subset) in the same order."""
    from .operators.markup import markdown_strip

    m = _fixture_markdown(spark, sf_dir)
    return m.select("doc_id", markdown_strip(F.col("md")).alias("md_text"))


@query(
    "markdown_outline",
    oracle=f"""
WITH m AS ({_MD_FIXTURE_SQL}),
hl AS (
  SELECT doc_id,
    regexp_extract_all(
      regexp_replace(md, '(?s)```.*?```', ' ', 'g'),
      '(?m)^#{{1,6}}[ \t]+[^\n]+$', 0) AS hs
  FROM m
)
SELECT doc_id, CAST(i AS BIGINT) AS heading_ord,
  CAST(length(regexp_extract(hs[CAST(i AS BIGINT)], '^(#{{1,6}})', 1))
       AS BIGINT) AS level,
  trim(regexp_replace(
    regexp_replace(hs[CAST(i AS BIGINT)], '^#{{1,6}}[ \t]+', ''),
    '\\s+', ' ', 'g')) AS title
FROM hl JOIN generate_series(1, 20) g(i) ON i <= len(hs)
""",
)
def q_markdown_outline(spark, sf_dir):
    """EXT — markdown structure extraction (markup.markdown_outline):
    one row per heading in document order with level (# count) and
    normalized title; headings inside fenced code blocks do NOT count
    (fences drop first — '# comment' in a code sample is not
    structure; the fixture plants exactly that). Match-once then
    re-parse per element — the extract_links_with_text shape; one
    posexplode, zero joins."""
    from .operators.markup import markdown_outline

    return markdown_outline(_fixture_markdown(spark, sf_dir), "md", "doc_id")


_CODE_FIXTURE_SQL = """
SELECT doc_id,
  '/* header ' || CAST(doc_id AS VARCHAR) || chr(10) ||
  ' * multi // line */' || chr(10) ||
  'int main() { // entry point' || chr(10) ||
  '  return ' || CAST(doc_id % 3 AS VARCHAR) || '; # trailing note' ||
  chr(10) || '}' || chr(10) AS src
FROM documents
"""


@query(
    "code_normalize",
    oracle=f"""
WITH c AS ({_CODE_FIXTURE_SQL})
SELECT doc_id,
  trim(regexp_replace(
    regexp_replace(
    regexp_replace(src,
      '(?s)/\\*.*?\\*/', ' ', 'g'),
      '(?m)(//|#)[^\n]*', ' ', 'g'),
    '\\s+', ' ', 'g')) AS norm_src
FROM c
""",
)
def q_code_normalize(spark, sf_dir):
    """EXT — comment/whitespace-insensitive code normalization
    (markup.code_normalize, the BigCode/CodeParrot dedup-key form):
    block comments, then //-style and #-style line comments strip,
    whitespace collapses — two files differing only in comments and
    formatting map to one fingerprint; compose with the exact-dedup
    family downstream exactly like normalize_text. Lexer-free by
    documented design (a comment-shaped sequence inside a string
    literal strips too — the standard dedup-key trade). Pure codegen
    map; the oracle restates the chain."""
    from .operators.markup import code_normalize

    did = F.col("doc_id").cast("string")
    nl = F.lit("\n")
    src = F.concat(
        F.lit("/* header "), did, nl,
        F.lit(" * multi // line */"), nl,
        F.lit("int main() { // entry point"), nl,
        F.lit("  return "), (F.col("doc_id") % 3).cast("string"),
        F.lit("; # trailing note"), nl, F.lit("}"), nl,
    )
    c = t(spark, sf_dir, "documents").select("doc_id", src.alias("src"))
    return c.select("doc_id", code_normalize(F.col("src")).alias("norm_src"))


# ---------------------------------------------------------------------------
# URL canonicalization — operators/urls.py
# ---------------------------------------------------------------------------
# Fixture URLs synthesized deterministically from orders: mixed-case
# scheme/host, default :443 port, www., a 500-way item space (so
# distinct fetches collide on the canonical form), and three variant
# tails — trailing-slash + tracking params, unsorted params + fragment,
# bare slash.
_URL_FIXTURE_SQL = """
SELECT o_orderkey AS id,
  'HTTPS://WWW.Shop' || CAST(o_custkey % 20 AS VARCHAR) ||
  '.Example.COM:443/catalog/item/' || CAST(o_orderkey % 500 AS VARCHAR) ||
  CASE CAST(o_orderkey % 3 AS BIGINT)
    WHEN 0 THEN '/?utm_source=feed&b=2&a=1'
    WHEN 1 THEN '?a=1&utm_campaign=x&b=2#top'
    ELSE '/' END AS url
FROM orders
"""
# Parameterized over any fixture relation carrying a `url` column —
# every OTHER fixture column rides through untouched (EXCLUDE-style
# projections), so link tables can canonicalize hrefs while keeping
# their ordinals / anchor text alongside.
_URL_CANON_TMPL = """
WITH u AS ({fixture}),
parsed AS (
  SELECT u.*,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
      AS authority,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
      AS path0,
    regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM u
),
norm AS (
  SELECT parsed.* EXCLUDE (authority, path0, q),
    regexp_replace(
      CASE WHEN scheme = 'https' THEN regexp_replace(authority, ':443$', '')
           WHEN scheme = 'http' THEN regexp_replace(authority, ':80$', '')
           ELSE authority END, '^www\\.', '') AS host,
    CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
         ELSE regexp_replace(path0, '/+$', '') END AS path,
    list_sort(list_filter(string_split(q, '&'),
      p -> p <> '' AND NOT regexp_matches(p,
        '^(utm_[a-z0-9]+|ref|fbclid|gclid|msclkid)='))) AS params
  FROM parsed
)
SELECT norm.* EXCLUDE (scheme, path, params),
  scheme || '://' || host || path ||
    CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
         ELSE '' END AS canon,
  regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
  CAST(len(list_filter(string_split(path, '/'), x -> x <> '')) AS BIGINT)
    AS path_depth
FROM norm
"""
_URL_CANON_SQL = _URL_CANON_TMPL.format(fixture=_URL_FIXTURE_SQL)


def _fixture_urls(spark, sf_dir):
    from .operators import fan_out

    # the RFC 3986 canonicalization chain downstream (≈20 regex +
    # array ops per row) is pure map-side CPU sitting DIRECTLY on this
    # scan — a single-row-group fixture file would run it all on one
    # core. Conditional widen only (corpus-scale scans pass through;
    # the hashed_shingles/fan_out discipline).
    return fan_out(t(spark, sf_dir, "orders")).select(
        F.col("o_orderkey").alias("id"),
        F.concat(
            F.lit("HTTPS://WWW.Shop"),
            (F.col("o_custkey") % 20).cast("string"),
            F.lit(".Example.COM:443/catalog/item/"),
            (F.col("o_orderkey") % 500).cast("string"),
            F.when((F.col("o_orderkey") % 3) == 0, F.lit("/?utm_source=feed&b=2&a=1"))
            .when((F.col("o_orderkey") % 3) == 1, F.lit("?a=1&utm_campaign=x&b=2#top"))
            .otherwise(F.lit("/")),
        ).alias("url"),
    )


@query("url_canonicalize", oracle=_URL_CANON_SQL)
def q_url_canonicalize(spark, sf_dir):
    """EXT — RFC 3986-style URL canonicalization (operators/urls.py):
    scheme/host lowercase, default-port and www. strip, trailing-slash
    collapse, fragment drop, tracking-parameter strip, parameter sort
    — the first dedup key of a web crawl, computed BEFORE any page
    body is read. Component parsing is anchored RE2-subset
    regexp_extract (Spark's parse_url is deliberately avoided: Java-
    only, no oracle twin); the whole chain is codegen expressions,
    zero shuffle."""
    from .operators.urls import canonicalize_url

    u = _fixture_urls(spark, sf_dir)
    c = canonicalize_url(F.col("url"))
    return u.select(
        "id", "url", c["canon"].alias("canon"), c["host"].alias("host"),
        c["domain"].alias("domain"), c["path_depth"].alias("path_depth"),
    )


@query(
    "url_dedup",
    oracle=f"""
WITH c AS ({_URL_CANON_SQL})
SELECT canon, CAST(count(*) AS BIGINT) AS n_dupes,
       CAST(min(id) AS BIGINT) AS first_id
FROM c WHERE host <> '' GROUP BY canon
""",
)
def q_url_dedup(spark, sf_dir):
    """EXT — URL-level dedup (urls.dedup_by_canonical_url): one row
    per canonical URL with fetch count and the representative (lowest)
    id — the same groupBy shape as exact-content dedup but running on
    16-byte-ish canonical strings before any fetch body exists. On the
    fixture, cosmetic variants (tracking params vs sorted params vs
    bare path, 500-way item space) collapse ~15k fetches into their
    true page set."""
    from .operators.urls import dedup_by_canonical_url

    return dedup_by_canonical_url(_fixture_urls(spark, sf_dir), "url", "id")


@query(
    "url_frontier",
    oracle=f"""
WITH c AS ({_URL_CANON_SQL}),
seen AS (SELECT DISTINCT canon FROM c WHERE id % 4 = 0),
cand AS (
  SELECT canon, host, CAST(min(id) AS BIGINT) AS id
  FROM c WHERE host <> '' GROUP BY canon, host
),
fresh AS (
  SELECT cand.canon, cand.host, cand.id
  FROM cand LEFT JOIN seen ON cand.canon = seen.canon
  WHERE seen.canon IS NULL
)
SELECT id, canon, host,
  CAST(row_number() OVER (PARTITION BY host ORDER BY id ASC) AS BIGINT) AS rk
FROM fresh QUALIFY rk <= 3
""",
)
def q_url_frontier(spark, sf_dir):
    """EXT — the crawl-frontier step (urls.frontier_next_batch): the
    next fetch batch from discovered candidates — canonical forms
    anti-joined against the PERSISTED seen set (the URL twin of the
    incremental-dedup family; here 'seen' is the %4==0 slice's
    canonical set), duplicate discoveries collapsed to their lowest
    id, and a 3-per-host politeness cap applied as a per-host window
    over scalar rows. Everything shuffles on the keys crawl state is
    naturally partitioned by (canon, host)."""
    from .operators.urls import dedup_by_canonical_url, frontier_next_batch

    u = _fixture_urls(spark, sf_dir)
    seen = dedup_by_canonical_url(
        u.where(F.col("id") % 4 == 0), "url", "id"
    ).select("canon")
    return frontier_next_batch(u, seen, "url", "id", per_host_cap=3)


@query("streaming_url_frontier")  # crawl scheduling, streaming — rows-only
def q_streaming_url_frontier(spark, sf_dir):
    """W-EXT — the crawl frontier in STREAMING form
    (streaming/jobs.py:streaming_url_frontier): discovery batches
    arrive as a file stream and each micro-batch runs the batch
    frontier operator against the persisted seen set, with emitted
    canonical forms ACCUMULATING (a page re-discovered later is never
    scheduled twice) and over-cap candidates RE-QUEUING into the next
    round's pending set (politeness bounds a host per round, it
    doesn't discard backlog). Pytest pins the no-double-schedule /
    cap-per-round / backlog-drain invariants on a hand fixture;
    here the %4==0 slice is pre-seen and three discovery rounds run at
    3 fetches/host/round."""
    from .operators.urls import dedup_by_canonical_url
    from .streaming.jobs import streaming_url_frontier

    u = _fixture_urls(spark, sf_dir)
    seen = dedup_by_canonical_url(
        u.where(F.col("id") % 4 == 0), "url", "id"
    ).select("canon")
    return streaming_url_frontier(
        spark, u.repartitionByRange(3, "id"), seen, "url", "id", per_host_cap=3
    )


# Linked-page fixture for the outlink/host-graph family: same
# deterministic-twin discipline as the boilerplate fixture, but with
# VARIED absolute outlinks (host space shared with the orders URL
# fixture, so link-graph authority can rank the crawl frontier).
_LINKED_HTML_SQL = """
SELECT doc_id,
  '<html><body><nav><a href="/">home</a> <a href="/tags">tags</a></nav>' ||
  '<p>see also</p>' ||
  '<a href="https://shop' || CAST((doc_id * 7 + 1) % 20 AS VARCHAR) ||
    '.example.com/catalog/item/' || CAST(doc_id % 500 AS VARCHAR) ||
    '">rel1</a>' ||
  '<a href="https://shop' || CAST((doc_id * 13 + 3) % 20 AS VARCHAR) ||
    '.example.com/catalog/item/' || CAST((doc_id * 3) % 500 AS VARCHAR) ||
    '">rel2</a>' ||
  CASE WHEN doc_id % 4 = 0
       THEN '<a href="https://news' || CAST(doc_id % 5 AS VARCHAR) ||
            '.example.org/a/' || CAST(doc_id % 97 AS VARCHAR) || '">news</a>'
       ELSE '' END ||
  '<a href=''/faq''>faq</a><a href=/about>about</a>' ||
  '<footer><a href="#">top</a></footer></body></html>' AS html
FROM documents
"""

_LINK_EXTRACT_SQL = f"""
WITH pages AS ({_LINKED_HTML_SQL}),
hl AS (
  SELECT doc_id,
         list_transform(
           regexp_extract_all(html,
             '(?is)<a\\s[^>]*?href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s>"''][^\\s>]*)',
             1),
           h -> CASE WHEN substr(h, 1, 1) IN ('"', '''')
                     THEN substr(h, 2, length(h) - 2) ELSE h END) AS hrefs
  FROM pages
)
SELECT doc_id, CAST(i AS BIGINT) AS link_ord, hrefs[CAST(i AS BIGINT)] AS href
FROM hl JOIN generate_series(1, 20) g(i) ON i <= len(hrefs)
"""


def _linked_pages(spark, sf_dir):
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><nav><a href="/">home</a> <a href="/tags">tags</a></nav>'),
        F.lit("<p>see also</p>"),
        F.lit('<a href="https://shop'), ((F.col("doc_id") * 7 + 1) % 20).cast("string"),
        F.lit(".example.com/catalog/item/"), (F.col("doc_id") % 500).cast("string"),
        F.lit('">rel1</a>'),
        F.lit('<a href="https://shop'), ((F.col("doc_id") * 13 + 3) % 20).cast("string"),
        F.lit(".example.com/catalog/item/"), ((F.col("doc_id") * 3) % 500).cast("string"),
        F.lit('">rel2</a>'),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit('<a href="https://news'), (F.col("doc_id") % 5).cast("string"),
                F.lit(".example.org/a/"), (F.col("doc_id") % 97).cast("string"),
                F.lit('">news</a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("<a href='/faq'>faq</a><a href=/about>about</a>"),
        F.lit('<footer><a href="#">top</a></footer></body></html>'),
    )
    return t(spark, sf_dir, "documents").select("doc_id", html.alias("html"))


# shared by crawl_prioritized_frontier and host_link_pagerank: the
# host→host link graph from the extracted outlinks
def _host_edges(spark, sf_dir):
    from .operators.html_extract import extract_links

    links = extract_links(_linked_pages(spark, sf_dir), "html", "doc_id")
    return (
        links.where(F.col("href").startswith("http"))
        .select(
            F.concat(
                F.lit("shop"),
                (F.col("doc_id") % 20).cast("string"),
                F.lit(".example.com"),
            ).alias("src"),
            F.regexp_extract("href", r"^https?://([^/]+)", 1).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )


_HOST_EDGES_SQL = f"""
SELECT 'shop' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS src,
       regexp_extract(href, '^https?://([^/]+)', 1) AS dst
FROM ({_LINK_EXTRACT_SQL})
WHERE href LIKE 'http%'
  AND 'shop' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
      <> regexp_extract(href, '^https?://([^/]+)', 1)
"""


@query("html_link_extract", oracle=_LINK_EXTRACT_SQL)
def q_html_link_extract(spark, sf_dir):
    """EXT — outlink extraction (html_extract.extract_links): one row
    per anchor href in document order, the crawl-expansion input for
    frontier discovery and the edge stream for host-graph authority.
    One anchored regexp_extract_all + posexplode covering all three
    HTML attribute-value forms (double-quoted, single-quoted,
    unquoted — the fixture plants one of each) — pure expression
    chain, zero joins; the oracle restates the regex, the exact
    quote-strip slice, and the 1-based ordinal join. Relative links,
    fragments and the varied absolute outlinks all come through
    verbatim (resolution policy belongs to the consumer)."""
    from .operators.html_extract import extract_links

    return extract_links(_linked_pages(spark, sf_dir), "html", "doc_id")


_LINK_TEXT_SQL = f"""
WITH pages AS ({_LINKED_HTML_SQL}),
hl AS (
  SELECT doc_id,
    regexp_extract_all(html,
      '(?is)<a\\s[^>]*?href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s>"''][^\\s>]*)[^>]*>.*?</a>',
      0) AS anchors
  FROM pages
),
el AS (
  SELECT doc_id, CAST(i AS BIGINT) AS link_ord,
         anchors[CAST(i AS BIGINT)] AS a
  FROM hl JOIN generate_series(1, 20) g(i) ON i <= len(anchors)
),
parts AS (
  SELECT doc_id, link_ord, a,
    regexp_extract(a,
      '(?is)<a\\s[^>]*?href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s>"''][^\\s>]*)',
      1) AS h
  FROM el
)
SELECT doc_id, link_ord,
  CASE WHEN substr(h, 1, 1) IN ('"', '''')
       THEN substr(h, 2, length(h) - 2) ELSE h END AS href,
  trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(
      regexp_replace(regexp_extract(a, '(?is)<a[^>]*>(.*?)</a>', 1),
                     '<[^>]*>', ' ', 'g'),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      '&nbsp;', ' '), '&amp;', '&'),
    '\\s+', ' ', 'g')) AS anchor_text
FROM parts
"""


@query("html_link_text_extract", oracle=_LINK_TEXT_SQL)
def q_html_link_text_extract(spark, sf_dir):
    """EXT — outlink extraction WITH visible anchor text
    (html_extract.extract_links_with_text): the input the inbound
    anchor-text signal aggregates. Full anchor elements match once
    (all three href value forms), then each element re-parses for its
    quote-stripped href and its inner HTML flattened through the same
    strip/decode/normalize chain as block text. Pure expression
    chain, zero joins/UDFs — a map over the crawl; the oracle
    restates the element regex, both per-element extracts, and the
    visible-text chain."""
    from .operators.html_extract import extract_links_with_text

    return extract_links_with_text(_linked_pages(spark, sf_dir), "html", "doc_id")


_ANCHOR_INDEX_ORACLE = f"""
WITH links AS ({_LINK_TEXT_SQL}),
c AS (
{_URL_CANON_TMPL.format(fixture="SELECT doc_id, href AS url, anchor_text FROM links")}
)
SELECT canon, token, CAST(count(*) AS BIGINT) AS tf,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM (
  SELECT doc_id, canon,
    unnest(list_filter(string_split_regex(lower(anchor_text), '[^a-z0-9]+'),
                       x -> x <> '')) AS token
  FROM c WHERE host <> ''
) GROUP BY canon, token
"""


@query("anchor_text_index", oracle=_ANCHOR_INDEX_ORACLE)
def q_anchor_text_index(spark, sf_dir):
    """EXT — inbound anchor-text aggregation (urls.anchor_text_index):
    the classic search-engine-derived corpus signal — what OTHER pages
    call a target describes it better than its own boilerplate. Anchor
    (href, visible text) pairs extracted from every page
    (extract_links_with_text) canonicalize their target URL, drop
    relative/schemeless hrefs (the dedup family's guard), lowercase-
    tokenize the anchor text, and aggregate per (target, token) with
    both total occurrences (tf) and distinct linking documents
    (n_docs — the spam-resistance denominator). Map-side until ONE
    (canon, token) groupBy with partial aggregation — word-count
    shape; composes with bm25_topk_docs as a retrieval field keyed by
    the target's canonical URL."""
    from .operators.html_extract import extract_links_with_text
    from .operators.urls import anchor_text_index

    links = extract_links_with_text(_linked_pages(spark, sf_dir), "html", "doc_id")
    return anchor_text_index(links, "doc_id")


@query("anchor_index_incremental", oracle=_ANCHOR_INDEX_ORACLE)
def q_anchor_index_incremental(spark, sf_dir):
    """EXT — anchor-index MAINTENANCE (urls.merge_anchor_index, the
    seventh persisted-artifact family): the standing anchor index
    (pages with doc_id % 4 != 0, aggregated once and round-tripped
    through the warehouse sink) absorbs a new crawl batch's aggregate
    (doc_id % 4 == 0) by summing per (canon, token) — each page's
    links arrive in exactly one batch, so tf and n_docs are
    disjoint-partition sums and the fold equals a full rebuild over
    the union, which is EXACTLY what the oracle computes (the same
    SQL as anchor_text_index over all pages). Standing pages are
    never re-read; per-batch cost is the batch's own extraction plus
    one index-keyed groupBy."""
    from .operators.html_extract import extract_links_with_text
    from .operators.urls import anchor_text_index, merge_anchor_index

    pages = _linked_pages(spark, sf_dir)
    standing = anchor_text_index(
        extract_links_with_text(
            pages.where(F.col("doc_id") % 4 != 0), "html", "doc_id"
        ),
        "doc_id",
    )
    standing = scratch_roundtrip(standing, sf_dir, "anchor_index", memo="anchor_mod4")
    batch = anchor_text_index(
        extract_links_with_text(
            pages.where(F.col("doc_id") % 4 == 0), "html", "doc_id"
        ),
        "doc_id",
    )
    return merge_anchor_index(standing, batch)


@query(
    "anchor_bm25_topk",
    oracle=f"""
WITH idx AS ({_ANCHOR_INDEX_ORACLE}),
perdoc AS (
  SELECT canon, CAST(SUM(tf) AS BIGINT) AS dl,
    CAST(COALESCE(SUM(CASE WHEN token = 'news' THEN tf END), 0) AS BIGINT)
      AS tf0,
    CAST(COALESCE(SUM(CASE WHEN token = 'rel2' THEN tf END), 0) AS BIGINT)
      AS tf1
  FROM idx GROUP BY canon
),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_dl,
         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1
  FROM perdoc
),
scored AS (
  SELECT canon,
    round(
      (CASE WHEN tf0 > 0 THEN
        (((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df0 AS DOUBLE) + 1.0))
         * CAST(tf0 AS DOUBLE) * (1.2 + 1.0))
        / (CAST(tf0 AS DOUBLE)
           + (1.2 * ((1.0 - 0.75)
                     + ((0.75 * CAST(dl AS DOUBLE))
                        / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
       ELSE 0.0 END
      +
      CASE WHEN tf1 > 0 THEN
        (((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df1 AS DOUBLE) + 1.0))
         * CAST(tf1 AS DOUBLE) * (1.2 + 1.0))
        / (CAST(tf1 AS DOUBLE)
           + (1.2 * ((1.0 - 0.75)
                     + ((0.75 * CAST(dl AS DOUBLE))
                        / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
       ELSE 0.0 END), 9) AS score
  FROM perdoc CROSS JOIN corpus
  WHERE tf0 > 0 OR tf1 > 0
)
SELECT canon, score,
  CAST(row_number() OVER (ORDER BY score DESC, canon ASC) AS BIGINT) AS rk
FROM scored ORDER BY score DESC, canon ASC LIMIT 15
""",
)
def q_anchor_bm25_topk(spark, sf_dir):
    """EXT — anchor-text retrieval (text.bm25_topk_from_tf over
    urls.anchor_text_index): rank target pages by BM25 over their
    INBOUND anchor tokens — the classic web signal (what other pages
    call a target describes it better than its own body; the original
    search-engine ranking field). The tf table IS the persisted
    anchor index, so retrieval runs without the crawl text: one
    groupBy pivot to fixed-width term columns, a broadcast 1-row
    corpus aggregate, TakeOrderedAndProject top-k — scores
    bit-identical to the oracle via the shared explicit-association
    BM25 expression."""
    from .operators.html_extract import extract_links_with_text
    from .operators.text import bm25_topk_from_tf
    from .operators.urls import anchor_text_index

    idx = anchor_text_index(
        extract_links_with_text(_linked_pages(spark, sf_dir), "html", "doc_id"),
        "doc_id",
    )
    return bm25_topk_from_tf(idx, ["news", "rel2"], id_col="canon", k=15)


@query("streaming_anchor_index", oracle=_ANCHOR_INDEX_ORACLE)
def q_streaming_anchor_index(spark, sf_dir):
    """W-EXT — anchor-index maintenance in STREAMING form
    (streaming/jobs.py:streaming_anchor_index): crawled pages arrive
    as one micro-batch (a one-partition input; multi-batch folds are
    pytest-pinned) that extracts outlinks + visible anchor text,
    aggregates, and folds into the standing index via foreachBatch.
    Because a
    page's links live in exactly one micro-batch, tf and n_docs are
    disjoint-partition sums and the accumulated index EQUALS the
    batch rebuild over all pages — so this streaming query
    hash-matches the same full-rebuild SQL oracle as the batch fold
    (a stronger gate than the usual rows-only streaming check).
    State is (canon, token) counters, never the crawl."""
    from .streaming.jobs import streaming_anchor_index

    pages = _linked_pages(spark, sf_dir)
    return streaming_anchor_index(spark, pages.repartition(1), "html", "doc_id")


# robots.txt rules fixture: one Python literal builder renders BOTH
# engines' rule tables, so the planted REP semantics (longest match,
# allow wins ties, default-allow) are bit-identical.
def _robots_rules_py() -> list[tuple[str, str, bool]]:
    rules: list[tuple[str, str, bool]] = []
    for k in range(20):
        h = f"shop{k}.example.com"
        rules.append((h, "/login", False))
        if k % 3 == 0:
            # general section allowed, item pages denied (longest wins)
            rules.append((h, "/catalog/", True))
            rules.append((h, "/catalog/item/", False))
        if k == 1:
            # equal-length allow/disallow pair: allow must win the tie
            rules.append((h, "/catalog/item/", True))
            rules.append((h, "/catalog/item/", False))
    return rules


_ROBOTS_RULES_SQL = "SELECT * FROM (VALUES " + ", ".join(
    f"('{h}', '{p}', {str(a).upper()})" for h, p, a in _robots_rules_py()
) + ") AS t(host, path_prefix, allow)"


@query(
    "robots_screen",
    oracle=f"""
WITH c AS ({_URL_CANON_SQL}),
rules AS ({_ROBOTS_RULES_SQL}),
cand AS (
  SELECT id, canon, host,
    CASE WHEN regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) = ''
         THEN '/'
         ELSE regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) END AS path
  FROM c WHERE host <> ''
),
m AS (
  SELECT cand.*, r.path_prefix, r.allow
  FROM cand LEFT JOIN rules r
    ON cand.host = r.host AND starts_with(cand.path, r.path_prefix)
),
pick AS (
  SELECT id, canon, host, path, path_prefix, allow,
    row_number() OVER (
      PARTITION BY id
      ORDER BY length(path_prefix) DESC NULLS LAST,
               allow DESC, path_prefix DESC) AS rn
  FROM m
)
SELECT id, canon, host, path,
       COALESCE(allow, TRUE) AS allowed,
       path_prefix AS rule
FROM pick WHERE rn = 1
""",
)
def q_robots_screen(spark, sf_dir):
    """EXT — robots-exclusion screening (urls.robots_filter, RFC 9309
    REP semantics): every frontier candidate checks its host's parsed
    allow/disallow prefix rules — LONGEST match decides, allow wins an
    equal-length tie (planted on host shop1), hosts with no matching
    rule default to allowed. Rules are robots.txt-cardinality so the
    join broadcasts; the longest-match pick is one lexicographic
    max(struct) aggregation keyed by candidate — no window over
    corpus-sized data, no all-pairs. The oracle restates the prefix
    join and the (length, allow, prefix) ordering."""
    from .operators.urls import robots_filter

    rules = operators.local_rows_df(
        spark, _robots_rules_py(), "host string, path_prefix string, allow boolean"
    )
    return robots_filter(_fixture_urls(spark, sf_dir), rules, "url", "id")


@query(
    "robots_screened_frontier",
    oracle=f"""
WITH c AS ({_URL_CANON_SQL}),
rules AS ({_ROBOTS_RULES_SQL}),
cand0 AS (
  SELECT id, host,
    CASE WHEN regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) = ''
         THEN '/'
         ELSE regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) END AS path
  FROM c WHERE host <> ''
),
m AS (
  SELECT cand0.*, r.path_prefix, r.allow
  FROM cand0 LEFT JOIN rules r
    ON cand0.host = r.host AND starts_with(cand0.path, r.path_prefix)
),
pick AS (
  SELECT id, allow,
    row_number() OVER (
      PARTITION BY id
      ORDER BY length(path_prefix) DESC NULLS LAST,
               allow DESC, path_prefix DESC) AS rn
  FROM m
),
permitted AS (SELECT id FROM pick WHERE rn = 1 AND COALESCE(allow, TRUE)),
seen AS (SELECT DISTINCT canon FROM c WHERE id % 4 = 0),
cand AS (
  SELECT canon, host, CAST(min(c.id) AS BIGINT) AS id
  FROM c JOIN permitted p ON c.id = p.id
  WHERE host <> '' GROUP BY canon, host
),
fresh AS (
  SELECT cand.canon, cand.host, cand.id
  FROM cand LEFT JOIN seen ON cand.canon = seen.canon
  WHERE seen.canon IS NULL
)
SELECT id, canon, host,
  CAST(row_number() OVER (PARTITION BY host ORDER BY id ASC) AS BIGINT) AS rk
FROM fresh QUALIFY rk <= 3
""",
)
def q_robots_screened_frontier(spark, sf_dir):
    """EXT — the POLITE crawl loop end-to-end: candidates pass the
    RFC 9309 robots screen first (on the fixture, every item page of
    the k%3==0 shop hosts is disallowed by their longest-match rule,
    shop1's equal-length tie resolves to allow), and only permitted
    URLs enter the frontier step — canonical anti-join vs the
    persisted seen set plus the 3-per-host politeness cap. Pure
    composition of two hash-matched operators; the robots verdict
    table is candidate-sized and joins back semi-style on id before
    the frontier's own exchanges."""
    from .operators.urls import (
        dedup_by_canonical_url,
        frontier_next_batch,
        robots_filter,
    )

    u = _fixture_urls(spark, sf_dir)
    rules = operators.local_rows_df(
        spark, _robots_rules_py(), "host string, path_prefix string, allow boolean"
    )
    permitted = u.join(
        robots_filter(u, rules, "url", "id")
        .where(F.col("allowed"))
        .select("id"),
        "id",
    )
    seen = dedup_by_canonical_url(
        u.where(F.col("id") % 4 == 0), "url", "id"
    ).select("canon")
    return frontier_next_batch(permitted, seen, "url", "id", per_host_cap=3)


@query(
    "crawl_prioritized_frontier",
    oracle=f"""
WITH c AS ({_URL_CANON_SQL}),
seen AS (SELECT DISTINCT canon FROM c WHERE id % 4 = 0),
cand AS (
  SELECT canon, host, CAST(min(id) AS BIGINT) AS id
  FROM c WHERE host <> '' GROUP BY canon, host
),
fresh AS (
  SELECT cand.canon, cand.host, cand.id
  FROM cand LEFT JOIN seen ON cand.canon = seen.canon
  WHERE seen.canon IS NULL
),
frontier AS (
  SELECT id, canon, host,
    CAST(row_number() OVER (PARTITION BY host ORDER BY id ASC) AS BIGINT) AS rk
  FROM fresh QUALIFY rk <= 3
),
auth AS (
  SELECT dst AS host, CAST(COUNT(*) AS BIGINT) AS in_links,
         CAST(COUNT(DISTINCT src) AS BIGINT) AS in_hosts
  FROM ({_HOST_EDGES_SQL}) GROUP BY dst
)
SELECT f.id, f.canon, f.host, f.rk,
       COALESCE(a.in_links, 0) AS in_links,
       COALESCE(a.in_hosts, 0) AS in_hosts
FROM frontier f LEFT JOIN auth a ON f.host = a.host
""",
)
def q_crawl_prioritized_frontier(spark, sf_dir):
    """EXT — authority-prioritized crawl frontier: the full loop a
    focused crawler runs. Outlinks extracted from fetched pages
    (extract_links) become the host→host link graph; per-host
    authority (total in-links + distinct referring hosts — the
    SQL-exact companion to the pagerank composition below) joins onto
    the frontier batch (canonical-URL anti-join vs the seen set +
    3-per-host politeness cap), so the scheduler can spend its fetch
    budget on well-referenced hosts first. Ordering is left to the
    consumer — no global sort/window is added; the join is
    frontier-sized vs a host-cardinality authority table (broadcast
    territory at any scale)."""
    from .operators.urls import dedup_by_canonical_url, frontier_next_batch

    u = _fixture_urls(spark, sf_dir)
    seen = dedup_by_canonical_url(
        u.where(F.col("id") % 4 == 0), "url", "id"
    ).select("canon")
    frontier = frontier_next_batch(u, seen, "url", "id", per_host_cap=3)
    auth = _host_edges(spark, sf_dir).groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).alias("in_links"),
        F.countDistinct("src").alias("in_hosts"),
    )
    return frontier.join(auth, "host", "left").select(
        "id",
        "canon",
        "host",
        "rk",
        F.coalesce("in_links", F.lit(0)).alias("in_links"),
        F.coalesce("in_hosts", F.lit(0)).alias("in_hosts"),
    )


@query("host_link_pagerank")  # iterative power method — rows-only
def q_host_link_pagerank(spark, sf_dir):
    """EXT — weighted PageRank over the extracted host→host link
    graph (the authority signal crawl schedulers and spam filters
    actually use at web scale): parallel links pre-aggregate to edge
    weights, then graph.pagerank's weighted power method ranks hosts.
    Iterative fixpoint — not SQL-expressible, so rows-only here; the
    pagerank operator itself is numpy-parity-pinned in
    tests/test_triangles.py and the edge stream feeding it is the
    hash-matched html_link_extract/_HOST_EDGES_SQL surface. Output
    rounds to 9 (the operator's documented contract) and the graph is
    host-cardinality — tiny next to the corpus that produced it."""
    from .operators.graph import pagerank

    edges = (
        _host_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return pagerank(edges, weight_col="w").select(
        "node", F.round("rank", 9).alias("rank")
    )


@query("host_hits_scores")  # iterative mutual recursion — rows-only
def q_host_hits_scores(spark, sf_dir):
    """EXT — HITS hubs & authorities (graph.hits, Kleinberg 1999) over
    the same extracted host→host link graph as host_link_pagerank:
    the second classic link-authority axis — a catalog host that
    links every shop is a HUB even if nothing cites it, and link-spam
    separates as high-hub/low-authority. Iterative normalize-multiply
    fixpoint — not SQL-expressible, so rows-only here; the operator is
    numpy-parity-pinned in tests/test_triangles.py and the edge
    stream feeding it is the hash-matched _HOST_EDGES_SQL surface.
    Rounded to 9 like the pagerank twin."""
    from .operators.graph import hits

    return hits(_host_edges(spark, sf_dir).distinct()).select(
        "node",
        F.round("hub", 9).alias("hub"),
        F.round("authority", 9).alias("authority"),
    )


_BFS_ORACLE = f"""
WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ({_HOST_EDGES_SQL})),
seeds AS (
  SELECT DISTINCT src AS node FROM e WHERE src LIKE 'shop0.%' OR src LIKE 'shop1.%'
),
walk(node, dist) AS (
  SELECT node, 0 FROM seeds
  UNION ALL
  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.node WHERE w.dist < 3
)
SELECT node, CAST(MIN(dist) AS INTEGER) AS dist FROM walk GROUP BY node
"""


@query("host_distance_bfs", oracle=_BFS_ORACLE)
def q_host_distance_bfs(spark, sf_dir):
    """EXT — multi-source BFS seed distance (graph.bfs_distances) over
    the host link graph: hop count from the nearest trusted seed, the
    TrustRank-family (Gyöngyi et al. 2004) corpus-weighting signal —
    "pages near good seeds are good" is the standard crawl-priority
    prior. Seeds are the shop0/shop1 hosts; 3-hop horizon. Spark runs
    the frontier expansion (first-reach minimality via per-round
    anti-join); the oracle restates it as a depth-bounded recursive
    CTE with MIN(dist) — hash-matched because BFS distance is exact,
    not approximate."""
    from .operators.graph import bfs_distances

    edges = _host_edges(spark, sf_dir)
    seeds = edges.where(
        F.col("src").startswith("shop0.") | F.col("src").startswith("shop1.")
    ).select(F.col("src").alias("node"))
    return bfs_distances(edges, seeds, max_hops=3)


_COCITATION_ORACLE = f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({_HOST_EDGES_SQL}))
SELECT l.dst AS node_a, r.dst AS node_b,
       CAST(COUNT(*) AS BIGINT) AS n_cosources
FROM e l JOIN e r ON l.src = r.src AND l.dst < r.dst
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


@query("host_cocitation", oracle=_COCITATION_ORACLE)
def q_host_cocitation(spark, sf_dir):
    """EXT — co-citation pair counts (graph.cocitation_counts, Small
    1973) over the host link graph: hosts endorsed by the same
    sources are related even when neither links the other — the
    classic related-pages / spam-cluster signal. Distinct edges, self
    join on src, unordered pairs, min_count=2 to drop the
    single-cosource noise tail; the oracle restates the identical
    join. The quadratic-per-source hazard is documented on the
    operator and capped via max_out_degree in production use; the
    host graph here is host-cardinality so the uncapped form is the
    honest restatable query."""
    from .operators.graph import cocitation_counts

    return cocitation_counts(_host_edges(spark, sf_dir), min_count=2)




# ---------------------------------------------------------------------------
# Free-text PII scrubbing — privacy.scrub_pii
# ---------------------------------------------------------------------------
_PII_FIXTURE_SQL = """
SELECT doc_id, CASE CAST(doc_id % 5 AS BIGINT)
  WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-867-5309'
  WHEN 1 THEN text || ' origin 192.168.1.77 port 8080'
  WHEN 2 THEN text || ' card 4111-1111-1111-1111 exp 11/26'
  WHEN 3 THEN text || ' ssn 078-05-1120 desk 416.555.0199'
  ELSE text END AS s
FROM documents
"""


def _pii_scrub_sql() -> str:
    """The oracle twin of privacy.scrub_pii: one nested stage per info
    type, counting then replacing in the SAME fixed order so the
    cascade semantics (no double-count inside earlier replacements)
    are restated exactly."""
    from .operators.privacy import PII_PATTERNS

    prev = _PII_FIXTURE_SQL
    carry: list[str] = []
    for t, pat in PII_PATTERNS.items():
        cname = f"n_{t.lower()}"
        keep = (", " + ", ".join(carry)) if carry else ""
        prev = f"""
SELECT doc_id{keep},
  CAST(len(regexp_extract_all(s, '{pat}')) AS BIGINT) AS {cname},
  regexp_replace(s, '{pat}', '[{t}]', 'g') AS s
FROM ({prev})"""
        carry.append(cname)
    return (
        f"SELECT doc_id, s AS text, {', '.join(carry)}, "
        f"{' + '.join(carry)} AS n_pii FROM ({prev})"
    )


@query("pii_scrub", oracle=_pii_scrub_sql())
def q_pii_scrub(spark, sf_dir):
    """EXT — corpus-scale PII redaction (privacy.scrub_pii): the
    free-text counterpart of the reference's structured-field DLP
    transforms (DLPTokenizationDoFn.java:66-159 deidentifies RDB
    column values through templates; a training corpus needs
    irreversible IN-TEXT redaction before release). Deterministic PII
    tails (email+phone / IP / card / SSN+dotted-phone / clean) attach
    by doc_id class identically in both engines; each info type counts
    then replaces in fixed cascade order (card before phone so the
    3-3-4 pattern can't fire inside a 16-digit card; placeholders are
    digit-free so later types never match inside them). Pure
    regexp expression chain — no shuffle, no UDF; at 100 TB this
    fuses into the scan."""
    from .operators.privacy import scrub_pii

    return scrub_pii(_pii_fixture_df(spark, sf_dir), "text")


def _pii_fixture_df(spark, sf_dir):
    """Spark twin of _PII_FIXTURE_SQL, shared by pii_scrub and
    pii_report."""
    d = t(spark, sf_dir, "documents")
    cls = (F.col("doc_id") % 5).cast("long")
    s = (
        F.when(
            cls == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-867-5309"),
            ),
        )
        .when(cls == 1, F.concat(F.col("text"), F.lit(" origin 192.168.1.77 port 8080")))
        .when(
            cls == 2,
            F.concat(F.col("text"), F.lit(" card 4111-1111-1111-1111 exp 11/26")),
        )
        .when(
            cls == 3,
            F.concat(F.col("text"), F.lit(" ssn 078-05-1120 desk 416.555.0199")),
        )
        .otherwise(F.col("text"))
    )
    return d.select("doc_id", s.alias("text"))


def _pii_report_sql() -> str:
    from .operators.privacy import PII_PATTERNS

    sums = ",\n  ".join(
        f"CAST(SUM(s.n_{t.lower()}) AS BIGINT) AS n_{t.lower()}"
        for t in PII_PATTERNS
    )
    return f"""
WITH s AS ({_pii_scrub_sql()})
SELECT d.source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN s.n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
  {sums},
  CAST(SUM(s.n_pii) AS BIGINT) AS n_pii
FROM s JOIN documents d ON s.doc_id = d.doc_id
GROUP BY d.source
"""


@query("pii_report", oracle=_pii_report_sql())
def q_pii_report(spark, sf_dir):
    """EXT — the per-source PII AUDIT over the scrub output: document
    counts, affected-document counts, and per-type finding totals by
    source stream — the findings summary a DLP run reports (the
    reference's import surfaces findings to BigQuery for exactly this
    kind of inspection; here it is one partial-aggregated groupBy over
    the scrub projection, so the audit costs one aggregation on top
    of the redaction map)."""
    from .operators.privacy import PII_PATTERNS, scrub_pii

    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    s = scrub_pii(_pii_fixture_df(spark, sf_dir), "text")
    return (
        s.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("n_pii") > 0, F.lit(1)).otherwise(F.lit(0))
            ).alias("docs_with_pii"),
            *[
                F.sum(f"n_{t.lower()}").alias(f"n_{t.lower()}")
                for t in PII_PATTERNS
            ],
            F.sum("n_pii").alias("n_pii"),
        )
    )


# ---------------------------------------------------------------------------
# Encoding repair (mojibake) — text.repair_mojibake
# ---------------------------------------------------------------------------
# Deterministic corruption fixtures, computed ONCE here by the real
# codec round-trips and embedded as identical literals in both
# engines: a CP1252 mojibake prefix, a double-encoded prefix, and a
# LEGITIMATE accented/curly-quote prefix that must survive untouched.
_MOJI_SINGLE = "café — naïve review ".encode("utf-8").decode("cp1252")
_MOJI_DOUBLE = (
    "déjà vu ".encode("utf-8").decode("latin-1").encode("utf-8").decode("cp1252")
)
_MOJI_LEGIT = "déjà vu — don’t fix "


def _moji_corrupt_sql(src: str = "SELECT doc_id, text FROM documents") -> str:
    """The deterministic corruption CASE over any (doc_id, text)
    source — shared by mojibake_repair and the web_curation
    composition."""
    return f"""SELECT doc_id, CASE CAST(doc_id % 4 AS BIGINT)
  WHEN 0 THEN '{_MOJI_SINGLE}' || text
  WHEN 2 THEN '{_MOJI_DOUBLE}' || text
  WHEN 3 THEN '{_MOJI_LEGIT}' || text
  ELSE text END AS s
FROM ({src})"""


def _moji_corrupt_col() -> F.Column:
    """Spark twin of _moji_corrupt_sql's CASE."""
    cls = (F.col("doc_id") % 4).cast("long")
    return (
        F.when(cls == 0, F.concat(F.lit(_MOJI_SINGLE), F.col("text")))
        .when(cls == 2, F.concat(F.lit(_MOJI_DOUBLE), F.col("text")))
        .when(cls == 3, F.concat(F.lit(_MOJI_LEGIT), F.col("text")))
        .otherwise(F.col("text"))
    )


def _moji_sql_pass(prev: str) -> str:
    """One repair pass as SQL over subquery ``prev`` (columns doc_id,
    s) — the byte reconstruction goes char→codepoint→hex→unhex→UTF-8
    decode, safe because the acceptance regex guarantees validity."""
    from .operators.text import CP1252_AS_C1, CP1252_GLYPHS, MOJIBAKE_VALID_RE

    return f"""
SELECT doc_id, CASE
  WHEN regexp_matches(tr, '{MOJIBAKE_VALID_RE}')
   AND regexp_matches(tr, '[\\x80-\\xff]')
  THEN decode(unhex(array_to_string(list_transform(
         range(1, length(tr) + 1),
         x -> lpad(to_hex(unicode(tr[x]))::VARCHAR, 2, '0')), '')))
  ELSE s END AS s
FROM (SELECT doc_id, s, translate(s, '{CP1252_GLYPHS}', '{CP1252_AS_C1}') AS tr
      FROM ({prev}))
"""


@query(
    "mojibake_repair",
    oracle=f"""
WITH fixed AS ({_moji_sql_pass(_moji_sql_pass(_moji_corrupt_sql()))})
SELECT doc_id, s AS repaired,
  trim(regexp_replace(regexp_replace(lower(s), '[^a-z0-9 ]', ' ', 'g'),
                      ' +', ' ', 'g')) AS norm
FROM fixed
""",
)
def q_mojibake_repair(spark, sf_dir):
    """EXT — ftfy-style encoding repair (text.repair_mojibake)
    composed into the dedup-key normalizer: documents get a
    deterministic corruption prefix by doc_id class — CP1252 mojibake
    ('cafÃ© â€” naÃ¯ve'), DOUBLE-encoded mojibake ('ÃƒÂ©...', needs
    both passes), legitimate accents + curly quotes (must pass
    through untouched), or clean ASCII — and the two-pass repair
    (translate → whole-string RFC 3629 validity gate → Latin-1/UTF-8
    re-decode, all codegen expressions) restores the original text
    before normalize_text builds the fingerprint key. The oracle
    restates both passes byte-for-byte (char→hex→unhex→decode for the
    re-decode step); hash-matching the repaired STRINGS pins every
    branch including the do-not-touch ones."""
    from .operators.text import normalize_text, repair_mojibake

    d = t(spark, sf_dir, "documents")
    repaired = repair_mojibake(_moji_corrupt_col(), passes=2)
    return d.select(
        "doc_id",
        repaired.alias("repaired"),
        normalize_text(repaired).alias("norm"),
    )


# ---------------------------------------------------------------------------
# Web curation composition: HTML → mojibake → quality → dedup
# ---------------------------------------------------------------------------
_WEB_SRC_SQL = """SELECT doc_id, text FROM documents
UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id = 1"""


def _web_curation_sql() -> str:
    corrupt = _moji_corrupt_sql(_WEB_SRC_SQL)
    blocks = _html_blocks_sql(f"SELECT doc_id, s AS text FROM ({corrupt})")
    fixed = _moji_sql_pass(_moji_sql_pass("SELECT doc_id, s FROM main"))
    return f"""
WITH main AS (
  SELECT doc_id, string_agg(text, ' ' ORDER BY block_ord) AS s
  FROM ({blocks}) WHERE verdict = 'content' GROUP BY doc_id
),
fixed AS ({fixed}),
scored AS (
  SELECT doc_id, s AS text FROM fixed
),
kept AS (
  SELECT doc_id, {_QUALITY_SQL} AS quality, md5(text) AS fingerprint
  FROM scored
)
SELECT k.doc_id, k.quality, k.fingerprint
FROM (SELECT * FROM kept WHERE quality >= 0.55) k
JOIN (SELECT fingerprint, min(doc_id) AS doc_id
      FROM kept WHERE quality >= 0.55 GROUP BY fingerprint) r
  ON k.fingerprint = r.fingerprint AND k.doc_id = r.doc_id
"""


@query("web_curation_pipeline", oracle=_web_curation_sql())
def q_web_curation_pipeline(spark, sf_dir):
    """EXT — the WEB ingestion path end to end, every stage an
    operator this engine ships: crawl pages (fixture HTML around
    mojibake-corrupted text, built identically in both engines, plus a
    re-keyed duplicate plant at doc_id 100001) → jusText-family main-
    content extraction (chrome dropped, pure-chrome pages gone) →
    two-pass ftfy-style encoding repair → quality gate (composite
    length/stopword/punctuation score ≥ 0.55 — drops ~30% of this
    fixture) → exact-fingerprint dedup (md5 of the cleaned text,
    lowest doc_id kept, so the plant loses to its original). Per-stage
    semantics are each pinned by their own hash-matched query; this
    composition pins that the stages COMPOSE — the whole path is
    expression chains + two bounded groupBys (block reassembly,
    fingerprint), the 100 TB shape of a crawl-to-corpus pipeline."""
    from .operators.html_extract import extract_main_content
    from .operators.text import quality_score, repair_mojibake

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    src = d.unionByName(
        d.where(F.col("doc_id") == 1).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
    )
    corrupted = src.select("doc_id", _moji_corrupt_col().alias("text"))
    pages = corrupted.select("doc_id", _fixture_html().alias("html"))
    main = extract_main_content(
        pages, "html", "doc_id", min_words=5, max_link_density=0.4,
        min_stop_density=0.02,
    )
    fixed = main.select(
        "doc_id", repair_mojibake(F.col("main_text"), passes=2).alias("text")
    )
    kept = (
        fixed.select(
            "doc_id",
            quality_score(F.col("text")).alias("quality"),
            F.md5("text").alias("fingerprint"),
        )
        .where(F.col("quality") >= 0.55)
        # kept feeds BOTH the representative groupBy and the semi-join
        # left side; without a lineage cut the whole synth → extract →
        # repair → quality chain executes once PER CONSUMER (measured
        # 2× at sf0.1 — the incremental_curation per-stage discipline)
        .localCheckpoint(eager=False)
    )
    rep = kept.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    return kept.join(rep, ["fingerprint", "doc_id"], "left_semi").select(
        "doc_id", "quality", "fingerprint"
    )



@query(
    "tfidf_top_terms",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM words WHERE word <> '' GROUP BY doc_id, word
),
dfreq AS (
  SELECT word, COUNT(*) AS doc_freq FROM tf GROUP BY word
  HAVING COUNT(*) <= 0.5 * (SELECT COUNT(*) FROM documents)
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word, tf.tf, dfreq.doc_freq,
         CAST(tf.tf AS DOUBLE) * ((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(dfreq.doc_freq AS DOUBLE) + 1.0)) AS raw
  FROM tf JOIN dfreq USING (word) CROSS JOIN n
)
SELECT doc_id, word, tf, doc_freq, round(raw, 9) AS tfidf, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY raw DESC, word ASC) AS rk
  FROM scored
)
WHERE rk <= 3
""",
)
def q_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 characteristic terms by TF-IDF — the
    keyword-extraction stage of corpus curation. Inverted-index shape:
    two partial aggs, a shuffle join on word, a broadcast corpus count,
    a per-document window. Rational idf (N+1)/(df+1) keeps the score
    bit-exact across engines (IEEE div/mul are correctly rounded; ln is
    not). max_df=0.5 (a CORPUS FRACTION — scale-robust where an
    absolute cap degenerates: 2000 kept every word at sf0.01 and
    dropped every word at sf1) prunes stop-word postings before the
    word-keyed join shuffle via a broadcast anti-join of the over-cap
    vocabulary, mirrored by the oracle's HAVING; 0.5 x N is IEEE-exact,
    so the threshold compare is bit-identical across engines."""
    d = t(spark, sf_dir, "documents")
    return text_ops.tfidf_top_terms(d, "text", "doc_id", k=3, max_df=0.5)


_BM25_SQL = """
WITH words AS (
  SELECT doc_id, w AS word
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
  WHERE w <> ''
), doclen AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM words GROUP BY 1
), corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl
  FROM doclen
), tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM words WHERE word IN ('dup', 'merge', 'window') GROUP BY 1, 2
), dfreq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS doc_freq FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id, tf.word,
         (((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(doc_freq AS DOUBLE) + 1.0))
          * CAST(tf AS DOUBLE) * (1.2 + 1.0))
         / (CAST(tf AS DOUBLE)
            + (1.2 * ((1.0 - 0.75)
                      + ((0.75 * CAST(dl AS DOUBLE))
                         / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
         AS s
  FROM tf JOIN dfreq USING (word) JOIN doclen USING (doc_id) CROSS JOIN corpus
), agg AS (
  SELECT doc_id,
         round(COALESCE(max(CASE WHEN word = 'dup' THEN s END), 0.0)
             + COALESCE(max(CASE WHEN word = 'merge' THEN s END), 0.0)
             + COALESCE(max(CASE WHEN word = 'window' THEN s END), 0.0), 9) AS score
  FROM scored GROUP BY 1
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
FROM agg ORDER BY score DESC, doc_id ASC LIMIT 15
"""


@query("bm25_topk_docs", oracle=_BM25_SQL)
def q_bm25_topk_docs(spark, sf_dir):
    """EXT — BM25-shaped ranked keyword retrieval (text.bm25_topk):
    top-15 documents for the query {dup, merge, window} (the fixture's
    one rare term plus two common ones, so idf weighting, tf
    saturation, and length normalization all bind). Rational idf and
    explicit float association keep scores bit-identical to the DuckDB
    oracle; the per-doc total sums per-term scores in fixed query
    order (conditional-max columns), never a shuffle-ordered float
    aggregation. Top-k via TakeOrderedAndProject, not a global
    window."""
    return text_ops.bm25_topk(
        t(spark, sf_dir, "documents"), ["dup", "merge", "window"], k=15
    )


@query(
    "hybrid_retrieval_rrf",
    oracle=f"""
WITH bm AS (
  SELECT doc_id, rk FROM ({_BM25_SQL})
),
kn AS (
  SELECT nid AS doc_id, rank AS rk FROM (
    WITH {_EMB_EX},
    dots AS (
      SELECT c.vec_id AS nid, CAST(SUM(q.x * c.x) AS BIGINT) AS dot
      FROM ex q JOIN ex c ON q.i = c.i
      WHERE q.vec_id = 0 AND c.vec_id != 0
      GROUP BY 1
    ),
    scored AS (
      SELECT nid, ROUND(CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm), 9) AS cosine
      FROM dots
      CROSS JOIN (SELECT nrm FROM norms WHERE vec_id = 0) nq
      JOIN norms nc ON nid = nc.vec_id
    )
    SELECT nid,
           CAST(row_number() OVER (ORDER BY cosine DESC, nid) AS BIGINT) AS rank
    FROM scored
  ) WHERE rank <= 15
),
fused AS (
  SELECT COALESCE(bm.doc_id, kn.doc_id) AS doc_id,
         round(COALESCE(1.0 / (60.0 + CAST(bm.rk AS DOUBLE)), 0.0)
             + COALESCE(1.0 / (60.0 + CAST(kn.rk AS DOUBLE)), 0.0), 9)
           AS rrf_score
  FROM bm FULL OUTER JOIN kn ON bm.doc_id = kn.doc_id
)
SELECT doc_id, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rk
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
""",
)
def q_hybrid_retrieval_rrf(spark, sf_dir):
    """EXT — hybrid lexical+dense retrieval with reciprocal-rank
    fusion (retrieval.rrf_fuse): BM25 top-15 for the query {dup,
    merge, window} and exact-cosine top-15 neighbors of document 0's
    embedding fuse by 1/(60+rank) — the standard score-free merge of
    incomparable retrievers (RAG's candidate-generation step). Both
    upstream retrievers are the already-verified operators; fusion
    adds fixed-order float arithmetic only, so the fused scores
    hash-match the composed SQL oracle."""
    from .operators.retrieval import rrf_fuse

    bm = text_ops.bm25_topk(
        t(spark, sf_dir, "documents"), ["dup", "merge", "window"], k=15
    ).select("doc_id", "rk")
    e = t(spark, sf_dir, "embeddings")
    kn = (
        similarity.brute_force_topk(e.where(F.col("vec_id") == 0), e, k=15)
        .select(F.col("nid").alias("doc_id"), F.col("rank").alias("rk"))
    )
    return rrf_fuse([bm, kn], top_n=10)


_BM25_QUERY_SET = [
    (1, "dup"), (1, "merge"),
    (2, "window"), (2, "sort"), (2, "spark"),
    (3, "dup"), (3, "customer"), (3, "the"),
]

# the oracle's VALUES clause derives from the SAME _BM25_QUERY_SET the
# Spark query feeds to createDataFrame — editing one cannot silently
# diverge the other
_BM25_BATCH_SQL_TEMPLATE = """
WITH words AS (
  SELECT doc_id, w AS word
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
  WHERE w <> ''
), doclen AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM words GROUP BY 1
), corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl
  FROM doclen
), qterms AS (
  SELECT * FROM (VALUES {values}) AS q(query_id, word)
), tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM words WHERE word IN (SELECT word FROM qterms) GROUP BY 1, 2
), dfreq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS doc_freq FROM tf GROUP BY 1
), scored AS (
  SELECT q.query_id, tf.doc_id,
         CAST(round(
           ((((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(doc_freq AS DOUBLE) + 1.0))
             * CAST(tf AS DOUBLE) * (1.2 + 1.0))
            / (CAST(tf AS DOUBLE)
               + (1.2 * ((1.0 - 0.75)
                         + ((0.75 * CAST(dl AS DOUBLE))
                            / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))
           * 1000000.0) AS BIGINT) AS q
  FROM tf
  JOIN dfreq USING (word) JOIN doclen USING (doc_id) CROSS JOIN corpus
  JOIN qterms q USING (word)
), agg AS (
  SELECT query_id, doc_id,
         round(CAST(sum(q) AS DOUBLE) / 1000000.0, 9) AS score
  FROM scored GROUP BY 1, 2
)
SELECT query_id, doc_id, score, rk FROM (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS BIGINT) AS rk
  FROM agg
) WHERE rk <= 5
"""

_BM25_BATCH_SQL = _BM25_BATCH_SQL_TEMPLATE.format(
    values=", ".join(f"({q}, '{w}')" for q, w in _BM25_QUERY_SET)
)


@query("bm25_batch_topk", oracle=_BM25_BATCH_SQL)
def q_bm25_batch_topk(spark, sf_dir):
    """EXT — batch BM25 retrieval for a query TABLE
    (text.bm25_batch_topk): three fixed queries run together through
    one postings equi-join, per-term scores int64-quantized so the
    per-(query, doc) total is an exact integer sum immune to shuffle
    order, per-query top-5 via a query-partitioned window. The scale
    shape for serving thousands of queries in one pass."""
    queries = spark.createDataFrame(_BM25_QUERY_SET, ["query_id", "word"])
    return text_ops.bm25_batch_topk(
        t(spark, sf_dir, "documents"), queries, k=5
    )


def _zterms(bcol: str, k: int, i: int, bits: int = 8) -> str:
    """DuckDB-side Morton interleave: same shift/or tree the Spark
    expression builds (operators/layout.py interleave_bits)."""
    return " | ".join(
        f"((({bcol} >> {bit}) & 1) << {bit * k + i})" for bit in range(bits)
    )


@query(
    "zorder_key",
    oracle=f"""
WITH stats AS (
  SELECT min(CAST(l_partkey AS DOUBLE)) AS mn0, max(CAST(l_partkey AS DOUBLE)) AS mx0,
         min(CAST(l_suppkey AS DOUBLE)) AS mn1, max(CAST(l_suppkey AS DOUBLE)) AS mx1
  FROM lineitem
),
b AS (
  SELECT l_orderkey, l_linenumber,
         LEAST(CAST(FLOOR((CAST(l_partkey AS DOUBLE) - mn0) * 256.0 / (mx0 - mn0 + 1e-9)) AS BIGINT), 255) AS b0,
         LEAST(CAST(FLOOR((CAST(l_suppkey AS DOUBLE) - mn1) * 256.0 / (mx1 - mn1 + 1e-9)) AS BIGINT), 255) AS b1
  FROM lineitem, stats
)
SELECT l_orderkey, l_linenumber, ({_zterms("b0", 2, 0)} | {_zterms("b1", 2, 1)}) AS zval
FROM b
""",
)
def q_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over two scan-filter columns —
    the multi-dimensional file-pruning layout. The key computation is
    deterministic bit math, so the DuckDB oracle checks it exactly; the
    actual pruning win (parquet footer stats) is pinned in
    tests/test_layout.py."""
    from .operators.layout import zorder_key

    li = t(spark, sf_dir, "lineitem")
    return zorder_key(li, ["l_partkey", "l_suppkey"]).select(
        "l_orderkey", "l_linenumber", F.col("_z").alias("zval")
    )


_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}


@query(
    "corpus_mixture",
    oracle=f"""
SELECT doc_id, source FROM documents
WHERE (source = 'src0' AND {sampling.sample_predicate_sql('doc_id', 1.0)})
   OR (source = 'src1' AND {sampling.sample_predicate_sql('doc_id', 0.5)})
   OR (source = 'src2' AND {sampling.sample_predicate_sql('doc_id', 0.25)})
   OR (source NOT IN ('src0', 'src1', 'src2') AND {sampling.sample_predicate_sql('doc_id', 0.1)})
""",
)
def q_corpus_mixture(spark, sf_dir):
    """Training-mix assembly: per-source rates with a default for
    unlisted sources — deterministic hash sampling, so the mix is
    reproducible across engines and cluster sizes."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.mixture_sample(d, "doc_id", "source", _MIX_WEIGHTS, default_weight=0.1)


@query(
    "deterministic_sample",
    oracle=f"""
SELECT doc_id, lang FROM documents
WHERE {sampling.sample_predicate_sql('doc_id', 0.25)}
""",
)
def q_deterministic_sample(spark, sf_dir):
    """Hash-based sampling: same rows on every engine and every
    partitioning (seeded df.sample is neither)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.deterministic_sample(d, "doc_id", 0.25)


@query(
    "stratified_sample",
    oracle=f"""
SELECT doc_id, lang FROM documents
WHERE CASE WHEN lang = 'en' THEN {sampling.sample_predicate_sql('doc_id', 0.5)}
           WHEN lang = 'de' THEN {sampling.sample_predicate_sql('doc_id', 0.25)}
           ELSE FALSE END
""",
)
def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling (portable sampleBy)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.stratified_sample(d, "doc_id", "lang", {"en": 0.5, "de": 0.25})


@query(
    "subword_token_count",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{text_ops.SUBWORD_PATTERN}')) AS BIGINT) AS n_subtokens
FROM documents
""",
)
def q_subword_token_count(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", text_ops.subword_token_count(F.col("text")).alias("n_subtokens")
    )


@query("winnow_fingerprints")  # Python rolling-hash algorithm — rows-only
def q_winnow(spark, sf_dir):
    """Exploded (doc_id, pos, fingerprint) rows — scalar-sortable for
    the driver's canonicalizer; the array form stays an internal API."""
    return text_ops.winnowing_fingerprint_rows(t(spark, sf_dir, "documents"))


@query(
    "multimodal_payload_stats",
    oracle="""
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len, md5(text) AS payload_md5
FROM documents
""",
)
def q_multimodal_stats(spark, sf_dir):
    """Binary-payload plumbing: pack → metadata-only stats (JVM-side);
    decode stages are stubbed per environment but share this schema."""
    d = attach_payload(t(spark, sf_dir, "documents"), "text")
    return payload_stats(d).select("doc_id", "byte_len", "payload_md5")


@query("multimodal_features")  # real BMP/PPM decode; payloads synthesized in-flight — rows-only
def q_multimodal_features(spark, sf_dir):
    """Decode → featurize over REAL image bytes (spec-conformant BMP/PPM
    synthesized deterministically per doc_id; fixtures ship no media).
    Features are actual pixel statistics. Deterministic, so the
    rows-only check is stable."""
    from .operators.multimodal import attach_media, extract_features

    d = attach_media(
        t(spark, sf_dir, "documents").repartition(32, "doc_id"),
        with_meta=False,  # extract_features re-derives dims from decode
    )
    return extract_features(d).select("doc_id", "byte_len", "width", "height", "mean_px")


@query("jpeg_decode_features")  # real baseline-JPEG decode — rows-only
def q_jpeg_decode_features(spark, sf_dir):
    """Decode → featurize over REAL baseline JPEG bytes (the dominant
    crawl image format): payloads are synthesized per doc_id as actual
    T.81 baseline streams (Annex K tables, huffman entropy coding) by
    the stdlib encoder and decoded by the stdlib decoder
    (operators/jpeg_codec.py — huffman + zigzag + dequant + batched
    IDCT + JFIF YCbCr→RGB) inside the same Arrow-batched mapInPandas
    stage the BMP/PPM/PNG path uses. Features are real pixel
    statistics of the DECODED (lossy) image. Deterministic synth ⟹
    stable rows-only check; decoded-pixel parity, hand-built stream
    fixtures, and phash compression-invariance are pinned in
    tests/test_jpeg_codec.py. Reference analogue: IMAGE columns
    shipped opaquely in BigQueryTableRowDoFn.java:42-46."""
    from .operators.multimodal import attach_media, extract_features

    d = attach_media(
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .repartition(32, "doc_id"),
        container="jpeg",
        with_meta=False,  # consumer decodes the stream itself
    )
    return extract_features(d).select(
        "doc_id", "byte_len", "width", "height", "mean_px"
    )


@query("multimodal_audio_features")  # real RIFF/PCM WAV decode — rows-only
def q_multimodal_audio(spark, sf_dir):
    """WAV decode → signal features (duration, RMS, zero crossings)
    over real 16-bit PCM bytes. Deterministic rows-only check."""
    from .operators.multimodal import attach_media, extract_audio_features

    d = attach_media(
        t(spark, sf_dir, "documents").repartition(32, "doc_id"),
        media="audio",
        with_meta=False,  # consumer decodes the WAV itself
    )
    return extract_audio_features(d).select(
        "doc_id", "byte_len", "sample_rate", "n_samples", "duration_ms", "zero_crossings"
    )


@query("multimodal_header_probe")  # header-bytes-only dimension probe — rows-only
def q_multimodal_header_probe(spark, sf_dir):
    """Media dimensions/duration WITHOUT decode: the JVM ships only a
    4 KB payload prefix + total length to Python, and the probe parses
    header offsets alone (media_codecs.probe_media_header) — the stats
    pass over a 100 TB media corpus must not pay pixel cost it
    discards. Mixed corpus: images for doc_id%3==0 (half of those
    re-containered as PNG — the probe reads dims straight from IHDR,
    no inflate), audio %3==1, video %3==2; deterministic synth, so
    rows-only is stable. Header-equals-full-decode parity pinned in
    tests."""
    from .operators.multimodal import attach_media, media_header_stats

    d = t(spark, sf_dir, "documents").repartition(32, "doc_id")
    # with_meta=False: the probe re-derives every stat from header
    # bytes — paying attach_media's decode-for-metadata (a full PNG
    # inflate per row on the png branch) for columns this query drops
    # violated the query's own no-decode point (r14).
    # ONE python chain via per-row media dispatch instead of 4 branch
    # chains (r15): the branch union paid 8 × 32 python worker
    # sessions (~10 ms each) to synthesize the SAME per-id payloads —
    # attach_media(media_col=...) produces row-identical output with
    # 2 × 32; drove the probe 2.6 s → ~1.2 s at local[32] sf0.1.
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
    out = media_header_stats(
        attach_media(
            spec,
            with_meta=False,
            media_col="_media",
            container_col="_container",
        )
    )
    return out.select(
        "doc_id", "byte_len", "media_format", "width", "height",
        "sample_rate", "n_samples", "n_frames",
    )


@query("multimodal_resize")  # real decode + nearest-neighbor resize — rows-only
def q_multimodal_resize(spark, sf_dir):
    """Thumbnail stage: real BMP/PPM decode → nearest-neighbor resize →
    fixed-width digest rows. Deterministic, so the rows-only check is
    stable."""
    from .operators.multimodal import attach_media, resize_images

    d = attach_media(
        t(spark, sf_dir, "documents").repartition(32, "doc_id"),
        with_meta=False,  # resize decodes the payload itself
    )
    return resize_images(d, out_w=2, out_h=2)


@query("multimodal_frame_sample")  # real YUV4MPEG2 stream decode — rows-only
def q_multimodal_frame_sample(spark, sf_dir):
    """Frame sampling over real Y4M streams: one digest row per sampled
    timestamp, digesting the actual frame shown at that instant.
    Deterministic, so the rows-only check is stable."""
    from .operators.multimodal import attach_media, sample_frames

    d = attach_media(
        t(spark, sf_dir, "documents").repartition(32, "doc_id"),
        media="video",
        with_meta=False,  # sample_frames re-derives duration from the stream
    )
    return sample_frames(d, every_ms=250)


# ---------------------------------------------------------------------------
# §2.1-ext TPC-H-adapted SQL pack
#
# The reference pushes its analytical SQL to BigQuery
# (BQReidentificationPipeline.java:100-105); here the same query class
# runs natively on Catalyst. Each query is adapted to the fixture
# schema (no partsupp / ship-mode / commit-receipt columns) while
# keeping the SQL feature it exists to exercise: correlated scalar
# subqueries (q2, q17), EXISTS / NOT EXISTS (q4, q21, q22), IN +
# HAVING subqueries (q18, q20), NOT IN (q16), CTE + scalar max (q15),
# CASE aggregation (q8, q12, q14), disjunctive pushdown (q19), and
# multiway broadcast joins (q7–q10).
#
# Queries whose point IS the nested-SQL shape run through spark.sql
# over temp views — the same string is the DuckDB oracle, so the text
# must stay engine-portable (shared subset: TIMESTAMP literals,
# INTERVAL n DAY, year(), right(), CAST ... AS DECIMAL/BIGINT). The
# rest are DataFrame-API implementations: subqueries decorrelated by
# hand into agg+join, NOT IN as anti join, IN as semi join — the plans
# Catalyst would rewrite to, stated explicitly.
# ---------------------------------------------------------------------------

_TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _sql(spark: SparkSession, sf_dir: str, sql_text: str) -> DataFrame:
    """Register the fixture tables as temp views and run a native SQL
    query (S7 — the spark.sql surface)."""
    for name in _TPCH_TABLES:
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(sql_text)


_Q2_SQL = """
SELECT DISTINCT p_partkey, p_brand, s_name, l_extendedprice AS min_price
FROM part JOIN lineitem ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
WHERE p_type = 'SMALL' AND p_size <= 10
  AND l_extendedprice = (
      SELECT min(l2.l_extendedprice) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""


@query("tpch_q2_min_price_supplier", oracle=_Q2_SQL)
def q_tpch_q2(spark, sf_dir):
    """Correlated scalar subquery (min per part), run natively by
    Catalyst's decorrelation — one string serves engine and oracle."""
    return _sql(spark, sf_dir, _Q2_SQL)


@query(
    "tpch_q4_order_priority",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
""",
)
def q_tpch_q4(spark, sf_dir):
    """EXISTS → left-semi join with a mixed equi + range condition (the
    equi key still drives the shuffle; the range is a post-probe
    filter)."""
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle=f"""
SELECT {_dsum_sql('l_extendedprice * l_discount', 'revenue')}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
""",
)
def q_tpch_q6(spark, sf_dir):
    """All four predicates push to the parquet scan; the agg is a
    single partial+final sum with no shuffle of data rows."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year, {_dsum_sql('volume', 'revenue')}
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
       JOIN orders ON o_orderkey = l_orderkey
       JOIN customer ON c_custkey = o_custkey
       JOIN nation n1 ON s_nationkey = n1.n_nationkey
       JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q_tpch_q7(spark, sf_dir):
    """Bi-directional nation pair: both nation copies broadcast; the
    disjunctive pair filter lands after the joins, where each side is
    already reduced to the two nations' rows."""
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).where(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).where(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@query(
    "tpch_q8_market_share",
    oracle="""
SELECT o_year,
       CAST(SUM(CAST(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END AS DECIMAL(30,6))) AS DOUBLE)
       / CAST(SUM(CAST(volume AS DECIMAL(30,6))) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part JOIN lineitem ON p_partkey = l_partkey
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation n1 ON c_nationkey = n1.n_nationkey
       JOIN region ON n1.n_regionkey = r_regionkey
       JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
) all_nations
GROUP BY o_year
""",
)
def q_tpch_q8(spark, sf_dir):
    """Market-share ratio: both operands are exact decimal sums, so the
    final double division is deterministic cross-engine."""
    part = t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    region = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dec = lambda c: c.cast("decimal(30,6)")  # noqa: E731
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (
                F.sum(dec(F.when(F.col("nation") == "NATION_3", volume).otherwise(0.0)))
                .cast("double")
                / F.sum(dec(volume)).cast("double")
            ).alias("mkt_share")
        )
    )


@query(
    "tpch_q9_product_profit",
    oracle=f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       {_dsum_sql('l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity', 'sum_profit')}
FROM part JOIN lineitem ON p_partkey = l_partkey
     JOIN supplier ON s_suppkey = l_suppkey
     JOIN orders ON o_orderkey = l_orderkey
     JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
""",
)
def q_tpch_q9(spark, sf_dir):
    """Profit by nation/year; retail price stands in for the missing
    ps_supplycost. The LIKE filter prunes part before the join."""
    part = t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders")
    nation = t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(dsum(profit, "sum_profit"))
    )


@query(
    "tpch_q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name, {_dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')},
       c_acctbal, n_name
FROM customer JOIN orders ON c_custkey = o_custkey
     JOIN lineitem ON l_orderkey = o_orderkey
     JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q_tpch_q10(spark, sf_dir):
    """Top returned-revenue customers; unique-key tie-break keeps the
    LIMIT deterministic cross-engine."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "tpch_q12_priority_lines",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
""",
)
def q_tpch_q12(spark, sf_dir):
    """CASE pivot-aggregation (line status stands in for the missing
    ship-mode column)."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) per_cust
GROUP BY c_count
""",
)
def q_tpch_q13(spark, sf_dir):
    """Customer order-count histogram: outer join so zero-order
    customers keep a 0 bucket, then a second aggregation over the
    first's output — two shuffles, the second tiny."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "tpch_q14_promo_revenue",
    oracle="""
SELECT (100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(30,6))) AS DOUBLE))
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
""",
)
def q_tpch_q14(spark, sf_dir):
    """Conditional-revenue ratio over a broadcast part join."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dec = lambda c: c.cast("decimal(30,6)")  # noqa: E731
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                (
                    F.lit(100.0)
                    * F.sum(dec(F.when(F.col("p_type") == "PROMO", volume).otherwise(0.0)))
                    .cast("double")
                )
                / F.sum(dec(volume)).cast("double")
            ).alias("promo_revenue")
        )
    )


_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {_dsum_sql('l_extendedprice * (1 - l_discount)', 'total_revenue')}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@query("tpch_q15_top_supplier", oracle=_Q15_SQL)
def q_tpch_q15(spark, sf_dir):
    """CTE reused twice (join input + scalar max); exact decimal sums
    make the max comparison safe on doubles."""
    return _sql(spark, sf_dir, _Q15_SQL)


@query(
    "tpch_q16_supplier_cnt",
    oracle="""
SELECT p_brand, p_type, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_size IN (1, 2, 3, 4, 5, 6, 7, 8)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def q_tpch_q16(spark, sf_dir):
    """NOT IN over a non-null key → broadcast anti join; lineitem is
    the part-supplier relation the fixture's missing partsupp would
    provide."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5") & F.col("p_size").isin(*range(1, 9))
    )
    bad_supp = t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad_supp), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q17_small_qty_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND p_type = 'ECONOMY'
  AND l_quantity < (
      SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
""",
)
def q_tpch_q17(spark, sf_dir):
    """Correlated avg decorrelated by hand: per-part mean computed once
    and broadcast back (quantities are integral doubles, so the avg is
    exact in any order)."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "ECONOMY")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.avg("l_quantity").alias("_avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == F.col("_pk"))
        .where(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).cast("double") / 7.0)
            .alias("avg_yearly")
        )
    )


@query(
    "tpch_q18_large_volume_customer",
    oracle=f"""
SELECT c_name, c_custkey, o_orderkey, o_totalprice, {_dsum_sql('l_quantity', 'sum_qty')}
FROM customer JOIN orders ON c_custkey = o_custkey
     JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
)
GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def q_tpch_q18(spark, sf_dir):
    """IN + HAVING subquery → semi join against the aggregated key set."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum("l_quantity").alias("_q"))
        .where(F.col("_q") > 150)
        .select("o_orderkey")
    )
    return (
        orders.join(big, "o_orderkey", "left_semi")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_totalprice")
        .agg(dsum(F.col("l_quantity"), "sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@query(
    "tpch_q19_disjunctive_predicates",
    oracle=f"""
SELECT {_dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 30)
""",
)
def q_tpch_q19(spark, sf_dir):
    """Disjunction mixing both join sides: Catalyst extracts the
    common l_quantity bounds below the join and keeps the cross-side
    OR as the post-join filter."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    branch = (
        ((b == "Brand#1") & s.between(1, 15) & (q >= 1) & (q <= 11))
        | ((b == "Brand#2") & s.between(1, 25) & (q >= 10) & (q <= 20))
        | ((b == "Brand#3") & s.between(1, 35) & (q >= 20) & (q <= 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(branch)
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


_Q20_SQL = """
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey
  HAVING SUM(l_quantity) > 300
)
"""


@query("tpch_q20_promo_suppliers", oracle=_Q20_SQL)
def q_tpch_q20(spark, sf_dir):
    """Nested IN with join + HAVING inside the subquery, run natively."""
    return _sql(spark, sf_dir, _Q20_SQL)


_Q21_SQL = """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
     JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > l1.l_shipdate
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


@query("tpch_q21_waiting_supplier", oracle=_Q21_SQL)
def q_tpch_q21(spark, sf_dir):
    """Correlated EXISTS + NOT EXISTS against the same fact table (the
    last-to-ship supplier on multi-supplier finished orders)."""
    return _sql(spark, sf_dir, _Q21_SQL)


_STOP_HITS_SQL = " + ".join(_word_occ_sql(w) for w in text_ops.STOPWORDS)


@query(
    "gopher_quality",
    oracle=f"""
WITH w AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST({_STOP_HITS_SQL} AS BIGINT) AS stop_hits
  FROM documents
), top AS (
  SELECT doc_id, MAX(c) AS top_c FROM (
    SELECT doc_id, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents)
    GROUP BY doc_id, wd
  ) GROUP BY doc_id
)
SELECT w.doc_id, n_words,
       ROUND(CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE), 9) AS mean_word_len,
       ROUND(CAST(n_distinct AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE), 9) AS distinct_ratio,
       ROUND(CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE), 9) AS top_word_ratio,
       stop_hits,
       CAST(CASE WHEN n_words BETWEEN 20 AND 100000
              AND (CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)) BETWEEN 2.0 AND 12.0
              AND stop_hits > 0
              AND ROUND(CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE), 9) <= 0.2
              AND ROUND(CAST(n_distinct AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE), 9) >= 0.3
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM w JOIN top ON w.doc_id = top.doc_id
""",
)
def q_gopher_quality(spark, sf_dir):
    """Gopher-style quality gate over the corpus: repetition ratios are
    the only shuffled stat (doc×word partial counts); everything else
    is scan-local arithmetic."""
    d = t(spark, sf_dir, "documents")
    out = text_ops.gopher_quality_flags(d)
    return out.withColumn("keep", F.col("keep").cast("long"))


@query(
    "winsorize_prices",
    oracle="""
WITH b AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.05) AS lo,
         quantile_cont(o_totalprice, 0.95) AS hi
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderkey, o.o_orderpriority,
       CASE WHEN o.o_totalprice < b.lo THEN b.lo
            WHEN o.o_totalprice > b.hi THEN b.hi
            ELSE o.o_totalprice END AS price_w
FROM orders o JOIN b USING (o_orderpriority)
""",
)
def q_winsorize_prices(spark, sf_dir):
    """Per-group winsorization (clamp to [p05, p95]) — the robust-stats
    outlier treatment. Exact percentiles (R-7 in both engines, proven
    bit-matching by percentile_summary) computed per group and
    broadcast back; every output value is either an original double or
    a bound both engines agree on, so the clamp is oracle-exact. One
    aggregation + one broadcast join — the group-stats table is
    |groups|-sized at any data scale."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    # ONE array-percentile aggregate: one sort buffer per group for
    # both bounds (two separate percentile() exprs buffer the column
    # twice — the calibration_curve lesson, commit 85b10ef)
    bounds = (
        o.groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, array(0.05, 0.95))").alias("_bs")
        )
        .select(
            "o_orderpriority",
            F.element_at("_bs", 1).alias("lo"),
            F.element_at("_bs", 2).alias("hi"),
        )
    )
    return o.join(F.broadcast(bounds), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        F.when(F.col("o_totalprice") < F.col("lo"), F.col("lo"))
        .when(F.col("o_totalprice") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("o_totalprice"))
        .alias("price_w"),
    )


@query(
    "percentile_summary",
    oracle="""
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       quantile_cont(o_totalprice, 0.99) AS p99
FROM orders GROUP BY o_orderpriority
""",
)
def q_percentile_summary(spark, sf_dir):
    """Exact distribution summary: Spark's percentile aggregate and
    DuckDB's quantile_cont share the linear-interpolation (R-7)
    definition, so the doubles match bit-for-bit. ONE array-percentile
    aggregate — one sort buffer per group for all three points instead
    of three. (At 100 TB the approximate twin is percentile_approx —
    same plan shape, bounded state; the exact form is the oracle.)"""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").alias(
                "_ps"
            )
        )
        .select(
            "o_orderpriority",
            F.element_at("_ps", 1).alias("p50"),
            F.element_at("_ps", 2).alias("p90"),
            F.element_at("_ps", 3).alias("p99"),
        )
    )


@query(
    "window_distribution",
    oracle="""
SELECT o_orderkey,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       ROUND(percent_rank() OVER w, 9) AS pct_rank,
       ROUND(cume_dist() OVER w, 9) AS cume
FROM orders
WHERE o_orderkey < 1000
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
""",
)
def q_window_distribution(spark, sf_dir):
    """Distribution window functions: rank arithmetic over exact
    integer positions, so the doubles agree cross-engine. The unique-
    key order suffix keeps ntile deterministic under ties."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1000)
        .select(
            "o_orderkey",
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 9).alias("cume"),
        )
    )


@query(
    "fuzzy_name_pairs",
    oracle="""
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
""",
)
def q_fuzzy_name_pairs(spark, sf_dir):
    """Edit-distance near-dup via FastSS deletion-neighborhood blocking
    (operators/dedup.py:edit_distance_pairs). The oracle states the
    naive nation-blocked self-join; the engine path generates
    candidates from shared deletion variants instead — same rows
    exactly, but candidate count tracks true near-dup density, not
    block size. (The nation-blocked join itself grows pairs
    QUADRATICALLY with data because nation cardinality is fixed at 25
    — the full-registry sf1 soak caught it taking >15 min at 10x
    data; this path runs in seconds.) Nation stays as an extra block
    key so semantics match the oracle's same-nation restriction."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    return dedup.edit_distance_pairs(
        c, "c_name", "c_custkey", block_cols=["c_nationkey"], max_dist=1
    )


@query(
    "fuzzy_name_pairs_k2",
    oracle="""
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE a.c_custkey % 8 = 0 AND b.c_custkey % 8 = 0
  AND levenshtein(a.c_name, b.c_name) <= 2
""",
)
def q_fuzzy_name_pairs_k2(spark, sf_dir):
    """Edit-distance-≤2 near-dup via SYMMETRIC-DELETE neighborhoods
    (SymSpell-style 2-deletion variants; same superset-then-verify
    contract as fuzzy_name_pairs — dedup.edit_distance_pairs,
    max_dist=2). The oracle is the naive nation-blocked join the
    engine path avoids. Runs on the %8 customer slice: zero-padded
    sequential names are ADVERSARIAL density for distance-2 (every
    pair of ids differing in ≤2 digit positions matches — output grows
    ~quadratically in slice density), and the slice keeps the
    demonstration honest without making a synthetic-density outlier
    the bench headline. Variant blow-up is bounded by the operator's
    plan-side max_len guard (1 + L + L·(L-1)/2 variants per row)."""
    c = (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey")
        .where(F.col("c_custkey") % 8 == 0)
    )
    return dedup.edit_distance_pairs(
        c, "c_name", "c_custkey", block_cols=["c_nationkey"], max_dist=2
    )


@query(
    "dp_noisy_counts",
    oracle=f"""
WITH c AS (
  SELECT o_orderpriority, CAST(count(*) AS DOUBLE) AS n
  FROM orders GROUP BY 1
)
SELECT o_orderpriority,
       round(n + {{noise}}, 9) AS noisy_n
FROM c
""".replace(
        "{noise}",
        "__DP_NOISE__",
    ),
)
def q_dp_noisy_counts(spark, sf_dir):
    """EXT — ε-differentially-private group counts (privacy.
    dp_noisy_counts; Dwork et al. 2006 Laplace mechanism, ε=0.5):
    order counts per priority released under formal DP. The Laplace
    draw is DETERMINISTIC-SEEDED — inverse CDF over the engine's md5
    uniform keyed by seed|group — so task retries never re-draw
    (silently spending extra ε) and the identical noise restates in
    ANSI SQL: the release itself is the hash-matched artifact. One
    groupBy + expression noise; the true count never leaves the
    operator."""
    from .operators.privacy import dp_noisy_counts

    return dp_noisy_counts(
        t(spark, sf_dir, "orders"),
        ["o_orderpriority"],
        epsilon=0.5,
        seed="release-r11",
    )


def _finalize_dp_oracle():
    from .operators.privacy import dp_noise_sql

    key = "'release-r11' || '|' || COALESCE(CAST(o_orderpriority AS VARCHAR), 'NULL')"
    ORACLES["dp_noisy_counts"] = ORACLES["dp_noisy_counts"].replace(
        "__DP_NOISE__", dp_noise_sql(key, 0.5)
    )


_finalize_dp_oracle()


@query(
    "jaro_winkler_pairs",
    oracle="""
WITH ranked AS (
  SELECT c_custkey, c_name,
         CAST(row_number() OVER (ORDER BY c_name, c_custkey) AS BIGINT) AS rn
  FROM customer
)
SELECT id_a, id_b, jw FROM (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         round(jaro_winkler_similarity(a.c_name, b.c_name), 9) AS jw
  FROM ranked a JOIN ranked b ON b.rn > a.rn AND b.rn <= a.rn + 3
)
WHERE jw >= 0.95
""",
)
def q_jaro_winkler_pairs(spark, sf_dir):
    """EXT — Jaro-Winkler verify stage over sorted-neighborhood
    blocking candidates (linkage.jaro_winkler_pairs on
    sorted_neighborhood_pairs output; Jaro 1989 / Winkler 1990, the
    Census Bureau name metric): BLOCK first (every pair within 4 name
    sort positions — n·window candidates, the merge/purge shape), THEN
    score with the Arrow-batched JW UDF and keep high-similarity
    pairs — the production two-stage linkage pipeline, and the reason
    the UDF's per-pair cost stays linear in the corpus (an unblocked
    nation self-join went near-quadratic: 7M pairs / 128s at sf1; this
    shape is ~450k / ~8s). The Python JW is pinned EXACTLY to DuckDB's
    jaro_winkler_similarity (full pair-grid parity in tests), so the
    composed block→score→filter query hash-matches; the engine's
    blocking rides global_row_ids (range exchange + offsets), never
    the single-partition row_number the oracle states."""
    from .operators.linkage import jaro_winkler_pairs, sorted_neighborhood_pairs

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    cands = sorted_neighborhood_pairs(c, "c_name", "c_custkey", window=4)
    named = (
        cands.join(
            c.select(
                F.col("c_custkey").alias("id_a"), F.col("c_name").alias("_na")
            ),
            "id_a",
        )
        .join(
            c.select(
                F.col("c_custkey").alias("id_b"), F.col("c_name").alias("_nb")
            ),
            "id_b",
        )
    )
    return (
        jaro_winkler_pairs(named, "_na", "_nb", out="jw")
        .where(F.col("jw") >= 0.95)
        .select("id_a", "id_b", "jw")
    )


# Fellegi-Sunter (m, u) per field for the record-linkage query; the
# log2 weights are computed ONCE here and embedded as identical double
# literals in both the Spark plan and the DuckDB oracle (repr round-
# trips the exact double)
_FS_MU = {
    "name": (0.90, 0.05),
    "nation": (0.95, 0.04),
    "segment": (0.90, 0.20),
    "balance": (0.80, 0.10),
}
_FS_W = {
    k: (math.log2(m / u), math.log2((1 - m) / (1 - u)))
    for k, (m, u) in _FS_MU.items()
}


def _fs_case(flag_sql: str, key: str) -> str:
    wa, wd = _FS_W[key]
    return f"CASE WHEN {flag_sql} THEN {wa!r} ELSE {wd!r} END"


# shared by record_linkage_scores (full audit output, the oracle twin),
# record_linkage_review (the bounded production form), entity
# consolidation, and the incremental probe — the candidate CTE is the
# only part that differs per query
_LINKAGE_CAND_SELF = """
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
         a.c_nationkey AS nat_a, b.c_nationkey AS nat_b,
         a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
         a.c_acctbal AS bal_a, b.c_acctbal AS bal_b
  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


def _linkage_oracle_sql(cand_sql: str) -> str:
    """Fellegi-Sunter flag/score/verdict SQL over any candidate CTE
    producing (id_a, id_b, dist, nat_a, nat_b, seg_a, seg_b, bal_a,
    bal_b)."""
    return f"""
WITH cand AS ({cand_sql}),
flagged AS (
  SELECT id_a, id_b,
         CAST(CASE WHEN dist = 0 THEN 1 ELSE 0 END AS BIGINT) AS agree_name,
         CAST(CASE WHEN nat_a = nat_b THEN 1 ELSE 0 END AS BIGINT) AS agree_nation,
         CAST(CASE WHEN seg_a = seg_b THEN 1 ELSE 0 END AS BIGINT) AS agree_segment,
         CAST(CASE WHEN abs(bal_a - bal_b) <= 500.0 THEN 1 ELSE 0 END AS BIGINT)
           AS agree_balance,
         round({_fs_case('dist = 0', 'name')}
             + {_fs_case('nat_a = nat_b', 'nation')}
             + {_fs_case('seg_a = seg_b', 'segment')}
             + {_fs_case('abs(bal_a - bal_b) <= 500.0', 'balance')}, 9) AS score
  FROM cand
)
SELECT id_a, id_b, agree_name, agree_nation, agree_segment, agree_balance, score,
       CASE WHEN score >= 2.0 THEN 'match'
            WHEN score <= 0.0 THEN 'non_match'
            ELSE 'possible' END AS verdict
FROM flagged
"""


_LINKAGE_ORACLE = _linkage_oracle_sql(_LINKAGE_CAND_SELF)


def _score_linkage_pairs(c, cand, verdicts=None):
    """Attribute attach + Fellegi-Sunter scoring over a verified
    (id_a, id_b, dist) candidate stream — the part every linkage query
    shares regardless of how candidates were generated (self-join
    FastSS, persisted-index probe)."""
    from .operators.linkage import FieldRule, score_candidate_pairs

    sides = {
        "a": c.select(
            F.col("c_custkey").alias("id_a"),
            F.col("c_nationkey").alias("nat_a"),
            F.col("c_mktsegment").alias("seg_a"),
            F.col("c_acctbal").alias("bal_a"),
        ),
        "b": c.select(
            F.col("c_custkey").alias("id_b"),
            F.col("c_nationkey").alias("nat_b"),
            F.col("c_mktsegment").alias("seg_b"),
            F.col("c_acctbal").alias("bal_b"),
        ),
    }
    pairs = cand.join(sides["a"], "id_a").join(sides["b"], "id_b")
    mu = _FS_MU
    rules = [
        FieldRule("name", F.col("dist") == 0, *mu["name"]),
        FieldRule("nation", F.col("nat_a") == F.col("nat_b"), *mu["nation"]),
        FieldRule("segment", F.col("seg_a") == F.col("seg_b"), *mu["segment"]),
        FieldRule(
            "balance", F.abs(F.col("bal_a") - F.col("bal_b")) <= 500.0, *mu["balance"]
        ),
    ]
    return score_candidate_pairs(
        pairs, rules, upper=2.0, lower=0.0, verdicts=verdicts
    ).select(
        "id_a",
        "id_b",
        "agree_name",
        "agree_nation",
        "agree_segment",
        "agree_balance",
        "score",
        "verdict",
    )


def _linkage_scored(spark, sf_dir, verdicts=None):
    """Candidates → attribute attach → Fellegi-Sunter scoring, shared
    by the batch linkage queries. Candidate generation is the factored
    FastSS stage (dedup.deletion_neighborhood_candidates →
    verify_edit_distance) — the SAME stream the fuzzy_name_pairs
    family runs, generated once per plan (the variant stream is
    lineage-cut inside the candidate stage), with scoring layered on
    top rather than re-blocking."""
    c = t(spark, sf_dir, "customer")
    cand = dedup.verify_edit_distance(
        dedup.deletion_neighborhood_candidates(c, "c_name", "c_custkey", max_dist=1),
        c,
        "c_name",
        "c_custkey",
        max_dist=1,
    )
    return _score_linkage_pairs(c, cand, verdicts=verdicts)


@query("record_linkage_scores", oracle=_LINKAGE_ORACLE)
def q_record_linkage_scores(spark, sf_dir):
    """EXT — probabilistic record linkage (Fellegi-Sunter 1969,
    operators/linkage.py), FULL audit output: every candidate pair
    scored and classified, including the non_match bulk. Candidates
    come from the FastSS deletion-neighborhood blocking (name edit
    distance ≤ 1, NO fixed-cardinality block key — candidate count
    tracks true near-dup density), both sides' attributes attach by id
    equi-joins, and each pair scores by summed per-field log-odds
    (agreement → log2(m/u), disagreement → log2((1-m)/(1-u)),
    identical double literals in both engines) with match / possible /
    non_match classification. Scoring itself is a pure codegen
    projection — zero exchanges beyond the attribute attach. The
    oracle restates candidates as the naive all-pairs levenshtein
    join.

    This unfiltered form is the ORACLE TWIN: its output is quadratic
    in name-collision density (26.9M rows on the 10× fixture — sf1
    soak skips it with a printed reason); the production path is
    record_linkage_review, which fuses the verdict bound into the
    scoring projection."""
    return _linkage_scored(spark, sf_dir)


@query(
    "record_linkage_review",
    oracle=f"SELECT * FROM ({_LINKAGE_ORACLE}) "
    "WHERE verdict IN ('match', 'possible')",
)
def q_record_linkage_review(spark, sf_dir):
    """EXT — the BOUNDED record-linkage form (the round-7 verdict's
    fix, option (a)): identical candidates/scoring to
    record_linkage_scores, but only the match + possible (clerical
    review) bands are emitted — the verdict filter is one more
    predicate inside the same codegen projection
    (linkage.score_candidate_pairs verdicts=...), so the non_match
    bulk (candidate pairs agreeing only on weak fields — quadratic in
    near-dup density) is discarded before anything materializes and
    output tracks true match density. This is the steady-state linkage
    path at 100 TB; the unfiltered twin stays registered for audit
    parity."""
    return _linkage_scored(spark, sf_dir, verdicts=("match", "possible"))


@query(
    "entity_golden_records",
    oracle=f"""
WITH RECURSIVE scored AS (SELECT * FROM ({_LINKAGE_ORACLE})),
m AS (SELECT id_a, id_b FROM scored WHERE verdict = 'match'),
e AS (SELECT id_a AS s, id_b AS d FROM m
      UNION SELECT id_b AS s, id_a AS d FROM m),
reach(id, r) AS (
  SELECT DISTINCT s, s FROM e
  UNION
  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id
),
lab AS (SELECT id, MIN(r) AS entity_of FROM reach GROUP BY id),
assigned AS (
  SELECT c.*, COALESCE(l.entity_of, c.c_custkey) AS entity_id
  FROM customer c LEFT JOIN lab l ON c.c_custkey = l.id
)
SELECT entity_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       min_by(c_name, c_custkey) AS canonical_name,
       CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
       CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_bal_cents,
       CAST(MAX(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
         AS max_bal_cents
FROM assigned GROUP BY entity_id
""",
)
def q_entity_golden_records(spark, sf_dir):
    """EXT — entity CONSOLIDATION, the step after linkage scoring:
    match verdicts → transitive closure → one golden record per entity
    (operators/linkage.py assign_entity_ids + a survivorship
    aggregation). Canonical attributes come from the minimum-id member
    (min_by — deterministic because record ids are unique), fused
    numerics are exact cent-quantized sums/maxes, and singleton
    records pass through as their own entities. The oracle restates
    closure as a DuckDB recursive-CTE reachability fixpoint with
    MIN(reachable id) labels — the same min-id-labels-the-component
    contract duplicate_clusters converges to.

    Scale shape: the match-edge graph tracks true duplicate density
    (not corpus size), closure runs on that small graph (driver
    union-find up to 1M edges, star-contraction rounds above), and the only
    corpus-sized work is one left join against the cluster map plus
    the golden-record groupBy on entity_id. The reference's import
    pipeline ships duplicate source rows as-is (common/
    TableToDbRowFn.java); this is the master-data consolidation a
    deduplicating import needs."""
    from .operators import linkage

    c = t(spark, sf_dir, "customer")
    matches = _linkage_scored(spark, sf_dir, verdicts=("match",)).select(
        "id_a", "id_b"
    )
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    return (
        linkage.assign_entity_ids(c, matches, "c_custkey")
        .withColumn("_cents", cents)
        .groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min_by("c_name", "c_custkey").alias("canonical_name"),
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.sum("_cents").alias("total_bal_cents"),
            F.max("_cents").alias("max_bal_cents"),
        )
    )


@query(
    "linkage_incremental",
    oracle=f"""
SELECT * FROM ({_linkage_oracle_sql('''
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
         a.c_nationkey AS nat_a, b.c_nationkey AS nat_b,
         a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
         a.c_acctbal AS bal_a, b.c_acctbal AS bal_b
  FROM customer a JOIN customer b
    ON a.c_custkey % 10 = 7 AND b.c_custkey % 10 != 7
   AND levenshtein(a.c_name, b.c_name) <= 1
''')}) WHERE verdict IN ('match', 'possible')
""",
)
def q_linkage_incremental(spark, sf_dir):
    """EXT — INCREMENTAL record linkage against a persisted FastSS
    variant index (the fifth persisted-artifact family, after the
    MinHash signature, bench-gram, LM-count and IVF indexes): the
    standing corpus (custkey % 10 != 7) is variant-expanded ONCE into
    the (id, pos, vh) index, round-tripped through the warehouse sink,
    and the new batch (custkey % 10 == 7) probes it with the same
    three position-compatible edit-shape equi-joins the self-join path
    uses (dedup.probe_variant_index) — per-batch cost is
    O(batch · len) slim variant rows against the index partitioning;
    the corpus text is never re-read or re-expanded. Survivors verify
    by exact levenshtein over the id-disjoint union, attach both
    sides' attributes, and score through the SAME Fellegi-Sunter
    projection as the batch queries, bounded to the match + possible
    review bands. The oracle restates candidates as the naive
    batch × corpus levenshtein join. Within-batch pairs are the cheap
    self-join path's job, not this query's (documented in
    probe_variant_index)."""
    c = t(spark, sf_dir, "customer")
    corpus = c.where(F.col("c_custkey") % 10 != 7)
    batch = c.where(F.col("c_custkey") % 10 == 7)
    index = dedup.fastss_variant_index(corpus, "c_name", "c_custkey")
    index = scratch_roundtrip(index, sf_dir, "fastss_index", memo="corpus_fastss")
    cand = dedup.probe_variant_index(batch, index, "c_name", "c_custkey")
    verified = dedup.verify_edit_distance(cand, c, "c_name", "c_custkey", max_dist=1)
    return _score_linkage_pairs(c, verified, verdicts=("match", "possible"))


@query("streaming_linkage")  # stream probe vs persisted index — rows-only
def q_streaming_linkage(spark, sf_dir):
    """W-EXT — record linkage in STREAMING form (streaming/jobs.py:
    streaming_linkage_probe): the new records arrive as one
    micro-batch (a one-partition input) that probes the PERSISTED FastSS variant
    index via foreachBatch (the same batch probe linkage_incremental
    runs; per-pair verification is independent, so per-batch results
    union to the all-at-once answer — pytest-pinned). Verified pairs
    then score through the shared Fellegi-Sunter projection bounded
    to the review bands, downstream of the stream where a projection
    belongs. Same fixture split as linkage_incremental (corpus
    custkey % 10 != 7, the rest arriving), so the two
    queries' results coincide by construction."""
    from .streaming.jobs import streaming_linkage_probe

    c = t(spark, sf_dir, "customer")
    corpus = c.where(F.col("c_custkey") % 10 != 7)
    batch = c.where(F.col("c_custkey") % 10 == 7)
    index = dedup.fastss_variant_index(corpus, "c_name", "c_custkey")
    index = scratch_roundtrip(index, sf_dir, "fastss_index", memo="corpus_fastss")
    verified = streaming_linkage_probe(
        spark,
        batch.repartition(1),
        corpus,
        index,
        "c_name",
        "c_custkey",
    )
    return _score_linkage_pairs(c, verified, verdicts=("match", "possible"))


# ---------------------------------------------------------------------------
# Schema drift (catalog.schema_drift) — the pre-write evolution check a
# recurring import runs. Snapshots are LITERAL catalog fixtures (the
# real parquet schemas in Spark type names, stable across sf — a
# catalog is metadata, it does not scale with data), rendered once for
# both engines.
_CATALOG_OLD = [
    ("customer", "c_custkey", "bigint"),
    ("customer", "c_name", "string"),
    ("customer", "c_nationkey", "int"),
    ("customer", "c_acctbal", "double"),
    ("customer", "c_mktsegment", "string"),
    ("orders", "o_orderkey", "bigint"),
    ("orders", "o_custkey", "bigint"),
    ("orders", "o_orderstatus", "string"),
    ("orders", "o_totalprice", "double"),
    ("orders", "o_orderdate", "timestamp"),
    ("orders", "o_orderpriority", "string"),
    ("part", "p_partkey", "bigint"),
    ("part", "p_name", "string"),
    ("part", "p_brand", "string"),
    ("part", "p_type", "string"),
    ("part", "p_size", "int"),
    ("part", "p_retailprice", "double"),
    ("supplier", "s_suppkey", "bigint"),
    ("supplier", "s_name", "string"),
    ("supplier", "s_nationkey", "int"),
    ("supplier", "s_acctbal", "double"),
]
# the evolved source: customer loses a column, orders gains one, part
# retypes its price, the supplier table disappears entirely
_CATALOG_NEW = [
    r for r in _CATALOG_OLD
    if r[0] != "supplier" and r[1] != "c_mktsegment"
    and r[1] != "p_retailprice"
] + [
    ("part", "p_retailprice", "decimal(12,2)"),
    ("orders", "o_channel", "string"),
]


def _catalog_values_sql(rows) -> str:
    vals = ", ".join(
        f"('{t}', '{c}', '{ty}')" for t, c, ty in rows
    )
    return (
        f"SELECT * FROM (VALUES {vals}) "
        "AS v(table_name, column_name, data_type)"
    )


@query(
    "schema_drift",
    oracle=f"""
WITH o AS ({_catalog_values_sql(_CATALOG_OLD)}),
n AS ({_catalog_values_sql(_CATALOG_NEW)}),
j AS (
  SELECT COALESCE(o.table_name, n.table_name) AS table_name,
         COALESCE(o.column_name, n.column_name) AS column_name,
         o.data_type AS old_type, n.data_type AS new_type
  FROM o FULL OUTER JOIN n
    ON o.table_name = n.table_name AND o.column_name = n.column_name
)
SELECT table_name, column_name, old_type, new_type,
       CASE WHEN old_type IS NULL THEN 'added'
            WHEN new_type IS NULL THEN 'removed'
            ELSE 'retyped' END AS change
FROM j
WHERE old_type IS NULL OR new_type IS NULL OR old_type <> new_type
""",
)
def q_schema_drift(spark, sf_dir):
    """EXT (REF-adjacent) — schema-drift report between two catalog
    snapshots (catalog.schema_drift): the check a recurring import
    runs before writing. The reference re-discovers schemas from
    INFORMATION_SCHEMA every run (common/ServerUtil.java:47-52) and
    silently reshapes its BigQuery output when the source evolves;
    this surfaces added / removed / retyped columns instead (a rename
    is removed + added — names are the only identity a catalog
    carries). One full-outer join on (table, column) over
    metadata-sized inputs — drift cost never depends on data volume.
    Fixture: the real parquet-table schemas with a dropped column, an
    added column, a retype, and a vanished table."""
    from .catalog import schema_drift

    schema = "table_name string, column_name string, data_type string"
    old = operators.local_rows_df(spark, _CATALOG_OLD, schema)
    new = operators.local_rows_df(spark, _CATALOG_NEW, schema)
    return schema_drift(old, new).select(
        "table_name", "column_name", "old_type", "new_type", "change"
    )


@query(
    "schema_evolution_plan",
    oracle=f"""
WITH o AS ({_catalog_values_sql(_CATALOG_OLD)}),
n AS ({_catalog_values_sql(_CATALOG_NEW)}),
j AS (
  SELECT COALESCE(o.table_name, n.table_name) AS table_name,
         COALESCE(o.column_name, n.column_name) AS column_name,
         o.data_type AS old_type, n.data_type AS new_type
  FROM o FULL OUTER JOIN n
    ON o.table_name = n.table_name AND o.column_name = n.column_name
)
SELECT table_name, column_name, old_type, new_type,
       CASE WHEN old_type IS NULL THEN 'added'
            WHEN new_type IS NULL THEN 'removed'
            ELSE 'retyped' END AS change,
       CASE WHEN old_type IS NULL THEN 'add_nullable'
            WHEN new_type IS NULL THEN 'fill_null'
            ELSE 'reject' END AS action
FROM j
WHERE old_type IS NULL OR new_type IS NULL OR old_type <> new_type
""",
)
def q_schema_evolution_plan(spark, sf_dir):
    """EXT (REF-adjacent) — drift → apply policy (catalog.
    evolution_plan, executed by sinks/warehouse.Warehouse.
    write_evolved): the verdict each drifted column gets BEFORE the
    write — added→add_nullable (widen, history reads NULL),
    removed→fill_null (incoming rows carry typed NULLs, superset
    schema survives), retyped→reject (dead-letter; no append
    reconciles two types under one name). The reference silently
    reshapes output on source evolution (ServerUtil.java:47-52
    re-discovers per run); this gates it. Same metadata-sized
    full-outer join as schema_drift + a pure CASE."""
    from .catalog import evolution_plan

    schema = "table_name string, column_name string, data_type string"
    old = operators.local_rows_df(spark, _CATALOG_OLD, schema)
    new = operators.local_rows_df(spark, _CATALOG_NEW, schema)
    return evolution_plan(old, new).select(
        "table_name", "column_name", "old_type", "new_type", "change", "action"
    )


@query(
    "entity_incremental",
    oracle=f"""
WITH RECURSIVE scored AS (SELECT * FROM ({_LINKAGE_ORACLE})),
m AS (
  SELECT id_a, id_b FROM scored
  WHERE verdict = 'match' AND NOT (id_a % 10 = 7 AND id_b % 10 = 7)
),
e AS (SELECT id_a AS s, id_b AS d FROM m
      UNION SELECT id_b AS s, id_a AS d FROM m),
reach(id, r) AS (
  SELECT DISTINCT s, s FROM e
  UNION
  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id
),
lab AS (SELECT id, MIN(r) AS entity_of FROM reach GROUP BY id)
SELECT c.c_custkey AS doc_id,
       COALESCE(l.entity_of, c.c_custkey) AS entity_id
FROM customer c LEFT JOIN lab l ON c.c_custkey = l.id
""",
)
def q_entity_incremental(spark, sf_dir):
    """EXT — INCREMENTAL entity maintenance (linkage.
    merge_entity_assignments): the standing corpus's entity
    assignment (self-join FastSS matches among custkey % 10 != 7,
    consolidated once) absorbs a new batch's CROSS match edges (the
    persisted-index probe of linkage_incremental, match band only)
    WITHOUT re-reading historical match pairs — the union-find
    invariant makes folding (doc → entity) links + new edges exactly
    equal to a rebuild over all edges ever seen, including the fusion
    case where a new record bridges two standing entities. Batch-
    internal pairs are the batch self-join path's job (excluded from
    both engines by contract). Output: every customer's entity id;
    the oracle restates the closure over the same edge union. Cost
    tracks assignment + new-edge graph size, never corpus text.

    All three standing artifacts — the corpus MATCH EDGES, the entity
    ASSIGNMENT derived from them, and the FastSS variant index —
    round-trip through the warehouse sink before the fold (the
    discipline every other incremental family follows): what this
    query measures at steady state is the maintenance step probing
    persisted state (sf1 ~13s warm vs ~38s bootstrap), not a
    from-scratch corpus-linkage rebuild, and the fold's plan
    references read parquet instead of re-deriving the whole linkage
    DAG per reference. The edges persist FIRST because consolidation's
    closure executes its edge input driver-side."""
    from .operators import linkage

    c = t(spark, sf_dir, "customer")
    corpus = c.where(F.col("c_custkey") % 10 != 7)
    corpus_matches = _score_linkage_pairs(
        c,
        dedup.verify_edit_distance(
            dedup.deletion_neighborhood_candidates(
                corpus, "c_name", "c_custkey", max_dist=1
            ),
            corpus,
            "c_name",
            "c_custkey",
            max_dist=1,
        ),
        verdicts=("match",),
    ).select("id_a", "id_b")
    # persist the EDGES first: entity consolidation's closure executes
    # its edge input (driver union-find collects it), so without this
    # seam the full corpus linkage re-runs inside every consolidation
    # reference — the standing match set is itself a kept artifact
    corpus_matches = scratch_roundtrip(
        corpus_matches, sf_dir, "entity_corpus_matches", memo="entity_edges"
    )
    assignment = (
        linkage.assign_entity_ids(corpus, corpus_matches, "c_custkey")
        .select(F.col("c_custkey").alias("doc_id"), "entity_id")
    )
    assignment = scratch_roundtrip(assignment, sf_dir, "entity_assignment", memo="entity_asgn")
    batch = c.where(F.col("c_custkey") % 10 == 7)
    index = scratch_roundtrip(
        dedup.fastss_variant_index(corpus, "c_name", "c_custkey"),
        sf_dir,
        "fastss_index",
        memo="corpus_fastss",
    )
    cross_matches = _score_linkage_pairs(
        c,
        dedup.verify_edit_distance(
            dedup.probe_variant_index(batch, index, "c_name", "c_custkey"),
            c,
            "c_name",
            "c_custkey",
            max_dist=1,
        ),
        verdicts=("match",),
    ).select("id_a", "id_b")
    merged = linkage.merge_entity_assignments(assignment, cross_matches)
    return c.select(F.col("c_custkey").alias("doc_id")).join(
        merged, "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("entity_id"), F.col("doc_id")).alias("entity_id"),
    )


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
)


@query(
    "table_profile",
    oracle="\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(count({c}) AS BIGINT) AS n_non_null, "
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct FROM orders"
        for c in _PROFILE_COLS
    ),
)
def q_table_profile(spark, sf_dir):
    """Data-profiling pass: one aggregation, melted to long format —
    the pre/post-load introspection the reference's row-count probe
    (ServerUtil.java:136-155) only hints at."""
    from .operators.profiling import profile_table

    return profile_table(t(spark, sf_dir, "orders"), list(_PROFILE_COLS))


_FD_COLS = ("o_custkey", "o_orderstatus", "o_orderpriority", "prio_class")
_FD_SRC = (
    "SELECT o_custkey, o_orderstatus, o_orderpriority, "
    "CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2') "
    "THEN 'high' ELSE 'low' END AS prio_class FROM orders"
)


def _fd_oracle() -> str:
    blocks = []
    for det in _FD_COLS:
        deps = [c for c in _FD_COLS if c != det]
        inner = (
            f"SELECT {det}, "
            + ", ".join(f"COUNT(DISTINCT {c}) AS {c}" for c in deps)
            + f" FROM ({_FD_SRC}) WHERE {det} IS NOT NULL GROUP BY {det}"
        )
        fold = (
            "SELECT COUNT(*) AS g, "
            + ", ".join(f"SUM(GREATEST({c} - 1, 0)) AS {c}" for c in deps)
            + f" FROM ({inner})"
        )
        for dep in deps:
            blocks.append(
                f"SELECT '{det}' AS determinant, '{dep}' AS dependent, "
                f"CAST(g AS BIGINT) AS n_groups, "
                f"CAST(COALESCE({dep}, 0) AS BIGINT) AS n_violations, "
                f"(COALESCE({dep}, 0) = 0) AS holds, "
                f"CASE WHEN g = 0 THEN 0.0 ELSE "
                f"ROUND(CAST({dep} AS DOUBLE) / CAST(g AS DOUBLE), 9) END "
                f"AS violation_rate FROM ({fold})"
            )
    return "\nUNION ALL\n".join(blocks)


@query("fd_discovery", oracle=_fd_oracle())
def q_fd_discovery(spark, sf_dir):
    """EXT — approximate functional-dependency discovery
    (profiling.fd_discovery): for every ordered column pair A→B, the
    distinct-excess violation count and whether the FD holds exactly —
    the catalog-intelligence step past the reference's `PK%`
    primary-key probe (ServerUtil.java:103-124 discovers DECLARED
    keys; this measures the determinations actually in the data). The
    fixture plants an asymmetric pair: o_orderpriority → prio_class
    (its own CASE bucketing) holds, prio_class → o_orderpriority
    fails. One groupBy per determinant computes every dependent's
    per-group distinct count in the same exchange; output is
    metadata-sized scalar rows."""
    from .operators.profiling import fd_discovery

    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.when(
            F.substring("o_orderpriority", 1, 1).isin("1", "2"), F.lit("high")
        )
        .otherwise(F.lit("low"))
        .alias("prio_class"),
    )
    return fd_discovery(o, list(_FD_COLS))


_IND_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT '{lt}.{lc}' AS lhs, '{rt}.{rc}' AS rhs,
  CAST(count(*) AS BIGINT) AS n_lhs_distinct,
  CAST(COALESCE(SUM(CASE WHEN r._v IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS n_unmatched,
  (COALESCE(SUM(CASE WHEN r._v IS NULL THEN 1 ELSE 0 END), 0) = 0) AS holds,
  CASE WHEN count(*) = 0 THEN 1.0
       ELSE ROUND(CAST(count(*) - SUM(CASE WHEN r._v IS NULL THEN 1 ELSE 0
                  END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) END
    AS coverage
FROM (SELECT DISTINCT {lc} AS _v FROM {lt} WHERE {lc} IS NOT NULL) l
LEFT JOIN (SELECT DISTINCT {rc} AS _v FROM {rt} WHERE {rc} IS NOT NULL) r
  ON l._v = r._v
"""
    for lt, lc, rt, rc in (
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("customer", "c_custkey", "orders", "o_custkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
    )
)


@query(
    "group_quantiles",
    oracle="""
SELECT o_orderpriority,
  CAST(count(o_totalprice) AS BIGINT) AS n,
  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
  ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
  ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY o_orderpriority
""",
)
def q_group_quantiles(spark, sf_dir):
    """EXT — per-group exact quantiles (profiling.group_quantiles):
    p50/p90/p99 of order value per priority class — the distribution
    half of table profiling. Spark's exact percentile aggregate and
    DuckDB's quantile_cont implement the same ANSI percentile_cont
    linear interpolation, so the values hash-match after the round-4
    ulp pin. One groupBy over dimension-cardinality groups (the
    profiling case; corpus-scale groups take approx_percentile and
    give up the oracle, documented in the operator)."""
    from .operators.profiling import group_quantiles

    return group_quantiles(
        t(spark, sf_dir, "orders"), "o_totalprice", ["o_orderpriority"]
    )


@query("inclusion_deps", oracle=_IND_ORACLE)
def q_inclusion_deps(spark, sf_dir):
    """EXT — inclusion-dependency / foreign-key discovery
    (profiling.inclusion_dependencies): for candidate column pairs,
    does every distinct LHS value appear in RHS — the join-inference
    step after cataloging that the reference's per-run re-discovery
    (ServerUtil.java) never attempts. Candidates here: two true FKs
    (orders→customer, lineitem→orders), one direction that FAILS by
    construction (customer→orders: customers without orders), and
    supplier→nation (holds). Each candidate is distinct-project +
    one left join over distinct keys + one conditional-count
    aggregation — shuffles carry distinct values only, output is
    metadata-sized."""
    from .operators.profiling import inclusion_dependencies

    return inclusion_dependencies(
        [
            ("orders", t(spark, sf_dir, "orders"), "o_custkey",
             "customer", t(spark, sf_dir, "customer"), "c_custkey"),
            ("lineitem", t(spark, sf_dir, "lineitem"), "l_orderkey",
             "orders", t(spark, sf_dir, "orders"), "o_orderkey"),
            ("customer", t(spark, sf_dir, "customer"), "c_custkey",
             "orders", t(spark, sf_dir, "orders"), "o_custkey"),
            ("supplier", t(spark, sf_dir, "supplier"), "s_nationkey",
             "nation", t(spark, sf_dir, "nation"), "n_nationkey"),
        ]
    )


@query(
    "skew_report",
    oracle="""
WITH counts AS (SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY user_id),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
               CAST(count(*) AS BIGINT) AS distinct_keys FROM counts)
SELECT CAST(key AS VARCHAR) AS key, CAST(cnt AS BIGINT) AS cnt,
       round(CAST(cnt AS DOUBLE) / CAST(total_rows AS DOUBLE), 9) AS share,
       total_rows, distinct_keys
FROM (SELECT key, cnt FROM counts ORDER BY cnt DESC, key ASC LIMIT 10), tot
""",
)
def q_skew_report(spark, sf_dir):
    """Key-skew diagnostic (the report you run before choosing a join
    strategy at 100 TB): top-10 heaviest keys with row share plus
    total/distinct context. Physical shape: one partial-agg shuffle on
    the key, TakeOrderedAndProject for the top-N (no global sort), a
    broadcast 1-row totals join."""
    from .operators.profiling import skew_report

    return skew_report(t(spark, sf_dir, "events"), "user_id", top_n=10)


@query(
    "rollup_cascade",
    oracle="""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_v,
       min(value) AS min_v, max(value) AS max_v,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_v
FROM events GROUP BY 1, 2
""",
)
def q_rollup_cascade(spark, sf_dir):
    """Hypertable-style cascading rollup: minute → hour → day, each
    coarser level aggregated FROM the finer level's mergeable partials
    (count / DECIMAL sum / min / max) so raw events are scanned exactly
    once. The oracle aggregates the raw table directly at day grain —
    matching it proves the cascade is lossless (decimal sums make the
    re-aggregation order-independent; a double partial would drift)."""
    from .operators.rollup import cascading_rollup, present

    ev = t(spark, sf_dir, "events")
    levels = cascading_rollup(
        ev, "ts", ["event_type"], "value", ["1 minute", "1 hour", "1 day"]
    )
    return present(levels["1 day"], ["event_type"])


@query(
    "global_row_ids",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS BIGINT) AS row_id
FROM lineitem
""",
)
def q_global_row_ids(spark, sf_dir):
    """Dense global row numbering without the single-partition window
    trap: range exchange + per-partition offsets + local window. The
    oracle is the naive ROW_NUMBER() OVER (ORDER BY ...) — identical
    result, but the Spark plan distributes where the naive one cannot
    (plan test pins the absence of a SinglePartition window)."""
    from .operators.layout import global_row_ids

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    return global_row_ids(li, ["l_orderkey", "l_linenumber"])


@query(
    "deterministic_shuffle",
    oracle="""
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id
       ) - 1 AS BIGINT) AS shuffle_pos
FROM documents
""",
)
def q_deterministic_shuffle(spark, sf_dir):
    """EXT — deterministic corpus shuffle (layout.deterministic_
    shuffle): dense pseudo-random training order by keyed-hash sort,
    stable across re-runs/engines/cluster sizes, re-seedable per
    epoch. Realized through global_row_ids' range-exchange + offset
    shape — the oracle is the naive single-partition ROW_NUMBER the
    Spark plan specifically avoids."""
    from .operators.layout import deterministic_shuffle

    d = t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(d, "doc_id", seed="ep0")


@query(
    "dedup_keep_best",
    oracle="""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT 900001, text || ' and the extended tail of it' FROM documents
  WHERE doc_id = 1
),
f AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         md5(substr(text, 1, 40)) AS fp
  FROM src
),
grp AS (SELECT fp, CAST(min(doc_id) AS BIGINT) AS rep, count(*) AS n
        FROM f GROUP BY fp),
lab AS (
  SELECT f.doc_id, f.n_chars,
         CASE WHEN grp.n > 1 THEN grp.rep ELSE f.doc_id END AS cluster_id
  FROM f JOIN grp ON f.fp = grp.fp
)
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         row_number() OVER (
           PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
         ) AS rk
  FROM lab
) WHERE rk = 1
""",
)
def q_dedup_keep_best(spark, sf_dir):
    """EXT — quality-aware duplicate removal (dedup.dedup_keep_best):
    per duplicate family, keep the BEST copy (here: the longest —
    keep-the-longest is the classic crawl policy, since truncated
    fetches lose tail content) instead of the first-seen lowest id.
    Families come from 40-char-prefix blocking (a deliberately crude,
    SQL-expressible dup relation for the oracle; the operator takes
    any pair graph — MinHash pairs pytest-pinned elsewhere); the
    planted longer copy of doc 1 at id 900001 WINS over its lower-id
    original, which lowest-id-wins would have kept instead."""
    from .operators.dedup import dedup_keep_best

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    plant = d.where(F.col("doc_id") == 1).select(
        F.lit(900001).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" and the extended tail of it")).alias(
            "text"
        ),
    )
    src = d.unionByName(plant).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.md5(F.substring("text", 1, 40)).alias("fp"),
    )
    a = src.select(F.col("doc_id").alias("id_a"), "fp")
    b = src.select(F.col("doc_id").alias("id_b"), "fp")
    pairs = a.join(b, "fp").where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b"
    )
    return dedup_keep_best(
        src.select("doc_id", "n_chars"), pairs, "doc_id", "n_chars"
    ).select("doc_id", "n_chars")


@query("compression_ratio")  # zlib is not SQL-expressible — rows-only
def q_compression_ratio(spark, sf_dir):
    """EXT — zlib compression-ratio quality signal
    (text.compression_ratio_scores): the classic cheap redundancy
    filter (repetitive/templated text compresses far below prose;
    incompressible blobs flag as noise). Deliberately the honest
    Python path — DEFLATE exists in neither engine's SQL surface, so
    it runs as one Arrow-batched pandas_udf over stdlib zlib
    (vectorized per batch, no per-row round-trips, same discipline as
    the media codecs); pytest pins each row against direct zlib
    calls."""
    from .operators.text import compression_ratio_scores

    return compression_ratio_scores(t(spark, sf_dir, "documents"))


@query(
    "char_entropy",
    oracle="""
WITH d AS (
  SELECT doc_id, text,
    list_filter(list_sort(list_distinct(string_split_regex(text, ''))),
                c -> c <> '') AS dc
  FROM documents
)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(dc) AS BIGINT) AS n_distinct_chars,
  CASE WHEN length(text) = 0 THEN 0.0 ELSE
    round(-list_reduce(list_transform(dc,
      c -> (CAST(length(text) - length(replace(text, c, '')) AS DOUBLE)
            / CAST(length(text) AS DOUBLE))
           * log2(CAST(length(text) - length(replace(text, c, '')) AS DOUBLE)
                  / CAST(length(text) AS DOUBLE))),
      (a, b) -> a + b), 9) + 0.0
  END AS entropy
FROM d
""",
)
def q_char_entropy(spark, sf_dir):
    """EXT — character-entropy quality signal (text.
    char_entropy_scores): bits/char Shannon entropy per document, the
    SQL-exact companion to the zlib compression-ratio signal
    (near-zero → padding/mash, unusually high → base64/minified
    blobs). Pure codegen expression chain — sorted distinct chars →
    replace-based counts → explicit left fold of -Σ p·log2(p), the
    identical fold order restated as the oracle's list_reduce, so the
    doubles hash-match bit-for-bit. Zero shuffles: this runs as a map
    over the corpus at any scale."""
    from .operators.text import char_entropy_scores

    return char_entropy_scores(t(spark, sf_dir, "documents"))


@query(
    "rake_keywords",
    oracle=r"""
WITH occ0 AS (
  SELECT doc_id, trim(regexp_replace(p, '\s+', ' ', 'g')) AS phrase
  FROM (SELECT doc_id,
               unnest(string_split_regex(
                 text, '\b(?:row|hash|join|scan)\b')) AS p
        FROM documents)
),
occ AS (
  SELECT doc_id, phrase,
         CAST(len(string_split(phrase, ' ')) AS BIGINT) AS L
  FROM occ0 WHERE phrase <> ''
),
ow AS (
  SELECT doc_id, L, unnest(string_split(phrase, ' ')) AS w FROM occ
),
stats AS (
  SELECT doc_id, w,
         CAST(ROUND(CAST(SUM(L) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1e9,
                    0) AS BIGINT) AS q
  FROM ow GROUP BY 1, 2
),
dp AS (SELECT DISTINCT doc_id, phrase, L FROM occ),
dw AS (
  SELECT doc_id, phrase, L, unnest(string_split(phrase, ' ')) AS w FROM dp
),
scored AS (
  SELECT dw.doc_id, dw.phrase, MIN(dw.L) AS n_words,
         ROUND(CAST(SUM(s.q) AS DOUBLE) / 1e9, 9) AS score
  FROM dw JOIN stats s ON dw.doc_id = s.doc_id AND dw.w = s.w
  GROUP BY 1, 2
)
SELECT doc_id, phrase, n_words, score,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, phrase) AS BIGINT) AS rk
FROM scored QUALIFY rk <= 5
""",
)
def q_rake_keywords(spark, sf_dir):
    """EXT — RAKE keyword extraction (text.rake_keywords, Rose et al.
    2010): candidate phrases between stopword delimiters, word score
    = degree/frequency over all phrase occurrences, phrase score =
    sum of word scores, top-5 distinct phrases per document. Word
    scores quantize to int64 nano-units so the phrase sums are
    order-independent exact adds and the doubles hash-match the SQL
    restatement. Delimiters here are four high-frequency fixture
    tokens standing in for a stopword list."""
    from .operators.text import rake_keywords

    return rake_keywords(
        t(spark, sf_dir, "documents"), ["row", "hash", "join", "scan"], k=5
    )


_BOTTOMK_ORACLE = """
SELECT doc_id, source, n_chars, hkey FROM (
  SELECT doc_id, source, n_chars,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      / 4294967296.0 AS hkey
  FROM documents
) ORDER BY hkey ASC, doc_id ASC LIMIT 100
"""


@query("bottomk_sample", oracle=_BOTTOMK_ORACLE)
def q_bottomk_sample(spark, sf_dir):
    """EXT — bottom-k (KMV) uniform sample (sampling.bottomk_sample):
    the 100 documents with the smallest engine-portable md5-uniform
    key hash — a without-replacement uniform sample that is MERGEABLE
    (bottomk of a union = bottomk of the per-part bottomks, the KMV
    sketch property), which is what makes it the right sampler for
    partitions, micro-batches and standing state. Plans as
    TakeOrderedAndProject (per-partition top-k + k-sized merge), never
    a global sort or SinglePartition window; the hash is a 32-bit
    integer over 2^32, exact in binary64, so the selected SET and the
    hkey doubles hash-match the ANSI ORDER BY/LIMIT oracle."""
    from .operators.sampling import bottomk_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return bottomk_sample(d, "doc_id", k=100)


@query(
    "kmv_distinct",
    oracle=f"""
WITH s AS ({_BOTTOMK_ORACLE})
SELECT CAST(count(*) AS BIGINT) AS n_retained,
  CASE WHEN count(*) < 100 THEN CAST(count(*) AS DOUBLE)
       ELSE ROUND(99.0 / max(hkey), 3) END AS est_distinct
FROM s
""",
)
def q_kmv_distinct(spark, sf_dir):
    """EXT — KMV distinct-count estimator (sampling.
    kmv_distinct_estimate): (k−1)/h_k over the bottom-k sample's
    largest retained hash (Bar-Yossef et al. 2002) — the free
    cardinality estimate a maintained bottom-k sample carries, next
    to the HLL sketch for when no sample is kept. Exact count
    returned when the population is smaller than k. One k-row
    aggregate; the estimator arithmetic restates exactly (the uniform
    is exact in binary64), so unlike most sketches this one
    HASH-matches its oracle."""
    from .operators.sampling import bottomk_sample, kmv_distinct_estimate

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return kmv_distinct_estimate(bottomk_sample(d, "doc_id", k=100), k=100)


@query("streaming_bottomk", oracle=_BOTTOMK_ORACLE)
def q_streaming_bottomk(spark, sf_dir):
    """W-EXT — the bottom-k sample in STREAMING form
    (streaming/jobs.py:streaming_bottomk): documents arrive as one
    micro-batch (a one-partition input; multi-batch folds are
    pytest-pinned) whose bottom-k folds into the standing sample —
    the KMV merge property makes the fold
    EXACT, so this streaming query hash-matches the same batch
    ORDER BY/LIMIT oracle (the bounded-state streaming uniform sample;
    k rows of state forever, where a classic reservoir's per-row RNG
    can never be restated cross-engine)."""
    from .streaming.jobs import streaming_bottomk

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return streaming_bottomk(spark, d.repartition(1), "doc_id", k=100)


@query("weighted_sample")  # xxhash64 scoring — no DuckDB twin, rows-only
def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (A-ES,
    u^(1/w) top-k): 50 documents drawn proportional to n_chars. No SQL
    oracle (the uniform comes from Spark's xxhash64); determinism,
    partitioning-independence, and weight-proportional inclusion are
    pinned in pytest."""
    from .operators.sampling import weighted_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample(d, "doc_id", "n_chars", k=50)


@query(
    "chunk_documents",
    oracle="""
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0),
s AS (SELECT doc_id, text, unnest(range(0, n, 480)) AS start FROM d)
SELECT doc_id, CAST(start / 480 AS BIGINT) AS chunk_id, CAST(start AS BIGINT) AS start,
       substring(text, CAST(start + 1 AS INTEGER), 512) AS chunk
FROM s
""",
)
def q_chunk_documents(spark, sf_dir):
    """Context-window chunking: split each document into 512-char
    chunks with 32 chars of overlap (stride 480) — sequence + explode +
    substr, all JVM-side, fan-out bounded by ceil(len/stride)."""
    from .operators.text import chunk_documents

    return chunk_documents(
        t(spark, sf_dir, "documents"), chunk_size=512, stride=480
    )


@query(
    "vocab_encode_words",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT doc_id, word,
       CAST(DENSE_RANK() OVER (ORDER BY word) - 1 AS BIGINT) AS word_code
FROM words WHERE word <> ''
""",
)
def q_vocab_encode_words(spark, sf_dir):
    """Vocabulary build + dictionary encoding (token→id): the distinct
    word set gets dense codes via the scalable global_row_ids path (no
    SinglePartition window even for web-scale vocabularies), then the
    exploded corpus picks codes up by equi-join. The oracle is the
    naive DENSE_RANK the operator avoids — identical result, scalable
    plan."""
    from .operators.layout import encode_categorical

    words = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .where(F.col("word") != "")
    )
    return encode_categorical(words, "word", "word_code").select(
        "doc_id", "word", "word_code"
    )


@query(
    "length_outliers",
    oracle="""
WITH g AS (
  SELECT doc_id, source, n_chars,
         COUNT(n_chars) OVER w AS n,
         SUM(n_chars) OVER w AS s,
         SUM(n_chars * n_chars) OVER w AS sq
  FROM documents
  WINDOW w AS (PARTITION BY source)
)
SELECT doc_id, source, n_chars,
       ((n * n_chars - s) * (n * n_chars - s) > 4 * (n * sq - s * s)) AS is_outlier
FROM g
""",
)
def q_length_outliers(spark, sf_dir):
    """Per-source document-length outlier gate (the curation stage that
    drops truncated/garbage docs relative to their source's own
    distribution). |x−μ| > 2σ cleared of denominators into pure BIGINT
    arithmetic — borderline rows cannot flip between engines the way
    float stddev implementations allow, so the oracle hash-matches
    exactly."""
    from .operators.profiling import integer_zscore_outliers

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return integer_zscore_outliers(d, "n_chars", ["source"], threshold=2)


@query(
    "data_expectations",
    oracle="""
SELECT rule, kind, "column", n_violations, (n_violations = 0) AS passed FROM (
SELECT 'pk_not_null' AS rule, 'not_null' AS kind, 'o_orderkey' AS "column",
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM orders
UNION ALL
SELECT 'pk_unique', 'unique', 'o_orderkey',
       CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'status_values', 'accepted_values', 'o_orderstatus',
       CAST(SUM(CASE WHEN o_orderstatus IS NULL OR o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) FROM orders
UNION ALL
SELECT 'price_range', 'range', 'o_totalprice',
       CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0 OR o_totalprice > 300000 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
UNION ALL
SELECT 'fk_orders', 'referential', 'l_orderkey',
       CAST((SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
)
""",
)
def q_data_expectations(spark, sf_dir):
    """Declarative data-quality suite (dbt-test/deequ shape): PK
    not-null + uniqueness, accepted status values, a price range rule
    (violations expected — the fixture has orders above the bound), and
    lineitem→orders referential integrity. Every non-referential rule
    fuses into ONE scan+aggregate of orders; the FK rule is one
    left-anti join."""
    from .operators.profiling import check_expectations

    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    row_rules = check_expectations(
        orders,
        [
            {"rule": "pk_not_null", "kind": "not_null", "column": "o_orderkey"},
            {"rule": "pk_unique", "kind": "unique", "column": "o_orderkey"},
            {
                "rule": "status_values",
                "kind": "accepted_values",
                "column": "o_orderstatus",
                "values": ["O", "F", "P"],
            },
            {
                "rule": "price_range",
                "kind": "range",
                "column": "o_totalprice",
                "min": 0.0,
                "max": 300_000.0,
            },
        ],
    )
    fk_rule = check_expectations(
        li,
        [
            {
                "rule": "fk_orders",
                "kind": "referential",
                "column": "l_orderkey",
                "ref": "orders",
                "ref_column": "o_orderkey",
            }
        ],
        references={"orders": orders},
    )
    return row_rules.unionByName(fk_rule)


_MERGE_ORACLE = """
WITH updates AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
  FROM orders WHERE o_orderkey < 100
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey < 10
)
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
UNION ALL
SELECT * FROM updates
"""


@query("merge_upsert", oracle=_MERGE_ORACLE)
def q_merge_upsert(spark, sf_dir):
    """MERGE semantics as DataFrame algebra: a change batch that
    updates 100 rows and inserts 10 new keys; matched keys take the
    update, everything else passes through."""
    from .operators.cdc import merge_upsert

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        orders.where(F.col("o_orderkey") < 100)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .unionByName(
            orders.where(F.col("o_orderkey") < 10).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10_000_000
            )
        )
    )
    return merge_upsert(orders, updates, ["o_orderkey"], broadcast_updates=True)


_CDC_ORACLE = """
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey >= 100
UNION ALL
SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice
FROM orders WHERE o_orderkey >= 50 AND o_orderkey < 100
"""


@query("cdc_apply_changes", oracle=_CDC_ORACLE)
def q_cdc_apply_changes(spark, sf_dir):
    """CDC apply with latest-wins ordering: keys < 50 get an upsert at
    seq 0 AND a delete at seq 1 (the delete must win), keys 50-99 an
    upsert at seq 2. The oracle states the net effect."""
    from .operators.cdc import apply_changes

    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    low = orders.where(F.col("o_orderkey") < 50)
    mid = orders.where((F.col("o_orderkey") >= 50) & (F.col("o_orderkey") < 100))
    changes = (
        low.select("o_orderkey", "o_totalprice", F.lit("upsert").alias("_op"), F.lit(0).alias("_seq"))
        .unionByName(
            low.select("o_orderkey", "o_totalprice", F.lit("delete").alias("_op"), F.lit(1).alias("_seq"))
        )
        .unionByName(
            mid.select(
                "o_orderkey",
                (F.col("o_totalprice") + 1000).alias("o_totalprice"),
                F.lit("upsert").alias("_op"),
                F.lit(2).alias("_seq"),
            )
        )
    )
    return apply_changes(orders, changes, ["o_orderkey"], broadcast_changes=True)


_SCD2_CH_SQL = """
SELECT o_orderkey, o_totalprice, 'upsert' AS _op, 0 AS _seq FROM orders WHERE o_orderkey < 300
UNION ALL
SELECT o_orderkey, o_totalprice + 100, 'upsert', 10 FROM orders WHERE o_orderkey < 200
UNION ALL
SELECT o_orderkey, NULL, 'delete', 20 FROM orders WHERE o_orderkey < 100
"""


def _scd2_changes(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    a = orders.where(F.col("o_orderkey") < 300).select(
        "o_orderkey", "o_totalprice", F.lit("upsert").alias("_op"), F.lit(0).alias("_seq")
    )
    b = orders.where(F.col("o_orderkey") < 200).select(
        "o_orderkey",
        (F.col("o_totalprice") + 100).alias("o_totalprice"),
        F.lit("upsert").alias("_op"),
        F.lit(10).alias("_seq"),
    )
    c = orders.where(F.col("o_orderkey") < 100).select(
        "o_orderkey",
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit("delete").alias("_op"),
        F.lit(20).alias("_seq"),
    )
    return a.unionByName(b).unionByName(c)


@query(
    "scd2_build",
    oracle=f"""
WITH ch AS ({_SCD2_CH_SQL}),
v AS (SELECT *, lead(_seq) OVER (PARTITION BY o_orderkey ORDER BY _seq) AS valid_to FROM ch)
SELECT o_orderkey, o_totalprice,
       CAST(_seq AS BIGINT) AS valid_from,
       CAST(valid_to AS BIGINT) AS valid_to,
       (valid_to IS NULL) AS is_current
FROM v WHERE _op = 'upsert'
""",
)
def q_scd2_build(spark, sf_dir):
    """Type-2 SCD construction from a CDC change log: upserts open
    versions, the key's next change closes them, deletes leave a gap.
    Three change waves over orders (create / reprice / delete) produce
    keys with full, partial, and closed histories. One lead() window
    over the change log — no join, O(|changes|)."""
    from .operators.cdc import scd2_build

    out = scd2_build(_scd2_changes(spark, sf_dir), ["o_orderkey"])
    return out.select(
        "o_orderkey",
        "o_totalprice",
        F.col("valid_from").cast("long").alias("valid_from"),
        F.col("valid_to").cast("long").alias("valid_to"),
        "is_current",
    )


@query(
    "scd2_pit_lookup",
    oracle=f"""
WITH ch AS ({_SCD2_CH_SQL}),
v AS (SELECT *, lead(_seq) OVER (PARTITION BY o_orderkey ORDER BY _seq) AS valid_to FROM ch),
ver AS (SELECT o_orderkey, o_totalprice, _seq AS valid_from, valid_to FROM v WHERE _op = 'upsert'),
f AS (SELECT l_orderkey AS o_orderkey, l_linenumber, (l_linenumber * 7) % 25 AS fact_seq
      FROM lineitem WHERE l_orderkey < 300)
SELECT f.o_orderkey, f.l_linenumber, CAST(f.fact_seq AS BIGINT) AS fact_seq,
       ver.o_totalprice AS price_at, CAST(ver.valid_from AS BIGINT) AS valid_from
FROM f LEFT JOIN ver ON f.o_orderkey = ver.o_orderkey
  AND ver.valid_from <= f.fact_seq AND (ver.valid_to IS NULL OR f.fact_seq < ver.valid_to)
""",
)
def q_scd2_pit_lookup(spark, sf_dir):
    """Point-in-time join: each lineitem fact looks up the order price
    version valid at its (synthetic) fact sequence. The Spark side
    composes scd2_build + scd2_lookup (asof_join under the hood — one
    shuffle, no interval candidates); the oracle is DuckDB's plain
    interval inequality join, an independent formulation."""
    from .operators.cdc import scd2_build, scd2_lookup

    versions = scd2_build(_scd2_changes(spark, sf_dir), ["o_orderkey"]).select(
        "o_orderkey", F.col("o_totalprice").alias("price_at"), "valid_from", "valid_to"
    )
    facts = (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 300)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            "l_linenumber",
            ((F.col("l_linenumber") * 7) % 25).cast("long").alias("fact_seq"),
        )
    )
    out = scd2_lookup(facts, versions, on="o_orderkey", fact_seq_col="fact_seq")
    return out.select(
        "o_orderkey",
        "l_linenumber",
        "fact_seq",
        "price_at",
        F.col("valid_from").cast("long").alias("valid_from"),
    )


_GROUPING_SETS_SQL = f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(count(*) AS BIGINT) AS n,
       {_dsum_sql('l_extendedprice', 'sum_price')}
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
"""


@query("grouping_sets_agg", oracle=_GROUPING_SETS_SQL)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (cube/rollup's general form) through the
    native SQL surface — one shuffle, expand-node fan-out, no
    re-aggregation of the base table per set."""
    return _sql(spark, sf_dir, _GROUPING_SETS_SQL)


_Q22_SQL = f"""
SELECT right(c_name, 1) AS name_digit, CAST(count(*) AS BIGINT) AS numcust,
       {_dsum_sql('c_acctbal', 'totacctbal')}
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(30,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)
    FROM customer c2 WHERE c2.c_acctbal > 0.0
)
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY name_digit
"""


@query("tpch_q22_dormant_customers", oracle=_Q22_SQL)
def q_tpch_q22(spark, sf_dir):
    """Scalar-subquery threshold + anti-join NOT EXISTS; the name's
    last digit stands in for the missing phone country code."""
    return _sql(spark, sf_dir, _Q22_SQL)


_Q11_SQL = f"""
SELECT l_partkey,
       {_dsum_sql('l_extendedprice * l_quantity', 'part_value')}
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_7'
GROUP BY l_partkey
HAVING CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,6))) AS DOUBLE)
     > (
    SELECT CAST(SUM(CAST(l2.l_extendedprice * l2.l_quantity AS DECIMAL(30,6))) AS DOUBLE) * 0.0004
    FROM lineitem l2 JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
                     JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    WHERE n2.n_name = 'NATION_7'
)
"""


@query(
    "argmin_argmax",
    oracle="""
SELECT event_type,
       CAST(max_by(event_id, value) AS BIGINT) AS biggest_event,
       CAST(min_by(event_id, value) AS BIGINT) AS smallest_event
FROM events GROUP BY event_type
""",
)
def q_argmin_argmax(spark, sf_dir):
    """min_by / max_by (argmin/argmax) aggregates — the 'which row had
    the extreme' question without a self-join or window. Extreme
    values are unique per group in this fixture, so the result is
    deterministic on both engines."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.max_by("event_id", "value").alias("biggest_event"),
        F.min_by("event_id", "value").alias("smallest_event"),
    )


@query(
    "boolean_aggregates",
    oracle="""
SELECT event_type,
  CAST(count(*) FILTER (WHERE value > 5.0) AS BIGINT) AS n_big,
  bool_and(value >= 0.0) AS all_nonneg,
  bool_or(value > 9.5) AS any_huge
FROM events GROUP BY event_type
""",
)
def q_boolean_aggregates(spark, sf_dir):
    """Boolean aggregate family: count_if / every / any — one grouped
    pass, map-side partials like any other hash agg."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 5.0).alias("n_big"),
        F.every(F.col("value") >= 0.0).alias("all_nonneg"),
        F.some(F.col("value") > 9.5).alias("any_huge"),
    )


@query(
    "funnel_conversion",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(epoch_us(first_purchase) - epoch_us(first_click) AS BIGINT) AS lag_us
FROM per_user WHERE first_purchase > first_click
""",
)
def q_funnel_conversion(spark, sf_dir):
    """Funnel analysis (click → purchase in order): one conditional-min
    aggregation pass computes each user's first click and first
    purchase, converters are those whose purchase follows the click,
    with a microsecond-exact conversion lag (unix_micros / epoch_us —
    integer arithmetic, no float-epoch rounding divergence). The parquet
    ts column arrives as TIMESTAMP_NTZ; the cast to TIMESTAMP is linear
    under the session's pinned UTC zone, so the difference is exact."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return per_user.where(F.col("first_purchase") > F.col("first_click")).select(
        "user_id",
        (
            F.unix_micros(F.col("first_purchase").cast("timestamp"))
            - F.unix_micros(F.col("first_click").cast("timestamp"))
        ).alias("lag_us"),
    )


_RECURSIVE_SPINE_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT TIMESTAMP '1995-01-01 00:00:00'
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '1998-12-01 00:00:00'
)
SELECT CAST(year(m) AS BIGINT) AS y, CAST(month(m) AS BIGINT) AS mo,
       CAST(COALESCE(cnt, 0) AS BIGINT) AS n_orders
FROM months LEFT JOIN (
  SELECT date_trunc('month', o_orderdate) AS mm, count(*) AS cnt FROM orders GROUP BY 1
) o ON months.m = o.mm
"""


@query("recursive_date_spine", oracle=_RECURSIVE_SPINE_SQL)
def q_recursive_date_spine(spark, sf_dir):
    """Recursive CTE (WITH RECURSIVE — new native surface in Spark 4):
    a month spine generated recursively, left-joined to per-month order
    counts so empty months surface as zero — the gap-filling time-series
    scaffold. One SQL string serves engine and oracle verbatim."""
    return _sql(spark, sf_dir, _RECURSIVE_SPINE_SQL)


@query(
    "unpivot_metrics",
    oracle="""
SELECT o_orderkey, metric, CAST(val AS DOUBLE) AS val
FROM (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total_price,
             CAST(o_custkey AS DOUBLE) AS cust_key
      FROM orders)
UNPIVOT (val FOR metric IN (total_price, cust_key))
""",
)
def q_unpivot_metrics(spark, sf_dir):
    """Native UNPIVOT (wide → long melt, the inverse of the pivot
    query): an Expand node, no shuffle, no UDF."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("total_price"),
        F.col("o_custkey").cast("double").alias("cust_key"),
    ).unpivot("o_orderkey", ["total_price", "cust_key"], "metric", "val")


@query(
    "length_histogram",
    oracle="""
SELECT CAST(LEAST(FLOOR(n_chars / 250.0), 15) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(n_chars) AS BIGINT) AS lo,
       CAST(max(n_chars) AS BIGINT) AS hi
FROM documents
GROUP BY 1
""",
)
def q_length_histogram(spark, sf_dir):
    """Fixed-bin document-length histogram (corpus profiling): floor
    division bins with a clamped tail bucket — integer arithmetic both
    engines state identically, one partial-agg shuffle."""
    d = t(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 250.0), F.lit(15)).cast("long")
    return (
        d.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
    )


@query("approx_percentile_summary")  # sketch-based — rows-only, error pinned in pytest
def q_approx_percentile_summary(spark, sf_dir):
    """Sketch-based percentile summary (the 100 TB path: KLL-style
    mergeable sketch, one pass, no global sort). Error vs the exact
    R-7 `percentile_summary` is pinned in tests/test_llm_ops.py."""
    li = t(spark, sf_dir, "lineitem")
    pcts = [0.5, 0.9, 0.99]
    return li.select(
        *[
            F.approx_percentile("l_extendedprice", F.lit(p), F.lit(10000))
            .alias(f"p{int(p * 100)}")
            for p in pcts
        ]
    )


@query(
    "null_safe_join",
    oracle="""
WITH f AS (SELECT NULLIF(l_returnflag, 'N') AS k, l_quantity FROM lineitem),
d AS (SELECT DISTINCT NULLIF(l_returnflag, 'N') AS k FROM lineitem)
SELECT COALESCE(f.k, '(null)') AS k, CAST(count(*) AS BIGINT) AS n
FROM f JOIN d ON f.k IS NOT DISTINCT FROM d.k
GROUP BY 1
""",
)
def q_null_safe_join(spark, sf_dir):
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys match each other instead of silently dropping — the NULL
    group's count proves the semantics (a plain equi-join would lose
    it entirely)."""
    li = t(spark, sf_dir, "lineitem")
    f = li.select(F.nullif(F.col("l_returnflag"), F.lit("N")).alias("k"))
    d = f.distinct().withColumnRenamed("k", "dk")
    return (
        f.join(d, f["k"].eqNullSafe(d["dk"]))
        .groupBy(F.coalesce(F.col("k"), F.lit("(null)")).alias("k"))
        .agg(F.count("*").alias("n"))
    )


@query(
    "rolling_time_window",
    oracle="""
SELECT event_id, user_id,
  CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
  CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS sum_last_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(epoch(ts) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
)
def q_rolling_time_window(spark, sf_dir):
    """Time-RANGE window frame (the value-based cousin of the
    rows-frame queries): per user, count and decimal-exact sum of
    events in the trailing hour. Range frames include ties as peers —
    identical semantics in Spark and the oracle when both order by
    epoch seconds."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(30,6)")).over(w).cast("double").alias(
            "sum_last_hour"
        ),
    )


@query(
    "train_val_test_split",
    oracle="""
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def q_train_val_test_split(spark, sf_dir):
    """Deterministic 80/10/10 corpus split by key hash — the same row
    lands in the same split on every engine, partitioning, and cluster
    size, so re-runs never leak eval rows into train. The oracle states
    the identical md5-prefix CASE (bounds cccd = 0.8, e666 = 0.9 of the
    16-bit prefix space)."""
    from .operators.sampling import train_val_test_split

    d = t(spark, sf_dir, "documents")
    return train_val_test_split(d, "doc_id", train=0.8, val=0.1).select(
        "doc_id", "split"
    )


@query(
    "temperature_mixture",
    oracle=f"""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
),
w AS (
  SELECT source, n_docs,
    round(sqrt(CAST((SELECT min(n_docs) FROM counts) AS DOUBLE)
               / CAST(n_docs AS DOUBLE)), 9) AS rate
  FROM counts
),
kept AS (
  SELECT d.source FROM documents d JOIN w ON d.source = w.source
  WHERE {sampling.hash_uniform_sql('d.doc_id')} < w.rate
)
SELECT w.source, w.n_docs, w.rate, CAST(COALESCE(k.c, 0) AS BIGINT) AS n_kept
FROM w LEFT JOIN (SELECT source, count(*) AS c FROM kept GROUP BY source) k
  ON w.source = k.source
""",
)
def q_temperature_mixture(spark, sf_dir):
    """EXT — temperature-based mixture rebalancing
    (sampling.temperature_weights + temperature_mixture_sample, α=0.5):
    per-source sampling rates ∝ size^(α-1) normalized to the smallest
    source — sampled mass ∝ size^α, the standard multi-source/
    multilingual rebalancing rule — computed FROM THE DATA and applied
    in the same plan (sources-sized weight table broadcast back, hash-
    uniform predicate per row; no driver round-trip). α=0.5 rides on
    sqrt, which is IEEE-correctly-rounded in both engines, so rates
    AND kept-counts hash-match. Output: (source, n_docs, rate,
    n_kept)."""
    from .operators.sampling import temperature_mixture_sample, temperature_weights

    d = t(spark, sf_dir, "documents")
    w = temperature_weights(d, "source", alpha=0.5)
    kept = (
        temperature_mixture_sample(d, "doc_id", "source", alpha=0.5)
        .groupBy("source")
        .agg(F.count("*").alias("_c"))
    )
    return w.join(kept, "source", "left").select(
        "source",
        "n_docs",
        "rate",
        F.coalesce(F.col("_c"), F.lit(0)).cast("long").alias("n_kept"),
    )


_TB_BUDGETS = {f"src{i}": (3000 if i % 2 == 0 else 1500) for i in range(19)}


def _tb_oracle() -> str:
    from .operators.sampling import token_budget_sample_sql

    before_sql, budget_sql = token_budget_sample_sql(
        "doc_id", "source", "n_chars", _TB_BUDGETS
    )
    return f"""
WITH c AS (
  SELECT doc_id, source, n_chars,
         CAST({before_sql} AS BIGINT) AS cost_before
  FROM documents
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, cost_before
FROM c
WHERE ({budget_sql}) IS NOT NULL AND cost_before < ({budget_sql})
"""


@query("token_budget_mixture", oracle=_tb_oracle())
def q_token_budget_mixture(spark, sf_dir):
    """EXT — budget-bounded mixture (sampling.token_budget_sample):
    each source contributes documents until its TOKEN budget is spent
    — the way production training mixes are specified ("30B tokens of
    web, 5B of code") — rather than a row-count fraction. Rows order
    within their source by the engine-portable md5 uniform, the
    budget-crossing document is included (every source reaches at
    least its budget when supply allows), unbudgeted sources (src19
    here) drop by the conservative default, and ``cost_before`` rides
    along for audit. One per-source window shuffle; the CASE budget
    literal and hash order are emitted once for both engines by
    token_budget_sample_sql."""
    from .operators.sampling import token_budget_sample

    d = t(spark, sf_dir, "documents")
    return token_budget_sample(
        d, "doc_id", "source", "n_chars", _TB_BUDGETS
    ).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"),
        "cost_before",
    )


@query(
    "leakage_safe_split",
    oracle=f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT 900001, text FROM documents WHERE doc_id = 1
  UNION ALL SELECT 900003, text FROM documents WHERE doc_id = 1
  UNION ALL SELECT 900002, text FROM documents WHERE doc_id = 2
),
f AS (SELECT doc_id, md5(text) AS fp FROM src),
grp AS (
  SELECT fp, CAST(min(doc_id) AS BIGINT) AS rep, count(*) AS n
  FROM f GROUP BY fp
),
lab AS (
  SELECT f.doc_id,
         CASE WHEN grp.n > 1 THEN grp.rep ELSE f.doc_id END AS cluster_id
  FROM f JOIN grp ON f.fp = grp.fp
)
SELECT doc_id, cluster_id,
       {sampling.train_val_test_split_sql('cluster_id')} AS split
FROM lab
""",
)
def q_leakage_safe_split(spark, sf_dir):
    """EXT — near-dup-aware corpus split (sampling.leakage_safe_split):
    duplicate families (here: exact-fingerprint pairs over a fixture
    with three planted copies — docs 900001/900003 of doc 1, 900002 of
    doc 2) transitively close into clusters, and every document splits
    by its CLUSTER REPRESENTATIVE's hash — a paraphrase/copy of a
    training row can never land in eval (the leakage a per-doc hash
    split allows). Singletons split by their own id, so the split
    matches train_val_test_split wherever no duplicate exists. The
    closure runs on the (tiny) pair graph; the corpus pays one left
    join. Near-dup (MinHash) pair inputs are pytest-pinned; the exact-
    fingerprint form is the hash-matched oracle twin."""
    from .operators.sampling import leakage_safe_split

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    rekey = lambda i, nid: d.where(F.col("doc_id") == i).withColumn(
        "doc_id", F.lit(nid).cast("long")
    )
    src = (
        d.unionByName(rekey(1, 900001))
        .unionByName(rekey(1, 900003))
        .unionByName(rekey(2, 900002))
    )
    f = src.select("doc_id", F.md5("text").alias("fp"))
    a = f.select(F.col("doc_id").alias("id_a"), "fp")
    b = f.select(F.col("doc_id").alias("id_b"), "fp")
    pairs = a.join(b, "fp").where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b"
    )
    return leakage_safe_split(src.select("doc_id"), pairs, "doc_id").select(
        "doc_id", "cluster_id", "split"
    )


@query(
    "corpus_heavy_hitters",
    oracle="""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
c AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY word)
SELECT word, n FROM c ORDER BY n DESC, word LIMIT 25
""",
)
def q_corpus_heavy_hitters(spark, sf_dir):
    """Corpus vocabulary heavy hitters: explode → count → top-k. The
    explode's partial aggregation combines map-side, so the shuffle
    carries one row per distinct word per partition, not one per token;
    the top-k is a TakeOrderedAndProject, never a full sort. (The
    sketch-based cousin for true streaming-scale cardinality is
    `hll_sketch_rollup`.)"""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(25)
    )


@query(
    "higher_order_array_functions",
    oracle="""
SELECT doc_id,
  CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 5)) AS BIGINT) AS long_words,
  CAST(list_aggregate(list_transform(string_split(text, ' '), w -> len(w)), 'sum') AS BIGINT) AS sum_word_chars,
  CAST(list_aggregate(list_transform(string_split(text, ' '), w -> len(w)), 'max') AS BIGINT) AS max_word_len
FROM documents
""",
)
def q_higher_order_array_functions(spark, sf_dir):
    """Array higher-order functions (§2.8's lambda-expression family —
    absent from the reference, free in Spark): filter / transform /
    aggregate / array_max over the split word array, all inside
    whole-stage codegen, reduced back to scalars for the gate."""
    d = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    lens = F.transform(words, lambda w: F.length(w))
    return d.select(
        "doc_id",
        F.size(F.filter(words, lambda w: F.length(w) > 5)).cast("long").alias("long_words"),
        F.aggregate(lens, F.lit(0).cast("long"), lambda acc, v: acc + v).alias(
            "sum_word_chars"
        ),
        F.array_max(lens).cast("long").alias("max_word_len"),
    )


@query(
    "sequence_packing",
    oracle="""
WITH tc AS (
  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT *, COALESCE(SUM(n_tokens) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM tc
)
SELECT doc_id, source, n_tokens,
       CAST(FLOOR(before / 2048.0) AS BIGINT) AS seq_id,
       CAST(before % 2048 AS BIGINT) AS seq_offset
FROM c
""",
)
def q_sequence_packing(spark, sf_dir):
    """GPT-style contiguous sequence packing: per source stream, docs
    concatenate in doc_id order and cut every 2048 tokens; each doc's
    (sequence, offset) assignment is a running-sum window — one shuffle
    on the stream key, pure integer arithmetic, bit-identical across
    engines."""
    from .operators.packing import pack_sequences
    from .operators.text import token_count

    d = t(spark, sf_dir, "documents")
    return pack_sequences(
        d, token_count(F.col("text")), budget=2048, stream_col="source", order_col="doc_id"
    ).select("doc_id", "source", "n_tokens", "seq_id", "seq_offset")


@query(
    "dedup_incremental",
    oracle="""
WITH corpus AS (SELECT * FROM documents WHERE doc_id < 250),
newb AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id >= 250
  UNION ALL
  SELECT doc_id + 10000, text, lang, source, n_chars FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT doc_id + 20000, text, lang, source, n_chars FROM documents WHERE doc_id = 300
),
keep AS (SELECT min(doc_id) AS doc_id FROM newb GROUP BY text),
kept AS (SELECT n.* FROM newb n JOIN keep k ON n.doc_id = k.doc_id)
SELECT doc_id, lang, source, n_chars
FROM kept
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = kept.text)
""",
)
def q_dedup_incremental(spark, sf_dir):
    """Daily-crawl incremental dedup: the new batch carries re-keyed
    copies of 50 corpus docs (must drop — already seen) and one
    within-batch duplicate (lowest id wins); the standing corpus ships
    as a distinct fingerprint set, not full rows."""
    d = t(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") < 250)
    new = (
        d.where(F.col("doc_id") >= 250)
        .unionByName(
            d.where(F.col("doc_id") < 50).withColumn(
                "doc_id", F.col("doc_id") + 10000
            )
        )
        .unionByName(
            d.where(F.col("doc_id") == 300).withColumn(
                "doc_id", F.col("doc_id") + 20000
            )
        )
    )
    return dedup.incremental_dedup(new, corpus, ["text"], "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query("tpch_q11_important_stock", oracle=_Q11_SQL)
def q_tpch_q11(spark, sf_dir):
    """TPC-H q11 adapted (fixtures carry no partsupp, so lineitem
    value per part stands in for supply cost; NATION_7 for GERMANY): grouped HAVING against
    an uncorrelated scalar subquery over the same three-way join.
    Catalyst evaluates the subquery once (broadcast scalar), not per
    group; the decimal-sum-then-double recipe keeps the threshold
    comparison bit-identical across engines."""
    return _sql(spark, sf_dir, _Q11_SQL)


# ---------------------------------------------------------------------------
# §2.12 EXT — time-series resample / retention (operators/timeseries.py)
# ---------------------------------------------------------------------------


_RESAMPLE_SQL = """
WITH b AS (
  SELECT user_id,
         CAST(FLOOR(datediff('second', TIMESTAMP '2024-01-01 00:00:00', ts) / 3600.0)
              AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
           / CAST(count(value) AS DOUBLE) AS avg_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT user_id, min(bucket) AS mn, max(bucket) AS mx FROM b GROUP BY 1
), spine AS (
  SELECT user_id, unnest(generate_series(mn, mx)) AS bucket FROM bounds
)
SELECT s.user_id,
       CAST(s.bucket AS BIGINT) AS bucket,
       CAST(COALESCE(b.n_events, 0) AS BIGINT) AS n_events,
       b.avg_value,
       last_value(b.avg_value IGNORE NULLS)
         OVER (PARTITION BY s.user_id ORDER BY s.bucket) AS filled_value
FROM spine s LEFT JOIN b USING (user_id, bucket)
"""


@query("resample_gapfill", oracle=_RESAMPLE_SQL)
def q_resample_gapfill(spark, sf_dir):
    """EXT — fixed-grain resample with dense spine + forward fill
    (operators/timeseries.py). Hourly buckets per user; gap buckets get
    n_events=0 and carry the last seen mean forward. The spine is
    sequence+explode executor-side; buckets are origin-relative so the
    session timezone cancels."""
    from .operators.timeseries import resample_gapfill

    return resample_gapfill(
        t(spark, sf_dir, "events"),
        ts_col="ts",
        key_cols=["user_id"],
        value_col="value",
        grain_seconds=3600,
    )


_COHORT_SQL = """
WITH f AS (
  SELECT user_id, ts,
         min(ts) OVER (PARTITION BY user_id) AS first_ts
  FROM events
), marks AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(datediff('second', TIMESTAMP '2024-01-01 00:00:00', first_ts)
                    / 604800.0) AS BIGINT) AS cohort,
         CAST(FLOOR(datediff('second', first_ts, ts) / 604800.0) AS BIGINT)
           AS week_offset
  FROM f
)
SELECT cohort, week_offset, CAST(count(*) AS BIGINT) AS active_users
FROM marks GROUP BY cohort, week_offset
"""


@query("cohort_retention", oracle=_COHORT_SQL)
def q_cohort_retention(spark, sf_dir):
    """EXT — weekly retention matrix (operators/timeseries.py): users
    bucketed by first-seen week, counted per whole-week offset from
    their own first event. Exact integer arithmetic end to end."""
    from .operators.timeseries import cohort_retention

    return cohort_retention(
        t(spark, sf_dir, "events"), user_col="user_id", ts_col="ts"
    )


@query(
    "funnel_analysis",
    oracle="""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id
),
c AS (
  SELECT CAST(1 AS BIGINT) AS step_ord, 'view' AS step,
         CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'purchase',
         CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
)
SELECT step_ord, step, n_users,
  CASE WHEN step_ord = 1 THEN 1.0
       WHEN lag(n_users) OVER (ORDER BY step_ord) = 0 THEN 0.0
       ELSE round(CAST(n_users AS DOUBLE)
                  / lag(n_users) OVER (ORDER BY step_ord), 9) END AS conversion
FROM c
""",
)
def q_funnel_analysis(spark, sf_dir):
    """EXT — ordered funnel analysis (timeseries.funnel_steps):
    view → click → purchase completion, each step's event strictly
    after the user's earliest completion of the previous step (the
    standard product-analytics definition; repeats fine, earliest
    valid event counts). One per-user min-timestamp aggregation per
    step joined against the previous (shrinking) completion table —
    a constant number of co-partitioned user-key exchanges, never a
    time self-join; the summary window runs over len(steps) rows.
    Counts exact; conversion ratios are one double division rounded
    to 9, identical in both engines."""
    from .operators.timeseries import funnel_steps

    return funnel_steps(
        t(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        user_col="user_id",
        ts_col="ts",
        type_col="event_type",
    )


@query(
    "ab_test_purchase",
    oracle="""
WITH units AS (
  SELECT user_id,
         CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS arm,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted
  FROM events GROUP BY user_id
),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
    CAST(SUM(CASE WHEN arm = 'control' THEN converted ELSE 0 END) AS BIGINT)
      AS x_c,
    CAST(SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
    CAST(SUM(CASE WHEN arm = 'treatment' THEN converted ELSE 0 END) AS BIGINT)
      AS x_t
  FROM units
),
z AS (
  SELECT n_c, x_c, n_t, x_t,
    (CAST(x_c AS DOUBLE) + CAST(x_t AS DOUBLE))
      / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)) AS pool
  FROM agg
)
SELECT n_c, x_c, n_t, x_t,
  round(CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE), 9) AS rate_c,
  round(CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE), 9) AS rate_t,
  CASE WHEN n_c = 0 OR n_t = 0
         OR sqrt(pool * (1.0 - pool)
                 * (1.0 / CAST(n_c AS DOUBLE) + 1.0 / CAST(n_t AS DOUBLE))) = 0.0
       THEN 0.0
       ELSE round(
         (CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
          - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE))
         / sqrt(pool * (1.0 - pool)
                * (1.0 / CAST(n_c AS DOUBLE) + 1.0 / CAST(n_t AS DOUBLE))), 9)
  END AS z_score,
  abs(CASE WHEN n_c = 0 OR n_t = 0
             OR sqrt(pool * (1.0 - pool)
                     * (1.0 / CAST(n_c AS DOUBLE)
                        + 1.0 / CAST(n_t AS DOUBLE))) = 0.0
           THEN 0.0
           ELSE round(
             (CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
              - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE))
             / sqrt(pool * (1.0 - pool)
                    * (1.0 / CAST(n_c AS DOUBLE)
                       + 1.0 / CAST(n_t AS DOUBLE))), 9)
      END) > 1.959963985 AS significant
FROM z
""",
)
def q_ab_test_purchase(spark, sf_dir):
    """EXT — two-proportion z-test A/B readout (profiling.
    ab_test_ztest): users split into arms by id parity, success = at
    least one purchase event, pooled-variance z statistic with the
    two-sided 95% critical value. Unit-level dedup happens FIRST (one
    row per user via max-flag aggregation — the mistake every naive
    A/B query makes is testing event rows); the test itself is one
    conditional-sum aggregation plus a fixed-order double expression
    tree, so the z restates identically in SQL. IEEE sqrt is
    correctly-rounded in both engines."""
    from .operators.profiling import ab_test_ztest

    e = t(spark, sf_dir, "events")
    units = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("converted")
    ).select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("arm"),
        "converted",
    )
    return ab_test_ztest(units, "arm", "converted", "control", "treatment")


# ---------------------------------------------------------------------------
# §2.12 EXT — exact correlation matrix (operators/profiling.py)
# ---------------------------------------------------------------------------


def _corr_oracle_sql(table: str, cols: list[str], scale: int) -> str:
    """DuckDB twin of profiling.correlation_matrix: identical quantize →
    exact integer moments (HUGEINT = int128, superset of the engine's
    DECIMAL(38,0)) → identical double formula."""
    k = len(cols)
    qs = ", ".join(
        f"CAST(round({c} * {scale}) AS HUGEINT) AS x{i}" for i, c in enumerate(cols)
    )
    sums = ["CAST(count(*) AS HUGEINT) AS n"]
    for i in range(k):
        sums.append(f"sum(x{i}) AS s{i}")
        for j in range(i, k):
            sums.append(f"sum(x{i} * x{j}) AS s{i}_{j}")
    rows = []
    for i in range(k):
        for j in range(i + 1, k):
            den = (
                f"(sqrt(CAST(n*s{i}_{i} - s{i}*s{i} AS DOUBLE)) * "
                f"sqrt(CAST(n*s{j}_{j} - s{j}*s{j} AS DOUBLE)))"
            )
            rows.append(
                f"SELECT '{cols[i]}' AS col_x, '{cols[j]}' AS col_y, "
                f"CASE WHEN {den} <> 0.0 THEN "
                f"CAST(n*s{i}_{j} - s{i}*s{j} AS DOUBLE) / {den} END AS corr FROM s"
            )
    union = "\nUNION ALL\n".join(rows)
    # listwise NULL deletion to mirror the engine's na.drop(how='any')
    # (fixture columns are NULL-free, but the twin must not depend on it)
    not_null = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    return (
        f"WITH q AS (SELECT {qs} FROM {table} WHERE {not_null}),\n"
        f"s AS (SELECT {', '.join(sums)} FROM q)\n{union}"
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query("numeric_correlations", oracle=_corr_oracle_sql("lineitem", _CORR_COLS, 100))
def q_numeric_correlations(spark, sf_dir):
    """EXT — pairwise Pearson correlation of lineitem's numeric columns
    in one scan + one single-row aggregation (profiling.py). Built-in
    `corr` is order-dependent in its double accumulation; this variant
    quantizes to integers and sums moments exactly, so the value
    hash-matches the oracle bit for bit."""
    from .operators.profiling import correlation_matrix

    return correlation_matrix(t(spark, sf_dir, "lineitem"), _CORR_COLS, scale=100)


# ---------------------------------------------------------------------------
# §2.12 EXT — cross-document n-gram novelty (operators/text.py)
# ---------------------------------------------------------------------------


_NGRAM_NOVELTY_SQL = """
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> array_to_string(list_slice(t, i, i + 1), ' ')))
           AS g
  FROM tk WHERE len(t) >= 2
), tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams FROM bg GROUP BY 1
), db AS (
  SELECT DISTINCT doc_id, g FROM bg
), fr AS (
  SELECT g, count(*) AS df FROM db GROUP BY 1
), per AS (
  SELECT db.doc_id,
         CAST(count(*) AS BIGINT) AS n_distinct_ngrams,
         CAST(SUM(CASE WHEN fr.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unique_ngrams
  FROM db JOIN fr USING (g) GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(tot.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(COALESCE(per.n_distinct_ngrams, 0) AS BIGINT) AS n_distinct_ngrams,
       CAST(COALESCE(per.n_unique_ngrams, 0) AS BIGINT) AS n_unique_ngrams,
       CASE WHEN COALESCE(per.n_distinct_ngrams, 0) > 0
            THEN CAST(per.n_unique_ngrams AS DOUBLE)
                 / CAST(per.n_distinct_ngrams AS DOUBLE) END AS unique_fraction
FROM documents d
LEFT JOIN tot ON d.doc_id = tot.doc_id
LEFT JOIN per ON d.doc_id = per.doc_id
"""


@query("ngram_novelty", oracle=_NGRAM_NOVELTY_SQL)
def q_ngram_novelty(spark, sf_dir):
    """EXT — corpus-level bigram novelty per document (text.py): the
    fraction of a doc's distinct bigrams appearing in no other doc —
    the cross-document boilerplate signal. unique_fraction is one exact
    integer division, so it hash-matches bit for bit."""
    from .operators.text import ngram_novelty

    return ngram_novelty(t(spark, sf_dir, "documents"), n=2)


# ---------------------------------------------------------------------------
# §2.12 EXT — frequent item pairs (operators/itemsets.py)
# ---------------------------------------------------------------------------


_ITEM_PAIRS_SQL = """
WITH b AS (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
), s AS (
  SELECT it, count(*) AS n FROM b GROUP BY 1
), p AS (
  SELECT b.bk, b.it FROM b JOIN s USING (it) WHERE s.n >= 2
)
SELECT a.it AS item_a, c.it AS item_b, CAST(count(*) AS BIGINT) AS support
FROM p a JOIN p c ON a.bk = c.bk AND a.it < c.it
GROUP BY 1, 2
HAVING count(*) >= 2
"""


@query("frequent_item_pairs", oracle=_ITEM_PAIRS_SQL)
def q_frequent_item_pairs(spark, sf_dir):
    """EXT — market-basket pair mining (itemsets.py): parts bought
    together in >= 2 orders. A-Priori item-support pruning runs before
    any pair generation, so the per-basket self-join never touches the
    infrequent tail."""
    from .operators.itemsets import frequent_item_pairs

    return frequent_item_pairs(
        t(spark, sf_dir, "lineitem"),
        basket_col="l_orderkey",
        item_col="l_partkey",
        min_support=2,
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — one-pass PCA projection (operators/similarity.py)
# ---------------------------------------------------------------------------


@query("embedding_pca")  # float eigendecomposition — rows-only; numpy-parity pytest
def q_embedding_pca(spark, sf_dir):
    """EXT — exact full-corpus PCA in one distributed moment pass
    (similarity.pca_fit/pca_project): partitions reduce to (n, Σx, Σxxᵀ)
    via Arrow-batched numpy, a salted combine tree-reduces, the driver
    eigendecomposes d×d, and the projection runs JVM-side as
    literal-component dot products. No SQL oracle (eigenvectors are an
    iterative float fixpoint); agreement with numpy's PCA is pinned in
    tests/test_pca.py."""
    from .operators.similarity import pca_project

    return pca_project(t(spark, sf_dir, "embeddings"), k=4)


# ---------------------------------------------------------------------------
# §2.12 EXT — per-group OLS trend (operators/profiling.py)
# ---------------------------------------------------------------------------


_LINEAR_TREND_SQL = """
WITH q AS (
  SELECT o_custkey,
         CAST(round(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                    * 1) AS HUGEINT) AS qx,
         CAST(round(o_totalprice * 100) AS HUGEINT) AS qy
  FROM orders
), a AS (
  SELECT o_custkey, CAST(count(*) AS HUGEINT) AS n,
         sum(qx) AS sx, sum(qy) AS sy, sum(qx*qy) AS sxy, sum(qx*qx) AS sxx
  FROM q GROUP BY 1
)
SELECT o_custkey, CAST(n AS BIGINT) AS n,
  CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0.0
       THEN (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
            * CAST(0.01 AS DOUBLE)
  END AS slope,
  CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0.0
       THEN ((CAST(sy AS DOUBLE)
              - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE)) / CAST(100 AS DOUBLE)
  END AS intercept
FROM a
"""


@query("customer_spend_trend", oracle=_LINEAR_TREND_SQL)
def q_customer_spend_trend(spark, sf_dir):
    """EXT — per-customer OLS spend trend (profiling.py): slope in
    dollars/day and intercept at the 1992-01-01 origin, from exact
    decimal moments in ONE grouped aggregation — same bit-exactness
    recipe as numeric_correlations. Single-order customers get NULL
    slope (explicit CASE, not a 0/0)."""
    from .operators.profiling import grouped_linear_trend

    orders = t(spark, sf_dir, "orders")
    return grouped_linear_trend(
        orders,
        group_cols=["o_custkey"],
        x_col=F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ),
        y_col="o_totalprice",
        scale_x=1,
        scale_y=100,
    )


# ---------------------------------------------------------------------------
# S7 depth — correlated LATERAL subquery (native SQL surface)
# ---------------------------------------------------------------------------


_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 3
) t
"""


@query("lateral_topk_orders", oracle=_LATERAL_TOPK_SQL)
def q_lateral_topk_orders(spark, sf_dir):
    """S7 — correlated LATERAL subquery (each customer's 3 largest
    orders): Catalyst decorrelates it into WindowGroupLimit (partial
    top-k before the shuffle) + a broadcast join — no per-row re-
    execution, the plan a hand-written window query would get. One SQL
    string serves engine and oracle verbatim."""
    return _sql(spark, sf_dir, _LATERAL_TOPK_SQL)


# ---------------------------------------------------------------------------
# §2.5 depth — hopping (sliding) event-time window aggregation
# ---------------------------------------------------------------------------


_HOPPING_WINDOW_SQL = """
SELECT make_timestamp(((epoch_us(ts) // 900000000) - g.i) * 900000000)
         AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
FROM events, generate_series(0, 3) AS g(i)
GROUP BY 1
"""


@query("hopping_window_agg", oracle=_HOPPING_WINDOW_SQL)
def q_hopping_window_agg(spark, sf_dir):
    """§2.5 depth — hopping/sliding event-time windows (1 h window,
    15 min slide): Spark's native window() assigns each event to the 4
    overlapping buckets; the oracle states the same assignment as a
    generate_series offset join. Sums are exact decimal."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window(F.col("ts"), "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — period-over-period growth (operators/timeseries.py)
# ---------------------------------------------------------------------------


_POP_SQL = """
WITH per AS (
  SELECT date_trunc('month', o_orderdate) AS period,
         SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS val
  FROM orders GROUP BY 1
)
SELECT period,
       CAST(val AS DOUBLE) AS value,
       CAST(lag(val) OVER (ORDER BY period) AS DOUBLE) AS prev_value,
       CAST(val - lag(val) OVER (ORDER BY period) AS DOUBLE) AS delta,
       CASE WHEN lag(val) OVER (ORDER BY period) IS NOT NULL
             AND lag(val) OVER (ORDER BY period) <> 0
            THEN CAST(val - lag(val) OVER (ORDER BY period) AS DOUBLE)
                 / CAST(lag(val) OVER (ORDER BY period) AS DOUBLE)
       END AS pct_change
FROM per
"""


@query("period_over_period", oracle=_POP_SQL)
def q_period_over_period(spark, sf_dir):
    """EXT — month-over-month revenue growth (timeseries.
    period_over_period): exact decimal period sums, decimal delta cast
    once, one IEEE division for pct_change — borderline months
    engine-exact."""
    from .operators.timeseries import period_over_period

    return period_over_period(
        t(spark, sf_dir, "orders"), ts_col="o_orderdate", value_col="o_totalprice"
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — sweep-line interval concurrency (operators/timeseries.py)
# ---------------------------------------------------------------------------


_CONCURRENCY_SQL = """
WITH iv AS (
  SELECT ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events
), b AS (
  SELECT s AS ts, 1 AS delta FROM iv
  UNION ALL
  SELECT e AS ts, -1 AS delta FROM iv
), g AS (
  SELECT ts, CAST(sum(delta) AS BIGINT) AS delta FROM b GROUP BY 1
)
SELECT ts, delta,
       CAST(sum(delta) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS concurrent
FROM g
"""


@query("interval_concurrency", oracle=_CONCURRENCY_SQL)
def q_interval_concurrency(spark, sf_dir):
    """EXT — sweep-line concurrency profile (timeseries.
    interval_concurrency): every event opens a 30-minute interval; the
    profile counts how many are open at each boundary instant. Exact
    integers end to end (explode, per-instant agg, running sum)."""
    from .operators.timeseries import interval_concurrency

    ev = t(spark, sf_dir, "events").select(
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("e"),
    )
    return interval_concurrency(ev, start_col="s", end_col="e")


# ---------------------------------------------------------------------------
# §2.12 EXT — Pareto / ABC classification (operators/profiling.py)
# ---------------------------------------------------------------------------


_PARETO_SQL = """
WITH per AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS val
  FROM lineitem GROUP BY 1
), u AS (
  SELECT l_partkey, val, CAST(val * 1000000 AS HUGEINT) AS vu FROM per
), tot AS (
  SELECT SUM(vu) AS tot FROM u
), c AS (
  SELECT l_partkey, val,
         SUM(vu) OVER (ORDER BY vu DESC, l_partkey
                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM u
)
SELECT l_partkey,
       CAST(val AS DOUBLE) AS value,
       CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_share,
       CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8 THEN 'A'
            WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95 THEN 'B'
            ELSE 'C' END AS abc
FROM c CROSS JOIN tot
"""


@query("pareto_part_revenue", oracle=_PARETO_SQL)
def q_pareto_part_revenue(spark, sf_dir):
    """EXT — ABC/Pareto classification of parts by revenue
    (profiling.pareto_class): exact micro-unit running sums through the
    DISTRIBUTED prefix sum (layout.prefix_sums — the part domain is
    entity-grain, it grows with the corpus), one IEEE division for the
    cumulative share, class thresholds engine-exact on borderline
    items."""
    from .operators.profiling import pareto_class

    return pareto_class(
        t(spark, sf_dir, "lineitem"),
        item_cols=["l_partkey"],
        value_col="l_extendedprice",
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — accumulating-snapshot order lifecycle (composition)
# ---------------------------------------------------------------------------


_ORDER_LIFECYCLE_SQL = """
WITH ship AS (
  SELECT l_orderkey,
         min(l_shipdate) AS first_ship,
         max(l_shipdate) AS last_ship,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY 1
)
SELECT o.o_orderkey, o.o_orderdate, o.o_orderstatus,
       s.first_ship, s.last_ship, s.n_lines,
       CAST(CASE WHEN s.first_ship IS NOT NULL
                 THEN datediff('day', CAST(o.o_orderdate AS DATE),
                               CAST(s.first_ship AS DATE)) END AS BIGINT)
         AS days_to_first_ship,
       CAST(CASE WHEN s.n_lines IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS has_shipments
FROM orders o LEFT JOIN ship s ON o.o_orderkey = s.l_orderkey
"""


@query("order_lifecycle", oracle=_ORDER_LIFECYCLE_SQL)
def q_order_lifecycle(spark, sf_dir):
    """EXT — accumulating-snapshot fact (the Kimball order-lifecycle
    pattern): per order, the milestone dates reached so far (first/last
    ship) and exact day lags, orders with no lineitems null-extended.
    One co-partitioned aggregate + one left join; all integers/dates
    exact."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        F.count("*").cast("long").alias("n_lines"),
    )
    j = o.join(ship, o.o_orderkey == ship.l_orderkey, "left")
    return j.select(
        "o_orderkey",
        "o_orderdate",
        "o_orderstatus",
        "first_ship",
        "last_ship",
        "n_lines",
        F.when(
            F.col("first_ship").isNotNull(),
            F.datediff(F.col("first_ship").cast("date"), F.col("o_orderdate").cast("date")),
        )
        .cast("long")
        .alias("days_to_first_ship"),
        F.when(F.col("n_lines").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("has_shipments"),
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — session bounce stats (composition over sessionize)
# ---------------------------------------------------------------------------


_SESSION_STATS_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR datediff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
), sess AS (
  SELECT user_id, session_id,
         CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM s GROUP BY 1, 2
)
SELECT day,
       CAST(count(*) AS BIGINT) AS sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS bounce_rate
FROM sess GROUP BY 1
"""


@query("session_bounce_stats", oracle=_SESSION_STATS_SQL)
def q_session_bounce_stats(spark, sf_dir):
    """EXT — daily session counts and bounce rate (single-event
    sessions) composed over the gap-sessionizer: two window passes, one
    per-session aggregate, one daily rollup; bounce_rate is one exact
    int division."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        ev.withColumn("session_id", F.sum(is_new).over(wc))
        .groupBy("user_id", "session_id")
        .agg(
            F.date_trunc("day", F.min("ts")).alias("day"),
            F.count("*").cast("long").alias("n_events"),
        )
    )
    return sess.groupBy("day").agg(
        F.count("*").cast("long").alias("sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("bounces"),
        (
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("double")
            / F.count("*").cast("double")
        ).alias("bounce_rate"),
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — order-independent table checksum (operators/profiling.py)
# ---------------------------------------------------------------------------


_CHECKSUM_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(CAST(('0x' || substr(md5(
           concat_ws(chr(31),
                     coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
                     coalesce(o_orderstatus, chr(0)))
         ), 1, 8)) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS checksum
FROM orders GROUP BY 1
"""


@query("table_checksum", oracle=_CHECKSUM_SQL)
def q_table_checksum(spark, sf_dir):
    """EXT — order/partitioning-independent content checksum per group
    (profiling.table_checksum): commutative sum of md5-prefix row
    digests, portable to ANSI SQL verbatim — the cheap replication
    audit that gates the full snapshot_diff."""
    from .operators.profiling import table_checksum

    return table_checksum(
        t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_orderstatus"],
        group_cols=["o_orderpriority"],
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — privacy risk metrics (operators/privacy.py)
# ---------------------------------------------------------------------------


_K_ANON_SQL = """
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS class_size,
       CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS BIGINT) AS at_risk
FROM customer GROUP BY 1, 2
"""


@query("k_anonymity", oracle=_K_ANON_SQL)
def q_k_anonymity(spark, sf_dir):
    """EXT — k-anonymity report (privacy.k_anonymity_report): size of
    every (nation, segment) quasi-identifier equivalence class with a
    below-k re-identification flag — the DLP-domain measurement the
    reference's tokenization pipeline never provides. One partial-agg
    groupBy; output is |QI classes|-sized at any data scale."""
    from .operators.privacy import k_anonymity_report

    return k_anonymity_report(
        t(spark, sf_dir, "customer"), ["c_nationkey", "c_mktsegment"], k=5
    )


_L_DIV_SQL = """
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS class_size,
       CAST(count(DISTINCT c_acctbal) AS BIGINT) AS distinct_sensitive,
       CAST(CASE WHEN count(DISTINCT c_acctbal) >= 3 THEN 1 ELSE 0 END
            AS BIGINT) AS diverse
FROM customer GROUP BY 1, 2
"""


@query("l_diversity", oracle=_L_DIV_SQL)
def q_l_diversity(spark, sf_dir):
    """EXT — distinct l-diversity per QI class (privacy.
    l_diversity_report): classes whose sensitive attribute (account
    balance) takes < 3 distinct values leak it to everyone in the
    class even when k-anonymity holds (homogeneity attack)."""
    from .operators.privacy import l_diversity_report

    return l_diversity_report(
        t(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        "c_acctbal",
        l=3,
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — class rebalancing (operators/sampling.py)
# ---------------------------------------------------------------------------


_BALANCE_SQL = """
WITH c AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1
), t AS (
  SELECT min(cnt) AS target FROM c
), r AS (
  SELECT event_type,
         least(1.0, CAST(target AS DOUBLE) / CAST(cnt AS DOUBLE)) AS rate
  FROM c CROSS JOIN t
)
SELECT e.event_id, e.user_id, e.event_type
FROM events e JOIN r ON e.event_type IS NOT DISTINCT FROM r.event_type
WHERE CAST(('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 8)) AS BIGINT)
        / 4294967296.0 < r.rate
"""
# ^ null-safe join: balance_classes documents NULL classes as kept (they
# group and rebalance like any other class), so the oracle must pair a
# NULL event_type row with its NULL-class rate, not drop it.


@query("balance_event_classes", oracle=_BALANCE_SQL)
def q_balance_event_classes(spark, sf_dir):
    """EXT — deterministic class rebalancing (sampling.balance_classes):
    every event_type undersampled to ≈ the minority class size via the
    portable md5-hash predicate — identical kept set on any engine or
    partitioning, no shuffle of the data itself."""
    from .operators.sampling import balance_classes

    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    return balance_classes(ev, key_col="event_id", class_col="event_type").select(
        "event_id", "user_id", "event_type"
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — group-median imputation (operators/profiling.py)
# ---------------------------------------------------------------------------


_IMPUTE_SQL = """
WITH src AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL
              ELSE o_totalprice END AS price
  FROM orders
), m AS (
  SELECT o_orderpriority, quantile_cont(price, 0.5) AS group_median
  FROM src GROUP BY 1
)
SELECT s.o_orderkey, s.o_orderpriority, s.price,
       m.group_median,
       coalesce(s.price, m.group_median) AS price_imputed
FROM src s JOIN m USING (o_orderpriority)
"""


@query("impute_median", oracle=_IMPUTE_SQL)
def q_impute_median(spark, sf_dir):
    """EXT — per-group median imputation (profiling.impute_group_median):
    NULL prices (planted on every 13th order) filled with the group's
    exact R-7 median; pure coalesce, so borderline-free and
    oracle-exact."""
    from .operators.profiling import impute_group_median

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None))
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    return impute_group_median(src, "price", ["o_orderpriority"])


# ---------------------------------------------------------------------------
# §2.12 EXT — snapshot diff / reconciliation (operators/cdc.py)
# ---------------------------------------------------------------------------


_SNAPSHOT_DIFF_SQL = """
WITH old_snap AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 3
), new_snap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0
              THEN o_totalprice + CAST(1.0 AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice,
         o_orderpriority
  FROM orders WHERE o_orderkey % 89 <> 7
), j AS (
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         o.o_orderkey IS NOT NULL AS in_old,
         n.o_orderkey IS NOT NULL AS in_new,
         o.o_totalprice AS old_o_totalprice,
         n.o_totalprice AS new_o_totalprice,
         o.o_orderpriority AS old_o_orderpriority,
         n.o_orderpriority AS new_o_orderpriority
  FROM old_snap o FULL OUTER JOIN new_snap n USING (o_orderkey)
)
SELECT o_orderkey,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            WHEN old_o_totalprice IS DISTINCT FROM new_o_totalprice
              OR old_o_orderpriority IS DISTINCT FROM new_o_orderpriority
            THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       old_o_totalprice, new_o_totalprice,
       old_o_orderpriority, new_o_orderpriority
FROM j
WHERE CASE WHEN NOT in_old THEN 'added'
           WHEN NOT in_new THEN 'removed'
           WHEN old_o_totalprice IS DISTINCT FROM new_o_totalprice
             OR old_o_orderpriority IS DISTINCT FROM new_o_orderpriority
           THEN 'changed'
           ELSE 'unchanged' END <> 'unchanged'
"""


@query("snapshot_diff", oracle=_SNAPSHOT_DIFF_SQL)
def q_snapshot_diff(spark, sf_dir):
    """EXT — row-level reconciliation of two table snapshots
    (cdc.snapshot_diff): added/removed/changed via ONE co-partitioned
    full-outer join, null-safe value comparison. Snapshots are derived
    deterministically from orders (modular deletions + a price bump) so
    every change class is exercised."""
    from .operators.cdc import snapshot_diff

    o = t(spark, sf_dir, "orders")
    old_snap = o.where(F.col("o_orderkey") % 97 != 3).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    new_snap = o.where(F.col("o_orderkey") % 89 != 7).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + F.lit(1.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderpriority",
    )
    return snapshot_diff(
        old_snap, new_snap, ["o_orderkey"], ["o_totalprice", "o_orderpriority"]
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — approx-distinct sketch rollup (operators/rollup.py)
# ---------------------------------------------------------------------------


@query("hll_distinct_rollup")  # sketch estimates — rows-only; equality/error pytests
def q_hll_distinct_rollup(spark, sf_dir):
    """EXT — daily/weekly distinct users from ONE raw scan
    (rollup.approx_distinct_rollup): day-level HLL sketches, weekly
    level merges the day sketches with hll_union_agg — the only way
    COUNT(DISTINCT) rolls up without re-scanning raw data at 100 TB.
    Cascade ≡ direct-sketch equality and error bounds are pinned in
    tests/test_rollup_sketch.py; deterministic, so rows-only is
    stable."""
    from .operators.rollup import approx_distinct_rollup

    out = approx_distinct_rollup(
        t(spark, sf_dir, "events"), "ts", "user_id", ["1 day", "7 days"]
    )
    day = out["1 day"].select(
        F.lit("day").alias("level"), "bucket_start", "approx_distinct"
    )
    week = out["7 days"].select(
        F.lit("week").alias("level"), "bucket_start", "approx_distinct"
    )
    return day.unionByName(week)


# ---------------------------------------------------------------------------
# §2.12 EXT — sparse TF-IDF cosine similarity join (operators/text.py)
# ---------------------------------------------------------------------------


_TFIDF_COSINE_SQL = """
WITH words AS (
  SELECT doc_id, w AS word
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
  WHERE w <> ''
), tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM words GROUP BY 1, 2
), dfreq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS doc_freq FROM tf GROUP BY 1
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), p AS (
  SELECT tf.doc_id, tf.word,
         CAST(round((CAST(tf AS DOUBLE)
                     * ((CAST(n_docs AS DOUBLE) + 1.0)
                        / (CAST(doc_freq AS DOUBLE) + 1.0))) * 1000.0)
              AS BIGINT) AS q
  FROM tf JOIN dfreq USING (word) CROSS JOIN nd
  WHERE doc_freq <= 0.5 * (SELECT n_docs FROM nd)
), norms AS (
  SELECT doc_id, sum(q * q) AS nrm FROM p GROUP BY 1
), dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.q * b.q) AS dot
  FROM p a JOIN p b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(dot AS DOUBLE)
         / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
         AS cosine
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE CAST(dot AS DOUBLE)
        / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) >= 0.5
"""


@query("tfidf_cosine_pairs", oracle=_TFIDF_COSINE_SQL)
def q_tfidf_cosine_pairs(spark, sf_dir):
    """EXT — related/near-dup document pairs by sparse TF-IDF cosine
    (text.tfidf_cosine_pairs): inverted-index postings self-join, int64
    quantized weights so dot products and norms are exact integer sums
    (float-order-immune), doc-freq cap as the stop-word/skew guard —
    fractional (0.5 x N), so it binds identically at every corpus
    size instead of dropping ALL terms past some absolute scale.
    Hash-matches the DuckDB oracle including the cosine doubles."""
    from .operators.text import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        t(spark, sf_dir, "documents"), min_cosine=0.5, max_df=0.5
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — temporal gap detection (operators/timeseries.py)
# ---------------------------------------------------------------------------


_DETECT_GAPS_SQL = """
WITH s AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT user_id, prev AS gap_start, ts AS gap_end,
       CAST(date_diff('second', prev, ts) AS BIGINT) AS gap_seconds
FROM s
WHERE prev IS NOT NULL AND date_diff('second', prev, ts) >= 86400
"""


@query("detect_gaps", oracle=_DETECT_GAPS_SQL)
def q_detect_gaps(spark, sf_dir):
    """EXT — per-user silence periods ≥ 24 h (timeseries.detect_gaps):
    one lag window, exact integer epoch arithmetic — the feed-went-
    quiet monitoring primitive and the dual of sessionization."""
    from .operators.timeseries import detect_gaps

    return detect_gaps(
        t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        min_gap_seconds=86400,
        order_cols=["event_id"],
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — triangle counting (operators/graph.py)
# ---------------------------------------------------------------------------


_TRIANGLE_SQL = """
WITH ps AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), e AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
), d AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY 1
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), pn AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b AS node FROM tri
  UNION ALL SELECT c AS node FROM tri
), tc AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM pn GROUP BY 1
)
SELECT d.node, d.degree, CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles
FROM d LEFT JOIN tc USING (node)
"""


@query("supplier_triangles", oracle=_TRIANGLE_SQL)
def q_supplier_triangles(spark, sf_dir):
    """EXT — per-node triangle counts on the supplier co-supply graph
    (graph.py triangle_count): suppliers are adjacent when they supply
    the same part. Degree-ordered orientation keeps candidate wedges at
    O(|E|^1.5); the oracle is the naive three-way self-join, integer
    exact."""
    from .operators.graph import triangle_count

    ps = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    a = ps.withColumnsRenamed({"l_suppkey": "sa"})
    b = ps.withColumnsRenamed({"l_suppkey": "sb"})
    edges = (
        a.join(b, "l_partkey")
        .where(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
        .distinct()
    )
    return triangle_count(edges)


def _supplier_domestic_edges(spark, sf_dir):
    """Deterministic non-degenerate fixture graph for the cohesion /
    community operators: suppliers are adjacent when they share a
    NATION and co-supply at least the median number of parts among
    domestic pairs. Nation membership partitions the graph into >= 2
    disconnected blocks (ground-truth community structure a uniform
    co-supply graph lacks); the weight threshold — an in-plan exact
    percentile attached as a broadcast 1-row scalar, no eager action —
    keeps each block sparse instead of a clique. Scale posture: the
    part self-join fans out C(suppliers_per_part, 2) pairs per part
    (bounded, ~6 in TPC-H shape); nation lookups broadcast; edge count
    is halved by the median cut."""
    su = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ps = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    a = ps.withColumnsRenamed({"l_suppkey": "sa"})
    b = ps.withColumnsRenamed({"l_suppkey": "sb"})
    pairs = (
        a.join(b, "l_partkey")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count("*").alias("w"))
    )
    na = F.broadcast(su.withColumnsRenamed({"s_suppkey": "sa", "s_nationkey": "na"}))
    nb = F.broadcast(su.withColumnsRenamed({"s_suppkey": "sb", "s_nationkey": "nb"}))
    # lazy checkpoint: the percentile scalar AND the main stream both
    # consume `domestic`, whose co-supply fan-out groupBy dominates the
    # derivation — without the cut the whole fan-out executes twice
    # (still no eager action at build time; first action materializes)
    domestic = (
        pairs.join(na, "sa")
        .join(nb, "sb")
        .where(F.col("na") == F.col("nb"))
        .localCheckpoint(eager=False)
    )
    thr = domestic.agg(F.expr("percentile(w, 0.5)").alias("_thr"))
    return (
        domestic.crossJoin(F.broadcast(thr))
        .where(F.col("w") >= F.col("_thr"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
    )


@query(
    "kcore_supplier",
    # The k-core is a UNIQUE subgraph, so a recursive-CTE peel can
    # hash-match the distributed peeling fixpoint: each recursion step
    # re-emits the edge set minus sub-degree endpoints, guarded by
    # EXISTS(bad) so it terminates at the fixpoint; the final SELECT
    # returns in-core degrees (and nothing if the peel emptied the
    # graph — the NOT EXISTS guard).
    oracle="""
WITH RECURSIVE ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), pairs AS (
  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS w
  FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
), dom AS (
  SELECT sa, sb, w FROM pairs
  JOIN supplier na ON sa = na.s_suppkey
  JOIN supplier nb ON sb = nb.s_suppkey
  WHERE na.s_nationkey = nb.s_nationkey
), edges AS (
  SELECT sa AS src, sb AS dst FROM dom
  WHERE w >= (SELECT quantile_cont(w, 0.5) FROM dom)
), peel AS (
  SELECT 0 AS it, src, dst FROM edges
  UNION ALL
  SELECT it + 1, src, dst FROM (
    WITH cur AS (SELECT * FROM peel),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT src AS node FROM cur UNION ALL SELECT dst FROM cur)
      GROUP BY 1
    ),
    bad AS (SELECT node FROM deg WHERE d < 2)
    SELECT cur.it, cur.src, cur.dst FROM cur
    WHERE EXISTS (SELECT 1 FROM bad)
      AND cur.src NOT IN (SELECT node FROM bad)
      AND cur.dst NOT IN (SELECT node FROM bad)
  )
), final AS (
  SELECT src, dst FROM peel WHERE it = (SELECT max(it) FROM peel)
), fdeg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT src AS node FROM final UNION ALL SELECT dst AS node FROM final)
  GROUP BY 1
)
SELECT node, degree FROM fdeg
WHERE NOT EXISTS (SELECT 1 FROM fdeg WHERE degree < 2)
""",
)
def q_kcore_supplier(spark, sf_dir):
    """EXT — 2-core of the domestic co-supply graph (graph.py kcore):
    the maximal subgraph where every supplier retains >= 2 in-core
    domestic partners, by distributed peeling (degree count + two
    semi-joins per round, lineage cut per round). Output (node,
    degree) with the IN-CORE degree; brute-force-pinned in
    tests/test_triangles.py and hash-matched against a DuckDB
    recursive-CTE peel (the k-core's uniqueness makes the fixpoint
    oracle-checkable)."""
    from .operators.graph import kcore

    return kcore(_supplier_domestic_edges(spark, sf_dir), k=2)


@query("communities_supplier")  # iterative label fixpoint — rows-only by design
def q_communities_supplier(spark, sf_dir):
    """EXT — label-propagation communities on the domestic co-supply
    graph (graph.py label_propagation, deterministic min-label ties).
    Nation blocks are disconnected, so every community sits inside one
    nation — the cross-fixture invariant tests/test_triangles.py pins.
    Per round: one edge-label join, one vote count, one argmax window,
    all linear in |E|."""
    from .operators.graph import label_propagation

    return label_propagation(_supplier_domestic_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# §2.12 EXT — association rules (operators/itemsets.py)
# ---------------------------------------------------------------------------


_ASSOC_RULES_SQL = """
WITH b AS (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
), s AS (
  SELECT it, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1
), p AS (
  SELECT b.bk, b.it FROM b JOIN s USING (it) WHERE s.n >= 2
), pairs AS (
  SELECT a.it AS item_a, c.it AS item_b, CAST(count(*) AS BIGINT) AS support
  FROM p a JOIN p c ON a.bk = c.bk AND a.it < c.it
  GROUP BY 1, 2
  HAVING count(*) >= 2
), nb AS (
  SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets FROM b
), directed AS (
  SELECT item_a AS antecedent, item_b AS consequent, support FROM pairs
  UNION ALL
  SELECT item_b AS antecedent, item_a AS consequent, support FROM pairs
)
SELECT d.antecedent, d.consequent, d.support,
       CAST(d.support AS DOUBLE) / CAST(sa.n AS DOUBLE) AS confidence,
       CAST(d.support * nb.n_baskets AS DOUBLE)
         / CAST(sa.n * sc.n AS DOUBLE) AS lift
FROM directed d
JOIN s sa ON sa.it = d.antecedent
JOIN s sc ON sc.it = d.consequent
CROSS JOIN nb
"""


@query("association_rules", oracle=_ASSOC_RULES_SQL)
def q_association_rules(spark, sf_dir):
    """EXT — directed market-basket rules with confidence and lift
    (itemsets.py association_rules). Floats are exact int64 products
    widened to double before one IEEE division, so they hash-match the
    oracle bit for bit."""
    from .operators.itemsets import association_rules

    return association_rules(
        t(spark, sf_dir, "lineitem"),
        basket_col="l_orderkey",
        item_col="l_partkey",
        min_support=2,
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — event transition profile (operators/timeseries.py)
# ---------------------------------------------------------------------------


_EVENT_TRANSITIONS_SQL = """
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM events
), c AS (
  SELECT prev AS from_state, event_type AS to_state,
         CAST(count(*) AS BIGINT) AS n
  FROM s WHERE prev IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT from_state, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY 1
)
SELECT c.from_state, c.to_state, c.n,
       CAST(c.n AS DOUBLE) / CAST(tot.t AS DOUBLE) AS prob
FROM c JOIN tot USING (from_state)
"""


@query("event_transitions", oracle=_EVENT_TRANSITIONS_SQL)
def q_event_transitions(spark, sf_dir):
    """EXT — first-order Markov transition matrix of the event log
    (timeseries.py event_transitions): one per-user lag window, one
    tiny pair aggregation; prob is a single exact-int division."""
    from .operators.timeseries import event_transitions

    return event_transitions(
        t(spark, sf_dir, "events"),
        key_col="user_id",
        state_col="event_type",
        order_cols=["ts", "event_id"],
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — int8 embedding quantization (operators/similarity.py)
# ---------------------------------------------------------------------------


_QUANTIZE_SQL = """
WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS scale
  FROM embeddings
), u AS (
  SELECT vec_id, scale,
         unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS ord
  FROM s
)
SELECT vec_id,
       CAST(ord - 1 AS INT) AS dim,
       CAST(CASE WHEN scale > 0
                 THEN round((CAST(x AS DOUBLE) * 127.0) / scale)
                 ELSE 0.0 END AS INT) AS q,
       CAST(scale AS DOUBLE) AS scale
FROM u
"""


@query("embedding_quantize_int8", oracle=_QUANTIZE_SQL)
def q_embedding_quantize_int8(spark, sf_dir):
    """EXT — symmetric per-vector int8 quantization, long form
    (similarity.py quantize_embeddings_int8). Scale is an exact
    fold-max; codes are round((x*127)/scale) — fixed-order IEEE ops, so
    the whole output hash-matches the DuckDB oracle."""
    from .operators.similarity import quantize_embeddings_int8

    return quantize_embeddings_int8(t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# §2.12 EXT — robust median/MAD outlier gate (operators/profiling.py)
# ---------------------------------------------------------------------------


_MAD_OUTLIERS_SQL = """
WITH m AS (
  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
  FROM orders GROUP BY 1
), d AS (
  SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice, m.med
  FROM orders o JOIN m USING (o_orderpriority)
), s AS (
  SELECT o_orderpriority,
         quantile_cont(abs(o_totalprice - med), 0.5) AS mad
  FROM d GROUP BY 1
)
SELECT d.o_orderkey, d.o_orderpriority, d.o_totalprice, d.med, s.mad,
       CAST(CASE WHEN abs(d.o_totalprice - d.med) > (3.0 * 1.4826) * s.mad
                 THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
FROM d JOIN s USING (o_orderpriority)
"""


@query("mad_price_outliers", oracle=_MAD_OUTLIERS_SQL)
def q_mad_price_outliers(spark, sf_dir):
    """EXT — robust per-group outlier gate (profiling.mad_outliers):
    |x − median| > 3·1.4826·MAD with exact R-7 medians, so heavy-tailed
    prices can't corrupt the gate the way mean/stddev would. Borderline
    rows are engine-exact (same IEEE expression both sides)."""
    from .operators.profiling import mad_outliers

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return mad_outliers(o, "o_totalprice", ["o_orderpriority"], k=3.0)


# ---------------------------------------------------------------------------
# §2.12 EXT — perceptual image hashing (operators/multimodal.py)
# ---------------------------------------------------------------------------


@query("image_phash")  # binary decode path — rows-only; invariance pytests
def q_image_phash(spark, sf_dir):
    """EXT — 64-bit dHash per image over REAL decoded BMP/PPM pixels
    (multimodal.image_dhash): integer luma → 9×8 nearest-neighbor grid
    → neighbor-comparison bits. Deterministic (seeded media synth), so
    the rows-only check is stable; brightness-invariance and planted
    near-dup detection are pinned in tests/test_phash.py. Near-dup
    pairing reuses the SimHash pigeonhole Hamming join
    (dedup.hamming_neardup_pairs)."""
    from .operators.multimodal import attach_media, image_dhash

    d = attach_media(
        t(spark, sf_dir, "documents").repartition(32, "doc_id"),
        with_meta=False,  # dhash decodes the payload itself
    )
    return image_dhash(d)


# ---------------------------------------------------------------------------
# §2.12 EXT — Naive Bayes text classification (operators/classify.py)
# ---------------------------------------------------------------------------


_NB_CLASSIFY_SQL = """
WITH tok AS (
  SELECT doc_id, lang, w AS token
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
  WHERE w <> ''
),
model_tok AS (
  SELECT lang AS label, token, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE doc_id % 10 <> 0
  GROUP BY 1, 2 HAVING count(*) >= 2
),
model_docs AS (
  SELECT lang AS label, CAST(count(*) AS BIGINT) AS docs_l
  FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1
),
v AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM model_tok),
total AS (SELECT CAST(SUM(docs_l) AS BIGINT) AS docs FROM model_docs),
stats AS (
  SELECT d.label,
         CAST(round(ln(CAST(COALESCE(m.cl, 0) AS DOUBLE)
                       + 0.5 * CAST(v.v AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS lp_denom,
         CAST(round(ln(CAST(d.docs_l AS DOUBLE) / CAST(total.docs AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS lp_prior
  FROM model_docs d
  LEFT JOIN (SELECT label, CAST(SUM(c) AS BIGINT) AS cl
             FROM model_tok GROUP BY 1) m ON d.label = m.label
  CROSS JOIN v CROSS JOIN total
),
score_tok AS (SELECT doc_id, token FROM tok WHERE doc_id % 10 = 0),
ntok AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
  FROM score_tok GROUP BY 1
),
hits AS (
  SELECT s.doc_id, m.label,
         CAST(count(*) AS BIGINT) AS n_hits,
         CAST(SUM(CAST(round(ln(CAST(m.c AS DOUBLE) + 0.5) * 1000000.0)
                       AS BIGINT)) AS BIGINT) AS lp_hits
  FROM score_tok s JOIN model_tok m ON s.token = m.token
  GROUP BY 1, 2
),
scored AS (
  SELECT n.doc_id, st.label, n.n_tokens,
         CAST(COALESCE(h.lp_hits, 0)
              + (n.n_tokens - COALESCE(h.n_hits, 0))
                * CAST(round(ln(0.5) * 1000000.0) AS BIGINT)
              - n.n_tokens * st.lp_denom
              + st.lp_prior AS BIGINT) AS score_micro
  FROM ntok n CROSS JOIN stats st
  LEFT JOIN hits h ON n.doc_id = h.doc_id AND st.label = h.label
)
SELECT doc_id, label, n_tokens, score_micro
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        ORDER BY score_micro DESC, label ASC) AS rk FROM scored)
WHERE rk = 1
"""


@query("nb_classify_lang", oracle=_NB_CLASSIFY_SQL)
def q_nb_classify_lang(spark, sf_dir):
    """EXT — the trainable classifier stage of a curation pipeline
    (classify.nb_train/nb_classify): a multinomial Naive Bayes
    language classifier (McCallum & Nigam 1998 — the SQL-expressible
    cousin of the fastText linear classifiers CCNet-family pipelines
    run) trains on the labeled slice (doc_id %10 != 0, label = lang),
    its count-table model PERSISTS through the warehouse sink (ONE
    (label, token, c) table — priors, per-label mass and vocabulary
    all derive from it at scoring time, the same artifact discipline
    as the bigram LM), and the incoming batch (%10 == 0) is classified
    under the read-back model. Per-token log-probs quantize to integer
    micro-logs before any aggregation, so every (doc, label) score is
    an exact int64 sum — aggregation-order-independent, hash-matching
    the full SQL restatement. min_count=2 prunes singleton (label,
    token) rows (model stays broadcast-sized; pruned tokens fall back
    to the smoothed unseen floor); the oracle prunes identically."""
    from .operators.classify import nb_classify, nb_train

    d = t(spark, sf_dir, "documents")
    model = scratch_roundtrip(
        nb_train(d.where(F.col("doc_id") % 10 != 0), "lang", "text", min_count=2),
        sf_dir,
        "nb_model",
        memo="nb_lang",
    )
    return nb_classify(d.where(F.col("doc_id") % 10 == 0), model)


# ---------------------------------------------------------------------------
# §2.12 EXT — semantic (embedding-space) decontamination
# ---------------------------------------------------------------------------


@query(
    "semantic_decontam",
    oracle="""
WITH ex AS (
  SELECT vec_id,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000000, 0) AS BIGINT) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
norms AS (
  SELECT vec_id, sqrt(CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE)) AS nrm
  FROM ex GROUP BY vec_id
),
dots AS (
  SELECT t.vec_id AS train_id, b.vec_id AS bench_id,
         CAST(SUM(t.x * b.x) AS BIGINT) AS dot
  FROM ex t JOIN ex b ON t.i = b.i
  WHERE t.vec_id % 20 <> 7 AND b.vec_id % 20 = 7
  GROUP BY 1, 2
)
SELECT train_id, bench_id,
       ROUND(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 9) AS cosine
FROM dots JOIN norms na ON train_id = na.vec_id
          JOIN norms nb ON bench_id = nb.vec_id
WHERE ROUND(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 9) >= 0.35
""",
)
def q_semantic_decontam(spark, sf_dir):
    """EXT — SEMANTIC decontamination
    (similarity.semantic_contamination_pairs): training vectors within
    threshold cosine of any benchmark vector. The n-gram family
    (decontaminate_overlap / decontam_incremental) catches verbatim
    and lightly-edited benchmark copies; this is the embedding-space
    complement that catches PARAPHRASED contamination — eval hygiene
    needs both. The benchmark side is small by nature (here the
    %20==7 slice stands in for a frozen eval suite) and BROADCASTS,
    so the corpus streams through one stage — |train|x|bench| exact
    integer dots, linear in the corpus, no shuffle of the train side;
    the banded sign-LSH variant (semantic_contamination_pairs_lsh,
    recall-pinned in pytest) covers benchmark sets past broadcast
    size. Quantized-integer cosine makes the output hash-match."""
    e = t(spark, sf_dir, "embeddings")
    return similarity.semantic_contamination_pairs(
        e.where(F.col("vec_id") % 20 != 7),
        e.where(F.col("vec_id") % 20 == 7),
        threshold=0.35,
    )


@query("semantic_decontam_lsh")  # banded candidates — recall pinned in pytest
def q_semantic_decontam_lsh(spark, sf_dir):
    """EXT — the PRODUCTION semantic-decontamination path
    (similarity.semantic_contamination_pairs_lsh): banded sign-LSH
    candidates ACROSS train/bench under shared deterministic
    hyperplanes + exact integer-cosine rerank of candidates only —
    cost is the signature streams plus the candidate set, never
    |train| × |bench| exact dots (the exact broadcast form above is
    139s at sf1 vs ~7s here; it stays registered as the hash-matched
    oracle twin and the sf1 soak skips it with a printed reason, the
    same twin discipline as embedding_neardup). Precision 1.0 by
    construction; recall vs the exact path in LSH's operating regime
    is pinned in tests/test_llm_ops.py."""
    e = t(spark, sf_dir, "embeddings")
    return similarity.semantic_contamination_pairs_lsh(
        e.where(F.col("vec_id") % 20 != 7),
        e.where(F.col("vec_id") % 20 == 7),
        threshold=0.35,
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — cluster-balanced coreset selection (operators/sampling.py)
# ---------------------------------------------------------------------------


@query(
    "cluster_balanced_sample",
    # the kcenter recursive-CTE replay composes underneath: centers
    # from the same deterministic pick sequence, then exact-integer
    # assignment + per-cell closest-cap — every comparison discrete
    oracle="""
WITH RECURSIVE q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000, 0) AS BIGINT)) AS qv
  FROM embeddings
), seed AS (
  SELECT vec_id, qv FROM q
  ORDER BY list_sum(list_transform(qv, x -> x * x)) DESC, vec_id ASC LIMIT 1
), pick(r, ids, qvs) AS (
  SELECT 1, [vec_id], [qv] FROM seed
  UNION ALL
  SELECT r + 1, list_append(ids, nxt.vec_id), list_append(qvs, nxt.qv)
  FROM pick, LATERAL (
    SELECT cand.vec_id, cand.qv FROM (
      SELECT q.vec_id, q.qv,
             min(list_sum(list_transform(range(1, len(q.qv) + 1),
               i -> (q.qv[i] - t.cqv[i]) * (q.qv[i] - t.cqv[i])))) AS md
      FROM q, unnest(pick.qvs) AS t(cqv)
      WHERE NOT list_contains(pick.ids, q.vec_id)
      GROUP BY q.vec_id, q.qv
    ) cand
    ORDER BY cand.md DESC, cand.vec_id ASC
    LIMIT 1
  ) nxt
  WHERE r < 12
), final AS (SELECT ids, qvs FROM pick ORDER BY r DESC LIMIT 1),
centers AS (
  SELECT CAST(i AS BIGINT) AS cell, qvs[i] AS cqv
  FROM final, unnest(range(1, len(ids) + 1)) AS s(i)
),
assigned AS (
  SELECT q.vec_id, c.cell,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
           i -> (q.qv[i] - c.cqv[i]) * (q.qv[i] - c.cqv[i]))) AS BIGINT) AS dist2
  FROM q CROSS JOIN centers c
),
nearest AS (
  SELECT vec_id, cell, dist2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
      ORDER BY dist2 ASC, cell ASC) AS rk FROM assigned)
  WHERE rk = 1
)
SELECT vec_id, cell, dist2, cell_rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY cell
    ORDER BY dist2 ASC, vec_id ASC) AS BIGINT) AS cell_rank FROM nearest)
WHERE cell_rank <= 25
""",
)
def q_cluster_balanced_sample(spark, sf_dir):
    """EXT — cluster-balanced coreset selection
    (sampling.cluster_balanced_sample): k-center cells (k=12) over the
    embedding table, every vector assigned to its nearest center on
    exact int64 squared distances, at most 25 CLOSEST vectors kept per
    cell — the embedding-space balancing recipe (DataComp/SemDeDup
    family) that stops dense regions from dominating a sample. The
    center table (≤k rows) broadcasts; the corpus streams once; both
    windows run on scalars. Deterministic end to end, so the whole
    pipeline hash-matches the composed recursive-CTE replay."""
    from .operators.sampling import cluster_balanced_sample

    return cluster_balanced_sample(
        t(spark, sf_dir, "embeddings"), k=12, cap=25
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — CCNet-style perplexity-bucketed mixture
# ---------------------------------------------------------------------------


@query(
    "perplexity_bucket_mixture",
    oracle=f"""
WITH scored AS ({_LM_SCORES_SQL}),
b AS (
  SELECT quantile_cont(avg_logprob, 0.3333333333333333e0) AS b1,
         quantile_cont(avg_logprob, 0.6666666666666666e0) AS b2
  FROM scored
),
bucketed AS (
  SELECT doc_id, avg_logprob,
         CASE WHEN avg_logprob > b2 THEN 'head'
              WHEN avg_logprob > b1 THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM scored CROSS JOIN b
)
SELECT doc_id, avg_logprob, bucket
FROM bucketed
WHERE bucket = 'head'
   OR (bucket = 'middle'
       AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
""",
)
def q_perplexity_bucket_mixture(spark, sf_dir):
    """EXT — the CCNet bucketing recipe (Wenzek et al. 2020, public):
    score the batch under the persisted reference-slice bigram LM,
    split into head/middle/tail terciles, then keep the head, sample
    HALF the middle (deterministic md5-prefix predicate —
    partitioning-independent, engine-portable) and drop the tail —
    the standard perplexity-stratified mixture that keeps some
    mid-quality mass instead of a hard cutoff. Tercile boundaries
    come from ONE array-percentile aggregate (percentile ≡
    quantile_cont) broadcast back as a 1-row scalar attach — the
    quantile_binning shape; NO global percent_rank window (the old
    rank form serialized |corpus| scored rows through one partition —
    the documented 100 TB scale-killer). Boundary ties land in the
    LOWER bucket via the > comparison in both engines. Shares
    _LM_SCORES_SQL with the scorer/gate queries so the three oracles
    cannot silently diverge."""
    from .operators.sampling import sample_predicate
    from .operators.text import ngram_lm_counts, ngram_lm_scores

    d = t(spark, sf_dir, "documents")
    lm = scratch_roundtrip(
        ngram_lm_counts(d.where(F.col("doc_id") % 10 == 1), min_count=2),
        sf_dir,
        "bigram_lm",
        memo="lm_mod10_1_mc2",
    )
    scored = ngram_lm_scores(d.where(F.col("doc_id") % 10 == 0), lm)
    b = scored.agg(
        F.expr(
            "percentile(avg_logprob, "
            "array(0.3333333333333333D, 0.6666666666666666D))"
        ).alias("_bs")
    ).select(
        F.element_at("_bs", 1).alias("_b1"),
        F.element_at("_bs", 2).alias("_b2"),
    )
    bucketed = scored.crossJoin(F.broadcast(b)).select(
        "doc_id",
        "avg_logprob",
        F.when(F.col("avg_logprob") > F.col("_b2"), "head")
        .when(F.col("avg_logprob") > F.col("_b1"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return bucketed.where(
        (F.col("bucket") == "head")
        | (
            (F.col("bucket") == "middle")
            & sample_predicate(F.col("doc_id").cast("string"), 0.5)
        )
    )


# ---------------------------------------------------------------------------
# §2.12 EXT — DSIR data selection (operators/dsir.py)
# ---------------------------------------------------------------------------


@query(
    "dsir_select",
    oracle="""
WITH w AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
feats AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 4096 AS bucket
  FROM (
    SELECT doc_id, lang, ws[CAST(i AS BIGINT)] AS f
    FROM w JOIN generate_series(1, 4000) g(i) ON i <= len(ws)
    UNION ALL
    SELECT doc_id, lang,
           ws[CAST(i AS BIGINT)] || ' ' || ws[CAST(i AS BIGINT)+1] AS f
    FROM w JOIN generate_series(1, 4000) g(i) ON i <= len(ws) - 1
  )
),
tc AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM feats
  WHERE lang = 'fr' AND doc_id % 10 <> 0 GROUP BY 1
),
rc AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM feats
  WHERE doc_id % 10 = 1 GROUP BY 1
),
tt AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM tc),
rt AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM rc),
wt AS (
  SELECT b.bucket,
         CAST(round(ln((CAST(COALESCE(tc.c, 0) AS DOUBLE) + 0.5)
                / (CAST(tt.tot AS DOUBLE) + 0.5 * 4096.0)) * 1000000.0) AS BIGINT)
         - CAST(round(ln((CAST(COALESCE(rc.c, 0) AS DOUBLE) + 0.5)
                / (CAST(rt.tot AS DOUBLE) + 0.5 * 4096.0)) * 1000000.0) AS BIGINT)
           AS w_micro
  FROM (SELECT CAST(range AS BIGINT) AS bucket FROM range(0, 4096)) b
  LEFT JOIN tc ON b.bucket = tc.bucket
  LEFT JOIN rc ON b.bucket = rc.bucket
  CROSS JOIN tt CROSS JOIN rt
),
scored AS (
  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         CAST(SUM(wt.w_micro) AS BIGINT) AS weight_micro
  FROM feats f JOIN wt ON f.bucket = wt.bucket
  WHERE f.doc_id % 10 = 0
  GROUP BY 1
),
keyed AS (
  SELECT doc_id, n_feats, weight_micro,
         CAST(round(
           CAST(weight_micro AS DOUBLE) / CAST(n_feats AS DOUBLE) / 1.0
           + (-ln(-ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)))
             * 1000000.0
         ) AS BIGINT) AS key_micro
  FROM scored
)
SELECT doc_id, n_feats, weight_micro, key_micro,
       CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id ASC) AS BIGINT)
         AS rank
FROM keyed
ORDER BY key_micro DESC, doc_id ASC
LIMIT 20
""",
)
def q_dsir_select(spark, sf_dir):
    """EXT — DSIR data selection (Xie et al. 2023, arXiv 2302.03169,
    operators/dsir.py): fit hashed bag-of-ngrams models on a TARGET
    domain sample (the French slice, doc_id %10 != 0 — standing in
    for 'data that looks like my domain') and on a raw-corpus sample
    (%10 == 1), persist both (bucket, c) tables through the warehouse
    sink, then score the incoming batch (%10 == 0) by exact int64
    micro-log importance weights and keep the Gumbel-top-20 — true
    importance RESAMPLING, not a similarity ranking: the deterministic
    md5-Gumbel perturbation draws without replacement from the softmax
    of the length-normalized weights, so the selection matches the
    target distribution in expectation instead of collapsing onto its
    mode. Every arithmetic step (bucket hash, smoothing, micro-log
    quantization, Gumbel key) is restated identically in the oracle —
    the whole selection hash-matches."""
    from .operators.dsir import dsir_bucket_weights, dsir_feature_counts, dsir_select

    d = t(spark, sf_dir, "documents")
    target = scratch_roundtrip(
        dsir_feature_counts(
            d.where((F.col("lang") == "fr") & (F.col("doc_id") % 10 != 0))
        ),
        sf_dir,
        "dsir_target",
        memo="dsir_fr_target",
    )
    raw = scratch_roundtrip(
        dsir_feature_counts(d.where(F.col("doc_id") % 10 == 1)),
        sf_dir,
        "dsir_raw",
        memo="dsir_raw_mod10_1",
    )
    weights = dsir_bucket_weights(target, raw)
    return dsir_select(d.where(F.col("doc_id") % 10 == 0), weights, k=20)


# ---------------------------------------------------------------------------
# §2.12 EXT — blocklist screening (operators/text.py)
# ---------------------------------------------------------------------------


@query(
    "blocklist_screen",
    oracle="""
WITH toks AS (
  SELECT doc_id, w AS tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(w)
  WHERE w <> ''
),
terms AS (SELECT lower(term) AS tok FROM (VALUES ('slow'), ('merge')) v(term)),
h AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         CAST(count(DISTINCT toks.tok) AS BIGINT) AS n_distinct_hits
  FROM toks JOIN terms ON toks.tok = terms.tok
  GROUP BY 1
),
n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM toks GROUP BY 1)
SELECT n.doc_id, n.n_tokens,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_distinct_hits, 0) AS BIGINT) AS n_distinct_hits,
       round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(n.n_tokens AS DOUBLE), 9)
         AS hit_fraction
FROM n LEFT JOIN h ON n.doc_id = h.doc_id
""",
)
def q_blocklist_screen(spark, sf_dir):
    """EXT — blocklist screening (text.blocklist_hits), the
    UT1/RefinedWeb-family banned-term density stage: per-document hit
    counts and fraction against a term TABLE via one broadcast token
    equi-join — work ∝ corpus tokens with an O(1) probe each, where
    an N-term alternation regex would scan O(N) states per character
    and need a plan rebuild on every list change. The gate itself
    (drop above a density threshold, zero-token docs kept) is
    text.blocklist_filter, pytest-pinned; this report form keeps
    every doc so the full density distribution hash-matches."""
    terms = operators.local_rows_df(spark, [("slow",), ("merge",)], "term string")
    return text_ops.blocklist_hits(t(spark, sf_dir, "documents"), terms)


# ---------------------------------------------------------------------------
# §2.12 EXT — count-min sketch (operators/profiling.py)
# ---------------------------------------------------------------------------


@query(
    "cms_term_estimates",
    oracle="""
WITH vals AS (
  SELECT w AS v FROM documents, unnest(string_split(text, ' ')) AS t(w)
  WHERE w <> ''
),
rows_ AS (SELECT CAST(range AS BIGINT) AS row FROM range(0, 4)),
sk AS (
  SELECT r.row,
         CAST(('0x' || substr(md5(CAST(r.row AS VARCHAR) || ':' || v), 1, 8))
              AS BIGINT) % 512 AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM vals CROSS JOIN rows_ r GROUP BY 1, 2
),
probes AS (SELECT DISTINCT v FROM vals),
est AS (
  SELECT p.v AS value, CAST(min(COALESCE(sk.c, 0)) AS BIGINT) AS est
  FROM probes p CROSS JOIN rows_ r
  LEFT JOIN sk ON sk.row = r.row
   AND sk.bucket = CAST(('0x' || substr(md5(CAST(r.row AS VARCHAR) || ':' || p.v),
                         1, 8)) AS BIGINT) % 512
  GROUP BY 1
),
exact AS (SELECT v AS value, CAST(count(*) AS BIGINT) AS exact_n FROM vals GROUP BY 1)
SELECT e.value, e.est, x.exact_n FROM est e JOIN exact x USING (value)
""",
)
def q_cms_term_estimates(spark, sf_dir):
    """EXT — count-min sketch frequency estimation (Cormode &
    Muthukrishnan 2005, profiling.cms_build/cms_estimate): the
    CONSTANT-SIZE summary (4x512 counters here) that answers point
    frequency queries for ANY value, never underestimating —
    complementing the exact Misra-Gries heavy-hitter path, whose
    output is only the heavy tail. The sketch is ONE persistable
    (row, bucket, c) table with counter-addition maintenance
    (merge ≡ build-on-union — which also makes the streaming fold
    exact, see streaming_cms_terms) and round-trips the warehouse
    sink here before probing. Estimates join the exact counts so the
    overcount structure itself is part of the verified output; the
    sketch is deterministic given the md5 hash family, so everything
    hash-matches."""
    from .operators.profiling import cms_build, cms_estimate

    words = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .where(F.col("w") != "")
    )
    sketch = scratch_roundtrip(cms_build(words, "w"), sf_dir, "cms_sketch", memo="cms_words")
    est = cms_estimate(words, sketch, "w")
    exact = words.groupBy(F.col("w").alias("value")).agg(
        F.count("*").cast("long").alias("exact_n")
    )
    return est.join(exact, "value")


@query("streaming_cms_terms")  # streaming fold — rows-only by design
def q_streaming_cms_terms(spark, sf_dir):
    """EXT — the STREAMING count-min fold (streaming/jobs.py:
    streaming_cms; one micro-batch here, a one-partition input;
    multi-batch folds are pytest-pinned): per-micro-batch sketches
    accumulate by counter
    addition into a constant-size state (≤ depth·width rows forever —
    the property exact streaming counters lack), and because
    sketch-of-union = sum-of-sketches the accumulated table is
    bit-identical to one batch build over everything seen
    (pytest-pinned ≡ cms_build). Output: the folded sketch's non-zero
    counters."""
    from .streaming.jobs import streaming_cms

    words = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .where(F.col("w") != "")
    )
    return streaming_cms(spark, words.repartition(1), "w")


# ---------------------------------------------------------------------------
# §2.12 EXT — balanced output-file layout (operators/layout.py)
# ---------------------------------------------------------------------------


@query(
    "balanced_file_layout",
    oracle="""
WITH ids AS (
  SELECT l_shipdate,
         CAST(row_number() OVER
           (ORDER BY l_shipdate, l_orderkey, l_linenumber) - 1 AS BIGINT)
           AS row_id
  FROM lineitem
)
SELECT CAST(row_id // 5000 AS BIGINT) AS file_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
FROM ids GROUP BY 1
""",
)
def q_balanced_file_layout(spark, sf_dir):
    """EXT — write-side file planning (layout.balanced_file_layout):
    assign rows to SIZED, SORTED output files (5000 rows each, in
    (l_shipdate, l_orderkey, l_linenumber) order) — the compaction
    decision every large table write needs: no small-file shrapnel,
    no straggler files, and contiguous sort slices so parquet footer
    min/max stats prune whole files for range predicates. File ids
    ride the scalable dense row-id path (range exchange +
    per-partition offsets — NOT the single-partition ROW_NUMBER the
    oracle states, which is the identical result but plans one task
    for the whole table). Output: the per-file manifest (file_id,
    n_rows, min/max sort key) — exactly the pruning statistics the
    layout exists to produce."""
    from .operators.layout import balanced_file_layout

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    planned = balanced_file_layout(
        li, ["l_shipdate", "l_orderkey", "l_linenumber"], rows_per_file=5000
    )
    return planned.groupBy("file_id").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


# ---------------------------------------------------------------------------
# Language-model retrieval, collocations, graph keywords (round 10)
# ---------------------------------------------------------------------------

_QL_SQL = """
WITH words AS (
  SELECT doc_id, w AS word
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
  WHERE w <> ''
), perdoc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
         CAST(sum(CASE WHEN word = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS tf0,
         CAST(sum(CASE WHEN word = 'merge' THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
         CAST(sum(CASE WHEN word = 'window' THEN 1 ELSE 0 END) AS BIGINT) AS tf2
  FROM words GROUP BY 1
), stats AS (
  SELECT CAST(sum(dl) AS BIGINT) AS c_len,
         CAST(sum(tf0) AS BIGINT) AS ctf0,
         CAST(sum(tf1) AS BIGINT) AS ctf1,
         CAST(sum(tf2) AS BIGINT) AS ctf2
  FROM perdoc
), scored AS (
  SELECT doc_id,
    round(
      (CASE WHEN ctf0 > 0 THEN 1.0 + (CAST(tf0 AS DOUBLE) * CAST(c_len AS DOUBLE))
                                     / (2000.0 * CAST(ctf0 AS DOUBLE))
            ELSE 1.0 END)
      * (CASE WHEN ctf1 > 0 THEN 1.0 + (CAST(tf1 AS DOUBLE) * CAST(c_len AS DOUBLE))
                                       / (2000.0 * CAST(ctf1 AS DOUBLE))
              ELSE 1.0 END)
      * (CASE WHEN ctf2 > 0 THEN 1.0 + (CAST(tf2 AS DOUBLE) * CAST(c_len AS DOUBLE))
                                       / (2000.0 * CAST(ctf2 AS DOUBLE))
              ELSE 1.0 END)
      * (2000.0 / (CAST(dl AS DOUBLE) + 2000.0))
      * (2000.0 / (CAST(dl AS DOUBLE) + 2000.0))
      * (2000.0 / (CAST(dl AS DOUBLE) + 2000.0)), 9) AS score
  FROM perdoc CROSS JOIN stats
  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 15
"""


@query("query_likelihood_topk", oracle=_QL_SQL)
def q_query_likelihood_topk(spark, sf_dir):
    """EXT — Dirichlet-smoothed query-likelihood retrieval
    (text_ops.query_likelihood_topk, Zhai & Lafferty 2001): the
    language-model ranking rival to BM25, over the same query
    {dup, merge, window} so the two retrievers are directly
    comparable fields for rrf_fuse. Scored in the odds form — every
    op a correctly-rounded mul/div, per-term factors multiplied in
    written query order, the |q|-power doc norm expanded as three
    explicit multiplications — so scores are bit-identical to the
    DuckDB oracle stating the same association. One groupBy over the
    word stream + a 1-row broadcast stats attach; top-k via
    TakeOrderedAndProject."""
    return text_ops.query_likelihood_topk(
        t(spark, sf_dir, "documents"), ["dup", "merge", "window"], k=15
    )


_PMI_SQL = """
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(ws) AS w FROM ws) WHERE w <> '' GROUP BY 1
), pos AS (
  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM ws
), bi AS (
  SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS n_pair
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  WHERE a.w <> '' AND b.w <> ''
  GROUP BY 1, 2
), tot AS (
  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_uni,
         (SELECT CAST(sum(n_pair) AS BIGINT) FROM bi) AS n_bi
)
SELECT w1, w2, n_pair,
       round((CAST(n_pair AS DOUBLE) * CAST(n_uni AS DOUBLE)
              * CAST(n_uni AS DOUBLE))
             / (CAST(n_bi AS DOUBLE) * CAST(c1 AS DOUBLE)
                * CAST(c2 AS DOUBLE)), 9) AS lift
FROM bi
JOIN (SELECT w AS w1, c AS c1 FROM uni) u1 USING (w1)
JOIN (SELECT w AS w2, c AS c2 FROM uni) u2 USING (w2)
CROSS JOIN tot
WHERE n_pair >= 5
ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT 100
"""


@query("pmi_collocations", oracle=_PMI_SQL)
def q_pmi_collocations(spark, sf_dir):
    """EXT — PMI collocation mining (text_ops.pmi_collocations,
    Church & Hanks 1990): adjacent-pair lift over the independence
    baseline, the classic phrase-discovery signal (and the public
    recipe behind word2phrase-style multiword tokens in tokenizer
    pipelines). Bigrams come from an index transform inside the scan
    (no shuffle), unigram/bigram tables are vocabulary-sized, and the
    lift states ONE division over counts multiplied in fixed written
    order — bit-identical to the oracle; ranking by lift is ranking
    by PMI because log is monotone, so the non-correctly-rounded ln
    never enters. min_count=5 floors the rare-pair blowup."""
    return text_ops.pmi_collocations(
        t(spark, sf_dir, "documents"), min_count=5, top_n=100
    )


@query("textrank_keywords")  # iterative pagerank fixpoint — rows-only
def q_textrank_keywords(spark, sf_dir):
    """EXT — corpus TextRank keywords (text_ops.textrank_keywords,
    Mihalcea & Tarau 2004): weighted PageRank over the word
    co-occurrence graph (window 2, stopwords excluded) — the global
    recursive-centrality complement of the per-document RAKE scorer.
    Iterative fixpoint — rows-only here; the pagerank core is
    numpy-parity-pinned and the co-occurrence banded self-join is the
    same bounded-difference shape as the interval joins. Top-50
    keywords, rank rounded to 9."""
    return text_ops.textrank_keywords(
        t(spark, sf_dir, "documents"), list(text_ops.STOPWORDS), top_n=50
    )


def _ucc_branch(cols: list[str]) -> str:
    nn = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    tup = f"({', '.join(cols)})" if len(cols) > 1 else cols[0]
    return f"""
SELECT '{",".join(cols)}' AS combination,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT {tup}) AS BIGINT) AS n_distinct,
       count(*) > 0 AND count(DISTINCT {tup}) = count(*) AS is_unique,
       CASE WHEN count(*) = 0 THEN 0.0
            ELSE round(CAST(count(DISTINCT {tup}) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 9) END AS uniqueness
FROM orders WHERE {nn}"""


_UCC_SQL = " UNION ALL ".join(
    _ucc_branch(list(c))
    for c in (
        ["o_orderkey"], ["o_custkey"], ["o_orderstatus"],
        ["o_orderkey", "o_custkey"], ["o_orderkey", "o_orderstatus"],
        ["o_custkey", "o_orderstatus"],
    )
)


@query("ucc_discovery", oracle=_UCC_SQL)
def q_ucc_discovery(spark, sf_dir):
    """EXT — unique-column-combination (candidate-key) discovery
    (profiling.ucc_discovery): the uniqueness half of schema
    profiling next to fd_discovery — the reference only probes keys
    DECLARED in the catalog (`PK%` heuristic,
    common/ServerUtil.java:47-52); this measures which combinations
    are keys IN THE DATA, the input a merge/upsert or dedup planner
    actually needs. Singles + pairs over (o_orderkey, o_custkey,
    o_orderstatus): the orderkey is unique, its supersets are, and
    nothing else — exact distinct counts with NULL-complete-tuple
    exclusion, one slim aggregate pass per combination, metadata-
    sized result."""
    from .operators.profiling import ucc_discovery

    return ucc_discovery(
        t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus"],
        max_size=2,
    )


def _benford_sql() -> str:
    from .operators.profiling import BENFORD_P

    ns = ", ".join(
        f"CAST(sum(CASE WHEN d = '{d}' THEN 1 ELSE 0 END) AS BIGINT) AS n{d}"
        for d in range(1, 10)
    )
    n_total = " + ".join(f"n{d}" for d in range(1, 10))
    # `{p!r}e0`: E-notation so DuckDB parses the constant as DOUBLE
    # (a plain decimal literal parses as DECIMAL and the coercion can
    # differ from the Spark double by one ulp)
    terms = " + ".join(
        f"(CAST(n{d} AS DOUBLE) / CAST(n_total AS DOUBLE) - {p!r}e0)"
        f" * (CAST(n{d} AS DOUBLE) / CAST(n_total AS DOUBLE) - {p!r}e0) / {p!r}e0"
        for d, p in zip(range(1, 10), BENFORD_P)
    )
    branches = " UNION ALL ".join(
        f"SELECT {d} AS digit, n{d} AS n, n_total, chi2 FROM one"
        for d in range(1, 10)
    )
    p_case = " ".join(
        f"WHEN digit = {d} THEN {p!r}e0" for d, p in zip(range(1, 10), BENFORD_P)
    )
    return f"""
WITH base AS (
  SELECT regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]') AS d
  FROM orders WHERE o_totalprice > 0
), agg AS (
  SELECT {ns} FROM base
), one AS (
  SELECT *, CAST({n_total} AS BIGINT) AS n_total,
         CASE WHEN {n_total} = 0 THEN 0.0
              ELSE round(CAST({n_total} AS DOUBLE) * ({terms}), 9) END AS chi2
  FROM agg
), tall AS ({branches})
SELECT CAST(digit AS INTEGER) AS digit, CAST(n AS BIGINT) AS n,
       round(CASE WHEN n_total = 0 THEN 0.0
                  ELSE CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) END, 9)
         AS share,
       CASE {p_case} ELSE 0.0 END AS benford_p,
       round((CASE WHEN n_total = 0 THEN 0.0
                   ELSE CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) END)
             - (CASE {p_case} ELSE 0.0 END), 9) AS deviation,
       chi2
FROM tall
"""


@query("benford_first_digit", oracle=_benford_sql())
def q_benford_first_digit(spark, sf_dir):
    """EXT — Benford first-significant-digit screen
    (profiling.benford_deviation) over order totals: the classic
    fabricated-data / corrupted-feed detector (Nigrini's audit
    practice). Engine parity without log: the digit is the first
    nonzero digit of the shortest-roundtrip string (notation-
    independent), the Benford probabilities are shared hardcoded
    literals, and the digit histogram is ONE conditional aggregate —
    closed 1..9 domain, no groupBy, no shuffle — with shares and the
    chi-square folding in fixed digit order. At 100 TB this is a scan
    plus a 9-column partial aggregate."""
    from .operators.profiling import benford_deviation

    return benford_deviation(t(spark, sf_dir, "orders"), "o_totalprice")


# ---------------------------------------------------------------------------
# HTML table extraction + sitemap parsing (round 10 web-ingestion adds)
# ---------------------------------------------------------------------------

_TABLE_HTML_SQL = """
SELECT doc_id,
  '<html><body><h1>catalog</h1>' ||
  CASE WHEN doc_id % 3 <> 2 THEN
    '<table class="data"><thead><tr><th>item</th><th>qty &amp; price</th></tr></thead>' ||
    '<tbody><tr><td>sku-' || CAST(doc_id % 500 AS VARCHAR) || '</td><td>' ||
    CAST(doc_id % 97 AS VARCHAR) || '</td></tr>' ||
    '<tr><td><b>sku-' || CAST((doc_id * 3) % 500 AS VARCHAR) || '</b></td><td>' ||
    CAST((doc_id * 7) % 89 AS VARCHAR) || '</td></tr></tbody></table>'
  ELSE '<p>no tables here</p>' END ||
  CASE WHEN doc_id % 6 = 1
       THEN '<table><tr><td> spare </td><td>parts</td></tr></table>'
       ELSE '' END ||
  '</body></html>' AS html
FROM documents
"""


def _table_pages(spark, sf_dir):
    """Spark twin of _TABLE_HTML_SQL (same strings, same classes)."""
    did = F.col("doc_id")
    main_table = F.concat(
        F.lit(
            '<table class="data"><thead><tr><th>item</th>'
            "<th>qty &amp; price</th></tr></thead>"
        ),
        F.lit("<tbody><tr><td>sku-"),
        (did % 500).cast("string"),
        F.lit("</td><td>"),
        (did % 97).cast("string"),
        F.lit("</td></tr>"),
        F.lit("<tr><td><b>sku-"),
        ((did * 3) % 500).cast("string"),
        F.lit("</b></td><td>"),
        ((did * 7) % 89).cast("string"),
        F.lit("</td></tr></tbody></table>"),
    )
    html = F.concat(
        F.lit("<html><body><h1>catalog</h1>"),
        F.when(did % 3 != 2, main_table).otherwise(
            F.lit("<p>no tables here</p>")
        ),
        F.when(
            did % 6 == 1,
            F.lit("<table><tr><td> spare </td><td>parts</td></tr></table>"),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return t(spark, sf_dir, "documents").select("doc_id", html.alias("html"))


_VISIBLE_TEXT_SQL_TMPL = (
    "trim(regexp_replace("
    "replace(replace(replace(replace(replace(replace("
    "regexp_replace({x}, '<[^>]*>', ' ', 'g'),"
    " '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''),"
    " '&nbsp;', ' '), '&amp;', '&'),"
    " '\\s+', ' ', 'g'))"
)

_CELL_RE_SQL = "'(?is)<(t[dh])[^>]*>(.*?)</t[dh]\\s*>'"

_TABLE_EXTRACT_SQL = f"""
WITH pages AS ({_TABLE_HTML_SQL}),
tl AS (
  SELECT doc_id, regexp_extract_all(html, '(?is)<table[^>]*>.*?</table>', 0) AS tbls
  FROM pages
),
tt AS (
  SELECT doc_id, CAST(ti AS BIGINT) AS table_ord, tbls[CAST(ti AS BIGINT)] AS tbl
  FROM tl JOIN generate_series(1, 4) g(ti) ON ti <= len(tbls)
),
rl AS (
  SELECT doc_id, table_ord, regexp_extract_all(tbl, '(?is)<tr[^>]*>.*?</tr>', 0) AS trs
  FROM tt
),
rr AS (
  SELECT doc_id, table_ord, CAST(ri AS BIGINT) AS row_ord, trs[CAST(ri AS BIGINT)] AS tr
  FROM rl JOIN generate_series(1, 8) g(ri) ON ri <= len(trs)
),
cl AS (
  SELECT doc_id, table_ord, row_ord,
         regexp_extract_all(tr, {_CELL_RE_SQL}, 0) AS cells
  FROM rr
),
cc AS (
  SELECT doc_id, table_ord, row_ord, CAST(ci AS BIGINT) AS col_ord,
         cells[CAST(ci AS BIGINT)] AS cell
  FROM cl JOIN generate_series(1, 8) g(ci) ON ci <= len(cells)
)
SELECT doc_id, table_ord, row_ord, col_ord,
       lower(regexp_extract(cell, {_CELL_RE_SQL}, 1)) = 'th' AS is_header,
       {_VISIBLE_TEXT_SQL_TMPL.format(x=f"regexp_extract(cell, {_CELL_RE_SQL}, 2)")}
         AS cell_text
FROM cc
"""


@query("html_table_extract", oracle=_TABLE_EXTRACT_SQL)
def q_html_table_extract(spark, sf_dir):
    """EXT — HTML table extraction (html_extract.extract_tables): the
    structured-data harvest of a web pipeline (the WebTables/WDC
    recipe), one row per cell with 1-based (table, row, col) ordinals,
    th-vs-td header flags, and cell text through the SAME visible-text
    chain as blocks/anchors (the fixture plants an inline <b> and an
    &amp; entity to pin it). Three-level regexp_extract_all +
    posexplode — pure expression chain, zero joins/UDFs; the oracle
    restates the identical regexes and ordinal joins. Docs without
    tables emit nothing; the second small table pins multi-table
    ordinals."""
    from .operators.html_extract import extract_tables

    return extract_tables(_table_pages(spark, sf_dir), "html", "doc_id")


_SITEMAP_XML_SQL = """
SELECT doc_id,
  '<?xml version="1.0"?><urlset>' ||
  '<url><loc>  https://shop' || CAST(doc_id % 20 AS VARCHAR) ||
  '.example.com/catalog/item/' || CAST(doc_id % 500 AS VARCHAR) ||
  '  </loc><lastmod>2026-0' || CAST(doc_id % 9 + 1 AS VARCHAR) ||
  '-11</lastmod></url>' ||
  '<url><loc>https://shop' || CAST(doc_id % 20 AS VARCHAR) ||
  '.example.com/about</loc></url>' ||
  CASE WHEN doc_id % 5 = 0 THEN '<url><priority>0.5</priority></url>' ELSE '' END ||
  '</urlset>' AS xml
FROM documents WHERE doc_id % 10 = 0
"""

_SITEMAP_EXTRACT_SQL = f"""
WITH maps AS ({_SITEMAP_XML_SQL}),
el AS (
  SELECT doc_id, regexp_extract_all(xml, '(?is)<url\\s*>.*?</url\\s*>', 0) AS es
  FROM maps
),
ee AS (
  SELECT doc_id, CAST(i AS BIGINT) AS entry_ord, es[CAST(i AS BIGINT)] AS e
  FROM el JOIN generate_series(1, 4) g(i) ON i <= len(es)
)
SELECT doc_id, entry_ord,
       regexp_extract(e, '(?is)<loc\\s*>\\s*(.*?)\\s*</loc\\s*>', 1) AS loc,
       NULLIF(regexp_extract(e, '(?is)<lastmod\\s*>\\s*(.*?)\\s*</lastmod\\s*>', 1), '')
         AS lastmod
FROM ee
WHERE regexp_extract(e, '(?is)<loc\\s*>\\s*(.*?)\\s*</loc\\s*>', 1) <> ''
"""


def _sitemap_docs(spark, sf_dir):
    """Spark twin of _SITEMAP_XML_SQL."""
    did = F.col("doc_id")
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.lit("<url><loc>  https://shop"),
        (did % 20).cast("string"),
        F.lit(".example.com/catalog/item/"),
        (did % 500).cast("string"),
        F.lit("  </loc><lastmod>2026-0"),
        (did % 9 + 1).cast("string"),
        F.lit("-11</lastmod></url>"),
        F.lit("<url><loc>https://shop"),
        (did % 20).cast("string"),
        F.lit(".example.com/about</loc></url>"),
        F.when(
            did % 5 == 0, F.lit("<url><priority>0.5</priority></url>")
        ).otherwise(F.lit("")),
        F.lit("</urlset>"),
    )
    return (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id", xml.alias("xml"))
    )


@query("sitemap_extract", oracle=_SITEMAP_EXTRACT_SQL)
def q_sitemap_extract(spark, sf_dir):
    """EXT — sitemap-protocol parsing (urls.extract_sitemap_entries,
    sitemaps.org): the crawl-seed channel next to outlink discovery —
    loc URLs with optional lastmod freshness hints, feeding
    frontier_next_batch with the site's own recency signal. The
    fixture plants whitespace-padded locs (regex-trimmed), entries
    without lastmod (NULL), and loc-less entries (dropped, per the
    spec's required-loc rule). Single regexp_extract_all + posexplode
    expression chain; the oracle restates the identical regexes."""
    from .operators.urls import extract_sitemap_entries

    return extract_sitemap_entries(_sitemap_docs(spark, sf_dir), "xml", "doc_id")


# ---------------------------------------------------------------------------
# Cross-corpus line dedup + EWMA anomaly monitor (round 10)
# ---------------------------------------------------------------------------

_MULTILINE_DOCS_SQL = """
SELECT doc_id,
  'promo: subscribe to our newsletter' || chr(10) ||
  'body: ' || text || chr(10) ||
  'footer: (c) ' || source || chr(10) ||
  'tail: ' || CAST(doc_id AS VARCHAR) AS text
FROM documents
"""


def _multiline_docs(spark, sf_dir):
    """Spark twin of _MULTILINE_DOCS_SQL: every doc carries a global
    promo line (dropped), a per-source footer (dropped — each source
    spans many docs), a body line (kept unless the underlying text is
    a widespread exact dup), and a per-doc tail (always kept)."""
    d = t(spark, sf_dir, "documents")
    text = F.concat(
        F.lit("promo: subscribe to our newsletter\n"),
        F.lit("body: "),
        F.col("text"),
        F.lit("\nfooter: (c) "),
        F.col("source"),
        F.lit("\ntail: "),
        F.col("doc_id").cast("string"),
    )
    return d.select("doc_id", text.alias("text"))


_LINE_DEDUP_SQL = f"""
WITH d AS ({_MULTILINE_DOCS_SQL}),
parts AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM d
),
docfreq AS (
  SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS docs
  FROM parts GROUP BY 1
),
fl AS (
  SELECT p.doc_id, p.pos, p.line, docs >= 5 AS dropped
  FROM parts p JOIN docfreq USING (line)
)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN NOT dropped THEN line END, chr(10)
                           ORDER BY pos), '') AS text,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM fl GROUP BY 1
"""


@query("corpus_line_dedup", oracle=_LINE_DEDUP_SQL)
def q_corpus_line_dedup(spark, sf_dir):
    """EXT — cross-corpus line deduplication (text_ops.
    corpus_line_dedup): the CCNet recipe (Wenzek et al. 2020) — drop
    every copy of lines appearing in >= 5 distinct documents
    (planted: a global promo line and per-source footers vanish, the
    per-doc tail survives, body lines survive except widespread exact
    dups). Distinct-docs frequency over the exploded line stream
    (line-vocabulary-sized), verdict join back, ordered reassembly —
    three keyed shuffles, all JVM; the oracle restates the identical
    threshold and string_agg reassembly."""
    return text_ops.corpus_line_dedup(
        _multiline_docs(spark, sf_dir), "text", "doc_id", sep="\n", min_docs=5
    )


def _ewma_sql() -> str:
    alpha, window_n, thr = 0.3, 8, 150.0
    weights = [alpha * (1.0 - alpha) ** (i - 1) for i in range(1, window_n + 1)]
    lag = (
        "lag(CAST(value AS DOUBLE), {i}) OVER "
        "(PARTITION BY event_type ORDER BY ts, event_id)"
    )
    num = " + ".join(
        f"(CASE WHEN {lag.format(i=i)} IS NOT NULL "
        f"THEN {lag.format(i=i)} * {w!r}e0 ELSE 0.0e0 END)"
        for i, w in enumerate(weights, start=1)
    )
    den = " + ".join(
        f"(CASE WHEN {lag.format(i=i)} IS NOT NULL "
        f"THEN {w!r}e0 ELSE 0.0e0 END)"
        for i, w in enumerate(weights, start=1)
    )
    return f"""
WITH base AS (
  SELECT event_type, ts, event_id, value,
         ({num}) AS num, ({den}) AS den
  FROM events
), sm AS (
  SELECT event_type, ts, event_id, value,
         CASE WHEN den > 0 THEN num / den END AS ewma_raw
  FROM base
)
SELECT event_type, ts, event_id, value,
       round(ewma_raw, 9) AS ewma,
       round(CAST(value AS DOUBLE) - ewma_raw, 9) AS deviation,
       COALESCE(abs(CAST(value AS DOUBLE) - ewma_raw) > {thr!r}e0, false)
         AS is_anomaly
FROM sm
"""


@query("ewma_anomaly", oracle=_ewma_sql())
def q_ewma_anomaly(spark, sf_dir):
    """EXT — EWMA control-chart anomaly monitor (timeseries.
    ewma_outliers, Roberts 1959): per event type, predict each value
    from the exponentially-weighted mean of its 8 preceding values
    (α=0.3) and flag |deviation| > 150 — the standard streaming-
    metrics spike detector. The truncated-window closed form makes the
    sequential textbook recursion a plain per-group window with 8 lag
    expressions folded in fixed order over precomputed weight
    literals — one shuffle by event_type, bit-identical to the
    oracle; first-of-group rows carry NULL prediction and a pinned
    false flag."""
    from .operators.timeseries import ewma_outliers

    return ewma_outliers(
        t(spark, sf_dir, "events"),
        "ts",
        "value",
        ["event_type"],
        order_tiebreak=["event_id"],
        alpha=0.3,
        window_n=8,
        threshold=150.0,
    )


@query(
    "join_size_report",
    oracle="""
WITH lc AS (
  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS cl
  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
), rc AS (
  SELECT ps_partkey AS k, CAST(count(*) AS BIGINT) AS cr
  FROM (SELECT l_partkey AS ps_partkey FROM lineitem WHERE l_suppkey % 3 = 0)
  WHERE ps_partkey IS NOT NULL GROUP BY 1
), m AS (
  SELECT CAST(k AS VARCHAR) AS ks,
         CAST(cl AS HUGEINT) * CAST(cr AS HUGEINT) AS prod
  FROM lc JOIN rc USING (k)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM lc) AS n_keys_left,
       (SELECT CAST(count(*) AS BIGINT) FROM rc) AS n_keys_right,
       (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_keys_matched,
       (SELECT CAST(COALESCE(SUM(prod), 0) AS BIGINT) FROM m) AS join_rows,
       (SELECT CAST(COALESCE(MAX(prod), 0) AS BIGINT) FROM m) AS max_key_product,
       (SELECT ks FROM m ORDER BY prod DESC, ks DESC LIMIT 1) AS hot_key
""",
)
def q_join_size_report(spark, sf_dir):
    """EXT — pre-flight join-cardinality report (profiling.
    join_size_report): the EXACT inner-join row count Σ cnt_L(k)·
    cnt_R(k) from two keys-only count aggregations plus the hottest
    key's contribution (the skew signal salting/AQE-skew decisions
    read) — what you run BEFORE a 100 TB join to catch the
    key-not-as-unique-as-believed blow-up at count-table cost.
    Here: lineitem self-join shape on part key (one side sliced to
    suppkey%3) — a realistically fan-out-heavy profile. Products
    accumulate in DECIMAL(38,0)/HUGEINT on both engines; the hot-key
    tie breaks by (product, key) struct order, deterministic
    everywhere."""
    from .operators.profiling import join_size_report

    li = t(spark, sf_dir, "lineitem")
    return join_size_report(
        li, li.where(F.col("l_suppkey") % 3 == 0), "l_partkey"
    )


@query(
    "cohens_kappa",
    oracle="""
WITH labeled AS (
  SELECT CASE WHEN length(text) >= 400 THEN 'keep' ELSE 'drop' END AS a,
         CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> ''))
                   >= 80 THEN 'keep' ELSE 'drop' END AS b
  FROM documents WHERE text IS NOT NULL
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM labeled
), ma AS (SELECT a AS c, CAST(count(*) AS HUGEINT) AS na FROM labeled GROUP BY 1),
mb AS (SELECT b AS c, CAST(count(*) AS HUGEINT) AS nb FROM labeled GROUP BY 1),
pe AS (
  SELECT COALESCE(CAST(SUM(na * nb) AS HUGEINT), 0) AS pe_num
  FROM ma JOIN mb USING (c)
)
SELECT n_items, n_agree,
       round(CAST(n_agree AS DOUBLE) / CAST(n_items AS DOUBLE), 9) AS p_observed,
       round(CAST(pe_num AS DOUBLE)
             / CAST(CAST(n_items AS HUGEINT) * CAST(n_items AS HUGEINT) AS DOUBLE),
             9) AS p_expected,
       CASE WHEN CAST(pe_num AS DOUBLE)
                 / CAST(CAST(n_items AS HUGEINT) * CAST(n_items AS HUGEINT) AS DOUBLE)
                 < 1.0
            THEN round(
              (CAST(n_agree AS DOUBLE) / CAST(n_items AS DOUBLE)
               - CAST(pe_num AS DOUBLE)
                 / CAST(CAST(n_items AS HUGEINT) * CAST(n_items AS HUGEINT) AS DOUBLE))
              / (1.0 - CAST(pe_num AS DOUBLE)
                 / CAST(CAST(n_items AS HUGEINT) * CAST(n_items AS HUGEINT) AS DOUBLE)),
              9)
       END AS kappa
FROM tot CROSS JOIN pe
""",
)
def q_cohens_kappa(spark, sf_dir):
    """EXT — Cohen's kappa label-quality audit (profiling.
    cohens_kappa; Cohen 1960): chance-corrected agreement between two
    deterministic quality 'annotators' over the corpus (a char-length
    rule vs a word-count rule — the heuristic-vs-heuristic agreement
    check a labeling pipeline runs before trusting either as training
    signal; raw percent agreement rewards majority-class collusion,
    kappa subtracts the marginal-product chance rate). Exact integer
    counts, DECIMAL(38,0)/HUGEINT marginal products, one IEEE division
    per rate — hash-matched end to end."""
    from .operators.profiling import cohens_kappa

    d = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    labeled = d.select(
        F.when(F.length("text") >= 400, "keep").otherwise("drop").alias("a"),
        F.when(
            F.size(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            )
            >= 80,
            "keep",
        )
        .otherwise("drop")
        .alias("b"),
    )
    return cohens_kappa(labeled, "a", "b")


@query(
    "classification_report",
    oracle="""
WITH labeled AS (
  SELECT CASE WHEN length(text) >= 400 THEN 'keep' ELSE 'drop' END AS y,
         CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> ''))
                   >= 80 THEN 'keep' ELSE 'drop' END AS p
  FROM documents WHERE text IS NOT NULL
), truths AS (SELECT y AS label, CAST(count(*) AS BIGINT) AS n_true FROM labeled GROUP BY 1),
preds AS (SELECT p AS label, CAST(count(*) AS BIGINT) AS n_pred FROM labeled GROUP BY 1),
tps AS (SELECT y AS label, CAST(count(*) AS BIGINT) AS tp FROM labeled WHERE y = p GROUP BY 1),
m AS (
  SELECT COALESCE(t.label, pr.label) AS label,
         COALESCE(n_true, 0) AS n_true, COALESCE(n_pred, 0) AS n_pred
  FROM truths t FULL OUTER JOIN preds pr ON t.label = pr.label
)
SELECT m.label, m.n_true, m.n_pred, COALESCE(tp, 0) AS tp,
       CASE WHEN m.n_pred > 0
            THEN round(CAST(COALESCE(tp, 0) AS DOUBLE) / CAST(m.n_pred AS DOUBLE), 9) END
         AS precision,
       CASE WHEN m.n_true > 0
            THEN round(CAST(COALESCE(tp, 0) AS DOUBLE) / CAST(m.n_true AS DOUBLE), 9) END
         AS recall,
       CASE WHEN m.n_pred > 0 AND m.n_true > 0
            THEN round(2.0 * CAST(COALESCE(tp, 0) AS DOUBLE)
                       / CAST(m.n_pred + m.n_true AS DOUBLE), 9) END AS f1
FROM m LEFT JOIN tps ON m.label = tps.label
""",
)
def q_classification_report(spark, sf_dir):
    """EXT — per-class precision/recall/F1 (profiling.
    classification_report): the word-count quality rule evaluated
    AGAINST the char-length rule as ground truth — the same annotator
    pair the kappa query measures agreement on, now read as an
    operating-point report (the confusion-matrix summary completing
    the eval family: AUC ranks, calibration calibrates, kappa agrees,
    this reports per class). Exact integer counts to two final
    divisions; NULL where a denominator is 0."""
    from .operators.profiling import classification_report

    d = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    labeled = d.select(
        F.when(F.length("text") >= 400, "keep").otherwise("drop").alias("y"),
        F.when(
            F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
            >= 80,
            "keep",
        )
        .otherwise("drop")
        .alias("p"),
    )
    return classification_report(labeled, "y", "p")


@query(
    "mutual_information",
    oracle="""
WITH base AS (
  SELECT lang AS a, source AS b FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
), cells AS (SELECT a, b, count(*) AS c FROM base GROUP BY 1, 2),
ma AS (SELECT a, count(*) AS ca FROM base GROUP BY 1),
mb AS (SELECT b, count(*) AS cb FROM base GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
terms AS (
  SELECT CAST(COALESCE(SUM(
           CAST(c AS HUGEINT)
           * CAST(round(ln(CAST(n AS DOUBLE) * CAST(c AS DOUBLE)
                 / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))) * 1000000.0)
               AS BIGINT)), 0) AS BIGINT) AS mi_micro
  FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
)
SELECT n, mi_micro,
       CASE WHEN n > 0
            THEN round(CAST(mi_micro AS DOUBLE)
                       / (CAST(n AS DOUBLE) * 1000000.0), 9) END AS mi_nats
FROM tot CROSS JOIN terms
""",
)
def q_mutual_information(spark, sf_dir):
    """EXT — exact mutual information between language and source
    (profiling.mutual_information; Shannon 1948): the dependence
    audit behind feature selection and leakage hunting — a split
    column with high MI against the label IS the leak. Each cell's
    log-likelihood ratio quantizes to an int64 micro-log BEFORE the
    count-weighted integer sum (the bigram-LM/PMI discipline), so the
    fold is aggregation-order-proof and hash-matches; cells/marginals
    are |A|·|B|-sized, never row grain."""
    from .operators.profiling import mutual_information

    return mutual_information(t(spark, sf_dir, "documents"), "lang", "source")


def _ndcg_sql() -> str:
    import math as _m

    k = 10
    disc_case = " ".join(
        f"WHEN rnk = {r} THEN {1.0 / _m.log2(r + 1)!r}e0"
        for r in range(1, k + 1)
    )
    gain = (
        "CAST(('0x' || substr(md5('q1:' || CAST(doc_id AS VARCHAR)), 1, 2)) "
        "AS BIGINT) % 4"
    )
    return f"""
WITH bm AS ({_BM25_SQL}),
run AS (SELECT 'q1' AS q, doc_id AS d, CAST(rk AS INT) AS rnk FROM bm WHERE rk <= 10),
qrels AS (SELECT 'q1' AS q, doc_id AS d, {gain} AS g FROM bm),
dcg AS (
  SELECT run.q,
         CAST(SUM(CAST(round(CAST(COALESCE(qr.g, 0) AS DOUBLE)
               * (CASE {disc_case} END) * 1000000.0) AS BIGINT)) AS BIGINT)
           AS dcg_micro
  FROM run LEFT JOIN qrels qr ON run.q = qr.q AND run.d = qr.d
  GROUP BY 1
),
ideal AS (
  SELECT q, CAST(SUM(CAST(round(CAST(g AS DOUBLE)
               * (CASE {disc_case} END) * 1000000.0) AS BIGINT)) AS BIGINT)
           AS idcg_micro
  FROM (
    SELECT q, g, CAST(row_number() OVER
        (PARTITION BY q ORDER BY g DESC, d ASC) AS INT) AS rnk
    FROM qrels WHERE g > 0
  ) WHERE rnk <= 10
  GROUP BY 1
)
SELECT dcg.q AS query_id, dcg_micro,
       CAST(COALESCE(idcg_micro, 0) AS BIGINT) AS idcg_micro,
       CASE WHEN COALESCE(idcg_micro, 0) > 0
            THEN round(CAST(dcg_micro AS DOUBLE) / CAST(idcg_micro AS DOUBLE), 9)
       END AS ndcg
FROM dcg LEFT JOIN ideal ON dcg.q = ideal.q
"""


@query("ndcg_retrieval_eval", oracle=_ndcg_sql())
def q_ndcg_retrieval_eval(spark, sf_dir):
    """EXT — nDCG@10 of the BM25 run (retrieval.ndcg_at_k; Järvelin &
    Kekäläinen 2002): the graded-relevance ranking eval for the
    BM25/QL/RRF family, the way classifier_auc evals scorers. The run
    is the engine's own bm25_topk ranking; qrels carry deterministic
    md5-derived gains 0-3 over the run's doc universe (a fixture
    judgment set — REAL qrels join in identically). Per-rank
    discounts are precomputed double literals (rank ≤ k), every term
    micro-quantized to int64 before the per-query integer sum — the
    aggregation-order-proof discipline that lets a float ranking
    metric hash-match; the ideal ranking breaks gain ties by doc id,
    total in both engines."""
    from .operators import text as text_ops
    from .operators.retrieval import ndcg_at_k

    bm = text_ops.bm25_topk(
        t(spark, sf_dir, "documents"), ["dup", "merge", "window"], k=15
    )
    run = bm.select(
        F.lit("q1").alias("query_id"),
        "doc_id",
        F.col("rk").alias("rank"),
    )
    gain = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("q1:"), F.col("doc_id").cast("string"))),
                1,
                2,
            ),
            16,
            10,
        ).cast("long")
        % 4
    )
    qrels = bm.select(
        F.lit("q1").alias("query_id"), "doc_id", gain.alias("gain")
    )
    return ndcg_at_k(run, qrels, k=10)


def _psi_sql() -> str:
    n_bins = 10
    fracs = ", ".join(repr(i / n_bins) for i in range(1, n_bins))
    bin_fold = " + ".join(
        f"(CASE WHEN x > b[{i}] THEN 1 ELSE 0 END)" for i in range(1, n_bins)
    )
    return f"""
WITH refv AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
  WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL
), curv AS (
  SELECT CAST(o_totalprice AS DOUBLE) * 1.1e0 AS x FROM orders
  WHERE o_orderkey % 2 = 1 AND o_totalprice IS NOT NULL
), b AS (
  SELECT quantile_cont(x, [{fracs}]) AS b FROM refv
), rbin AS (
  SELECT CAST(1 + {bin_fold} AS BIGINT) AS bin, count(*) AS n
  FROM refv CROSS JOIN b GROUP BY 1
), cbin AS (
  SELECT CAST(1 + {bin_fold} AS BIGINT) AS bin, count(*) AS n
  FROM curv CROSS JOIN b GROUP BY 1
), spine AS (SELECT CAST(range + 1 AS BIGINT) AS bin FROM range(0, {n_bins})),
cells AS (
  SELECT spine.bin,
         CAST(COALESCE(rbin.n, 0) AS BIGINT) AS n_ref,
         CAST(COALESCE(cbin.n, 0) AS BIGINT) AS n_cur
  FROM spine LEFT JOIN rbin ON spine.bin = rbin.bin
             LEFT JOIN cbin ON spine.bin = cbin.bin
), tt AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS tr, CAST(SUM(n_cur) AS BIGINT) AS tc
  FROM cells
), terms AS (
  SELECT bin, n_ref, n_cur,
         CAST(round(
           ((CAST(n_cur AS DOUBLE) + 0.5e0) / (CAST(tc AS DOUBLE) + {n_bins * 0.5!r}e0)
            - (CAST(n_ref AS DOUBLE) + 0.5e0) / (CAST(tr AS DOUBLE) + {n_bins * 0.5!r}e0))
           * ln(((CAST(n_cur AS DOUBLE) + 0.5e0) / (CAST(tc AS DOUBLE) + {n_bins * 0.5!r}e0))
                / ((CAST(n_ref AS DOUBLE) + 0.5e0) / (CAST(tr AS DOUBLE) + {n_bins * 0.5!r}e0)))
           * 1000000000.0e0) AS BIGINT) AS term_nano
  FROM cells CROSS JOIN tt
)
SELECT bin, n_ref, n_cur, term_nano,
       round(CAST((SELECT SUM(term_nano) FROM terms) AS DOUBLE)
             / 1000000000.0e0, 9) AS psi
FROM terms
"""


@query("psi_drift", oracle=_psi_sql())
def q_psi_drift(spark, sf_dir):
    """EXT — Population Stability Index drift monitor (profiling.
    population_stability_index): the even-orderkey half of orders is
    the REFERENCE snapshot, the odd half with a 10% price inflation is
    the CURRENT one — the recurring-import drift scenario the metric
    exists for (conventional gates: <0.1 stable, >0.25 drifted).
    Boundaries come from the reference's deciles only (one array-
    percentile), both sides share the ties-low bin fold, add-half
    smoothing keeps empty bins defined, and every bin's term is an
    int64 nano-unit before the sum — aggregation-order-proof, hash-
    matched per bin AND on the readout."""
    from .operators.profiling import population_stability_index

    o = t(spark, sf_dir, "orders")
    ref = o.where(F.col("o_orderkey") % 2 == 0).select("o_totalprice")
    cur = o.where(F.col("o_orderkey") % 2 == 1).select(
        (F.col("o_totalprice").cast("double") * F.lit(1.1)).alias(
            "o_totalprice"
        )
    )
    return population_stability_index(ref, cur, "o_totalprice", n_bins=10)


@query(
    "chi_square_independence",
    oracle="""
WITH base AS (
  SELECT lang AS a, source AS b FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
), cells AS (SELECT a, b, count(*) AS c FROM base GROUP BY 1, 2),
ma AS (SELECT a, count(*) AS ca FROM base GROUP BY 1),
mb AS (SELECT b, count(*) AS cb FROM base GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
grid AS (
  SELECT CAST(COALESCE(c, 0) AS DOUBLE) AS o,
         CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE) AS e
  FROM ma CROSS JOIN mb
  LEFT JOIN cells ON ma.a = cells.a AND mb.b = cells.b
  CROSS JOIN tot
), s AS (
  SELECT CAST(COALESCE(SUM(CAST(round((o - e) * (o - e) / e
           * 1000000000.0e0) AS BIGINT)), 0) AS BIGINT) AS chi_nano
  FROM grid
), dims AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM ma) AS ra,
         (SELECT CAST(count(*) AS BIGINT) FROM mb) AS rb
)
SELECT n, CAST((ra - 1) * (rb - 1) AS BIGINT) AS dof,
       CASE WHEN ra > 1 AND rb > 1
            THEN round(CAST(chi_nano AS DOUBLE) / 1000000000.0e0, 9) END AS chi2
FROM tot CROSS JOIN dims CROSS JOIN s
""",
)
def q_chi_square_independence(spark, sf_dir):
    """EXT — Pearson chi-square independence test over the same
    (lang, source) contingency the MI query measures (profiling.
    chi_square_independence; Pearson 1900): MI gives the dependence
    in nats, chi2/dof locates it against the independence null. The
    cell sum covers the FULL marginal cross (absent cells still
    contribute their expected-count mass — skipping them understates
    the statistic); nano-unit int64 terms make the float sum
    aggregation-order-proof and hash-matched."""
    from .operators.profiling import chi_square_independence

    return chi_square_independence(
        t(spark, sf_dir, "documents"), "lang", "source"
    )


def _holt_sql() -> str:
    a, g = 0.4, 0.3
    one_a, one_g = 1.0 - a, 1.0 - g
    lvl = (
        f"{a!r}e0 * CAST(o.value AS DOUBLE) "
        f"+ {one_a!r}e0 * (h.level + h.trend)"
    )
    return f"""
WITH RECURSIVE ordered AS (
  SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS value,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS rn
  FROM events
  WHERE user_id % 5 = 0 AND value IS NOT NULL AND ts IS NOT NULL
), hw AS (
  SELECT user_id, rn, ts, event_id, value,
         value AS level, 0.0e0 AS trend
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, o.ts, o.event_id, o.value,
         ({lvl}),
         {g!r}e0 * (({lvl}) - h.level) + {one_g!r}e0 * h.trend
  FROM hw h JOIN ordered o ON o.user_id = h.user_id AND o.rn = h.rn + 1
)
SELECT user_id, ts, event_id, value,
       round(level, 9) AS level, round(trend, 9) AS trend,
       round(level + trend, 9) AS forecast_next
FROM hw
"""


@query("holt_linear_forecast", oracle=_holt_sql())
def q_holt_linear_forecast(spark, sf_dir):
    """EXT — Holt double-exponential smoothing (timeseries.
    holt_linear; Holt 1957): per-user level+trend state over the event
    value series (α=0.4, β=0.3) with the one-step-ahead forecast —
    the drift-following upgrade of the EWMA chart (an EWMA lags a
    trending series forever; Holt's trend term closes the gap). The
    coupled recursion has no truncated-window closed form, so the
    engine folds it in an Arrow-batched applyInPandas per key
    replaying the textbook operation order exactly — which is why the
    result hash-matches the oracle's recursive-CTE restatement of the
    same fixed-order IEEE arithmetic (the smoothing constants are
    embedded as identical double literals on both sides)."""
    from .operators.timeseries import holt_linear

    ev = t(spark, sf_dir, "events").where(F.col("user_id") % 5 == 0)
    return holt_linear(
        ev, "ts", "value", ["user_id"], "event_id", alpha=0.4, beta=0.3
    )


# ---------------------------------------------------------------------------
# Content-defined chunking + skew-safe salted aggregation (round 10)
# ---------------------------------------------------------------------------


@query("cdc_chunks")  # rolling-hash boundaries — not SQL-expressible
def q_cdc_chunks(spark, sf_dir):
    """EXT — content-defined chunking (multimodal.cdc_chunk_table, the
    Rabin/LBFS storage-dedup recipe): rolling-hash chunk boundaries
    over real encoded media payloads, emitting the (chunk_ord, offset,
    length, chunk_md5) block table that joins on chunk_md5 for
    block-level dedup. Rows-only — the rolling hash is byte-sequential
    inside each payload (the honest Arrow-batched mapInPandas case);
    the operator's contracts (reassembly, min/max clamps,
    insertion-shift realignment — CDC's entire reason to exist) are
    pytest-pinned. Aggregated per doc to keep the gate output scalar
    and bounded: (doc_id, n_chunks, total_len, n_distinct_chunks)."""
    from .operators.multimodal import attach_media, cdc_chunk_table

    d = attach_media(t(spark, sf_dir, "documents"), with_meta=False)
    chunks = cdc_chunk_table(d, "payload", "doc_id")
    return chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("length").cast("long").alias("total_len"),
        F.count_distinct("chunk_md5").cast("long").alias("n_distinct_chunks"),
    )


_SALTED_AGG_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(l_linenumber) AS BIGINT) AS sum_l_linenumber,
       min(l_shipdate) AS min_l_shipdate,
       max(l_shipdate) AS max_l_shipdate
FROM lineitem GROUP BY 1, 2
"""


@query("salted_group_stats", oracle=_SALTED_AGG_SQL)
def q_salted_group_stats(spark, sf_dir):
    """EXT — skew-safe two-phase aggregation (common.salted_aggregate):
    the explicit salting recipe for mega-hot groupBy keys — phase 1
    groups by (key, deterministic salt) so a hot key's rows spread
    over 32 reducers, phase 2 folds the |keys|·32 partials. Exercised
    on lineitem's 3×2-key returnflag/linestatus rollup (each key owns
    ~1/6 of the table — exactly the hot-key regime) with
    associative-commutative aggregates only (count, integer sum,
    min/max), so the result — and the hash — is EXACTLY the plain
    GROUP BY the oracle states. The salt is xxhash64 over the orderkey
    projection: deterministic, partitioning-independent, retry-
    idempotent."""
    from .operators.common import salted_aggregate

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber", "l_shipdate"
    )
    return salted_aggregate(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            ("l_orderkey", "count"),
            ("l_linenumber", "sum"),
            ("l_shipdate", "min"),
            ("l_shipdate", "max"),
        ],
        n_salts=32,
        salt_source=["l_orderkey"],
    )


@query("kmeans_clusters")  # iterative Lloyd fixpoint — rows-only
def q_kmeans_clusters(spark, sf_dir):
    """EXT — distributed full-corpus Lloyd k-means
    (similarity.kmeans_fit_assign): the iterative-ML workhorse behind
    cluster-balanced coresets, SemDeDup cells and IVF structure, run
    over ALL vectors per round (the driver-sample quantizer
    train_ivf_centroids is the other regime). Deterministic hash-min
    init, exact-integer-sum centroid updates (fold-order-proof),
    model-sized driver traffic only. Rows-only — iterative fixpoint;
    the operator is numpy-parity-pinned in pytest. Gate output folds
    the assignment to per-cluster (n_members, mean_sq_dist)."""
    from .operators.similarity import kmeans_fit_assign

    asg = kmeans_fit_assign(
        t(spark, sf_dir, "embeddings"), k=8, iterations=5
    )
    return asg.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(F.avg("sq_dist"), 3).alias("mean_sq_dist"),
    )


_SNM_SQL = """
WITH ranked AS (
  SELECT c_custkey,
         CAST(row_number() OVER (ORDER BY c_name, c_custkey) AS BIGINT) AS rn
  FROM customer
)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(b.rn - a.rn AS BIGINT) AS rank_dist
FROM ranked a JOIN ranked b ON b.rn > a.rn AND b.rn <= a.rn + 2
"""


@query("sorted_neighborhood_pairs", oracle=_SNM_SQL)
def q_sorted_neighborhood_pairs(spark, sf_dir):
    """EXT — sorted-neighborhood blocking (linkage.
    sorted_neighborhood_pairs, Hernández & Stolfo 1995): the
    merge/purge candidate generator — every pair within 3 sort
    positions of the name key, linear in n·window where equality
    blocking blows up quadratically per hot block. Complements the
    FastSS/SymSpell typo-neighborhood path; production linkage unions
    several blocking passes. The engine path rides
    layout.global_row_ids (range exchange + offsets — never the
    single-partition row_number the oracle states) plus window−1
    equi-joins on rn+d; same rows exactly."""
    from .operators.linkage import sorted_neighborhood_pairs

    return sorted_neighborhood_pairs(
        t(spark, sf_dir, "customer"), "c_name", "c_custkey", window=3
    )


_AUC_SQL = """
WITH sc AS (
  SELECT CAST(value AS DOUBLE) AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS l
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), per AS (
  SELECT s, CAST(sum(l) AS BIGINT) AS np,
         CAST(count(*) - sum(l) AS BIGINT) AS nn
  FROM sc GROUP BY 1
), cum AS (
  SELECT np, nn,
         COALESCE(CAST(sum(nn) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           AS below
  FROM per
), tot AS (
  SELECT CAST(COALESCE(sum(np), 0) AS BIGINT) AS n_pos,
         CAST(COALESCE(sum(nn), 0) AS BIGINT) AS n_neg,
         CAST(sum(2 * np * below + np * nn) AS BIGINT) AS u2
  FROM cum
)
SELECT n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round(CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE), 9)
       END AS auc
FROM tot
"""


@query("classifier_auc", oracle=_AUC_SQL)
def q_classifier_auc(spark, sf_dir):
    """EXT — exact ROC-AUC via the Mann-Whitney rank identity
    (profiling.classifier_auc, Hanley & McNeil 1982): the standard
    eval for the engine's trained scorers (bigram-LM, NB, linkage
    weights), here scoring event value against the purchase label
    (≈0.5 by construction — the fixture's value is type-independent,
    which the exact rank arithmetic states precisely rather than
    approximately). Distinct-score groupBy + one exclusive-preceding
    running sum + a single exact-int64 division — tie handling by
    construction, no per-row ranking, engine-identical."""
    from .operators.profiling import classifier_auc

    e = t(spark, sf_dir, "events")
    return classifier_auc(
        e.select("value", (F.col("event_type") == "purchase").alias("is_purchase")),
        "value",
        "is_purchase",
    )


_PHRASE_SQL = """
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
pos AS (
  SELECT doc_id, unnest(ws) AS w,
         CAST(generate_subscripts(ws, 1) AS BIGINT) AS p
  FROM ws
),
m0 AS (SELECT doc_id, p FROM pos WHERE w = 'value'),
m1 AS (
  SELECT m0.doc_id, m0.p FROM m0
  JOIN pos t ON t.doc_id = m0.doc_id AND t.p = m0.p + 1 AND t.w = 'table'
),
m2 AS (
  SELECT m1.doc_id, m1.p FROM m1
  JOIN pos t ON t.doc_id = m1.doc_id AND t.p = m1.p + 2 AND t.w = 'part'
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches FROM m2 GROUP BY 1
"""


@query("phrase_search", oracle=_PHRASE_SQL)
def q_phrase_search(spark, sf_dir):
    """EXT — positional phrase search (text_ops.phrase_match): the
    quoted-query adjacency join of a positional inverted index
    (Manning et al. ch.2) for the 3-gram "value table part" —
    documents where the terms occupy consecutive positions, each
    occurrence counted. The position stream filters to the phrase's
    terms BEFORE any join (cost ∝ those terms' corpus frequency),
    then two (doc, position) equi-joins and one per-doc count; the
    oracle restates the identical joins 1-based. Runs unchanged over
    a persisted (id, pos, term) index — no raw text at query time,
    like anchor-term retrieval."""
    return text_ops.phrase_match(
        t(spark, sf_dir, "documents"), ["value", "table", "part"]
    )


_QBIN_SQL = """
WITH b AS (
  SELECT quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS b1,
         quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS b2,
         quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) AS b3
  FROM orders WHERE o_totalprice IS NOT NULL
),
tagged AS (
  SELECT CAST(1
    + (CASE WHEN CAST(o_totalprice AS DOUBLE) > b1 THEN 1 ELSE 0 END)
    + (CASE WHEN CAST(o_totalprice AS DOUBLE) > b2 THEN 1 ELSE 0 END)
    + (CASE WHEN CAST(o_totalprice AS DOUBLE) > b3 THEN 1 ELSE 0 END)
    AS BIGINT) AS bin,
    CAST(o_totalprice AS DOUBLE) AS x
  FROM orders CROSS JOIN b WHERE o_totalprice IS NOT NULL
)
SELECT bin, CAST(count(*) AS BIGINT) AS n, min(x) AS min_v, max(x) AS max_v
FROM tagged GROUP BY 1
"""


@query("quantile_binning", oracle=_QBIN_SQL)
def q_quantile_binning(spark, sf_dir):
    """EXT — equal-frequency discretization (profiling.
    quantile_binning): quartile bins over order totals — the
    feature-binning/bucketed-mixture cut, boundaries from ONE exact
    percentile aggregate (percentile ≡ quantile_cont, the engine's
    pinned cross-engine interpolation) broadcast back, ties to the
    lower bin by the > comparison in both engines. No ntile, no
    single-partition window — a 1-row attach plus a closed-domain
    groupBy."""
    from .operators.profiling import quantile_binning

    return quantile_binning(t(spark, sf_dir, "orders"), "o_totalprice", n_bins=4)


@query(
    "cube_rollup_revenue",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
""",
)
def q_cube_rollup_revenue(spark, sf_dir):
    """§2.4/§2.7 SQL surface — CUBE with GROUPING(): all four
    aggregation grains of (priority, status) in ONE pass — the OLAP
    subtotal/grand-total shape (ANSI GROUPING SETS; Spark expands the
    cube into a single expand+aggregate, no self-union of scans).
    GROUPING() flags distinguish a rolled-up NULL from a data NULL —
    the detail every BI consumer of subtotal rows needs. Sums carry
    DECIMAL(30,6) so every grain is bit-identical to a direct
    aggregation (the cascading_rollup discipline); one cast to double
    at the end."""
    o = t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping("o_orderpriority").cast("long").alias("g_pri"),
            F.grouping("o_orderstatus").cast("long").alias("g_st"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("revenue"),
        )
        .select(
            "o_orderpriority", "o_orderstatus", "g_pri", "g_st", "n", "revenue"
        )
    )


_QDIGEST_FRACS = ", ".join(repr(i / 8) for i in range(9))


@query(
    "quantile_digest",
    oracle=f"""
WITH a AS (
  SELECT o_orderpriority,
         quantile_cont(CAST(o_totalprice AS DOUBLE), [{_QDIGEST_FRACS}]) AS qs,
         CAST(count(*) AS BIGINT) AS n
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
)
SELECT o_orderpriority, unnest([{_QDIGEST_FRACS}]) AS rank_frac,
       unnest(qs) AS value, n
FROM a
""",
)
def q_quantile_digest(spark, sf_dir):
    """EXT — mergeable quantile digest build (rollup.quantile_digest,
    k=8): the equi-depth summary per order priority — k+1 exact
    percentile points + count, the persistable sketch that answers any
    later rank query within 1/(2k) and FOLDS across partitions/days
    via digest_merge without re-reading raw data (merge accuracy and
    the merge ≡ union property are pytest-pinned; the BUILD is the
    hash-matched artifact, one array-percentile aggregate per group —
    the same single-sort-buffer discipline as quantile_binning)."""
    from .operators.rollup import quantile_digest

    return quantile_digest(
        t(spark, sf_dir, "orders"), "o_totalprice", k=8,
        group_cols=["o_orderpriority"],
    )


@query("digest_merge_fold")  # two-level sketch fold — rows-only; merge≡union pytests
def q_digest_merge_fold(spark, sf_dir):
    """EXT — the digest FOLD path a partitioned warehouse runs: build
    one k=16 digest per order-priority SLICE (two halves of the table
    by order key parity — standing for two partitions/days), then
    digest_merge folds each group's pair into the cross-slice summary
    without touching raw rows again. Deterministic build + pandas
    merge over (k+1)-row tables ⟹ stable rows-only check; the
    merge-error bound (≤ 2/k rank) and fixpoint/one-sided-group
    behavior are pytest-pinned in test_quantile_digest.py."""
    from .operators.rollup import digest_merge, quantile_digest

    o = t(spark, sf_dir, "orders")
    d1 = quantile_digest(
        o.where(F.col("o_orderkey") % 2 == 0), "o_totalprice", k=16,
        group_cols=["o_orderpriority"],
    )
    d2 = quantile_digest(
        o.where(F.col("o_orderkey") % 2 == 1), "o_totalprice", k=16,
        group_cols=["o_orderpriority"],
    )
    merged = digest_merge(d1, d2, group_cols=["o_orderpriority"])
    return merged.select(
        "o_orderpriority",
        F.round("rank_frac", 9).alias("rank_frac"),
        F.round("value", 6).alias("value"),
        "n",
    )


@query("streaming_quantile_digest")  # cross-batch sketch fold — rows-only
def q_streaming_quantile_digest(spark, sf_dir):
    """EXT §2.10 — streaming quantile summary (streaming/jobs.
    streaming_quantile_digest): each micro-batch builds a k=16
    equi-depth digest of its order totals per priority and
    digest_merge folds it into the standing digest — the quantile
    sibling of streaming_bottomk (KMV folds exactly; digests fold
    within the pytest-pinned ≤2/k rank bound — the price a
    bounded-state quantile pays). State is the (k+1)-row digest per
    group forever, the per-partition/day monitor shape. Deterministic
    staging ⟹ stable rows-only check; fold accuracy vs the batch
    build over everything seen is pinned in tests."""
    from .streaming.jobs import streaming_quantile_digest

    o = t(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    out = streaming_quantile_digest(
        spark, o, "o_totalprice", k=16,
        group_cols=["o_orderpriority"], n_slices=3,
    )
    return out.select(
        "o_orderpriority",
        F.round("rank_frac", 9).alias("rank_frac"),
        F.round("value", 6).alias("value"),
        "n",
    )


@query("streaming_ewma")  # stateful cross-batch recursion — rows-only
def q_streaming_ewma(spark, sf_dir):
    """EXT §2.10 — streaming recursive EWMA (streaming/jobs.
    streaming_ewma): the TRUE infinite-history control-chart fold
    e_t = α·x_t + (1−α)·e_{t−1} carried across micro-batches with
    one scalar of state per key — the sequential statistic the batch
    ewma_anomaly deliberately truncates to stay SQL-closed-form. Time-
    range-sliced micro-batches (four, in event-time order), per-key
    applyInPandas fold seeded from the standing state table.
    Rows-only: the recursion is order-sequential by definition;
    slice-boundary invariance and the pandas-reference parity are
    pytest-pinned."""
    from .streaming.jobs import streaming_ewma

    return streaming_ewma(spark, t(spark, sf_dir, "events"), alpha=0.3, n_slices=4)


_TCLOSE_SQL = """
WITH base AS (
  SELECT c_nationkey, c_mktsegment AS v FROM customer
  WHERE c_mktsegment IS NOT NULL
),
spine AS (SELECT v, CAST(count(*) AS BIGINT) AS g FROM base GROUP BY 1),
tot AS (SELECT CAST(sum(g) AS BIGINT) AS ntot FROM spine),
cls AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1),
cnt AS (
  SELECT c_nationkey, v, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY 1, 2
),
grid AS (
  SELECT cls.c_nationkey, cls.n, tot.ntot,
         abs(COALESCE(cnt.c, 0) * tot.ntot - spine.g * cls.n) AS absnum
  FROM cls CROSS JOIN spine CROSS JOIN tot
  LEFT JOIN cnt ON cnt.c_nationkey IS NOT DISTINCT FROM cls.c_nationkey
               AND cnt.v = spine.v
)
SELECT c_nationkey, n AS class_size,
       round(CAST(sum(absnum) AS DOUBLE) / (2.0 * CAST(n * ntot AS DOUBLE)), 9)
         AS tvd,
       CAST(CASE WHEN round(CAST(sum(absnum) AS DOUBLE)
                            / (2.0 * CAST(n * ntot AS DOUBLE)), 9) <= 0.2
                 THEN 1 ELSE 0 END AS BIGINT) AS close
FROM grid GROUP BY c_nationkey, n, ntot
"""


@query("t_closeness", oracle=_TCLOSE_SQL)
def q_t_closeness(spark, sf_dir):
    """EXT — t-closeness report (privacy.t_closeness_report, Li et
    al. ICDE 2007): the third rung of the release-risk ladder after
    k_anonymity and l_diversity — a nation whose market-segment
    distribution diverges from the global one leaks segment
    information even when k-anonymous and l-diverse (skewness
    attack). Total-variation distance over the |classes|×|segments|
    grid with exact-integer numerators and ONE division per class
    (½·Σ|c·N − g·n|/(n·N)) — bit-identical to the oracle; NULL-safe
    QI pairing, broadcast value spine."""
    from .operators.privacy import t_closeness_report

    return t_closeness_report(
        t(spark, sf_dir, "customer"), ["c_nationkey"], "c_mktsegment", t=0.2
    )


_KMV_OVERLAP_SQL = """
WITH a AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
           / 4294967296.0 AS hkey
  FROM (SELECT DISTINCT o_custkey AS user_id FROM orders)
  ORDER BY hkey, user_id LIMIT 128
), b AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
           / 4294967296.0 AS hkey
  FROM (SELECT DISTINCT c_custkey AS user_id FROM customer)
  ORDER BY hkey, user_id LIMIT 128
), u AS (
  SELECT user_id, hkey FROM (
    SELECT DISTINCT user_id, hkey FROM (
      SELECT * FROM a UNION ALL SELECT * FROM b
    )
  ) ORDER BY hkey, user_id LIMIT 128
), fl AS (
  SELECT u.hkey,
         (CASE WHEN a.user_id IS NOT NULL THEN 1 ELSE 0 END)
         * (CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS is_both
  FROM u LEFT JOIN a ON u.user_id = a.user_id
         LEFT JOIN b ON u.user_id = b.user_id
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_union_sample,
         CAST(sum(is_both) AS BIGINT) AS nboth,
         max(hkey) AS hk
  FROM fl
)
SELECT n_union_sample,
       round(CAST(nboth AS DOUBLE) / CAST(n_union_sample AS DOUBLE), 9)
         AS jaccard,
       round(CASE WHEN n_union_sample < 128
                  THEN CAST(n_union_sample AS DOUBLE)
                  ELSE 127.0 / hk END, 3) AS est_union,
       round((CAST(nboth AS DOUBLE) / CAST(n_union_sample AS DOUBLE))
             * (CASE WHEN n_union_sample < 128
                     THEN CAST(n_union_sample AS DOUBLE)
                     ELSE 127.0 / hk END), 3) AS est_intersection
FROM agg
"""


@query("kmv_set_overlap", oracle=_KMV_OVERLAP_SQL)
def q_kmv_set_overlap(spark, sf_dir):
    """EXT — KMV set-operation synopsis (sampling.kmv_overlap_estimate,
    Beyer et al. SIGMOD 2007): Jaccard / |A∪B| / |A∩B| estimates for
    the ordering-customers vs all-customers key sets from two 128-row
    bottom-k samples ALONE — the audience-overlap / cross-corpus-
    contamination readout maintained samples give without rescanning
    data. The md5-uniform keys make every quantity a pure function of
    the key sets, so the whole readout hash-matches the ANSI oracle —
    the cross-engine-exact set algebra HLL sketches cannot offer.
    Everything after sample construction is synopsis-sized."""
    from .operators.sampling import bottomk_sample, kmv_overlap_estimate

    k = 128
    a = bottomk_sample(
        t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("user_id"))
        .distinct(),
        "user_id",
        k,
    )
    b = bottomk_sample(
        t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"))
        .distinct(),
        "user_id",
        k,
    )
    return kmv_overlap_estimate(a, b, "user_id", k)


_SSSP_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT src, dst, 1.0 / CAST(count(*) AS DOUBLE) AS w
  FROM ({_HOST_EDGES_SQL}) GROUP BY src, dst
),
seeds AS (
  SELECT DISTINCT src AS node FROM e
  WHERE src LIKE 'shop0.%' OR src LIKE 'shop1.%'
),
walk(node, cost, hops) AS (
  SELECT node, CAST(0 AS DOUBLE), 0 FROM seeds
  UNION ALL
  SELECT e.dst, w.cost + e.w, w.hops + 1
  FROM walk w JOIN e ON e.src = w.node WHERE w.hops < 3
)
SELECT node, round(min(cost), 9) AS cost FROM walk GROUP BY node
"""


@query("host_weighted_sssp", oracle=_SSSP_ORACLE)
def q_host_weighted_sssp(spark, sf_dir):
    """EXT — bounded-hop weighted shortest paths
    (graph.sssp_distances, distributed Bellman-Ford / Pregel
    relaxation): cheapest ≤3-hop route from the shop0/shop1 seed
    hosts where an edge costs the RECIPROCAL of its parallel-link
    count — heavily-linked host pairs are "close", the standard
    link-strength metric for crawl-authority propagation. The
    improved-frontier iteration computes the exact ≤k-hop minimum,
    and because every path's cost accumulates left-to-right in both
    engines, min() over the identical walk set is the identical
    double — hash-matched against the depth-bounded recursive-CTE
    oracle (the weighted sibling of host_distance_bfs)."""
    from .operators.graph import sssp_distances

    edges = (
        _host_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg((F.lit(1.0) / F.count(F.lit(1)).cast("double")).alias("cost"))
    )
    seeds = edges.where(
        F.col("src").startswith("shop0.") | F.col("src").startswith("shop1.")
    ).select(F.col("src").alias("node"))
    return sssp_distances(edges, seeds, max_hops=3)


@query("unigram_lm_vocab")  # EM fixpoint — rows-only
def q_unigram_lm_vocab(spark, sf_dir):
    """EXT — unigram-LM tokenizer induction (text_ops.unigram_lm_learn,
    Kudo ACL 2018 / SentencePiece 'unigram'): BPE's principled rival —
    pieces carry probabilities, segmentation maximizes likelihood.
    Corpus touched once (word-frequency table); EM + pruning work on
    the vocab table with the model-sized dict riding the closure (the
    bigram-LM / IVF-centroid discipline). Hard-EM + count-pruning are
    the documented public simplifications. Rows-only — iterative EM;
    Viterbi optimality, coverage, reassembly and determinism are
    pytest-pinned. Output: (piece, logprob, rank)."""
    return text_ops.unigram_lm_learn(
        t(spark, sf_dir, "documents"), vocab_size=120, iterations=3
    )


@query("unigram_encode_tokens")  # Viterbi DP per word — rows-only
def q_unigram_encode_tokens(spark, sf_dir):
    """EXT — maximum-likelihood tokenization with the learned unigram
    vocabulary (text_ops.unigram_encode): Viterbi-best pieces per
    word, one row per token in document order, folded to per-doc
    scalars for the gate: (doc_id, n_tokens, sum_logprob). Runs on
    the deterministic doc_id%10 demo slice (training sees the full
    corpus; encoding everything is linear and embarrassingly parallel
    — the slice keeps the sweep entry honest without making a Python
    DP the soak headline). Reassembly (pieces concatenate to the
    word) is pytest-pinned."""
    d = t(spark, sf_dir, "documents")
    vocab = text_ops.unigram_lm_learn(d, vocab_size=120, iterations=3)
    enc = text_ops.unigram_encode(
        d.where(F.col("doc_id") % 10 == 0), vocab
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.sum("logprob"), 6).alias("sum_logprob"),
    )


_BLOOM_SEMI_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
GROUP BY 1
"""


@query("bloom_semi_join", oracle=_BLOOM_SEMI_SQL)
def q_bloom_semi_join(spark, sf_dir):
    """EXT — Bloom-prefiltered semi-join (joins.
    bloom_filtered_semi_join): lineitem rows restricted to the
    size-1 parts (≈2% selectivity), screened inside the scan by a
    broadcast one-row Bloom bitmap BEFORE the exact semi-join — at
    100 TB the screen moves ~1/50th the bytes into the shuffle, and
    unlike Spark's adaptive runtime bloom the explicit bitmap can be
    persisted and reused across batches (the decontam index
    discipline). Result is EXACTLY the plain semi-join (no false
    negatives; false positives die in the exact join) — which IS the
    oracle; aggregated per returnflag for a bounded gate output.
    l_quantity is integral in the fixture, so the integer sum is
    fold-order-proof."""
    from .operators.joins import bloom_filtered_semi_join

    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag", "l_quantity"
    )
    p1 = t(spark, sf_dir, "part").where(F.col("p_size") == 1).select("p_partkey")
    out = bloom_filtered_semi_join(li, p1, "l_partkey", "p_partkey")
    return out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
    )


def _calibration_sql() -> str:
    n_bins = 10
    uni = (
        "CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)"
        " / 4294967296.0"
    )
    bs = ", ".join(
        f"quantile_cont(_s, {i / n_bins!r}) AS _b{i}" for i in range(1, n_bins)
    )
    bin_expr = "1 + " + " + ".join(
        f"(CASE WHEN _s > _b{i} THEN 1 ELSE 0 END)" for i in range(1, n_bins)
    )
    return f"""
WITH base AS (
  SELECT {uni} AS _s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS _p
  FROM events WHERE event_type IS NOT NULL
), bounds AS (
  SELECT {bs} FROM base
), tagged AS (
  SELECT CAST({bin_expr} AS BIGINT) AS bin,
         CAST(round(_s * 1000000000.0, 0) AS BIGINT) AS _q,
         CAST(_p AS BIGINT) AS _p
  FROM base CROSS JOIN bounds
), agg AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(_p) AS BIGINT) AS n_pos,
         CAST(sum(_q) AS BIGINT) AS _sq
  FROM tagged GROUP BY 1
)
SELECT bin, n, n_pos,
       round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 9) AS pos_rate,
       round(CAST(_sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000.0), 9)
         AS mean_score,
       round((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
             - (CAST(_sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000.0)), 9)
         AS gap
FROM agg
"""


@query("calibration_curve", oracle=_calibration_sql())
def q_calibration_curve(spark, sf_dir):
    """EXT — reliability diagram (profiling.calibration_curve, the
    calibration companion to classifier_auc): decile bins of a
    hash-uniform "model score" against the purchase label — a random
    scorer, whose per-bin positive rate sits at the base rate while
    mean_score climbs the deciles: the textbook UNCALIBRATED
    signature, stated exactly (nano-unit integer score sums, one
    division per readout) rather than approximately. Boundaries from
    one exact-percentile row (percentile ≡ quantile_cont, the pinned
    interpolation), closed-domain groupBy, no window."""
    from .operators.profiling import calibration_curve
    from .operators.sampling import hash_uniform

    e = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull())
        .select(
            hash_uniform(F.col("event_id")).alias("score"),
            (F.col("event_type") == "purchase").alias("is_purchase"),
        )
    )
    return calibration_curve(e, "score", "is_purchase", n_bins=10)


@query(
    "ks_drift_test",
    oracle="""
WITH av AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
  WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL
), bv AS (
  SELECT CAST(o_totalprice AS DOUBLE) * 1.1e0 AS v FROM orders
  WHERE o_orderkey % 2 = 1 AND o_totalprice IS NOT NULL
), per AS (
  SELECT v, CAST(SUM(ia) AS BIGINT) AS ca, CAST(SUM(ib) AS BIGINT) AS cb
  FROM (SELECT v, 1 AS ia, 0 AS ib FROM av
        UNION ALL SELECT v, 0 AS ia, 1 AS ib FROM bv)
  GROUP BY v
), cum AS (
  SELECT SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fa,
         SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fb
  FROM per
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
  FROM per
), gaps AS (
  SELECT MAX(abs(CAST(fa AS HUGEINT) * CAST(n_b AS HUGEINT)
              - CAST(fb AS HUGEINT) * CAST(n_a AS HUGEINT))) AS dnum
  FROM cum CROSS JOIN tot
)
SELECT n_a, n_b,
       round(CAST(dnum AS DOUBLE)
             / CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) AS DOUBLE),
             9) AS d,
       round(CAST(dnum AS DOUBLE)
             / CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) AS DOUBLE)
             * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                    / CAST(n_a + n_b AS DOUBLE)),
             9) AS ks_z
FROM tot CROSS JOIN gaps
""",
)
def q_ks_drift_test(spark, sf_dir):
    """EXT — two-sample Kolmogorov-Smirnov drift test (profiling.
    ks_test_2sample; Smirnov 1939) on the SAME drift scenario
    psi_drift monitors — even-orderkey prices as the reference
    snapshot, odd-orderkey prices inflated 10% as the current one —
    so the two monitors corroborate: PSI localizes drift to bins, KS
    tests the full CDFs bin-free. ECDF gaps are exact integers over
    the common denominator (HUGEINT/DECIMAL(38,0) both sides), one
    final division, rounded to 9 — hash-matched."""
    from .operators.profiling import ks_test_2sample

    o = t(spark, sf_dir, "orders")
    ref = o.where(F.col("o_orderkey") % 2 == 0).select("o_totalprice")
    cur = o.where(F.col("o_orderkey") % 2 == 1).select(
        (F.col("o_totalprice").cast("double") * F.lit(1.1)).alias(
            "o_totalprice"
        )
    )
    return ks_test_2sample(ref, cur, "o_totalprice")


@query(
    "mann_whitney_priority",
    oracle="""
WITH av AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_totalprice IS NOT NULL
), bv AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
  WHERE o_orderpriority = '5-LOW' AND o_totalprice IS NOT NULL
), per AS (
  SELECT v, CAST(SUM(ia) AS BIGINT) AS ca, CAST(SUM(ib) AS BIGINT) AS cb
  FROM (SELECT v, 1 AS ia, 0 AS ib FROM av
        UNION ALL SELECT v, 0 AS ia, 1 AS ib FROM bv)
  GROUP BY v
), cum AS (
  SELECT ca, cb, ca + cb AS c,
         COALESCE(SUM(ca + cb) OVER
           (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS p
  FROM per
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
         SUM(CAST(ca AS HUGEINT)
             * (2 * CAST(p AS HUGEINT) + CAST(c AS HUGEINT) + 1)) AS r2a,
         SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT) * CAST(c AS HUGEINT)
             - CAST(c AS HUGEINT)) AS ties
  FROM cum
)
SELECT n_a, n_b,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         round(CAST(r2a - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1)
                    AS DOUBLE) / 2.0e0, 9) END AS u,
       CASE WHEN n_a > 0 AND n_b > 0 AND
         (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0e0
          * ((CAST(n_a + n_b AS DOUBLE) + 1.0e0)
             - CAST(ties AS DOUBLE)
               / (CAST(n_a + n_b AS DOUBLE)
                  * (CAST(n_a + n_b AS DOUBLE) - 1.0e0)))) > 0 THEN
         round((CAST(r2a - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1)
                     AS DOUBLE) / 2.0e0
                - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0e0)
               / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0e0
                      * ((CAST(n_a + n_b AS DOUBLE) + 1.0e0)
                         - CAST(ties AS DOUBLE)
                           / (CAST(n_a + n_b AS DOUBLE)
                              * (CAST(n_a + n_b AS DOUBLE) - 1.0e0)))),
               9) END AS z
FROM tot
""",
)
def q_mann_whitney_priority(spark, sf_dir):
    """EXT — Mann-Whitney U rank-sum test (profiling.mann_whitney_u;
    Mann & Whitney 1947): do URGENT orders carry systematically
    different totals than LOW-priority ones? The nonparametric
    A/B-location companion to ab_test_purchase's z-test (that one
    compares Bernoulli rates; this one compares full value
    distributions rank-wise, tie-corrected). Doubled rank sums stay
    exact integers (HUGEINT/DECIMAL(38,0) both sides); one final
    division chain, rounded to 9 — hash-matched."""
    from .operators.profiling import mann_whitney_u

    o = t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_totalprice")
    b = o.where(F.col("o_orderpriority") == "5-LOW").select("o_totalprice")
    return mann_whitney_u(a, b, "o_totalprice")


@query(
    "gini_revenue_concentration",
    oracle="""
WITH spend AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS x
  FROM orders GROUP BY o_custkey
), per AS (
  SELECT CAST(round(x * 100) AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
  FROM spend WHERE x IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, c,
         COALESCE(SUM(c) OVER
           (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS p
  FROM per
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         SUM(CAST(v AS HUGEINT) * CAST(c AS HUGEINT)) AS t,
         SUM(CAST(v AS HUGEINT)
             * (CAST(c AS HUGEINT) * CAST(p AS HUGEINT)
                + CAST(c AS HUGEINT) * (CAST(c AS HUGEINT) + 1) // 2)) AS s
  FROM cum
)
SELECT n,
       CASE WHEN n > 0 AND t > 0 THEN
         round(CAST(2 * s - (CAST(n AS HUGEINT) + 1) * t AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * t AS DOUBLE), 9) END AS gini
FROM tot
""",
)
def q_gini_revenue_concentration(spark, sf_dir):
    """EXT — Gini concentration of per-customer revenue (profiling.
    gini_coefficient; Gini 1912, rank formula): the scalar Lorenz
    summary behind pareto_part_revenue's discrete 80/20 head — "how
    unequal is customer spend?" as one auditable number. Per-customer
    totals use the house decimal-sum trick (order-proof), quantize to
    cents, and the rank-weighted sums stay exact integers
    (HUGEINT/DECIMAL(38,0) both sides) until one final division,
    rounded to 9 — hash-matched."""
    from .operators.profiling import gini_coefficient

    spend = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("x")
        )
    )
    return gini_coefficient(spend, "x", unit_scale=100)


_DAILY_REV_SQL = """
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(round(CAST(SUM(CAST(v AS DECIMAL(30,6))) AS DOUBLE) * 100)
              AS BIGINT) AS x
  FROM vals GROUP BY 1
"""


@query(
    "cusum_shift_detection",
    oracle=f"""
WITH vals AS (
  SELECT o_orderdate AS ts,
         CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01'
              THEN CAST(o_totalprice AS DOUBLE) * 1.15e0
              ELSE CAST(o_totalprice AS DOUBLE) END AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), daily AS ({_DAILY_REV_SQL}),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS HUGEINT) AS t
  FROM daily
), staged AS (
  SELECT day, x, n,
         CAST(n AS HUGEINT) * CAST(x AS HUGEINT) - t
           - CAST(n AS HUGEINT) * 1000000 AS du,
         CAST(n AS HUGEINT) * CAST(x AS HUGEINT) - t
           + CAST(n AS HUGEINT) * 1000000 AS dd
  FROM daily CROSS JOIN tot
), sums AS (
  SELECT day, x, n,
         SUM(du) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cu,
         SUM(dd) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cd
  FROM staged
), cum AS (
  SELECT day, x, n,
         cu - LEAST(CAST(0 AS HUGEINT),
                    MIN(cu) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING))
           AS su,
         GREATEST(CAST(0 AS HUGEINT),
                  MAX(cd) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)) - cd
           AS sd
  FROM sums
)
SELECT day,
       CAST(x AS DOUBLE) / 100.0e0 AS x,
       CAST(su AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0e0) AS s_up,
       CAST(sd AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0e0) AS s_dn,
       su > CAST(n AS HUGEINT) * 50000000 AS alarm_up,
       sd > CAST(n AS HUGEINT) * 50000000 AS alarm_dn
FROM cum
""",
)
def q_cusum_shift_detection(spark, sf_dir):
    """EXT — two-sided CUSUM changepoint chart (timeseries.
    cusum_changepoints; Page 1954) over daily order revenue with a
    planted +15% level shift from 1999-01-01 — the small-persistent-
    shift scenario EWMA spike detection misses by design. The
    max(0, S+dev) recursion runs as its exact scan form (running sum
    minus running min, with the virtual C₀=0 in the extremes);
    n-scaled integer deviations keep every S_t an exact rational
    (DECIMAL(38,0)/HUGEINT) and the alarm compare integer-exact.
    slack = $10k/day, threshold = $500k — centering on the GLOBAL mean
    makes both one-sided charts informative: the lower chart alarms
    across the below-mean pre-shift regime, the upper across the
    post-shift regime, and the crossover day localizes the
    changepoint. Hash-matched per day."""
    from .operators.timeseries import cusum_changepoints

    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    shifted = o.select(
        F.col("o_orderdate").alias("ts"),
        F.when(
            F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"),
            F.col("o_totalprice").cast("double") * F.lit(1.15),
        )
        .otherwise(F.col("o_totalprice").cast("double"))
        .alias("v"),
    )
    return cusum_changepoints(
        shifted,
        ts_col="ts",
        value_col="v",
        unit_scale=100,
        slack_units=1_000_000,
        threshold_units=50_000_000,
    )


@query(
    "acf_daily_revenue",
    oracle=f"""
WITH vals AS (
  SELECT o_orderdate AS ts, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), daily AS ({_DAILY_REV_SQL}),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS HUGEINT) AS t
  FROM daily
), lags AS (SELECT CAST(range + 1 AS BIGINT) AS lag FROM range(0, 7)),
pairs AS (
  SELECT l.lag,
         CAST(tot.n AS HUGEINT) * CAST(a.x AS HUGEINT) - tot.t AS da,
         CAST(tot.n AS HUGEINT) * CAST(b.x AS HUGEINT) - tot.t AS db
  FROM daily a CROSS JOIN lags l CROSS JOIN tot
  JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
), num AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs, SUM(da * db) AS nm
  FROM pairs GROUP BY 1
), den AS (
  SELECT SUM((CAST(n AS HUGEINT) * CAST(x AS HUGEINT) - t)
             * (CAST(n AS HUGEINT) * CAST(x AS HUGEINT) - t)) AS dn
  FROM daily CROSS JOIN tot
)
SELECT l.lag, CAST(COALESCE(num.n_pairs, 0) AS BIGINT) AS n_pairs,
       CASE WHEN dn > 0 AND nm IS NOT NULL
            THEN round(CAST(nm AS DOUBLE) / CAST(dn AS DOUBLE), 9) END AS acf
FROM lags l LEFT JOIN num ON l.lag = num.lag CROSS JOIN den
""",
)
def q_acf_daily_revenue(spark, sf_dir):
    """EXT — sample autocorrelation of daily order revenue at lags
    1..7 (timeseries.autocorrelation; Box & Jenkins 1970) — the
    seasonality/persistence probe that decides whether the forecast
    family (holt_linear_forecast) needs a seasonal term. Mean
    subtraction stays integer by n-scaling; lag pairs come from a
    date-shift equi-join (no windows, no cartesian); one division per
    lag, rounded to 9 — hash-matched. TPC-H order dates are uniform,
    so the truthful readout is ≈0 at every lag: the null-hypothesis
    pin (seasonal_decompose_revenue plants the positive case)."""
    from .operators.timeseries import autocorrelation

    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    return autocorrelation(
        o.select(
            F.col("o_orderdate").alias("ts"),
            F.col("o_totalprice").cast("double").alias("v"),
        ),
        ts_col="ts",
        value_col="v",
        max_lag=7,
        unit_scale=100,
    )


@query(
    "seasonal_decompose_revenue",
    oracle=f"""
WITH vals AS (
  SELECT o_orderdate AS ts,
         CAST(o_totalprice AS DOUBLE)
           * (CASE WHEN dayofweek(o_orderdate) + 1 = 2
                   THEN 1.2e0 ELSE 1.0e0 END) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), daily AS ({_DAILY_REV_SQL}),
offs AS (SELECT range - 3 AS off FROM range(0, 7)),
shifted AS (
  SELECT d.day + CAST(o.off AS INT) AS day, d.x
  FROM daily d CROSS JOIN offs o
), neigh AS (
  SELECT day, CAST(SUM(x) AS HUGEINT) AS t7
  FROM shifted GROUP BY day HAVING count(*) = 7
), base AS (
  SELECT d.day, d.x, n.t7,
         7 * CAST(d.x AS HUGEINT) - n.t7 AS d7,
         CAST(dayofweek(d.day) + 1 AS BIGINT) AS dow
  FROM daily d LEFT JOIN neigh n ON d.day = n.day
), dowm AS (
  SELECT dow, SUM(d7) AS sd, CAST(count(*) AS BIGINT) AS m
  FROM base WHERE t7 IS NOT NULL GROUP BY dow
)
SELECT b.day, b.dow,
       CAST(b.x AS DOUBLE) / 100.0e0 AS x,
       CAST(b.t7 AS DOUBLE) / (7.0e0 * 100.0e0) AS trend,
       CAST(m.sd AS DOUBLE)
         / (7.0e0 * CAST(m.m AS DOUBLE) * 100.0e0) AS seasonal,
       CASE WHEN b.t7 IS NOT NULL AND m.sd IS NOT NULL THEN
         CAST(b.d7 AS DOUBLE) / (7.0e0 * 100.0e0)
           - CAST(m.sd AS DOUBLE)
             / (7.0e0 * CAST(m.m AS DOUBLE) * 100.0e0) END AS resid
FROM base b LEFT JOIN dowm m ON b.dow = m.dow
""",
)
def q_seasonal_decompose_revenue(spark, sf_dir):
    """EXT — classical additive seasonal decomposition (timeseries.
    seasonal_decompose; Macaulay 1931) of daily revenue with a PLANTED
    weekly cycle (+20% on Mondays — dayofweek 2 in the shared
    Spark/oracle 1=Sunday convention): the decomposition recovers it
    as a positive Monday seasonal with the other six below baseline.
    The 7-day trend sum, detrended 1/7-units and day-of-week means
    all stay exact integers (DECIMAL(38,0)/HUGEINT) until one IEEE
    division per readout — hash-matched per day. No windows: the
    moving average is a constant 7-offset date equi-join."""
    from .operators.timeseries import seasonal_decompose

    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    planted = o.select(
        F.col("o_orderdate").alias("ts"),
        (
            F.col("o_totalprice").cast("double")
            * F.when(F.dayofweek("o_orderdate") == 2, F.lit(1.2)).otherwise(
                F.lit(1.0)
            )
        ).alias("v"),
    )
    return seasonal_decompose(
        planted, ts_col="ts", value_col="v", unit_scale=100
    )


@query(
    "target_encoding_priority",
    oracle="""
WITH base AS (
  SELECT CAST(o_orderpriority AS VARCHAR) AS cat,
         CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS y
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
), per AS (
  SELECT cat, CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS HUGEINT) AS sy
  FROM base GROUP BY 1
), g AS (
  SELECT CAST(count(*) AS HUGEINT) AS nn, CAST(SUM(y) AS HUGEINT) AS t
  FROM base
)
SELECT cat AS category, n,
       CAST(nn * sy + 10 * t AS DOUBLE)
         / CAST(nn * (CAST(n AS HUGEINT) + 10) * 100 AS DOUBLE) AS enc
FROM per CROSS JOIN g
""",
)
def q_target_encoding_priority(spark, sf_dir):
    """EXT — smoothed mean target encoding (features.target_encode;
    Micci-Barreca 2001) of order priority against order value: the
    shrinkage estimator that replaces a high-cardinality categorical
    with a leak-resistant numeric before tabular model training —
    rare categories pull toward the global mean, frequent ones toward
    their own. Cents-quantized integer sums keep numerator and
    denominator exact (DECIMAL(38,0)/HUGEINT); ONE division, no
    rounding step — hash-matched."""
    from .operators.features import target_encode

    return target_encode(
        t(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_totalprice",
        smoothing=10,
        unit_scale=100,
    )


@query(
    "hashed_text_features",
    oracle=features.hashed_features_sql("documents", "doc_id", "text", 256),
)
def q_hashed_text_features(spark, sf_dir):
    """EXT — hashing-trick bag-of-words features (features.
    hashed_features; Weinberger et al. ICML 2009): fixed-dimension
    sparse token vectors with NO vocabulary build — the feature
    front-end for the NB/bigram-LM scorer family when the vocabulary
    itself would be a shuffle (the hash IS the dictionary). md5
    bucket + parity sign hash are the engine-portable
    deterministic_sample discipline, restated verbatim in the oracle;
    signed counts are exact integers — hash-matched long-form."""
    from .operators.features import hashed_features

    return hashed_features(
        t(spark, sf_dir, "documents"), "doc_id", "text", dim=256
    )


@query(
    "skyline_parts",
    oracle="""
SELECT a.p_partkey, CAST(a.p_retailprice AS DOUBLE) AS p_retailprice,
       CAST(a.p_size AS BIGINT) AS p_size
FROM part a
WHERE a.p_retailprice IS NOT NULL AND a.p_size IS NOT NULL
  AND NOT EXISTS (
    SELECT 1 FROM part b
    WHERE b.p_retailprice IS NOT NULL AND b.p_size IS NOT NULL
      AND b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
      AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
""",
)
def q_skyline_parts(spark, sf_dir):
    """EXT — skyline / Pareto-optimal selection (sampling.skyline;
    Börzsönyi, Kossmann & Stocker ICDE 2001): the parts no other part
    beats on BOTH price (lower better) and size (higher better) — the
    multi-objective shortlist no single ORDER BY expresses. The Spark
    plan is the published partition-and-merge identity (local skyline
    per Arrow batch, one merge pass over the union — dominance is
    transitive, so local losers are global losers); the oracle is the
    textbook quadratic NOT EXISTS dominance predicate, tractable at
    gate scale only — the two compute the same unique set. Pure
    comparisons, no arithmetic — hash-matched."""
    from .operators.sampling import skyline

    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    return skyline(p, minimize=["p_retailprice"], maximize=["p_size"])


@query("isotonic_calibration")
def q_isotonic_calibration(spark, sf_dir):
    """EXT — isotonic (PAV) score calibration (features.isotonic_fit;
    Ayer et al. 1955, Zadrozny & Elkan KDD 2002): the monotone upgrade
    of calibration_curve's fixed deciles, fitted on a synthetic
    well-ordered scorer (hash-uniform noise + 0.3·label — a stand-in
    for a trained quality scorer whose ranking is informative but
    whose raw scores need calibrating). Scores pre-round to 3 decimals
    (the classifier_auc distinct-domain contract); each pool's rate is
    one exact-integer division. Rows-only gate (PAV is a fixpoint no
    SQL oracle states); the pytest pins PAV against an independent
    reference implementation plus the monotonicity and pool-mean
    invariants."""
    from .operators.features import isotonic_fit
    from .operators.sampling import hash_uniform

    e = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull())
        .select(
            (
                F.round(
                    hash_uniform(F.col("event_id")) * F.lit(0.7)
                    + (F.col("event_type") == "purchase").cast("double")
                    * F.lit(0.3),
                    3,
                )
            ).alias("score"),
            (F.col("event_type") == "purchase").alias("is_purchase"),
        )
    )
    return isotonic_fit(e, "score", "is_purchase")


@query("gif_decode_features")  # real LZW GIF decode — rows-only
def q_gif_decode_features(spark, sf_dir):
    """Decode → featurize over REAL GIF bytes: payloads are synthesized
    per doc_id as actual GIF89a streams (palette color table +
    variable-width LZW per the public spec) by the stdlib encoder and
    decoded by the stdlib decoder (operators/gif_codec.py) inside the
    same Arrow-batched mapInPandas stage the BMP/PPM/PNG/JPEG paths
    use. GIF here is LOSSLESS (the synthesized images stay ≤256 unique
    colors), so features equal the BMP/PPM/PNG decode bit-for-bit —
    pinned in tests/test_gif_codec.py along with a hand-assembled
    LZW stream whose codes were packed manually from the spec.
    Deterministic synth ⟹ stable rows-only check. Reference analogue:
    IMAGE columns shipped opaquely in BigQueryTableRowDoFn.java:42-46."""
    from .operators.multimodal import attach_media, extract_features

    d = attach_media(
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 5)
        .repartition(32, "doc_id"),
        container="gif",
    )
    return extract_features(d).select(
        "doc_id", "byte_len", "width", "height", "mean_px"
    )


def _hilbert_oracle() -> str:
    from .operators.layout import hilbert_sql

    base = """
SELECT l_orderkey, l_linenumber,
       LEAST(CAST(FLOOR((CAST(l_partkey AS DOUBLE) - mn0) * 256.0 / (mx0 - mn0 + 1e-9)) AS BIGINT), 255) AS b0,
       LEAST(CAST(FLOOR((CAST(l_suppkey AS DOUBLE) - mn1) * 256.0 / (mx1 - mn1 + 1e-9)) AS BIGINT), 255) AS b1
FROM lineitem, (
  SELECT min(CAST(l_partkey AS DOUBLE)) AS mn0, max(CAST(l_partkey AS DOUBLE)) AS mx0,
         min(CAST(l_suppkey AS DOUBLE)) AS mn1, max(CAST(l_suppkey AS DOUBLE)) AS mx1
  FROM lineitem) stats
"""
    return (
        "WITH "
        + hilbert_sql(base, "b0", "b1", 8)
        + "\nSELECT l_orderkey, l_linenumber, hd AS hval FROM hfinal"
    )


@query("hilbert_layout", oracle=_hilbert_oracle())
def q_hilbert_layout(spark, sf_dir):
    """EXT — Hilbert-curve clustering key (layout.hilbert_key; Hilbert
    1891, the xy→d rotation transform) over the same two scan-filter
    columns zorder_key morton-interleaves: the locality upgrade —
    every unit curve step is an ADJACENT grid cell, so range scans
    touch fewer files at equal grid resolution (adjacency and the
    pruning win are pinned in tests/test_layout.py). Pure integer bit
    math, per-level rotations as chained projections (Spark) /
    chained CTEs (oracle) — the single-nested-expression form is
    exponentially large in bits and never finishes analysis. Exact
    hash-match."""
    from .operators.layout import hilbert_key

    li = t(spark, sf_dir, "lineitem")
    return hilbert_key(li, ["l_partkey", "l_suppkey"], bits=8).select(
        "l_orderkey", "l_linenumber", F.col("_h").alias("hval")
    )


def _rp_oracle() -> str:
    from .operators.similarity import random_projection_sql

    return random_projection_sql("embeddings", "vec_id", "embedding", 8, "jl-r11")


@query("embedding_random_projection", oracle=_rp_oracle())
def q_embedding_random_projection(spark, sf_dir):
    """EXT — Johnson-Lindenstrauss random projection (similarity.
    random_projection; Achlioptas JCSS 2003, Rademacher signs): 64-dim
    embeddings down to 8 JL components with a NEVER-MATERIALIZED ±1
    matrix — sign(i,j) is an md5 hex-digit parity, so every executor
    agrees without broadcasting anything and the oracle restates the
    identical expression. Components are exact integer sums over the
    module's 1e7-quantized embedding discipline; one IEEE division by
    the shared 1e7·√8 literal — hash-matched including the double
    readout. The data-independent sibling of embedding_pca (no
    training pass, no sample, no driver state)."""
    from .operators.similarity import random_projection

    return random_projection(
        t(spark, sf_dir, "embeddings"),
        id_col="vec_id",
        vec_col="embedding",
        out_dim=8,
        seed="jl-r11",
    )


@query(
    "connected_components_star",
    oracle="""
WITH RECURSIVE ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), pairs AS (
  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS w
  FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
), dom AS (
  SELECT sa, sb, w FROM pairs
  JOIN supplier na ON sa = na.s_suppkey
  JOIN supplier nb ON sb = nb.s_suppkey
  WHERE na.s_nationkey = nb.s_nationkey
), edges AS (
  SELECT sa AS src, sb AS dst FROM dom
  WHERE w >= (SELECT quantile_cont(w, 0.5) FROM dom)
), und AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
), reach AS (
  SELECT src AS node, src AS r FROM und
  UNION
  SELECT reach.node, u.dst FROM reach JOIN und u ON u.src = reach.r
)
SELECT node, CAST(MIN(r) AS BIGINT) AS component FROM reach GROUP BY node
""",
)
def q_connected_components_star(spark, sf_dir):
    """EXT — connected components by alternating large-star/small-star
    contraction (graph.connected_components; Kiveris et al. SoCC 2014)
    on the domestic co-supply graph: O(log n) ROUNDS independent of
    graph diameter — the scale path where label propagation and BFS
    pay O(diameter) rounds (a 1000-hop chain converges in ~10 star
    rounds; pinned in tests/test_triangles.py). Component label = the
    component's minimum node id — unique and deterministic, so the
    fixpoint hash-matches the oracle's recursive-CTE min-reachable
    closure over the identical edge construction (the kcore_supplier
    graph: nation-disjoint blocks give real multi-component
    structure)."""
    from .operators.graph import connected_components

    return connected_components(_supplier_domestic_edges(spark, sf_dir))


_SKYLINE_PARTS_SQL = """
SELECT a.p_partkey, CAST(a.p_retailprice AS DOUBLE) AS p_retailprice,
       CAST(a.p_size AS BIGINT) AS p_size
FROM part a
WHERE a.p_retailprice IS NOT NULL AND a.p_size IS NOT NULL
  AND NOT EXISTS (
    SELECT 1 FROM part b
    WHERE b.p_retailprice IS NOT NULL AND b.p_size IS NOT NULL
      AND b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
      AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
"""


@query("streaming_skyline", oracle=_SKYLINE_PARTS_SQL)
def q_streaming_skyline(spark, sf_dir):
    """W-EXT — the Pareto-optimal set in STREAMING form
    (streaming/jobs.py:streaming_skyline): parts arrive as one
    micro-batch (a one-partition input; multi-batch folds are
    pytest-pinned) whose local skyline folds into the standing
    skyline — the same merge identity the
    batch operator's partition phase rests on makes the fold EXACT
    for inserts, so this streaming query hash-matches the identical
    batch NOT-EXISTS oracle skyline_parts uses. State is the answer
    itself: bounded by the skyline's size, not the stream's."""
    from .streaming.jobs import streaming_skyline

    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    return streaming_skyline(
        spark,
        p.repartition(1),
        minimize=["p_retailprice"],
        maximize=["p_size"],
    ).select("p_partkey", "p_retailprice", "p_size")


@query(
    "vocab_js_divergence",
    oracle="""
WITH wa AS (
  SELECT t.w AS k FROM documents,
       LATERAL unnest(string_split(lower(text), ' ')) AS t(w)
  WHERE doc_id % 2 = 0 AND text IS NOT NULL AND t.w <> ''
), wb AS (
  SELECT t.w AS k FROM documents,
       LATERAL unnest(string_split(lower(text), ' ')) AS t(w)
  WHERE doc_id % 2 = 1 AND text IS NOT NULL AND t.w <> ''
), per AS (
  SELECT k, CAST(SUM(ia) AS BIGINT) AS ca, CAST(SUM(ib) AS BIGINT) AS cb
  FROM (SELECT k, 1 AS ia, 0 AS ib FROM wa
        UNION ALL SELECT k, 0 AS ia, 1 AS ib FROM wb)
  GROUP BY k
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
         CAST(count(*) AS BIGINT) AS n_cats
  FROM per
), sums AS (
  SELECT
    COALESCE(SUM(CASE WHEN ca > 0 THEN CAST(ca AS HUGEINT) * CAST(round(ln(
      2.0e0 * CAST(ca AS DOUBLE) * CAST(n_b AS DOUBLE)
      / (CAST(ca AS DOUBLE) * CAST(n_b AS DOUBLE)
         + CAST(cb AS DOUBLE) * CAST(n_a AS DOUBLE))) * 1000000.0e0)
      AS BIGINT) ELSE 0 END), 0) AS ma,
    COALESCE(SUM(CASE WHEN cb > 0 THEN CAST(cb AS HUGEINT) * CAST(round(ln(
      2.0e0 * CAST(cb AS DOUBLE) * CAST(n_a AS DOUBLE)
      / (CAST(ca AS DOUBLE) * CAST(n_b AS DOUBLE)
         + CAST(cb AS DOUBLE) * CAST(n_a AS DOUBLE))) * 1000000.0e0)
      AS BIGINT) ELSE 0 END), 0) AS mb
  FROM per CROSS JOIN tot
)
SELECT n_a, n_b, n_cats,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         round(CAST(ma AS DOUBLE) / (2000000.0e0 * CAST(n_a AS DOUBLE))
               + CAST(mb AS DOUBLE) / (2000000.0e0 * CAST(n_b AS DOUBLE)),
               9) END AS jsd_nats
FROM tot CROSS JOIN sums
""",
)
def q_vocab_js_divergence(spark, sf_dir):
    """EXT — Jensen-Shannon vocabulary drift (profiling.js_divergence;
    Lin 1991) between the even- and odd-doc halves of the corpus: the
    categorical drift monitor next to ks_drift_test (ordered values)
    and psi_drift (binned values) — symmetric, finite on disjoint
    vocabularies (plain KL diverges), bounded by ln 2. The log-ratio
    argument collapses to all-integer counts, each log micro-
    quantizes to int64 before its count-weighted integer sum (the
    mutual_information discipline) — hash-matched. The honest readout
    on a same-distribution split is ≈0; the disjoint-vocab ln 2 pin
    lives in pytest."""
    from .operators.profiling import js_divergence

    words = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("k"),
        )
        .where(F.col("k") != "")
    )
    return js_divergence(
        words.where(F.col("doc_id") % 2 == 0),
        words.where(F.col("doc_id") % 2 == 1),
        "k",
    )


@query(
    "trimmed_mean_prices",
    oracle="""
WITH v AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
  WHERE o_totalprice IS NOT NULL
), b AS (
  SELECT quantile_cont(x, [0.05, 0.95]) AS bs FROM v
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(count(CASE WHEN x >= bs[1] AND x <= bs[2] THEN 1 END) AS BIGINT)
         AS n_kept,
       MIN(bs[1]) AS p_lo, MIN(bs[2]) AS p_hi,
       round(CAST(SUM(CASE WHEN x >= bs[1] AND x <= bs[2]
                      THEN CAST(x AS DECIMAL(30,6)) END) AS DOUBLE)
             / CAST(count(CASE WHEN x >= bs[1] AND x <= bs[2] THEN 1 END)
                    AS DOUBLE), 9) AS trimmed_mean,
       round(CAST(SUM(CAST(LEAST(GREATEST(x, bs[1]), bs[2])
                           AS DECIMAL(30,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 9) AS winsorized_mean
FROM v CROSS JOIN b
""",
)
def q_trimmed_mean_prices(spark, sf_dir):
    """EXT — trimmed and winsorized means of order value in one pass
    (profiling.trimmed_mean; Tukey's robust location estimators): the
    READOUT companions to the winsorize_prices row transform — what a
    quality dashboard shows when outliers poison the plain mean.
    Bounds from ONE array-percentile aggregate (pinned R-7 ≡
    quantile_cont), exact decimal sums, one division per readout —
    hash-matched."""
    from .operators.profiling import trimmed_mean

    return trimmed_mean(
        t(spark, sf_dir, "orders"), "o_totalprice", lo=0.05, hi=0.95
    )


@query("soundex_blocking")  # phonetic key — no SQL oracle, rows-only
def q_soundex_blocking(spark, sf_dir):
    """EXT — phonetic (Soundex) blocking for record linkage (linkage.
    soundex_blocking_pairs; Russell & Odell, public domain): customer
    names that SOUND alike pair up even across large edit distances —
    the third candidate-generation axis next to FastSS typo variants
    and sorted-neighborhood prefix windows. Spark's built-in JVM
    soundex computes the key; no SQL oracle (DuckDB lacks soundex and
    the h/w-separator rule defeats regexp restatement) — the key is
    pinned against an independent pure-Python implementation of the
    published algorithm in pytest, with the planted Smith/Smyth
    co-block catch. Rows-only gate."""
    from .operators.linkage import soundex_blocking_pairs

    # TPC-H names are "Customer#NNNNNNNNN" — phonetically degenerate —
    # so the fixture maps keys onto a stem list with PLANTED phonetic
    # twins (Smith/Smyth, Robert/Rupert ... land in shared blocks);
    # the %50 thinning keeps block sizes (and the pair fan-out)
    # bounded across scale factors
    stems = [
        "Smith", "Smyth", "Johnson", "Jonson", "Robert", "Rupert",
        "Miller", "Mueller", "Garcia", "Gracia", "Tanaka", "Tanack",
    ]
    c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 50 == 0)
        .select(
            "c_custkey",
            F.element_at(
                F.array(*[F.lit(s) for s in stems]),
                (F.col("c_custkey") % len(stems)).cast("int") + 1,
            ).alias("name"),
        )
    )
    return soundex_blocking_pairs(c, "name", "c_custkey", max_block=400)


_KN_SCORES_SQL = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
bg AS (
  SELECT doc_id, ws[CAST(i AS BIGINT)] AS w1, ws[CAST(i AS BIGINT)+1] AS w2
  FROM w JOIN generate_series(1, 4000) g(i) ON i <= len(ws) - 1
),
lm AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
  FROM bg WHERE doc_id % 10 = 1 GROUP BY 1, 2
  HAVING count(*) >= 2
),
ctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1p_fwd
  FROM lm GROUP BY 1
),
cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bwd FROM lm GROUP BY 1),
sca AS (
  SELECT CAST((SELECT count(*) FROM lm) AS BIGINT) AS t,
         CAST((SELECT count(DISTINCT w)
               FROM (SELECT w1 AS w FROM lm UNION ALL SELECT w2 FROM lm))
              AS BIGINT) AS v
),
sc AS (
  SELECT b.doc_id,
         CAST(round(ln(
           CASE WHEN c.c1 IS NOT NULL AND c.c1 > 0 THEN
             GREATEST(CAST(COALESCE(l.c12, 0) AS DOUBLE) - 0.75e0, 0.0e0)
               / CAST(c.c1 AS DOUBLE)
             + 0.75e0 * CAST(c.n1p_fwd AS DOUBLE) / CAST(c.c1 AS DOUBLE)
               * ((CAST(COALESCE(k.n1p_bwd, 0) AS DOUBLE) + 1.0e0)
                  / (CAST(s.t AS DOUBLE) + CAST(s.v AS DOUBLE)))
           ELSE
             (CAST(COALESCE(k.n1p_bwd, 0) AS DOUBLE) + 1.0e0)
               / (CAST(s.t AS DOUBLE) + CAST(s.v AS DOUBLE))
           END) * 1000000.0e0) AS BIGINT) AS lp
  FROM bg b
  LEFT JOIN lm l ON b.w1 = l.w1 AND b.w2 = l.w2
  LEFT JOIN ctx c ON b.w1 = c.w1
  LEFT JOIN cont k ON b.w2 = k.w2
  CROSS JOIN sca s
  WHERE b.doc_id % 10 = 0
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(lp) AS BIGINT) AS logprob_micro,
       CAST(SUM(lp) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0)
         AS avg_logprob
FROM sc GROUP BY doc_id
"""


@query("kneser_ney_scores", oracle=_KN_SCORES_SQL)
def q_kneser_ney_scores(spark, sf_dir):
    """EXT — interpolated Kneser-Ney LM fluency scores (text.
    kneser_ney_lm_scores; Kneser & Ney 1995, Chen & Goodman 1999): the
    quality upgrade over lm_quality_scores' add-½ model on the SAME
    train/score split (reference slice %10==1, target %10==0, same
    min_count pruning) — KN discounts seen bigrams by 0.75 and backs
    off to CONTINUATION probability, fixing add-k's frequent-but-
    context-bound failure mode. Every model table derives from the
    one persistable count artifact; P is two correctly-rounded
    divisions plus a sum, micro-quantized to int64 per bigram before
    the per-document integer fold — hash-matched."""
    from .operators.text import kneser_ney_lm_scores, ngram_lm_counts

    d = t(spark, sf_dir, "documents")
    lm = ngram_lm_counts(d.where(F.col("doc_id") % 10 == 1), min_count=2)
    return kneser_ney_lm_scores(
        d.where(F.col("doc_id") % 10 == 0), lm, discount=0.75
    )


@query(
    "unseen_mass_estimate",
    oracle="""
WITH words AS (
  SELECT t.w AS w FROM documents,
       LATERAL unnest(string_split(lower(text), ' ')) AS t(w)
  WHERE text IS NOT NULL AND t.w <> ''
), per AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w)
SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS singletons,
       CASE WHEN SUM(c) > 0 THEN
         CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0) AS DOUBLE)
           / CAST(SUM(c) AS DOUBLE) END AS p_unseen
FROM per
""",
)
def q_unseen_mass_estimate(spark, sf_dir):
    """EXT — Good-Turing unseen-probability mass (text.
    unseen_mass_estimate; Good 1953): P₀ = singletons/tokens — the
    one-row "is this corpus big enough" coverage readout, and exactly
    the mass Kneser-Ney's discount reserves for its backoff path (the
    two queries corroborate). Exact integer ratio, one division —
    hash-matched."""
    from .operators.text import unseen_mass_estimate

    return unseen_mass_estimate(t(spark, sf_dir, "documents"))


@query(
    "zipf_slope",
    oracle="""
WITH words AS (
  SELECT t.w AS w FROM documents,
       LATERAL unnest(string_split(lower(text), ' ')) AS t(w)
  WHERE text IS NOT NULL AND t.w <> ''
), per AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w),
ranked AS (
  SELECT row_number() OVER (ORDER BY c DESC, w ASC) AS r, c FROM per
), pts AS (
  SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS x,
         CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS y
  FROM ranked
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n_words,
         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
         SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
  FROM pts
)
SELECT n_words,
       CASE WHEN n_words > 1
              AND CAST(CAST(n_words AS HUGEINT) * sxx - sx * sx AS DOUBLE) <> 0
            THEN round(
              CAST(CAST(n_words AS HUGEINT) * sxy - sx * sy AS DOUBLE)
              / CAST(CAST(n_words AS HUGEINT) * sxx - sx * sx AS DOUBLE), 9)
       END AS slope,
       CASE WHEN n_words > 1
              AND CAST(CAST(n_words AS HUGEINT) * sxx - sx * sx AS DOUBLE) <> 0
            THEN round(
              (CAST(sy AS DOUBLE)
               - (CAST(CAST(n_words AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                  / CAST(CAST(n_words AS HUGEINT) * sxx - sx * sx AS DOUBLE))
                 * CAST(sx AS DOUBLE))
              / (CAST(n_words AS DOUBLE) * 1000000.0e0), 9)
       END AS intercept
FROM sums
""",
)
def q_zipf_slope(spark, sf_dir):
    """EXT — Zipf's-law frequency-spectrum fit (text.zipf_slope; Zipf
    1949): the ln(freq)-vs-ln(rank) least-squares slope over the full
    vocabulary — natural text sits near −1, templated/boilerplate
    corpora flatten, synthetic spam steepens; a one-row corpus
    fingerprint next to unseen_mass_estimate. Ranks are total-ordered
    (freq desc, word asc) and assigned by the range-exchange +
    per-partition-offset path (layout.global_row_ids — vocabulary
    grows with the corpus under Heaps' law, so the naive ordered
    window the ORACLE uses would serialize it through one task); both
    coordinates micro-quantize to int64, the closed-form sums fold in
    DECIMAL(38,0)/HUGEINT, scales cancel in the ratio —
    hash-matched."""
    from .operators.text import zipf_slope

    return zipf_slope(t(spark, sf_dir, "documents"))


@query(
    "column_entropy_profile",
    oracle="""
WITH le AS (
  SELECT CAST(lang AS VARCHAR) AS v FROM documents WHERE lang IS NOT NULL
), se AS (
  SELECT CAST(source AS VARCHAR) AS v FROM documents WHERE source IS NOT NULL
), pe AS (
  SELECT CAST(o_orderpriority AS VARCHAR) AS v FROM orders
  WHERE o_orderpriority IS NOT NULL
), folded AS (
  SELECT 'lang' AS col_name, v FROM le
  UNION ALL SELECT 'source', v FROM se
  UNION ALL SELECT 'o_orderpriority', v FROM pe
), per AS (
  SELECT col_name, v, CAST(count(*) AS BIGINT) AS c
  FROM folded GROUP BY 1, 2
)
SELECT col_name,
       CAST(SUM(c) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CASE WHEN SUM(c) > 0 THEN
         round(ln(CAST(SUM(c) AS DOUBLE))
               - CAST(SUM(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0e0)
                                   AS BIGINT)) AS DOUBLE)
                 / (CAST(SUM(c) AS DOUBLE) * 1000000.0e0), 9) END
         AS entropy_nats,
       CASE WHEN SUM(c) > 0 AND count(*) > 1 THEN
         round((ln(CAST(SUM(c) AS DOUBLE))
                - CAST(SUM(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0e0)
                                    AS BIGINT)) AS DOUBLE)
                  / (CAST(SUM(c) AS DOUBLE) * 1000000.0e0))
               / ln(CAST(count(*) AS DOUBLE)), 9) END
         AS norm_entropy
FROM per GROUP BY col_name
""",
)
def q_column_entropy_profile(spark, sf_dir):
    """EXT — per-column Shannon entropy profile (profiling.
    column_entropy_profile; Shannon 1948) over documents.lang,
    documents.source and orders.o_orderpriority — the information-
    density companion to table_profile's distinct counts: how evenly
    the mass spreads, normalized against the uniform maximum.
    H = ln N − (Σ c·ln c)/N over exact integer counts with the
    micro-log int64 fold — hash-matched per column. The Spark side
    unions per-column single-row folds (the profile shape), the
    oracle folds one melted stream — same cells either way."""
    from .operators.profiling import column_entropy_profile

    docs = column_entropy_profile(
        t(spark, sf_dir, "documents"), ["lang", "source"]
    )
    orders = column_entropy_profile(
        t(spark, sf_dir, "orders"), ["o_orderpriority"]
    )
    return docs.unionByName(orders)


@query(
    "streaming_connected_components",
    oracle="""
WITH RECURSIVE ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), pairs AS (
  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS w
  FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
), dom AS (
  SELECT sa, sb, w FROM pairs
  JOIN supplier na ON sa = na.s_suppkey
  JOIN supplier nb ON sb = nb.s_suppkey
  WHERE na.s_nationkey = nb.s_nationkey
), edges AS (
  SELECT sa AS src, sb AS dst FROM dom
  WHERE w >= (SELECT quantile_cont(w, 0.5) FROM dom)
), und AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
), reach AS (
  SELECT src AS node, src AS r FROM und
  UNION
  SELECT reach.node, u.dst FROM reach JOIN und u ON u.src = reach.r
)
SELECT node, CAST(MIN(r) AS BIGINT) AS component FROM reach GROUP BY node
""",
)
def q_streaming_connected_components(spark, sf_dir):
    """W-EXT — connected components in STREAMING form (streaming/
    jobs.py:streaming_connected_components): the co-supply edges
    arrive as one micro-batch (a one-partition input; multi-batch
    folds are pytest-pinned) that folds into the standing (node,
    component) labeling — exact by the contraction
    identity CC(E₁ ∪ E₂) = CC(star(E₁) ∪ E₂): a component's star
    edges are connectivity-equivalent to its originals, so each fold
    re-runs the batch star-contraction operator on |V| + |batch|
    edges, never the history. Hash-matches the SAME recursive-CTE
    min-reachable oracle the batch query uses."""
    from .streaming.jobs import streaming_connected_components

    e = _supplier_domestic_edges(spark, sf_dir)
    return streaming_connected_components(spark, e.repartition(1))


@query(
    "theil_sen_trend",
    oracle=f"""
WITH vals AS (
  SELECT o_orderdate AS ts,
         CASE WHEN day(o_orderdate) = 1
              THEN CAST(o_totalprice AS DOUBLE) * 5.0e0
              ELSE CAST(o_totalprice AS DOUBLE) END AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), daily AS ({_DAILY_REV_SQL}),
origin AS (SELECT min(day) AS d0 FROM daily),
idx AS (
  SELECT CAST(datediff('day', d0, day) AS BIGINT) AS i,
         CAST(x AS DOUBLE) / 100.0e0 AS xv
  FROM daily CROSS JOIN origin
), pairs AS (
  SELECT (b.xv - a.xv) / CAST(b.i - a.i AS DOUBLE) AS s
  FROM idx a JOIN idx b ON a.i < b.i
), sl AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         quantile_cont(s, 0.5) AS slope
  FROM pairs
), ic AS (
  SELECT quantile_cont(xv - slope * CAST(i AS DOUBLE), 0.5) AS icept
  FROM idx CROSS JOIN sl
), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
SELECT n_days, n_pairs,
       CASE WHEN n_days > 1 THEN round(slope, 9) END AS slope,
       CASE WHEN n_days > 1 THEN round(icept, 9) END AS intercept
FROM nd CROSS JOIN sl CROSS JOIN ic
""",
)
def q_theil_sen_trend(spark, sf_dir):
    """EXT — Theil-Sen robust trend (timeseries.theil_sen_trend; Theil
    1950, Sen 1968) of daily revenue with every month's 1st CORRUPTED
    ×5 (a recurring billing-batch artifact — the realistic outlier
    pattern): the median-of-pairwise-slopes estimate stays on the true
    flat trend while a least-squares fit chases the spikes
    (pytest-pinned on a planted-slope series). Pair slopes are single
    IEEE divisions of exact integer daily totals at DAY grain
    (calendar²-bounded, never rows); medians are the pinned R-7
    percentile ≡ quantile_cont — hash-matched."""
    from .operators.timeseries import theil_sen_trend

    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    planted = o.select(
        F.col("o_orderdate").alias("ts"),
        F.when(
            F.dayofmonth("o_orderdate") == 1,
            F.col("o_totalprice").cast("double") * F.lit(5.0),
        )
        .otherwise(F.col("o_totalprice").cast("double"))
        .alias("v"),
    )
    return theil_sen_trend(planted, ts_col="ts", value_col="v")


@query("image_channel_histogram")  # real decode — rows-only
def q_image_channel_histogram(spark, sf_dir):
    """EXT — per-channel intensity histograms over REAL decoded pixels
    (multimodal.extract_channel_histograms): the color-distribution
    feature for palette-level near-dup screening and exposure QA,
    computed in the same Arrow-batched decode stage as
    multimodal_features, over the full four-container lossless mix
    (BMP/PPM/PNG/GIF share identical pixels by synthesis). Exact
    integer pixel counts, deterministic per payload — rows-only gate;
    histogram-sum-equals-pixel-count and cross-container equality are
    pinned in pytest."""
    from .operators.multimodal import attach_media, extract_channel_histograms

    d = attach_media(
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 3)
        .repartition(32, "doc_id"),
    )
    return extract_channel_histograms(d, n_bins=8)


@query(
    "weighted_median_price",
    oracle="""
WITH raw AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS v,
         CAST(round(CAST(l_quantity AS DOUBLE)) AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
), per AS (
  SELECT v, CAST(SUM(w) AS BIGINT) AS sw
  FROM raw WHERE w > 0
  GROUP BY 1
), cum AS (
  SELECT v, SUM(sw) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw
  FROM per
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(sw), 0) AS BIGINT) AS total_w
  FROM per
), med AS (
  SELECT MIN(v) AS m FROM cum CROSS JOIN tot WHERE 2 * cw >= total_w
)
SELECT n, total_w, CASE WHEN total_w > 0 THEN m END AS wmedian
FROM tot CROSS JOIN med
""",
)
def q_weighted_median_price(spark, sf_dir):
    """EXT — quantity-weighted median line price (profiling.
    weighted_median): "the price at which half the UNITS trade" — a
    different center than the row median whenever quantity correlates
    with price. Lower-median convention (always an observed value,
    pure-integer half-total compare ``2·cumw ≥ total`` — exactly
    restatable); weights round to integers BEFORE the positivity
    filter on BOTH engines (the explicit quantization contract — no
    silent engine-specific double→long cast); running weight over the
    DISTINCT-VALUE table, the classifier_auc contract. Hash-matched."""
    from .operators.profiling import weighted_median

    return weighted_median(
        t(spark, sf_dir, "lineitem"), "l_extendedprice", "l_quantity"
    )


@query(
    "kaplan_meier_retention",
    oracle="""
WITH spanv AS (
  SELECT user_id,
         CAST(datediff('day', min(ts), max(ts)) AS BIGINT) AS dur,
         max(ts) AS last_ts
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), wend AS (SELECT max(ts) AS w_end FROM events),
units AS (
  SELECT dur AS t,
         CAST(datediff('day', last_ts, w_end) > 3 AS BOOLEAN) AS ev
  FROM spanv CROSS JOIN wend
), per AS (
  SELECT t, CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS c
  FROM units GROUP BY t
), tot AS (
  SELECT CAST(COALESCE(SUM(d + c), 0) AS BIGINT) AS tt FROM per
), staged AS (
  SELECT t, d, c,
         tt - COALESCE(SUM(d + c) OVER
           (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM per CROSS JOIN tot
), cum AS (
  SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d, c,
         SUM(CASE WHEN d > 0 AND d < n_risk THEN
               CAST(round(ln(CAST(n_risk - d AS DOUBLE)
                             / CAST(n_risk AS DOUBLE)) * 1000000.0e0)
                    AS BIGINT)
             ELSE 0 END)
           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS lmicro,
         MAX(CASE WHEN d = n_risk AND d > 0 THEN 1 ELSE 0 END)
           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead
  FROM staged
)
SELECT t, n_risk, d, c,
       CASE WHEN dead = 1 THEN 0.0e0
            ELSE round(exp(CAST(lmicro AS DOUBLE) / 1000000.0e0), 9)
       END AS survival
FROM cum
""",
)
def q_kaplan_meier_retention(spark, sf_dir):
    """EXT — Kaplan-Meier survival of user activity spans (timeseries.
    kaplan_meier; Kaplan & Meier 1958): duration = days between a
    user's first and last event; a user whose last event sits > 3
    days before the window end CHURNED (event observed), anyone still
    active at the edge is right-CENSORED — exactly the estimand the
    naive "average lifetime" biases low by treating censored users as
    churned. Each factor's log micro-quantizes to int64 and the
    product-limit becomes a running integer sum over the distinct-
    duration table; the d = n termination rides a running flag —
    hash-matched per duration."""
    from .operators.timeseries import kaplan_meier

    e = t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    span = e.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).cast("long").alias("dur"),
        F.max("ts").alias("last_ts"),
    )
    wend = e.agg(F.max("ts").alias("w_end"))
    units = span.crossJoin(F.broadcast(wend)).select(
        F.col("dur").alias("t"),
        (F.datediff("w_end", "last_ts") > 3).alias("ev"),
    )
    return kaplan_meier(units, duration_col="t", event_col="ev")


@query(
    "cuped_purchase_value",
    oracle="""
WITH wstart AS (SELECT min(ts) AS w0 FROM events),
per_user AS (
  SELECT user_id, CAST(user_id % 2 AS VARCHAR) AS variant,
         CAST(COALESCE(SUM(CASE WHEN datediff('day', w0, ts) < 15
                           THEN CAST(value AS DECIMAL(30,6)) END), 0)
              AS DOUBLE) AS x,
         CAST(COALESCE(SUM(CASE WHEN datediff('day', w0, ts) >= 15
                           THEN CAST(value AS DECIMAL(30,6)) END), 0)
              AS DOUBLE) AS y
  FROM events CROSS JOIN wstart
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
), base AS (
  SELECT variant AS g,
         CAST(round(y * 100) AS BIGINT) AS yq,
         CAST(round(x * 100) AS BIGINT) AS xq
  FROM per_user
), gl AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(xq) AS HUGEINT) AS sx, CAST(SUM(yq) AS HUGEINT) AS sy,
         SUM(CAST(xq AS HUGEINT) * CAST(yq AS HUGEINT)) AS sxy,
         SUM(CAST(xq AS HUGEINT) * CAST(xq AS HUGEINT)) AS sxx,
         SUM(CAST(yq AS HUGEINT) * CAST(yq AS HUGEINT)) AS syy
  FROM base
), pooled AS (
  SELECT n, sx,
         CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS covn,
         CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS varxn,
         CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS varyn
  FROM gl
), per AS (
  SELECT g, CAST(count(*) AS BIGINT) AS ng,
         CAST(SUM(yq) AS HUGEINT) AS gy, CAST(SUM(xq) AS HUGEINT) AS gx
  FROM base GROUP BY g
)
SELECT g AS variant, ng AS n,
       round(CAST(gy AS DOUBLE) / (CAST(ng AS DOUBLE) * 100.0e0), 9)
         AS mean_y,
       CASE WHEN varxn > 0 THEN
         round(CAST(gy AS DOUBLE) / (CAST(ng AS DOUBLE) * 100.0e0)
               - (covn / varxn)
                 * (CAST(gx AS DOUBLE) / (CAST(ng AS DOUBLE) * 100.0e0)
                    - (CAST(sx AS DOUBLE) / CAST(p.n AS DOUBLE)) / 100.0e0),
               9) END AS mean_adj,
       CASE WHEN varxn > 0 THEN round(covn / varxn, 9) END AS theta,
       CASE WHEN varxn > 0 AND varyn > 0
            THEN round((covn * covn) / (varxn * varyn), 9) END
         AS var_reduction
FROM per CROSS JOIN pooled p
""",
)
def q_cuped_purchase_value(spark, sf_dir):
    """EXT — CUPED variance-reduced A/B readout (profiling.
    cuped_adjustment; Deng, Xu, Kohavi & Walker WSDM 2013): users
    split by key parity, the post-period (days ≥ 15) event value
    adjusted by each user's PRE-period value — the standard
    experimentation trick that removes corr² of the metric variance
    without biasing the lift, because user-level spend is sticky
    across periods. θ and the adjusted means are n-scaled exact
    integer sums (DECIMAL(38,0)/HUGEINT) with one division each —
    hash-matched per variant."""
    from .operators.profiling import cuped_adjustment

    e = t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    w0 = e.agg(F.min("ts").alias("w0"))
    per_user = (
        e.crossJoin(F.broadcast(w0))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.datediff("ts", "w0") < 15, F.col("value")).cast(
                        "decimal(30,6)"
                    )
                ),
                F.lit(0).cast("decimal(30,6)"),
            )
            .cast("double")
            .alias("x"),
            F.coalesce(
                F.sum(
                    F.when(F.datediff("ts", "w0") >= 15, F.col("value")).cast(
                        "decimal(30,6)"
                    )
                ),
                F.lit(0).cast("decimal(30,6)"),
            )
            .cast("double")
            .alias("y"),
        )
        .select(
            (F.col("user_id") % 2).cast("string").alias("variant"), "x", "y"
        )
    )
    return cuped_adjustment(per_user, "variant", "y", "x", unit_scale=100)


def _boot_oracle() -> str:
    from .operators.profiling import _POISSON1_CDF

    case = (
        "CASE "
        + " ".join(
            f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(_POISSON1_CDF)
        )
        + f" ELSE {len(_POISSON1_CDF)} END"
    )
    return f"""
WITH units AS (
  SELECT CAST(o_custkey AS VARCHAR) AS u,
         CAST(round(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
                         AS DOUBLE) * 100) AS BIGINT) AS m
  FROM orders WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY o_custkey
), reps AS (SELECT CAST(range + 1 AS BIGINT) AS replicate FROM range(0, 32)),
drawn AS (
  SELECT replicate,
         ({case}) AS w, m
  FROM (
    SELECT replicate, m,
           CAST(('0x' || substr(md5('boot' || ':' || u || ':'
                                     || CAST(replicate AS VARCHAR)), 1, 8))
                AS BIGINT) / 4294967296.0 AS u
    FROM units CROSS JOIN reps)
), per_rep AS (
  SELECT replicate, CAST(SUM(w) AS BIGINT) AS n_eff,
         CASE WHEN SUM(w) > 0 THEN
           CAST(round(CAST(SUM(CAST(w AS HUGEINT) * CAST(m AS HUGEINT))
                           AS DOUBLE)
                      / (CAST(SUM(w) AS DOUBLE) * 100.0e0) * 1000000.0e0)
                AS BIGINT) END AS mean_micro
  FROM drawn GROUP BY replicate
), spread AS (
  SELECT CAST(count(*) AS BIGINT) AS b,
         CAST(SUM(mean_micro) AS HUGEINT) AS s1,
         SUM(CAST(mean_micro AS HUGEINT) * CAST(mean_micro AS HUGEINT)) AS s2
  FROM per_rep
), gl AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(m) AS HUGEINT) AS sm
  FROM units
)
SELECT replicate, n_eff,
       CAST(mean_micro AS DOUBLE) / 1000000.0e0 AS mean_b,
       CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0e0) AS est_mean,
       sqrt(CAST(CAST(b AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
            / (CAST(b AS DOUBLE) * (CAST(b AS DOUBLE) - 1.0e0)))
         / 1000000.0e0 AS se_boot
FROM per_rep CROSS JOIN spread CROSS JOIN gl
"""


@query("poisson_bootstrap_se", oracle=_boot_oracle())
def q_poisson_bootstrap_se(spark, sf_dir):
    """EXT — deterministic Poisson bootstrap of the mean customer
    spend's standard error (profiling.poisson_bootstrap_se; Chamandy
    et al. 2012 — THE scale-out bootstrap: n-out-of-n resampling is a
    coordination killer, Poisson(1) per-unit weights need none): 32
    replicates whose weights invert the truncated Poisson CDF at an
    md5-uniform of (seed, unit, replicate) — same draw on every
    engine, run and partitioning, restated literal-for-literal in the
    oracle. Replicate sums are exact integers, means micro-quantize
    before the across-replicate n-scaled variance — hash-matched per
    replicate AND on the SE readout."""
    from .operators.profiling import poisson_bootstrap_se

    spend = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_custkey").isNotNull() & F.col("o_totalprice").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("spend")
        )
    )
    return poisson_bootstrap_se(
        spend, "o_custkey", "spend", n_replicates=32, seed="boot"
    )


@query(
    "conversion_wilson_ci",
    oracle="""
WITH per_user AS (
  SELECT user_id, CAST(user_id % 2 AS VARCHAR) AS variant,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS s
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), per AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT)
           AS conv
  FROM per_user GROUP BY variant
)
SELECT variant, n, conv,
       CASE WHEN n > 0 THEN
         round(CAST(conv AS DOUBLE) / CAST(n AS DOUBLE), 9) END AS p_hat,
       CASE WHEN n > 0 THEN round(
         ((CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
          + 1.959963984540054 * 1.959963984540054
            / (2.0e0 * CAST(n AS DOUBLE))) / (1.0e0
          + 1.959963984540054 * 1.959963984540054 / CAST(n AS DOUBLE))
         - 1.959963984540054 * sqrt(
             (CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
             * (1.0e0 - CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n AS DOUBLE)
             + 1.959963984540054 * 1.959963984540054
               / (4.0e0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
           / (1.0e0 + 1.959963984540054 * 1.959963984540054
              / CAST(n AS DOUBLE)), 9) END AS ci_lo,
       CASE WHEN n > 0 THEN round(
         ((CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
          + 1.959963984540054 * 1.959963984540054
            / (2.0e0 * CAST(n AS DOUBLE))) / (1.0e0
          + 1.959963984540054 * 1.959963984540054 / CAST(n AS DOUBLE))
         + 1.959963984540054 * sqrt(
             (CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
             * (1.0e0 - CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n AS DOUBLE)
             + 1.959963984540054 * 1.959963984540054
               / (4.0e0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
           / (1.0e0 + 1.959963984540054 * 1.959963984540054
              / CAST(n AS DOUBLE)), 9) END AS ci_hi
FROM per
""",
)
def q_conversion_wilson_ci(spark, sf_dir):
    """EXT — Wilson score intervals for per-variant purchase
    conversion (profiling.wilson_interval; Wilson JASA 1927): the CI
    that stays inside [0,1] at small n and extreme rates where Wald
    collapses — the reporting row under ab_test_purchase's z-test and
    cuped_purchase_value's adjusted means. Exact integer counts, one
    closed-form IEEE chain with the shared z literal — hash-matched
    per variant."""
    from .operators.profiling import wilson_interval

    per_user = (
        t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("long")).alias(
                "_s"
            )
        )
        .select(
            (F.col("user_id") % 2).cast("string").alias("variant"),
            (F.col("_s") == 1).alias("converted"),
        )
    )
    return wilson_interval(per_user, "variant", "converted")


@query(
    "mann_kendall_trend",
    oracle=f"""
WITH vals AS (
  SELECT o_orderdate AS ts,
         CASE WHEN day(o_orderdate) = 1
              THEN CAST(o_totalprice AS DOUBLE) * 5.0e0
              ELSE CAST(o_totalprice AS DOUBLE) END AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), daily AS ({_DAILY_REV_SQL}),
srow AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN b.x > a.x THEN 1
                                WHEN b.x < a.x THEN -1 ELSE 0 END), 0)
              AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.day < b.day
), ties AS (
  SELECT CAST(COALESCE(SUM(CAST(t AS HUGEINT) * (CAST(t AS HUGEINT) - 1)
                           * (2 * CAST(t AS HUGEINT) + 5)), 0) AS HUGEINT)
           AS tie
  FROM (SELECT count(*) AS t FROM daily GROUP BY x)
), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
SELECT n_days, s,
       CASE WHEN n_days > 1 AND
         ((CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0e0)
           * (2.0e0 * CAST(n_days AS DOUBLE) + 5.0e0)
           - CAST(tie AS DOUBLE)) / 18.0e0) > 0
       THEN round(
         CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0e0)
              WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0e0)
              ELSE 0.0e0 END
         / sqrt((CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0e0)
                 * (2.0e0 * CAST(n_days AS DOUBLE) + 5.0e0)
                 - CAST(tie AS DOUBLE)) / 18.0e0), 9)
       END AS z
FROM nd CROSS JOIN srow CROSS JOIN ties
""",
)
def q_mann_kendall_trend(spark, sf_dir):
    """EXT — Mann-Kendall monotonic-trend test (timeseries.
    mann_kendall_trend; Mann 1945) on the SAME corrupted series
    theil_sen_trend estimates — the classical pairing: MK says whether
    a monotone trend exists (rank-based, outlier-immune), Theil-Sen
    says how steep. S is a pure integer sign sum over DAY-grain pairs,
    the tie term folds in DECIMAL(38,0)/HUGEINT, z is one IEEE chain
    with the standard continuity correction — hash-matched. TPC-H
    dates are trend-free, so the truthful readout is |z| small: the
    null pin (the pytest plants the positive case)."""
    from .operators.timeseries import mann_kendall_trend

    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    planted = o.select(
        F.col("o_orderdate").alias("ts"),
        F.when(
            F.dayofmonth("o_orderdate") == 1,
            F.col("o_totalprice").cast("double") * F.lit(5.0),
        )
        .otherwise(F.col("o_totalprice").cast("double"))
        .alias("v"),
    )
    return mann_kendall_trend(planted, ts_col="ts", value_col="v")


@query(
    "g_test_independence",
    oracle="""
WITH base AS (
  SELECT lang AS a, source AS b FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
), cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
ma AS (SELECT a, CAST(count(*) AS BIGINT) AS ca FROM base GROUP BY 1),
mb AS (SELECT b, CAST(count(*) AS BIGINT) AS cb FROM base GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
summed AS (
  SELECT COALESCE(SUM(CAST(c AS HUGEINT) * CAST(round(ln(
           CAST(n AS DOUBLE) * CAST(c AS DOUBLE)
           / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))) * 1000000.0e0)
           AS BIGINT)), 0) AS gm
  FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
), dims AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM ma) AS ra,
         (SELECT CAST(count(*) AS BIGINT) FROM mb) AS rb
)
SELECT n, CAST(GREATEST(ra - 1, 0) * GREATEST(rb - 1, 0) AS BIGINT) AS dof,
       CASE WHEN ra > 1 AND rb > 1
            THEN round(2.0e0 * CAST(gm AS DOUBLE) / 1000000.0e0, 9) END AS g
FROM tot CROSS JOIN dims CROSS JOIN summed
""",
)
def q_g_test_independence(spark, sf_dir):
    """EXT — likelihood-ratio G-test (profiling.g_test_independence;
    Wilks 1935) over the same (lang, source) contingency the χ² and
    MI queries measure — G = 2N·I(A;B) exactly, and χ² is its
    second-order approximation, so the three readouts corroborate
    each other on one grid. Observed cells only (o·ln(o/e) vanishes
    at o = 0 — no marginal cross), micro-log int64 fold —
    hash-matched."""
    from .operators.profiling import g_test_independence

    return g_test_independence(
        t(spark, sf_dir, "documents"), "lang", "source"
    )


@query(
    "spearman_price_quantity",
    oracle="""
WITH base AS (
  SELECT CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS x,
         CAST(round(CAST(l_quantity AS DOUBLE) * 100) AS BIGINT) AS y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
), rx AS (
  SELECT x, CAST(2 * COALESCE(SUM(c) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
         AS BIGINT) AS ra
  FROM (SELECT x, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY x)
), ry AS (
  SELECT y, CAST(2 * COALESCE(SUM(c) OVER (ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
         AS BIGINT) AS rb
  FROM (SELECT y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY y)
), j AS (SELECT ra, rb FROM base JOIN rx USING (x) JOIN ry USING (y)),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(ra), 0) AS HUGEINT) AS sa,
         CAST(COALESCE(SUM(rb), 0) AS HUGEINT) AS sb,
         CAST(COALESCE(SUM(CAST(ra AS HUGEINT) * CAST(rb AS HUGEINT)), 0) AS HUGEINT) AS sab,
         CAST(COALESCE(SUM(CAST(ra AS HUGEINT) * CAST(ra AS HUGEINT)), 0) AS HUGEINT) AS saa,
         CAST(COALESCE(SUM(CAST(rb AS HUGEINT) * CAST(rb AS HUGEINT)), 0) AS HUGEINT) AS sbb
  FROM j
)
SELECT n,
  CASE WHEN n > 1
         AND CAST(CAST(n AS HUGEINT) * saa - sa * sa AS DOUBLE) > 0
         AND CAST(CAST(n AS HUGEINT) * sbb - sb * sb AS DOUBLE) > 0
  THEN round(CAST(CAST(n AS HUGEINT) * sab - sa * sb AS DOUBLE)
       / (sqrt(CAST(CAST(n AS HUGEINT) * saa - sa * sa AS DOUBLE))
          * sqrt(CAST(CAST(n AS HUGEINT) * sbb - sb * sb AS DOUBLE))), 9)
  END AS rho
FROM s
""",
)
def q_spearman_price_quantity(spark, sf_dir):
    """EXT — Spearman rank correlation between line price and quantity
    (profiling.spearman_correlation; Spearman 1904): the MONOTONIC
    dependence screen next to numeric_correlations' Pearson — exact
    under rescaling, outlier-proof. Midranks in exact 2× integer
    units from the distinct-value tables (ties averaged — the
    tie-corrected ρ), five DECIMAL(38,0)/HUGEINT moments, one IEEE
    chain — hash-matched."""
    from .operators.profiling import spearman_correlation

    return spearman_correlation(
        t(spark, sf_dir, "lineitem"), "l_extendedprice", "l_quantity"
    )


@query(
    "kruskal_wallis_priority_price",
    oracle="""
WITH base AS (
  SELECT CAST(o_orderpriority AS VARCHAR) AS g,
         CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS v
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
), ranks AS (
  SELECT v, c, CAST(2 * COALESCE(SUM(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
         AS BIGINT) AS r2
  FROM (SELECT v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY v)
), gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cgv FROM base GROUP BY g, v),
per_g AS (
  SELECT g, CAST(SUM(cgv) AS BIGINT) AS ng,
         CAST(SUM(CAST(cgv AS HUGEINT) * CAST(r2 AS HUGEINT)) AS HUGEINT) AS rs2
  FROM gv JOIN ranks USING (v) GROUP BY g
), gtot AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n_total, CAST(count(*) AS BIGINT) AS k,
         CAST(COALESCE(SUM(CAST(round(CAST(rs2 AS DOUBLE) * CAST(rs2 AS DOUBLE)
           / CAST(ng AS DOUBLE) * 1000000.0e0) AS HUGEINT)), 0) AS HUGEINT) AS s4
  FROM per_g
), ties AS (
  SELECT CAST(COALESCE(SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)
           * CAST(c AS HUGEINT) - CAST(c AS HUGEINT)), 0) AS HUGEINT) AS t
  FROM ranks
)
SELECT g AS "group", ng AS n,
       round(CAST(rs2 AS DOUBLE) / (2.0e0 * CAST(ng AS DOUBLE)), 9) AS mean_rank,
       n_total, CAST(GREATEST(k - 1, 0) AS BIGINT) AS dof,
       CASE WHEN n_total > 1 THEN round(1.0e0 - CAST(t AS DOUBLE)
         / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
            * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)), 9)
       END AS tie_correction,
       CASE WHEN k > 1 AND n_total > 1
              AND (1.0e0 - CAST(t AS DOUBLE)
                / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                   * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))) > 0
       THEN round((12.0e0 * (CAST(s4 AS DOUBLE) / 4000000.0e0)
              / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0e0))
              - 3.0e0 * (CAST(n_total AS DOUBLE) + 1.0e0))
            / (1.0e0 - CAST(t AS DOUBLE)
                / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                   * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))), 9)
       END AS h
FROM per_g CROSS JOIN gtot CROSS JOIN ties
""",
)
def q_kruskal_wallis_priority_price(spark, sf_dir):
    """EXT — Kruskal-Wallis H across order priorities on total price
    (profiling.kruskal_wallis_test; Kruskal & Wallis 1952): the
    k-sample rank test completing the inference family (Mann-Whitney
    = its k=2 case, χ²/G for categories, KS for shapes). Midranks in
    2× integer units over the quantized value domain, per-group rank
    sums in DECIMAL(38,0), per-group quotients micro-quantized before
    the k-row fold, exact tie term — hash-matched."""
    from .operators.profiling import kruskal_wallis_test

    return kruskal_wallis_test(
        t(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )


@query(
    "cliffs_delta_returnflag",
    oracle="""
WITH base AS (
  SELECT CAST(l_returnflag AS VARCHAR) AS g,
         CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS v
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IN ('R', 'N')
), per AS (
  SELECT v,
         CAST(SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM base GROUP BY v
), cum AS (
  SELECT ca, cb,
    COALESCE(SUM(cb) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
    COALESCE(SUM(cb) OVER (ORDER BY v
      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS above
  FROM per
), tot AS (
  SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS n_b,
         CAST(COALESCE(SUM(CAST(ca AS HUGEINT) * CAST(below AS HUGEINT)), 0) AS HUGEINT) AS gt,
         CAST(COALESCE(SUM(CAST(ca AS HUGEINT) * CAST(above AS HUGEINT)), 0) AS HUGEINT) AS lt
  FROM cum
)
SELECT n_a, n_b, CAST(gt AS BIGINT) AS gt_pairs, CAST(lt AS BIGINT) AS lt_pairs,
  CASE WHEN n_a > 0 AND n_b > 0
  THEN round(CAST(gt - lt AS DOUBLE)
       / CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) AS DOUBLE), 9)
  END AS delta
FROM tot
""",
)
def q_cliffs_delta_returnflag(spark, sf_dir):
    """EXT — Cliff's delta effect size between returned ('R') and
    non-returned ('N') line prices (profiling.cliffs_delta; Cliff
    1993): HOW MUCH the two populations differ where Mann-Whitney
    says only whether — the standard companion readout. Pair counts
    collapse onto the distinct quantized value grid (never
    materializing pairs), exact DECIMAL/HUGEINT folds, one
    division — hash-matched."""
    from .operators.profiling import cliffs_delta

    return cliffs_delta(
        t(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice", "R", "N"
    )


@query(
    "chao1_vocab_richness",
    oracle="""
WITH words AS (
  SELECT t.w AS w FROM documents,
       LATERAL unnest(string_split(lower(text), ' ')) AS t(w)
  WHERE text IS NOT NULL AND t.w <> ''
), per AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w),
agg AS (
  SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab,
         CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f1,
         CAST(COALESCE(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f2
  FROM per
)
SELECT n_tokens, vocab, f1, f2,
  CASE WHEN vocab > 0 THEN round(CAST(vocab AS DOUBLE)
    + (CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0e0))
      / (2.0e0 * (CAST(f2 AS DOUBLE) + 1.0e0)), 9) END AS chao1,
  CASE WHEN vocab > 0 THEN round(CAST(vocab AS DOUBLE)
    / (CAST(vocab AS DOUBLE)
       + (CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0e0))
         / (2.0e0 * (CAST(f2 AS DOUBLE) + 1.0e0))), 9) END AS coverage
FROM agg
""",
)
def q_chao1_vocab_richness(spark, sf_dir):
    """EXT — Chao1 vocabulary-richness estimate (text.chao1_richness;
    Chao 1984, bias-corrected): how many distinct words the corpus
    WOULD contain at infinite size, from the singleton/doubleton
    counts — the TYPE-coverage companion to unseen_mass_estimate's
    probability-mass readout ("have we crawled enough of this
    domain"). Exact integer folds, one-division readouts —
    hash-matched."""
    from .operators.text import chao1_richness

    return chao1_richness(t(spark, sf_dir, "documents"))


@query(
    "bigram_repetition",
    oracle="""
WITH lsts AS (
  SELECT doc_id, string_split(lower(text), ' ') AS lst
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT doc_id, lst[i] || ' ' || lst[i + 1] AS g
  FROM lsts, LATERAL unnest(range(1, len(lst))) AS t(i)
  WHERE lst[i] <> '' AND lst[i + 1] <> ''
), per AS (
  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM grams GROUP BY doc_id, g
), agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup,
         CAST(MAX(c) AS BIGINT) AS top
  FROM per GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
       round(CAST(COALESCE(dup, 0) AS DOUBLE)
         / CAST(GREATEST(COALESCE(n_bigrams, 0), 1) AS DOUBLE), 9) AS dup_bigram_ratio,
       round(CAST(COALESCE(top, 0) AS DOUBLE)
         / CAST(GREATEST(COALESCE(n_bigrams, 0), 1) AS DOUBLE), 9) AS top_bigram_ratio
FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN agg ON d.doc_id = agg.doc_id
""",
)
def q_bigram_repetition(spark, sf_dir):
    """EXT — per-document bigram repetition signals (text.
    bigram_repetition_stats; the n-gram tier of Gopher's repetition
    rules, Rae et al. 2021 §A1.1): templated text repeats PHRASES
    before it repeats enough single words to trip the unigram gate.
    Occurrence-fraction convention (documented — exactly restatable);
    one posexplode + positional self-join per doc, (doc, bigram)
    groupBy with map-side combine — hash-matched."""
    from .operators.text import bigram_repetition_stats

    return bigram_repetition_stats(t(spark, sf_dir, "documents"))


_COSUPPLY_EDGE_SQL = """
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), pairs AS (
  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS w
  FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
), dom AS (
  SELECT sa, sb, w FROM pairs
  JOIN supplier na ON sa = na.s_suppkey
  JOIN supplier nb ON sb = nb.s_suppkey
  WHERE na.s_nationkey = nb.s_nationkey
), edges AS (
  SELECT sa AS src, sb AS dst FROM dom
  WHERE w >= (SELECT quantile_cont(w, 0.5) FROM dom)
), und AS (
  SELECT src AS u, dst AS v FROM edges UNION ALL SELECT dst, src FROM edges
), deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
)"""


@query(
    "degree_assortativity",
    oracle=_COSUPPLY_EDGE_SQL
    + """
, prs AS (
  SELECT da.d AS xa, db.d AS xb
  FROM und JOIN deg da ON und.u = da.u JOIN deg db ON und.v = db.u
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS m2,
         CAST(COALESCE(SUM(xa), 0) AS HUGEINT) AS sa,
         CAST(COALESCE(SUM(xb), 0) AS HUGEINT) AS sb,
         CAST(COALESCE(SUM(CAST(xa AS HUGEINT) * CAST(xb AS HUGEINT)), 0) AS HUGEINT) AS sab,
         CAST(COALESCE(SUM(CAST(xa AS HUGEINT) * CAST(xa AS HUGEINT)), 0) AS HUGEINT) AS saa,
         CAST(COALESCE(SUM(CAST(xb AS HUGEINT) * CAST(xb AS HUGEINT)), 0) AS HUGEINT) AS sbb
  FROM prs
), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
SELECT n_nodes, CAST(m2 / 2 AS BIGINT) AS n_edges,
  CASE WHEN m2 > 2
         AND CAST(CAST(m2 AS HUGEINT) * saa - sa * sa AS DOUBLE) > 0
         AND CAST(CAST(m2 AS HUGEINT) * sbb - sb * sb AS DOUBLE) > 0
  THEN round(CAST(CAST(m2 AS HUGEINT) * sab - sa * sb AS DOUBLE)
       / (sqrt(CAST(CAST(m2 AS HUGEINT) * saa - sa * sa AS DOUBLE))
          * sqrt(CAST(CAST(m2 AS HUGEINT) * sbb - sb * sb AS DOUBLE))), 9)
  END AS assortativity
FROM nn CROSS JOIN s
""",
)
def q_degree_assortativity(spark, sf_dir):
    """EXT — degree assortativity of the domestic co-supply graph
    (graph.degree_assortativity; Newman, PRL 2002): do well-connected
    suppliers co-supply with other hubs (assortative) or with leaves
    (disassortative — the link-farm fingerprint)? Exact integer
    degrees over the canonical edge set, symmetrized-pair Pearson in
    DECIMAL/HUGEINT, one IEEE chain — hash-matched against the same
    recursive edge construction the kcore/components queries pin."""
    from .operators.graph import degree_assortativity

    return degree_assortativity(_supplier_domestic_edges(spark, sf_dir))


@query(
    "common_neighbors_suppliers",
    oracle=_COSUPPLY_EDGE_SQL
    + """
, wedges AS (
  SELECT a.v AS na, b.v AS nb, a.u AS z
  FROM und a JOIN und b ON a.u = b.u AND a.v < b.v
), aa AS (
  SELECT na, nb, CAST(count(*) AS BIGINT) AS common,
         CAST(SUM(CAST(round(1000000.0e0 / ln(CAST(d AS DOUBLE))) AS BIGINT)) AS BIGINT) AS aas
  FROM wedges JOIN deg ON wedges.z = deg.u
  GROUP BY na, nb
), cand AS (
  SELECT * FROM aa
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = aa.na AND e.dst = aa.nb)
)
SELECT na AS node_a, nb AS node_b, common,
       round(CAST(common AS DOUBLE)
         / CAST(da.d + db.d - common AS DOUBLE), 9) AS jaccard,
       round(CAST(aas AS DOUBLE) / 1000000.0e0, 9) AS adamic_adar
FROM cand JOIN deg da ON cand.na = da.u JOIN deg db ON cand.nb = db.u
""",
)
def q_common_neighbors_suppliers(spark, sf_dir):
    """EXT — common-neighbors link prediction on the co-supply graph
    (graph.common_neighbors_linkpred; Liben-Nowell & Kleinberg 2003):
    which non-adjacent supplier pairs share the most neighbors —
    common count, Jaccard, and Adamic-Adar (micro-quantized
    1/ln(deg) witnesses, order-proof fold) — the candidate-promotion
    primitive for linkage and frontier ranking. Wedge join bounded by
    Σ deg², the triangle-counting contract — hash-matched."""
    from .operators.graph import common_neighbors_linkpred

    return common_neighbors_linkpred(_supplier_domestic_edges(spark, sf_dir))


@query(
    "woe_iv_source_lang",
    oracle="""
WITH base AS (
  SELECT CAST(source AS VARCHAR) AS c, (lang = 'en') AS y FROM documents
  WHERE source IS NOT NULL AND lang IS NOT NULL
), per AS (
  SELECT c AS category,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM base GROUP BY c
), tot AS (
  SELECT CAST(COALESCE(SUM(n_pos), 0) AS BIGINT) AS g,
         CAST(COALESCE(SUM(n_neg), 0) AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS n_categories
  FROM per
), scored AS (
  SELECT category, n_pos, n_neg,
    round(ln((CAST(2 * n_pos + 1 AS DOUBLE) * CAST(2 * b + n_categories AS DOUBLE))
          / (CAST(2 * n_neg + 1 AS DOUBLE) * CAST(2 * g + n_categories AS DOUBLE))), 9) AS woe,
    CAST(round((CAST(2 * n_pos + 1 AS DOUBLE) / CAST(2 * g + n_categories AS DOUBLE)
        - CAST(2 * n_neg + 1 AS DOUBLE) / CAST(2 * b + n_categories AS DOUBLE))
      * ln((CAST(2 * n_pos + 1 AS DOUBLE) * CAST(2 * b + n_categories AS DOUBLE))
          / (CAST(2 * n_neg + 1 AS DOUBLE) * CAST(2 * g + n_categories AS DOUBLE)))
      * 1000000000.0e0) AS BIGINT) AS tn,
    n_categories
  FROM per CROSS JOIN tot
), iv AS (SELECT CAST(COALESCE(SUM(tn), 0) AS BIGINT) AS ivn FROM scored)
SELECT category, n_pos, n_neg, woe,
       round(CAST(ivn AS DOUBLE) / 1000000000.0e0, 9) AS iv, n_categories
FROM scored CROSS JOIN iv
""",
)
def q_woe_iv_source_lang(spark, sf_dir):
    """EXT — Weight of Evidence / Information Value of document source
    against the is-English label (features.woe_iv; the Siddiqi
    credit-scoring convention): the feature-SELECTION readout next to
    target_encode's construction, and a leakage screen beside
    mutual_information (IV explodes on leaked columns). The smoothed
    WOE argument collapses to all-integer counts, IV terms nano-
    quantize before the cross-category fold — hash-matched."""
    from .operators.features import woe_iv

    d = t(spark, sf_dir, "documents")
    return woe_iv(
        d.select("source", (F.col("lang") == "en").alias("is_en")),
        "source",
        "is_en",
    )


@query(
    "rare_category_grouping",
    oracle="""
WITH keep AS (
  SELECT CAST(p_type AS VARCHAR) AS k, count(*) AS n
  FROM part WHERE p_type IS NOT NULL
  GROUP BY 1 HAVING count(*) >= 12
), grouped AS (
  SELECT CASE WHEN p_type IS NULL THEN NULL
              WHEN k IS NOT NULL THEN CAST(p_type AS VARCHAR)
              ELSE '__other__' END AS p_type_grouped
  FROM part LEFT JOIN keep ON CAST(p_type AS VARCHAR) = k
)
SELECT p_type_grouped, CAST(count(*) AS BIGINT) AS n_parts
FROM grouped GROUP BY 1
""",
)
def q_rare_category_grouping(spark, sf_dir):
    """EXT — rare-category bucketing of part types (features.
    group_rare_categories; sklearn's min_frequency convention): levels
    below the count floor collapse into __other__ BEFORE encoding —
    the cardinality clamp that keeps target/one-hot encoder state
    bounded. NULL stays NULL (missingness is its own signal).
    Verified as the grouped-label frequency table — hash-matched."""
    from .operators.features import group_rare_categories

    out = group_rare_categories(
        t(spark, sf_dir, "part"), "p_type", min_count=12
    )
    return out.groupBy("p_type_grouped").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )


@query(
    "flesch_readability",
    oracle="""
WITH scan AS (
  SELECT doc_id,
    CASE WHEN text IS NOT NULL AND length(text) > 0
         THEN CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS BIGINT)
         ELSE 0 END AS n_words,
    CASE WHEN text IS NOT NULL
         THEN CAST(GREATEST(len(string_split_regex(text, '[.!?]+')) - 1, 1) AS BIGINT)
         ELSE 0 END AS n_sentences
  FROM documents
), syl AS (
  SELECT doc_id,
         CAST(SUM(GREATEST(len(string_split_regex(w, '[aeiouy]+')) - 1, 1)) AS BIGINT) AS n_syllables
  FROM (SELECT doc_id, t.w AS w FROM documents,
          LATERAL unnest(string_split(lower(text), ' ')) AS t(w)
        WHERE text IS NOT NULL AND t.w <> '')
  GROUP BY doc_id
)
SELECT s.doc_id, n_words, n_sentences, COALESCE(n_syllables, 0) AS n_syllables,
  CASE WHEN n_words > 0 THEN
    round(206.835e0 - 1.015e0 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
          - 84.6e0 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 9)
  END AS flesch
FROM scan s LEFT JOIN syl ON s.doc_id = syl.doc_id
""",
)
def q_flesch_readability(spark, sf_dir):
    """EXT — Flesch Reading Ease per document (text.
    flesch_reading_ease; Flesch 1948): the classic readability
    quality signal — boilerplate and OCR junk score pathologically at
    both ends. Deterministic public heuristics (``[.!?]+`` sentence
    groups, ``[aeiouy]+`` vowel-group syllables) via split-length
    arithmetic, every formula input an exact integer, one shared IEEE
    chain — hash-matched."""
    from .operators.text import flesch_reading_ease

    return flesch_reading_ease(t(spark, sf_dir, "documents"))


_TWAP_SQL = """
WITH base AS (
  SELECT user_id AS k,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
), stepped AS (
  SELECT k, v, LEAD(t) OVER (PARTITION BY k ORDER BY t ASC, v ASC) - t AS dt
  FROM base
)
SELECT k AS key, CAST(count(*) AS BIGINT) AS n_events,
       CAST(FLOOR(CAST(COALESCE(SUM(dt), 0) AS DOUBLE) / 1000000.0e0) AS BIGINT)
         AS span_seconds,
       CASE WHEN COALESCE(SUM(dt), 0) > 0 THEN
         round(CAST(COALESCE(SUM(CAST(v AS HUGEINT) * CAST(dt AS HUGEINT)), 0) AS DOUBLE)
               / (CAST(SUM(dt) AS DOUBLE) * 100.0e0), 9)
       END AS twap
FROM stepped GROUP BY k
"""


@query("twap_user_value", oracle=_TWAP_SQL)
def q_twap_user_value(spark, sf_dir):
    """EXT — per-user time-weighted average event value (timeseries.
    time_weighted_avg; the TWAP convention: each observation holds
    until the next, weighted by holding seconds, last observation
    excluded): the correct mean for irregularly-sampled state series,
    where the row-mean over-weights busy periods. ONE window
    partitioned BY USER (never global — the sessionize contract),
    exact integer durations × quantized values in DECIMAL/HUGEINT —
    hash-matched."""
    from .operators.timeseries import time_weighted_avg

    return time_weighted_avg(
        t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
    )


@query(
    "mad_outliers_event_value",
    oracle="""
WITH base AS (
  SELECT event_id,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
), med AS (SELECT quantile_cont(v, 0.5) AS m FROM base),
mad AS (
  SELECT quantile_cont(abs(v - m), 0.5) AS d, MIN(m) AS m2
  FROM base CROSS JOIN med
)
SELECT event_id,
       CAST(v AS DOUBLE) / 100.0e0 AS value,
       round(0.6745e0 * (CAST(v AS DOUBLE) - m2) / d, 9) AS robust_z,
       round(m2 / 100.0e0, 9) AS median,
       round(d / 100.0e0, 9) AS mad
FROM base CROSS JOIN mad
WHERE d IS NOT NULL AND d > 0
  AND abs(round(0.6745e0 * (CAST(v AS DOUBLE) - m2) / d, 9)) > 3.5e0
""",
)
def q_mad_outliers_event_value(spark, sf_dir):
    """EXT — GLOBAL robust outlier screen on event values (profiling.
    modified_zscore_outliers; Iglewicz & Hoaglin 1993's modified
    z-score, |0.6745·(x−med)/MAD| > 3.5 — the whole-population
    companion to the PER-GROUP gate of mad_price_outliers): the
    50%-breakdown upgrade of mean/σ z-scores, whose own inputs the
    outliers drag. Two pinned-R-7 percentile aggregates over exact
    integers with 1-row broadcast attaches — no global sort, no
    windows — hash-matched."""
    from .operators.profiling import modified_zscore_outliers

    return modified_zscore_outliers(t(spark, sf_dir, "events"), "event_id", "value")


@query("streaming_twap", oracle=_TWAP_SQL)
def q_streaming_twap(spark, sf_dir):
    """EXT §2.10 — streaming time-weighted average (streaming/jobs.
    streaming_twap): the incremental twin of timeseries.
    time_weighted_avg, carrying FOUR scalars of state per key (last
    timestamp/value, exact Σ v·Δt as a decimal string, Σ Δt) across
    event-time-ordered micro-batches — the per-key fold is exactly
    the batch recursion regardless of slice boundaries, so this
    STREAMING query hash-matches the SAME DuckDB oracle as the batch
    form (the streaming_connected_components discipline: stream ≡
    batch, proven by the gate, not claimed)."""
    from .streaming.jobs import streaming_twap

    return streaming_twap(
        spark,
        t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        n_slices=4,
    )


@query("progressive_jpeg_parity")  # real Annex G decode — rows-only
def q_progressive_jpeg_parity(spark, sf_dir):
    """EXT — baseline-vs-progressive JPEG decode parity over the
    corpus sample (multimodal.attach_media × media_codecs.
    synthesize_image): both containers share ONE quantization stage,
    so the Annex G multi-scan decode (operators/jpeg_codec.py —
    spectral selection, successive approximation, EOB runs) must
    reproduce the baseline decode's features EXACTLY per document.
    Output carries both feature sets plus the equality verdict; the
    all-rows-identical pin lives in pytest (rows-only gate — binary
    decode has no SQL restatement). The honest production claim:
    the ~10% of crawl JPEGs that are progressive decode on the same
    engine with the same downstream features."""
    from .operators.multimodal import attach_media, extract_features

    docs = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 7)
        .repartition(32, "doc_id")
    )
    base = extract_features(attach_media(docs, container="jpeg")).select(
        "doc_id",
        F.col("width").alias("width"),
        F.col("height").alias("height"),
        F.col("mean_px").alias("mean_px_baseline"),
    )
    prog = extract_features(
        attach_media(docs, container="jpeg_progressive")
    ).select(
        "doc_id",
        F.col("mean_px").alias("mean_px_progressive"),
    )
    return base.join(prog, "doc_id").select(
        "doc_id",
        "width",
        "height",
        "mean_px_baseline",
        "mean_px_progressive",
        (F.col("mean_px_baseline") == F.col("mean_px_progressive")).alias(
            "identical"
        ),
    )


@query(
    "mcnemar_paired_models",
    oracle="""
WITH base AS (
  SELECT lang AS label,
         CASE WHEN n_chars % 3 = 0 THEN 'en' ELSE 'de' END AS pa,
         CASE WHEN doc_id % 5 = 0 THEN 'en' ELSE 'fr' END AS pb
  FROM documents
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND doc_id IS NOT NULL
), cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(COALESCE(SUM(CASE WHEN pa = label AND pb = label THEN 1 ELSE 0 END), 0) AS BIGINT) AS both_correct,
    CAST(COALESCE(SUM(CASE WHEN pa <> label AND pb <> label THEN 1 ELSE 0 END), 0) AS BIGINT) AS both_wrong,
    CAST(COALESCE(SUM(CASE WHEN pa = label AND pb <> label THEN 1 ELSE 0 END), 0) AS BIGINT) AS only_a,
    CAST(COALESCE(SUM(CASE WHEN pa <> label AND pb = label THEN 1 ELSE 0 END), 0) AS BIGINT) AS only_b
  FROM base
)
SELECT n, both_correct, both_wrong, only_a, only_b,
  CASE WHEN only_a + only_b > 0 THEN
    round((abs(CAST(only_a AS DOUBLE) - CAST(only_b AS DOUBLE)) - 1.0e0)
          * (abs(CAST(only_a AS DOUBLE) - CAST(only_b AS DOUBLE)) - 1.0e0)
          / (CAST(only_a AS DOUBLE) + CAST(only_b AS DOUBLE)), 9)
  END AS chi2
FROM cells
""",
)
def q_mcnemar_paired_models(spark, sf_dir):
    """EXT — McNemar's paired-classifier test (profiling.mcnemar_test;
    McNemar 1947, Edwards continuity correction): two deterministic
    rule 'models' predict document language on the SAME examples —
    only the discordant cells carry signal, which is why the naive
    two-proportion z-test is wrong on paired data. THE model-upgrade
    gate for the engine's trained classifiers. Pure integer cells,
    one IEEE chain — hash-matched."""
    from .operators.profiling import mcnemar_test

    d = t(spark, sf_dir, "documents").select(
        F.col("lang").alias("label"),
        F.when(F.col("n_chars") % 3 == 0, F.lit("en"))
        .otherwise(F.lit("de"))
        .alias("pa"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("en"))
        .otherwise(F.lit("fr"))
        .alias("pb"),
    )
    return mcnemar_test(d, "pa", "pb", "label")


def _brier_sql() -> str:
    from .operators.sampling import hash_uniform_sql

    hu = hash_uniform_sql("event_id")
    return f"""
WITH base AS (
  SELECT CAST(round(({hu}) * 100) AS BIGINT) AS f,
         CAST(event_type = 'purchase' AS BIGINT) AS y
  FROM events WHERE event_id IS NOT NULL AND event_type IS NOT NULL
), per AS (
  SELECT f, CAST(count(*) AS BIGINT) AS nk, CAST(SUM(y) AS BIGINT) AS pk
  FROM base GROUP BY f
), tot AS (
  SELECT CAST(COALESCE(SUM(nk), 0) AS BIGINT) AS n,
         CAST(COALESCE(SUM(pk), 0) AS BIGINT) AS pt,
         CAST(count(*) AS BIGINT) AS n_bins
  FROM per
), sums AS (
  SELECT
    COALESCE(SUM(CAST(round(
      (CAST(f AS DOUBLE) * CAST(nk AS DOUBLE) - CAST(pk AS DOUBLE) * 100.0e0)
      * (CAST(f AS DOUBLE) * CAST(nk AS DOUBLE) - CAST(pk AS DOUBLE) * 100.0e0)
      / CAST(nk AS DOUBLE) * 1000000.0e0) AS HUGEINT)), 0) AS rel,
    COALESCE(SUM(CAST(round(
      (CAST(pk AS DOUBLE) * CAST(n AS DOUBLE) - CAST(pt AS DOUBLE) * CAST(nk AS DOUBLE))
      * (CAST(pk AS DOUBLE) * CAST(n AS DOUBLE) - CAST(pt AS DOUBLE) * CAST(nk AS DOUBLE))
      / CAST(nk AS DOUBLE) * 1000000.0e0) AS HUGEINT)), 0) AS res
  FROM per CROSS JOIN tot
)
SELECT n, n_bins,
  CASE WHEN n > 0 THEN round(
    CAST(rel AS DOUBLE) / (1000000.0e0 * CAST(n AS DOUBLE) * 100.0e0 * 100.0e0)
    - CAST(res AS DOUBLE) / (1000000.0e0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
    + CAST(pt AS DOUBLE) / CAST(n AS DOUBLE) * (1.0e0 - CAST(pt AS DOUBLE) / CAST(n AS DOUBLE)), 9)
  END AS brier,
  CASE WHEN n > 0 THEN round(
    CAST(rel AS DOUBLE) / (1000000.0e0 * CAST(n AS DOUBLE) * 100.0e0 * 100.0e0), 9)
  END AS reliability,
  CASE WHEN n > 0 THEN round(
    CAST(res AS DOUBLE) / (1000000.0e0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 9)
  END AS resolution,
  CASE WHEN n > 0 THEN round(
    CAST(pt AS DOUBLE) / CAST(n AS DOUBLE) * (1.0e0 - CAST(pt AS DOUBLE) / CAST(n AS DOUBLE)), 9)
  END AS uncertainty
FROM tot CROSS JOIN sums
"""


@query("brier_score_decomposition", oracle=_brier_sql())
def q_brier_score_decomposition(spark, sf_dir):
    """EXT — Murphy decomposition of the Brier score (profiling.
    brier_decomposition; Brier 1950 / Murphy 1973): the hash-uniform
    'model score' against the purchase label — a random scorer, whose
    decomposition the exact arithmetic states precisely: reliability
    ≈ the squared miscalibration of a uniform forecast, resolution ≈
    0 (no discrimination), uncertainty = the base rate's irreducible
    term. Bins ARE the distinct quantized scores, so BS = rel − res +
    unc holds exactly; per-bin terms micro-quantize before the fold —
    hash-matched."""
    from .operators.profiling import brier_decomposition
    from .operators.sampling import hash_uniform

    e = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull() & F.col("event_id").isNotNull())
        .select(
            hash_uniform(F.col("event_id")).alias("score"),
            (F.col("event_type") == "purchase").alias("is_purchase"),
        )
    )
    return brier_decomposition(e, "score", "is_purchase", score_round=2)


def _gains_sql() -> str:
    from .operators.sampling import hash_uniform_sql

    hu = hash_uniform_sql("event_id")
    n_bins = 10
    fracs = ", ".join(repr(i / n_bins) for i in range(1, n_bins))
    above = " + ".join(
        f"(CASE WHEN s > b[{i}] THEN 1 ELSE 0 END)" for i in range(1, n_bins)
    )
    return f"""
WITH base AS (
  SELECT CAST(round(({hu}) * 10000) AS BIGINT) AS s,
         CAST(event_type = 'purchase' AS BIGINT) AS y
  FROM events WHERE event_id IS NOT NULL AND event_type IS NOT NULL
), b AS (SELECT quantile_cont(s, [{fracs}]) AS b FROM base),
per AS (
  SELECT CAST({n_bins} - ({above}) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS positives
  FROM base CROSS JOIN b GROUP BY 1
), tot AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS nt,
         CAST(COALESCE(SUM(positives), 0) AS BIGINT) AS pt
  FROM per
), cum AS (
  SELECT bin, n, positives,
         CAST(SUM(n) OVER (ORDER BY bin ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
         CAST(SUM(positives) OVER (ORDER BY bin ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_positives
  FROM per
)
SELECT bin, n, positives, cum_n, cum_positives,
  CASE WHEN pt > 0 THEN
    round(CAST(cum_positives AS DOUBLE) / CAST(pt AS DOUBLE), 9) END AS gain,
  CASE WHEN pt > 0 THEN
    round((CAST(cum_positives AS DOUBLE) / CAST(cum_n AS DOUBLE))
          / (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)), 9) END AS lift
FROM cum CROSS JOIN tot
"""


@query("cumulative_gains_deciles", oracle=_gains_sql())
def q_cumulative_gains_deciles(spark, sf_dir):
    """EXT — cumulative gains / lift table (profiling.
    cumulative_gains): score-ordered deciles of the hash-uniform
    scorer against the purchase label — the cutoff-pricing companion
    to classifier_auc (a random scorer's gains sit on the diagonal,
    lift ≈ 1 — stated exactly). Ties-low percentile binning (the PSI
    fold), cumulative sums over ≤ n_bins rows — hash-matched."""
    from .operators.profiling import cumulative_gains
    from .operators.sampling import hash_uniform

    e = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull() & F.col("event_id").isNotNull())
        .select(
            hash_uniform(F.col("event_id")).alias("score"),
            (F.col("event_type") == "purchase").alias("is_purchase"),
        )
    )
    return cumulative_gains(e, "score", "is_purchase", n_bins=10)


@query(
    "logrank_churn_test",
    oracle="""
WITH spanv AS (
  SELECT user_id, CAST(datediff('day', min(ts), max(ts)) AS BIGINT) AS dur,
         max(ts) AS last_ts
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), wend AS (SELECT max(ts) AS w_end FROM events),
units AS (
  SELECT (user_id % 2 = 0) AS g, dur AS t,
         CAST(datediff('day', last_ts, w_end) > 3 AS BOOLEAN) AS ev
  FROM spanv CROSS JOIN wend
), per AS (
  SELECT t, CAST(count(*) AS BIGINT) AS u,
         CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS u1,
         CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN g AND ev THEN 1 ELSE 0 END) AS BIGINT) AS d1
  FROM units GROUP BY t
), risk AS (
  SELECT d, d1,
    CAST(SUM(u) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n,
    CAST(SUM(u1) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1
  FROM per
), sums AS (
  SELECT CAST(COALESCE(SUM(d1), 0) AS BIGINT) AS o_a,
    COALESCE(SUM(CASE WHEN d > 0 THEN CAST(round(
      CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)
      * 1000000.0e0) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END), 0) AS em,
    COALESCE(SUM(CASE WHEN d > 0 AND n > 1 THEN CAST(round(
      CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
      * (1.0e0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
      * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
      / (CAST(n AS DOUBLE) - 1.0e0)
      * 1000000.0e0) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END), 0) AS vm
  FROM risk
), tot AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN g THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(CASE WHEN g THEN 0 ELSE 1 END), 0) AS BIGINT) AS n_b
  FROM units
)
SELECT n_a, n_b, o_a,
  round(CAST(em AS DOUBLE) / 1000000.0e0, 9) AS e_a,
  round(CAST(vm AS DOUBLE) / 1000000.0e0, 9) AS v,
  CASE WHEN CAST(vm AS DOUBLE) / 1000000.0e0 > 0 THEN
    round((CAST(o_a AS DOUBLE) - CAST(em AS DOUBLE) / 1000000.0e0)
          * (CAST(o_a AS DOUBLE) - CAST(em AS DOUBLE) / 1000000.0e0)
          / (CAST(vm AS DOUBLE) / 1000000.0e0), 9)
  END AS chi2
FROM tot CROSS JOIN sums
""",
)
def q_logrank_churn_test(spark, sf_dir):
    """EXT — log-rank (Mantel-Cox) churn comparison (timeseries.
    logrank_test; Mantel 1966): do even- and odd-id user cohorts churn
    at different rates? The significance half of the Kaplan-Meier
    pairing on the SAME censored spans (kaplan_meier_retention's
    construction) — right-censoring handled exactly where a naive
    mean-lifetime comparison biases toward the more-censored cohort.
    At-risk counts via DESC reverse-cumulative over the distinct
    duration domain; per-time terms micro-quantized before the fold —
    hash-matched."""
    from .operators.timeseries import logrank_test

    e = t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    span = e.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).cast("long").alias("dur"),
        F.max("ts").alias("last_ts"),
    )
    wend = e.agg(F.max("ts").alias("w_end"))
    units = span.crossJoin(F.broadcast(wend)).select(
        (F.col("user_id") % 2 == 0).alias("g"),
        F.col("dur").alias("t"),
        (F.datediff("w_end", "last_ts") > 3).alias("ev"),
    )
    return logrank_test(units, group_col="g", duration_col="t", event_col="ev")


def _rfm_sql() -> str:
    n_bins = 5
    fracs = ", ".join(repr(i / n_bins) for i in range(1, n_bins))

    def fold(col: str, b: str) -> str:
        return "1 + " + " + ".join(
            f"(CASE WHEN {col} > {b}[{i}] THEN 1 ELSE 0 END)"
            for i in range(1, n_bins)
        )

    return f"""
WITH per AS (
  SELECT user_id AS "user",
         max(ts) AS last_ts,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS BIGINT) AS mq
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
), anchor AS (SELECT max(ts) AS wend FROM events),
staged AS (
  SELECT "user", CAST(datediff('day', last_ts, wend) AS BIGINT) AS recency_days,
         frequency, mq
  FROM per CROSS JOIN anchor
), b AS (
  SELECT quantile_cont(recency_days, [{fracs}]) AS br,
         quantile_cont(frequency, [{fracs}]) AS bf,
         quantile_cont(mq, [{fracs}]) AS bm
  FROM staged
)
SELECT "user", recency_days, frequency,
       CAST(mq AS DOUBLE) / 100.0e0 AS monetary,
       CAST({n_bins} + 1 - ({fold("recency_days", "br")}) AS BIGINT) AS r,
       CAST({fold("frequency", "bf")} AS BIGINT) AS f,
       CAST({fold("mq", "bm")} AS BIGINT) AS m,
       CAST({n_bins} + 1 - ({fold("recency_days", "br")}) AS VARCHAR)
         || CAST({fold("frequency", "bf")} AS VARCHAR)
         || CAST({fold("mq", "bm")} AS VARCHAR) AS rfm
FROM staged CROSS JOIN b
"""


@query("rfm_user_segments", oracle=_rfm_sql())
def q_rfm_user_segments(spark, sf_dir):
    """EXT — RFM quintile segmentation of users (features.
    rfm_segmentation; the Hughes 1994 marketing classic): each user's
    recency/frequency/monetary quintile codes and the "555 =
    champions" segment string — the standard first behavioral
    segmentation and the canonical input to target encoding and
    balanced samplers. Exact R-7 percentile boundaries per dimension,
    ties-low PSI binning, inverted recency — hash-matched."""
    from .operators.features import rfm_segmentation

    return rfm_segmentation(
        t(spark, sf_dir, "events"),
        user_col="user_id",
        ts_col="ts",
        amount_col="value",
    )


@query(
    "user_burstiness",
    oracle="""
WITH base AS (
  SELECT user_id AS k,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t,
         CAST(event_id AS BIGINT) AS i
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), gaps AS (
  SELECT k, LEAD(t) OVER (PARTITION BY k ORDER BY t ASC, i ASC) - t AS gap
  FROM base
), agg AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap) AS HUGEINT) AS s1,
         SUM(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS s2
  FROM gaps WHERE gap IS NOT NULL GROUP BY k
)
SELECT k AS key, n_gaps,
  round(CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) / 1000000.0e0, 9) AS mean_gap_s,
  CASE WHEN CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) > 0 THEN
    round(sqrt((CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               / (CAST(n_gaps AS DOUBLE) * (CAST(n_gaps AS DOUBLE) - 1.0e0)))
          / (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 9)
  END AS cv,
  CASE WHEN sqrt((CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                 / (CAST(n_gaps AS DOUBLE) * (CAST(n_gaps AS DOUBLE) - 1.0e0)))
            + CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) > 0 THEN
    round((sqrt((CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                / (CAST(n_gaps AS DOUBLE) * (CAST(n_gaps AS DOUBLE) - 1.0e0)))
           - CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))
          / (sqrt((CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(n_gaps AS DOUBLE) * (CAST(n_gaps AS DOUBLE) - 1.0e0)))
             + CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 9)
  END AS burstiness
FROM agg WHERE n_gaps >= 2
""",
)
def q_user_burstiness(spark, sf_dir):
    """EXT — per-user inter-arrival burstiness (timeseries.
    interarrival_burstiness; Goh & Barabási 2008: B = (σ−μ)/(σ+μ),
    −1 clockwork / 0 Poisson / →1 bursty) plus the CV — the bot-vs-
    burst fingerprint behind rate-limit and crawl-budget policy.
    Exact microsecond gaps, DECIMAL/HUGEINT Σg and Σg², Bessel
    variance in one shared IEEE chain — hash-matched."""
    from .operators.timeseries import interarrival_burstiness

    return interarrival_burstiness(
        t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        id_col="event_id",
    )


@query(
    "cohens_d_priority_price",
    oracle="""
WITH base AS (
  SELECT o_orderpriority = '1-URGENT' AS g,
         CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS v
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
), cells AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN g THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(CASE WHEN NOT g THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_b,
         COALESCE(SUM(CASE WHEN g THEN CAST(v AS HUGEINT) END), 0) AS sa,
         COALESCE(SUM(CASE WHEN NOT g THEN CAST(v AS HUGEINT) END), 0) AS sb,
         COALESCE(SUM(CASE WHEN g THEN CAST(v AS HUGEINT) * CAST(v AS HUGEINT) END), 0) AS qa,
         COALESCE(SUM(CASE WHEN NOT g THEN CAST(v AS HUGEINT) * CAST(v AS HUGEINT) END), 0) AS qb
  FROM base
)
SELECT n_a, n_b,
  CASE WHEN n_a > 0 THEN round(CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0e0, 9) END AS mean_a,
  CASE WHEN n_b > 0 THEN round(CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0e0, 9) END AS mean_b,
  CASE WHEN n_a >= 2 AND n_b >= 2 AND
    (((CAST(n_a AS DOUBLE) - 1.0e0) * ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0e0))
     + (CAST(n_b AS DOUBLE) - 1.0e0) * ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0e0)))
     / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0e0)) > 0
  THEN round(
    (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
    / sqrt(((CAST(n_a AS DOUBLE) - 1.0e0) * ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0e0))
     + (CAST(n_b AS DOUBLE) - 1.0e0) * ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0e0)))
     / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0e0)), 9)
  END AS cohens_d,
  CASE WHEN n_a >= 2 AND n_b >= 2 AND
    (((CAST(n_a AS DOUBLE) - 1.0e0) * ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0e0))
     + (CAST(n_b AS DOUBLE) - 1.0e0) * ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0e0)))
     / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0e0)) > 0
  THEN round(
    (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
    / sqrt(((CAST(n_a AS DOUBLE) - 1.0e0) * ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0e0))
     + (CAST(n_b AS DOUBLE) - 1.0e0) * ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0e0)))
     / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0e0))
    * (1.0e0 - 3.0e0 / (4.0e0 * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) - 9.0e0)), 9)
  END AS hedges_g
FROM cells
""",
)
def q_cohens_d_priority_price(spark, sf_dir):
    """EXT — Cohen's d / Hedges' g effect size of order priority on
    order value (profiling.cohens_d_effect_size): the magnitude
    readout the significance tests omit — at corpus scale everything
    is "significant"; d answers whether it MATTERS. Exact integer
    Σv/Σv² folds in DECIMAL/HUGEINT, one shared IEEE chain —
    hash-matched."""
    from .operators.profiling import cohens_d_effect_size

    d = t(spark, sf_dir, "orders").select(
        (F.col("o_orderpriority") == "1-URGENT").alias("g"), "o_totalprice"
    )
    return cohens_d_effect_size(d, "g", "o_totalprice")


@query(
    "odds_ratio_source_flag",
    oracle="""
WITH base AS (
  SELECT source = 'web' AS e, n_chars > 600 AS y
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
), cells AS (
  SELECT
    CAST(COALESCE(SUM(CASE WHEN e AND y THEN 1 ELSE 0 END), 0) AS BIGINT) AS exposed_pos,
    CAST(COALESCE(SUM(CASE WHEN e AND NOT y THEN 1 ELSE 0 END), 0) AS BIGINT) AS exposed_neg,
    CAST(COALESCE(SUM(CASE WHEN NOT e AND y THEN 1 ELSE 0 END), 0) AS BIGINT) AS unexposed_pos,
    CAST(COALESCE(SUM(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END), 0) AS BIGINT) AS unexposed_neg
  FROM base
)
SELECT exposed_pos, exposed_neg, unexposed_pos, unexposed_neg,
  CASE WHEN exposed_pos > 0 AND exposed_neg > 0 AND unexposed_pos > 0 AND unexposed_neg > 0 THEN
    round(CAST(exposed_pos AS DOUBLE) * CAST(unexposed_neg AS DOUBLE)
        / (CAST(exposed_neg AS DOUBLE) * CAST(unexposed_pos AS DOUBLE)), 9) END AS odds_ratio,
  CASE WHEN exposed_pos > 0 AND exposed_neg > 0 AND unexposed_pos > 0 AND unexposed_neg > 0 THEN
    round(exp(ln(CAST(exposed_pos AS DOUBLE) * CAST(unexposed_neg AS DOUBLE)
        / (CAST(exposed_neg AS DOUBLE) * CAST(unexposed_pos AS DOUBLE)))
      - 1.959963985e0 * sqrt(1.0e0/exposed_pos + 1.0e0/exposed_neg + 1.0e0/unexposed_pos + 1.0e0/unexposed_neg)), 9) END AS ci_low,
  CASE WHEN exposed_pos > 0 AND exposed_neg > 0 AND unexposed_pos > 0 AND unexposed_neg > 0 THEN
    round(exp(ln(CAST(exposed_pos AS DOUBLE) * CAST(unexposed_neg AS DOUBLE)
        / (CAST(exposed_neg AS DOUBLE) * CAST(unexposed_pos AS DOUBLE)))
      + 1.959963985e0 * sqrt(1.0e0/exposed_pos + 1.0e0/exposed_neg + 1.0e0/unexposed_pos + 1.0e0/unexposed_neg)), 9) END AS ci_high
FROM cells
""",
)
def q_odds_ratio_source_flag(spark, sf_dir):
    """EXT — 2×2 odds ratio with Wald 95% CI (profiling.odds_ratio_ci;
    Woolf 1955): does the web source over-produce long documents,
    reported as a ratio with uncertainty instead of a bare χ² verdict.
    Pure integer cells, one ln/exp/sqrt IEEE chain (the woe_iv
    discipline) — hash-matched."""
    from .operators.profiling import odds_ratio_ci

    d = t(spark, sf_dir, "documents").select(
        (F.col("source") == "web").alias("e"), (F.col("n_chars") > 600).alias("y")
    )
    return odds_ratio_ci(d, "e", "y")


@query(
    "cronbach_alpha_quality_items",
    oracle="""
WITH base AS (
  SELECT CAST(round(CAST(l_quantity AS DOUBLE) * 100) AS BIGINT) AS i0,
         CAST(round(CAST(l_discount AS DOUBLE) * 100) AS BIGINT) AS i1,
         CAST(round(CAST(l_tax AS DOUBLE) * 100) AS BIGINT) AS i2
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL AND l_tax IS NOT NULL
), cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    COALESCE(SUM(CAST(i0 + i1 + i2 AS HUGEINT)), 0) AS st,
    COALESCE(SUM(CAST(i0 + i1 + i2 AS HUGEINT) * CAST(i0 + i1 + i2 AS HUGEINT)), 0) AS qt,
    COALESCE(SUM(CAST(i0 AS HUGEINT)), 0) AS s0, COALESCE(SUM(CAST(i0 AS HUGEINT) * CAST(i0 AS HUGEINT)), 0) AS q0,
    COALESCE(SUM(CAST(i1 AS HUGEINT)), 0) AS s1, COALESCE(SUM(CAST(i1 AS HUGEINT) * CAST(i1 AS HUGEINT)), 0) AS q1,
    COALESCE(SUM(CAST(i2 AS HUGEINT)), 0) AS s2, COALESCE(SUM(CAST(i2 AS HUGEINT) * CAST(i2 AS HUGEINT)), 0) AS q2
  FROM base
)
SELECT n, CAST(3 AS BIGINT) AS k,
  CASE WHEN n >= 2 AND
    ((CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0)) > 0
  THEN round(
    (3.0e0 / 2.0e0) * (1.0e0 -
      ( ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0))
      + ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0))
      + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0)) )
      / ((CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0))
    ), 9)
  END AS alpha
FROM cells
""",
)
def q_cronbach_alpha_quality_items(spark, sf_dir):
    """EXT — Cronbach's α reliability over three lineitem "score"
    items (profiling.cronbach_alpha; Cronbach 1951): do quantity /
    discount / tax move together as one construct? The reliability
    gate before averaging heuristic sub-scores into a single quality
    label. Listwise-complete rows; DECIMAL/HUGEINT Σx/Σx²/Σ(rowsum)²
    folds, one IEEE chain — hash-matched."""
    from .operators.profiling import cronbach_alpha

    return cronbach_alpha(
        t(spark, sf_dir, "lineitem"), ["l_quantity", "l_discount", "l_tax"]
    )


def _hosmer_sql() -> str:
    from .operators.sampling import hash_uniform_sql

    hu = hash_uniform_sql("event_id")
    n_bins = 10
    fracs = ", ".join(repr(i / n_bins) for i in range(1, n_bins))
    above = " + ".join(
        f"(CASE WHEN s > b[{i}] THEN 1 ELSE 0 END)" for i in range(1, n_bins)
    )
    return f"""
WITH base AS (
  SELECT CAST(round(({hu}) * 10000) AS BIGINT) AS s,
         CAST(event_type = 'purchase' AS BIGINT) AS y
  FROM events WHERE event_id IS NOT NULL AND event_type IS NOT NULL
), b AS (SELECT quantile_cont(s, [{fracs}]) AS b FROM base),
per AS (
  SELECT CAST(({above}) + 1 AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS nk, CAST(SUM(y) AS BIGINT) AS o,
         COALESCE(SUM(CAST(s AS HUGEINT)), 0) AS ssum
  FROM base CROSS JOIN b GROUP BY 1
), terms AS (
  SELECT nk, o,
    CASE WHEN CAST(ssum AS DOUBLE) / 10000.0e0 > 0
          AND (CAST(ssum AS DOUBLE) / 10000.0e0) / CAST(nk AS DOUBLE) < 1 THEN
      (CAST(o AS DOUBLE) - CAST(ssum AS DOUBLE) / 10000.0e0)
      * (CAST(o AS DOUBLE) - CAST(ssum AS DOUBLE) / 10000.0e0)
      / ((CAST(ssum AS DOUBLE) / 10000.0e0)
         * (1.0e0 - (CAST(ssum AS DOUBLE) / 10000.0e0) / CAST(nk AS DOUBLE)))
    END AS term
  FROM per
)
SELECT CAST(COALESCE(SUM(nk), 0) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_bins,
  CASE WHEN count(*) >= 3
        AND SUM(CASE WHEN term IS NULL THEN 1 ELSE 0 END) = 0
  THEN round(SUM(term), 9) END AS chi2,
  CASE WHEN count(*) >= 3 THEN CAST(count(*) - 2 AS BIGINT) END AS dof
FROM terms
"""


@query("hosmer_lemeshow_calibration", oracle=_hosmer_sql())
def q_hosmer_lemeshow_calibration(spark, sf_dir):
    """EXT — Hosmer–Lemeshow decile-of-risk calibration test
    (profiling.hosmer_lemeshow_test; Hosmer & Lemeshow 1980): the
    hypothesis-test companion to calibration_curve/brier — is the
    miscalibration more than chance? Hash-uniform scorer vs purchase
    label; ties-low R-7 decile boundaries (the gains/psi fold), exact
    integer O and Σscore per bin, one IEEE χ² chain — hash-matched."""
    from .operators.profiling import hosmer_lemeshow_test
    from .operators.sampling import hash_uniform

    e = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull() & F.col("event_id").isNotNull())
        .select(
            hash_uniform(F.col("event_id")).alias("score"),
            (F.col("event_type") == "purchase").alias("is_purchase"),
        )
    )
    return hosmer_lemeshow_test(e, "score", "is_purchase", n_bins=10)


@query(
    "brown_forsythe_returnflag_price",
    oracle="""
WITH base AS (
  SELECT l_returnflag AS g,
         CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS v
  FROM lineitem WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
), meds AS (
  SELECT g, quantile_cont(v, 0.5) AS med FROM base GROUP BY g
), per AS (
  SELECT base.g, CAST(count(*) AS BIGINT) AS nj,
         SUM(abs(CAST(v AS DOUBLE) - med)) AS sz,
         SUM(abs(CAST(v AS DOUBLE) - med) * abs(CAST(v AS DOUBLE) - med)) AS qz
  FROM base JOIN meds ON base.g = meds.g GROUP BY base.g
), tot AS (
  SELECT CAST(COALESCE(SUM(nj), 0) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS k,
         CAST(COALESCE(MIN(nj), 0) AS BIGINT) AS minn,
         SUM(sz) AS szt,
         SUM(sz * sz / CAST(nj AS DOUBLE)) AS sb,
         SUM(qz) AS qzt
  FROM per
)
SELECT n, k,
  CASE WHEN k >= 2 AND minn >= 2 AND (qzt - sb) > 0 THEN
    round(((sb - szt * szt / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0e0))
        / ((qzt - sb) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 9)
  END AS f_stat,
  CASE WHEN k >= 2 THEN CAST(k - 1 AS BIGINT) END AS dof1,
  CASE WHEN k >= 2 THEN CAST(n - k AS BIGINT) END AS dof2
FROM tot
""",
)
def q_brown_forsythe_returnflag_price(spark, sf_dir):
    """EXT — Brown–Forsythe equal-variance test across return flags
    (profiling.brown_forsythe_test; Brown & Forsythe 1974 — Levene
    with median centers): the spread-drift companion to the mean
    tests, and the gate cohens_d's pooled variance assumes. Pinned
    R-7 group medians over exact integers, Σz/Σz² group folds, one
    IEEE F chain — hash-matched."""
    from .operators.profiling import brown_forsythe_test

    return brown_forsythe_test(
        t(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


@query(
    "kendall_tau_quantity_discount",
    oracle="""
WITH base AS (
  SELECT CAST(round(CAST(l_quantity AS DOUBLE)) AS BIGINT) AS x,
         CAST(round(CAST(l_discount AS DOUBLE) * 100) AS BIGINT) AS y
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
), cells AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY x, y
), cd AS (
  SELECT
    COALESCE(SUM(CASE WHEN a.y < b.y THEN CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT) END), 0) AS concordant,
    COALESCE(SUM(CASE WHEN a.y > b.y THEN CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT) END), 0) AS discordant
  FROM cells a JOIN cells b ON a.x < b.x
), tx AS (
  SELECT COALESCE(SUM(CAST(t AS HUGEINT) * (CAST(t AS HUGEINT) - 1) / 2), 0) AS n1
  FROM (SELECT CAST(SUM(c) AS HUGEINT) AS t FROM cells GROUP BY x)
), ty AS (
  SELECT COALESCE(SUM(CAST(t AS HUGEINT) * (CAST(t AS HUGEINT) - 1) / 2), 0) AS n2
  FROM (SELECT CAST(SUM(c) AS HUGEINT) AS t FROM cells GROUP BY y)
), nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
SELECT n,
  CAST(concordant AS DOUBLE) AS concordant,
  CAST(discordant AS DOUBLE) AS discordant,
  CASE WHEN sqrt(CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1) / 2 - n1 AS DOUBLE)
              * CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1) / 2 - n2 AS DOUBLE)) > 0
  THEN round((CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
           / sqrt(CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1) / 2 - n1 AS DOUBLE)
                * CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1) / 2 - n2 AS DOUBLE)), 9)
  END AS tau_b
FROM cd CROSS JOIN tx CROSS JOIN ty CROSS JOIN nrow
""",
)
def q_kendall_tau_quantity_discount(spark, sf_dir):
    """EXT — Kendall τ-b between quantity and discount (profiling.
    kendall_tau_b; Kendall 1945): the heavy-ties monotone-association
    readout — both variables live on SMALL quantized domains (50 × 11
    values), exactly where Spearman's midranks blur. The pair counts
    come from the CELL table self-joined under strict inequality
    (domain²-bounded — the theil_sen contract, never row grain);
    DECIMAL/HUGEINT pair folds, one IEEE sqrt — hash-matched."""
    from .operators.profiling import kendall_tau_b

    return kendall_tau_b(
        t(spark, sf_dir, "lineitem"), "l_quantity", "l_discount",
        x_scale=1, y_scale=100,
    )


_DRAWDOWN_SQL = f"""
WITH vals AS (
  SELECT o_orderdate AS ts, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), daily AS ({_DAILY_REV_SQL}),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, COALESCE(SUM(CAST(x AS HUGEINT)), 0) AS t
  FROM daily
), cum AS (
  SELECT day, n,
    SUM(CAST(n AS HUGEINT) * CAST(x AS HUGEINT) - t)
      OVER (ORDER BY day ASC ROWS UNBOUNDED PRECEDING) AS c
  FROM daily CROSS JOIN tot
), peaks AS (
  SELECT day, n, MAX(c) OVER (ORDER BY day ASC ROWS UNBOUNDED PRECEDING) - c AS dd
  FROM cum
), mx AS (SELECT MAX(dd) AS m FROM peaks)
SELECT CAST(MAX(n) AS BIGINT) AS n_days,
       CAST(MAX(m) AS DOUBLE) / (CAST(MAX(n) AS DOUBLE) * 100.0e0) AS max_drawdown,
       CASE WHEN MAX(m) > 0 THEN MIN(day) END AS trough_day
FROM peaks CROSS JOIN mx WHERE dd = m
"""


@query("max_drawdown_daily_revenue", oracle=_DRAWDOWN_SQL)
def q_max_drawdown_daily_revenue(spark, sf_dir):
    """EXT — maximum drawdown of demeaned cumulative daily revenue
    (timeseries.max_drawdown): the deepest sustained below-run-rate
    stretch and the day it bottomed — CUSUM's alarm, sized. The cusum
    integer discipline verbatim (n-scaled deviations, exact-integer
    running sum/max, ONE IEEE division) — hash-matched."""
    from .operators.timeseries import max_drawdown

    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    return max_drawdown(o, ts_col="o_orderdate", value_col="o_totalprice")


_OLS_SQL = f"""
WITH vals AS (
  SELECT o_orderdate AS ts, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), daily AS (
  SELECT day, x AS y FROM ({_DAILY_REV_SQL})
), d0 AS (SELECT MIN(day) AS d0 FROM daily),
staged AS (
  SELECT CAST(datediff('day', d0, day) AS BIGINT) AS x, y
  FROM daily CROSS JOIN d0
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
    COALESCE(SUM(CAST(x AS HUGEINT)), 0) AS sx,
    COALESCE(SUM(CAST(y AS HUGEINT)), 0) AS sy,
    COALESCE(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)), 0) AS sxy,
    COALESCE(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)), 0) AS sxx,
    COALESCE(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)), 0) AS syy
  FROM staged
)
SELECT n_days,
  CASE WHEN n_days >= 3 AND (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) > 0 THEN
    round(((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
         / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))) / 100.0e0, 9) END AS slope,
  CASE WHEN n_days >= 3 AND (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) > 0 THEN
    round((CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE)
         - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
          / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)))
           * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) / 100.0e0, 9) END AS intercept,
  CASE WHEN n_days >= 3 AND (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) > 0
        AND ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
           - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
            / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)))
             * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))) > 0 THEN
    round(sqrt((((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
           - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
            / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)))
             * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))))
         / (CAST(n_days AS DOUBLE) - 2.0e0)
         / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))) / 100.0e0, 9) END AS se_slope,
  CASE WHEN n_days >= 3 AND (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) > 0
        AND ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
           - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
            / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)))
             * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))) > 0 THEN
    round(((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
         / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)))
        / sqrt((((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
           - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
            / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)))
             * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))))
         / (CAST(n_days AS DOUBLE) - 2.0e0)
         / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))), 9) END AS t_stat,
  CASE WHEN n_days >= 3 AND (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) > 0
        AND (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE)) > 0 THEN
    round(((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
         / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)))
        * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
        / (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE)), 9) END AS r2
FROM m
"""


@query("ols_trend_daily_revenue", oracle=_OLS_SQL)
def q_ols_trend_daily_revenue(spark, sf_dir):
    """EXT — OLS linear trend of daily revenue with inference
    (timeseries.ols_trend): slope per day, standard error, t and R² —
    the uncertainty readout Theil-Sen omits (theil_sen_trend is the
    robust sibling over the same series). DECIMAL/HUGEINT 5-moment
    folds over exact integers, one shared IEEE chain — hash-matched."""
    from .operators.timeseries import ols_trend

    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    return ols_trend(o, ts_col="o_orderdate", value_col="o_totalprice")


_CLUSTERING_SQL = (
    _TRIANGLE_SQL.rstrip()
    .replace(
        "SELECT d.node, d.degree, CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles\nFROM d LEFT JOIN tc USING (node)",
        """SELECT d.node, d.degree,
       CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN d.degree >= 2 THEN
         round(2.0e0 * CAST(coalesce(tc.triangles, 0) AS DOUBLE)
             / (CAST(d.degree AS DOUBLE) * (CAST(d.degree AS DOUBLE) - 1.0e0)), 9)
       END AS clustering
FROM d LEFT JOIN tc USING (node)""",
    )
)


@query("supplier_clustering_coefficient", oracle=_CLUSTERING_SQL)
def q_supplier_clustering_coefficient(spark, sf_dir):
    """EXT — per-node local clustering coefficient on the supplier
    co-supply graph (graph.local_clustering; Watts & Strogatz 1998):
    the neighborhood-cohesion readout on top of the degree-ordered
    triangle counts (supplier_triangles' O(|E|^1.5) bound carries
    over) — exact integers, ONE IEEE division — hash-matched."""
    from .operators.graph import local_clustering

    ps = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    a = ps.withColumnsRenamed({"l_suppkey": "sa"})
    b = ps.withColumnsRenamed({"l_suppkey": "sb"})
    edges = (
        a.join(b, "l_partkey")
        .where(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
        .distinct()
    )
    return local_clustering(edges)


def _kfold_te_sql() -> str:
    from .operators.sampling import hash_uniform_sql

    hu = hash_uniform_sql("o_orderkey")
    return f"""
WITH base AS (
  SELECT o_orderpriority AS cat,
         CAST(floor(({hu}) * 5) AS BIGINT) AS fold,
         CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS y
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        AND o_orderkey IS NOT NULL
), per AS (
  SELECT cat, fold, CAST(count(*) AS BIGINT) AS nf,
         CAST(SUM(y) AS HUGEINT) AS sf
  FROM base GROUP BY cat, fold
), ctot AS (
  SELECT cat, CAST(SUM(nf) AS BIGINT) AS nc, CAST(SUM(sf) AS HUGEINT) AS sc
  FROM per GROUP BY cat
), ftot AS (
  SELECT fold, CAST(SUM(nf) AS BIGINT) AS ng, CAST(SUM(sf) AS HUGEINT) AS sg
  FROM per GROUP BY fold
), gtot AS (
  SELECT CAST(SUM(nf) AS BIGINT) AS nn, CAST(SUM(sf) AS HUGEINT) AS tt FROM per
)
SELECT per.cat AS category, per.fold,
       CAST(nc - nf AS BIGINT) AS n_oof,
  CASE WHEN (nn - ng) > 0 THEN
    CAST(CAST(nn - ng AS HUGEINT) * (sc - sf) + 10 * (tt - sg) AS DOUBLE)
    / CAST(CAST(nn - ng AS HUGEINT) * (CAST(nc - nf AS HUGEINT) + 10) * 100 AS DOUBLE)
  END AS enc
FROM per JOIN ctot ON per.cat = ctot.cat
         JOIN ftot ON per.fold = ftot.fold
         CROSS JOIN gtot
"""


@query("kfold_target_encoding_priority", oracle=_kfold_te_sql())
def q_kfold_target_encoding_priority(spark, sf_dir):
    """EXT — leakage-safe k-fold target encoding of order priority
    (features.kfold_target_encode; the out-of-fold Micci-Barreca
    shrinkage): both the category sums AND the global prior exclude
    the row's own fold, assigned by the engine-portable md5 hash —
    the feature a model trains on never saw its own label. Exact
    DECIMAL/HUGEINT identity per (category, fold), ONE IEEE division
    — hash-matched."""
    from .operators.features import kfold_target_encode

    return kfold_target_encode(
        t(spark, sf_dir, "orders"),
        cat_col="o_orderpriority",
        target_col="o_totalprice",
        id_col="o_orderkey",
        k=5,
        smoothing=10,
    )


@query(
    "scale_features_acctbal",
    oracle="""
WITH base AS (
  SELECT c_custkey AS id,
         CAST(round(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT) AS v
  FROM customer WHERE c_custkey IS NOT NULL AND c_acctbal IS NOT NULL
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n, MIN(v) AS mn, MAX(v) AS mx,
         COALESCE(SUM(CAST(v AS HUGEINT)), 0) AS s,
         COALESCE(SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)), 0) AS q,
         quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.5) AS med,
         quantile_cont(v, 0.75) AS q3
  FROM base
)
SELECT id, round(CAST(v AS DOUBLE) / 100.0e0, 9) AS value,
  CASE WHEN mx > mn THEN
    round((CAST(v AS DOUBLE) - CAST(mn AS DOUBLE)) / CAST(mx - mn AS DOUBLE), 9) END AS minmax,
  CASE WHEN n >= 2 AND ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0)) > 0 THEN
    round((CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        / sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0)), 9) END AS zscore,
  CASE WHEN (q3 - q1) > 0 THEN
    round((CAST(v AS DOUBLE) - med) / (q3 - q1), 9) END AS robust
FROM base CROSS JOIN stats
""",
)
def q_scale_features_acctbal(spark, sf_dir):
    """EXT — the three standard feature scalers over customer account
    balance in one pass (features.scale_features): min-max, z-score,
    and the outlier-proof median/IQR robust form — the preprocessing
    mile before distance-based models. One broadcast 1-row stats
    attach, pinned R-7 quantiles over exact integers, shared IEEE
    chains — hash-matched."""
    from .operators.features import scale_features

    return scale_features(
        t(spark, sf_dir, "customer"), id_col="c_custkey", value_col="c_acctbal"
    )


@query(
    "lexical_richness_corpus",
    oracle="""
WITH words AS (
  SELECT t.w AS w FROM documents,
       LATERAL unnest(string_split(lower(text), ' ')) AS t(w)
  WHERE text IS NOT NULL AND t.w <> ''
), per AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w),
agg AS (
  SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab,
         COALESCE(SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)), 0) AS m2,
         CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS hapax
  FROM per
)
SELECT n_tokens, vocab, hapax,
  CASE WHEN n_tokens >= 2 THEN round(
    10000.0e0 * (CAST(m2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 9) END AS yules_k,
  CASE WHEN n_tokens >= 2 AND vocab >= 1 THEN round(
    ln(CAST(vocab AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE)), 9) END AS herdan_c,
  CASE WHEN vocab > 0 THEN round(
    CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 9) END AS hapax_ratio
FROM agg
""",
)
def q_lexical_richness_corpus(spark, sf_dir):
    """EXT — Yule's K, Herdan's C and the hapax ratio of the corpus
    vocabulary (text.lexical_richness; Yule 1944, Herdan 1960): the
    length-invariant repetitiveness screen — template spam makes few
    types dominate and K explode — companion to chao1's unseen-types
    estimate over the SAME word-grain groupBy. Exact integer spectrum
    fold (Σc² in DECIMAL/HUGEINT), shared ln chain — hash-matched."""
    from .operators.text import lexical_richness

    return lexical_richness(t(spark, sf_dir, "documents"))


def _rank_eval_sql() -> str:
    gain = (
        "CAST(('0x' || substr(md5('q1:' || CAST(doc_id AS VARCHAR)), 1, 2)) "
        "AS BIGINT) % 4"
    )
    return f"""
WITH bm AS ({_BM25_SQL}),
run AS (SELECT 'q1' AS q, doc_id AS d, CAST(rk AS BIGINT) AS rnk FROM bm WHERE rk <= 10),
qrels AS (SELECT 'q1' AS q, doc_id AS d, {gain} AS g FROM bm),
rel AS (SELECT q, d FROM qrels WHERE g > 0),
rq AS (SELECT q, CAST(count(*) AS BIGINT) AS r FROM rel GROUP BY q),
j AS (
  SELECT run.q, run.rnk,
         CASE WHEN rel.d IS NOT NULL THEN 1 ELSE 0 END AS is_rel
  FROM run LEFT JOIN rel ON run.q = rel.q AND run.d = rel.d
), h AS (
  SELECT q, rnk, is_rel,
         SUM(is_rel) OVER (PARTITION BY q ORDER BY rnk ASC ROWS UNBOUNDED PRECEDING) AS hits
  FROM j
), per AS (
  SELECT q,
    CAST(COALESCE(SUM(CASE WHEN is_rel = 1
        THEN hits * CAST(2520.0e0 / CAST(rnk AS DOUBLE) AS BIGINT) END), 0) AS BIGINT) AS terms,
    MIN(CASE WHEN is_rel = 1 THEN rnk END) AS fr
  FROM h GROUP BY q
), scored AS (
  SELECT rq.q,
    CAST(round(CASE WHEN fr IS NOT NULL THEN 1000000000.0e0 / CAST(fr AS DOUBLE) ELSE 0.0e0 END) AS BIGINT) AS rr_nano,
    CAST(round(CAST(COALESCE(terms, 0) AS DOUBLE)
         / (2520.0e0 * CAST(LEAST(r, 10) AS DOUBLE)) * 1000000000.0e0) AS BIGINT) AS ap_nano
  FROM rq LEFT JOIN per ON rq.q = per.q
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
  CASE WHEN count(*) > 0 THEN
    round(CAST(SUM(rr_nano) AS DOUBLE) / 1000000000.0e0 / CAST(count(*) AS DOUBLE), 9) END AS mrr,
  CASE WHEN count(*) > 0 THEN
    round(CAST(SUM(ap_nano) AS DOUBLE) / 1000000000.0e0 / CAST(count(*) AS DOUBLE), 9) END AS map_at_k
FROM scored
"""


@query("mrr_map_retrieval_eval", oracle=_rank_eval_sql())
def q_mrr_map_retrieval_eval(spark, sf_dir):
    """EXT — MRR@10 and MAP@10 of the BM25 run (retrieval.
    rank_eval_at_k; Voorhees TREC-8 / trec_eval AP@k): the binary-
    relevance companions to ndcg_retrieval_eval over the SAME run and
    md5-derived qrels — MRR prices the first hit, MAP the precision
    profile. With L = lcm(1..10) every precision term is an exact
    integer hits·(L/rank), per-query folds micro-quantize to nano
    units before the cross-query mean — hash-matched."""
    from .operators import text as text_ops
    from .operators.retrieval import rank_eval_at_k

    bm = text_ops.bm25_topk(
        t(spark, sf_dir, "documents"), ["dup", "merge", "window"], k=15
    )
    run = bm.select(
        F.lit("q1").alias("query_id"), "doc_id", F.col("rk").alias("rank")
    )
    gain = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("q1:"), F.col("doc_id").cast("string"))),
                1,
                2,
            ),
            16,
            10,
        ).cast("long")
        % 4
    )
    qrels = bm.select(
        F.lit("q1").alias("query_id"), "doc_id", gain.alias("gain")
    )
    return rank_eval_at_k(run, qrels, k=10)


@query("streaming_ols_trend", oracle=_OLS_SQL)
def q_streaming_ols_trend(spark, sf_dir):
    """EXT §2.10 — streaming OLS daily trend (streaming/jobs.
    streaming_ols_trend): the incremental twin of ols_trend, carrying
    the DAY-GRAIN total table as state (calendar-bounded — decades in
    kilobytes; the moment sums themselves are NOT additive when a day
    spans two batches, so the day merge is the associative unit) and
    running the batch finishing readout once — this STREAMING query
    hash-matches the SAME DuckDB oracle as the batch form for any
    slicing (the streaming_twap contract)."""
    from .streaming.jobs import streaming_ols_trend

    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    return streaming_ols_trend(
        spark, o, ts_col="o_orderdate", value_col="o_totalprice", n_slices=4
    )


@query(
    "jonckheere_priority_trend",
    oracle="""
WITH base AS (
  SELECT CAST(CASE o_orderpriority
           WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1 WHEN '3-MEDIUM' THEN 2
           WHEN '4-NOT SPECIFIED' THEN 3 WHEN '5-LOW' THEN 4 END AS BIGINT) AS g,
         CAST(round(CAST(o_totalprice AS DOUBLE) / 10000.0e0) AS BIGINT) AS v
  FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
), cells AS (
  SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY g, v
), jt2 AS (
  SELECT COALESCE(SUM(CASE WHEN a.v < b.v THEN 2 * CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT)
                           WHEN a.v = b.v THEN CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT) END), 0) AS s
  FROM cells a JOIN cells b ON a.g < b.g
), perg AS (SELECT g, CAST(SUM(c) AS HUGEINT) AS ng FROM cells GROUP BY g),
gstats AS (
  SELECT CAST(SUM(ng) AS HUGEINT) AS nn, CAST(count(*) AS BIGINT) AS k,
         COALESCE(SUM(ng * ng), 0) AS sn2,
         COALESCE(SUM(ng * (ng - 1) * (2 * ng + 5)), 0) AS gt1,
         COALESCE(SUM(ng * (ng - 1) * (ng - 2)), 0) AS gt2,
         COALESCE(SUM(ng * (ng - 1)), 0) AS gt3
  FROM perg
), perv AS (SELECT v, CAST(SUM(c) AS HUGEINT) AS tv FROM cells GROUP BY v),
vstats AS (
  SELECT COALESCE(SUM(tv * (tv - 1) * (2 * tv + 5)), 0) AS vt1,
         COALESCE(SUM(tv * (tv - 1) * (tv - 2)), 0) AS vt2,
         COALESCE(SUM(tv * (tv - 1)), 0) AS vt3
  FROM perv
)
SELECT CAST(nn AS BIGINT) AS n, k,
  round(CAST(s AS DOUBLE) / 2.0e0, 9) AS jt_stat,
  round((CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE)) / 4.0e0, 9) AS e_jt,
  CASE WHEN ((CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0e0) * (2.0e0 * CAST(nn AS DOUBLE) + 5.0e0)
              - CAST(gt1 AS DOUBLE) - CAST(vt1 AS DOUBLE)) / 72.0e0
           + CAST(gt2 AS DOUBLE) * CAST(vt2 AS DOUBLE)
             / (36.0e0 * CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0e0) * (CAST(nn AS DOUBLE) - 2.0e0))
           + CAST(gt3 AS DOUBLE) * CAST(vt3 AS DOUBLE)
             / (8.0e0 * CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0e0))) > 0 THEN
    round((CAST(s AS DOUBLE) / 2.0e0
         - (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE)) / 4.0e0)
      / sqrt((CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0e0) * (2.0e0 * CAST(nn AS DOUBLE) + 5.0e0)
              - CAST(gt1 AS DOUBLE) - CAST(vt1 AS DOUBLE)) / 72.0e0
           + CAST(gt2 AS DOUBLE) * CAST(vt2 AS DOUBLE)
             / (36.0e0 * CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0e0) * (CAST(nn AS DOUBLE) - 2.0e0))
           + CAST(gt3 AS DOUBLE) * CAST(vt3 AS DOUBLE)
             / (8.0e0 * CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0e0))), 9)
  END AS z
FROM jt2 CROSS JOIN gstats CROSS JOIN vstats
""",
)
def q_jonckheere_priority_trend(spark, sf_dir):
    """EXT — Jonckheere–Terpstra ordered-trend test across priority
    tiers (profiling.jonckheere_terpstra; Jonckheere 1954, tie-
    corrected per Hollander & Wolfe): does order value rise
    monotonically with urgency? Strictly more powerful than
    Kruskal-Wallis when the alternative IS the ordering. Pair counts
    from per-group DISTINCT-VALUE cell tables (coarse 10k-unit price
    buckets — domain²-bounded), 2·JT and all tie terms exact
    DECIMAL/HUGEINT, one IEEE sqrt — hash-matched."""
    from .operators.profiling import jonckheere_terpstra

    d = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_totalprice") / F.lit(10000.0)).alias("v"),
    )
    return jonckheere_terpstra(
        d,
        "o_orderpriority",
        "v",
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        unit_scale=1,
    )


@query("streaming_max_drawdown", oracle=_DRAWDOWN_SQL)
def q_streaming_max_drawdown(spark, sf_dir):
    """EXT §2.10 — streaming maximum drawdown (streaming/jobs.
    streaming_max_drawdown): the incremental twin of max_drawdown with
    the streaming_ols_trend state discipline — the DAY-GRAIN total
    table is the associative unit (demeaning needs the FINAL global
    mean, so no scalar fold is exact mid-stream), the batch finishing
    readout runs once on the final state, and the query hash-matches
    the SAME DuckDB oracle as the batch form for any slicing."""
    from .streaming.jobs import streaming_max_drawdown

    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    return streaming_max_drawdown(
        spark, o, ts_col="o_orderdate", value_col="o_totalprice", n_slices=4
    )


@query("pacf_daily_revenue")  # driver-side Durbin-Levinson — rows-only
def q_pacf_daily_revenue(spark, sf_dir):
    """EXT — partial autocorrelation of daily revenue at lags 1..7
    (timeseries.pacf; Durbin 1960 recursion over the hash-matched
    sample ACF): the AR order-selection readout — PACF cuts off after
    p where ACF decays forever. Distributed work is the ACF's; the
    recursion runs driver-side on 7 scalars (bounded collect, the
    classifier_auc k-row discipline) and has no SQL restatement, so
    the gate entry is rows-only; pytest pins the recursion to an
    independent reference and to direct OLS on AR(1)/AR(2) series."""
    from .operators.timeseries import pacf

    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    return pacf(o, ts_col="o_orderdate", value_col="o_totalprice", max_lag=7)


def _bh_sql() -> str:
    from .operators.sampling import hash_uniform_sql

    hu = hash_uniform_sql("user_id")
    return f"""
WITH tests AS (
  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
), base AS (
  SELECT CAST(user_id AS VARCHAR) AS test_id,
         CAST(round((CASE WHEN user_id % 2 = 0 THEN ({hu}) / 50.0e0
                          ELSE ({hu}) END) * 1000000000.0e0) AS BIGINT) AS pu
  FROM tests
), m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM base),
ranked AS (
  SELECT test_id, pu,
         CAST(row_number() OVER (ORDER BY pu ASC, test_id ASC) AS BIGINT) AS rank
  FROM base
), kmax AS (
  SELECT CAST(COALESCE(MAX(CASE WHEN CAST(pu AS HUGEINT) * m <= CAST(rank AS HUGEINT) * 50000000 THEN rank END), 0) AS BIGINT) AS kmax
  FROM ranked CROSS JOIN m
)
SELECT test_id,
       CAST(pu AS DOUBLE) / 1000000000.0e0 AS p_value,
       rank, m,
       round(CAST(rank AS DOUBLE) / CAST(m AS DOUBLE) * 0.05e0, 9) AS bh_critical,
       rank <= kmax AS rejected
FROM ranked CROSS JOIN m CROSS JOIN kmax
"""


@query("benjamini_hochberg_fdr", oracle=_bh_sql())
def q_benjamini_hochberg_fdr(spark, sf_dir):
    """EXT — Benjamini–Hochberg FDR step-up over one p-value per user
    (profiling.benjamini_hochberg; Benjamini & Hochberg 1995): the
    multiple-comparisons gate for the module's test battery — at
    thousands of segment × metric tests, 5% are "significant" by
    chance; BH caps the false-discovery fraction. Fixture p-values are
    the engine-portable md5 uniform (even users carry planted signal
    at p/50). The ascending rank is layout.global_row_ids (range
    exchange + offsets — the test table is entity-grain, the gini
    lesson applied at design time, so NO single-partition window);
    the step-up prefix is integer-exact in micro-units —
    hash-matched."""
    from .operators.profiling import benjamini_hochberg
    from .operators.sampling import hash_uniform

    tests = (
        t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .select(
            F.col("user_id").cast("string").alias("test_id"),
            F.when(
                F.col("user_id") % 2 == 0,
                hash_uniform(F.col("user_id")) / F.lit(50.0),
            )
            .otherwise(hash_uniform(F.col("user_id")))
            .alias("p"),
        )
    )
    return benjamini_hochberg(tests, "test_id", "p", q=0.05)


@query(
    "mantel_haenszel_source_by_lang",
    oracle="""
WITH base AS (
  SELECT lang AS s, source = 'web' AS e, n_chars > 600 AS y
  FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL AND n_chars IS NOT NULL
), per AS (
  SELECT s,
    CAST(COALESCE(SUM(CASE WHEN e AND y THEN 1 ELSE 0 END), 0) AS BIGINT) AS a,
    CAST(COALESCE(SUM(CASE WHEN e AND NOT y THEN 1 ELSE 0 END), 0) AS BIGINT) AS b,
    CAST(COALESCE(SUM(CASE WHEN NOT e AND y THEN 1 ELSE 0 END), 0) AS BIGINT) AS c,
    CAST(COALESCE(SUM(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END), 0) AS BIGINT) AS d
  FROM base GROUP BY s
), terms AS (
  SELECT a + b + c + d AS ni,
    CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE) * 1000000.0e0) AS BIGINT) AS r,
    CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE) * 1000000.0e0) AS BIGINT) AS sx,
    CAST(round((CAST(a + d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE))
             * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS pr,
    CAST(round((CAST(a + d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE))
             * (CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE)) * 1000000.0e0
             + (CAST(b + c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE))
             * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS ps_qr,
    CAST(round((CAST(b + c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE))
             * (CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS qs
  FROM per
), tot AS (
  SELECT CAST(COALESCE(SUM(ni), 0) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
         CAST(COALESCE(SUM(r), 0) AS BIGINT) AS rr, CAST(COALESCE(SUM(sx), 0) AS BIGINT) AS ss,
         CAST(COALESCE(SUM(pr), 0) AS BIGINT) AS prt,
         CAST(COALESCE(SUM(ps_qr), 0) AS BIGINT) AS psqrt,
         CAST(COALESCE(SUM(qs), 0) AS BIGINT) AS qst
  FROM terms
)
SELECT n, k,
  CASE WHEN rr > 0 AND ss > 0 THEN
    round((CAST(rr AS DOUBLE) / 1000000.0e0) / (CAST(ss AS DOUBLE) / 1000000.0e0), 9) END AS or_mh,
  CASE WHEN rr > 0 AND ss > 0 THEN
    round(exp(ln((CAST(rr AS DOUBLE) / 1000000.0e0) / (CAST(ss AS DOUBLE) / 1000000.0e0))
      - 1.959963985e0 * sqrt(
          CAST(prt AS DOUBLE) / 1000000.0e0 / (2.0e0 * (CAST(rr AS DOUBLE) / 1000000.0e0) * (CAST(rr AS DOUBLE) / 1000000.0e0))
        + CAST(psqrt AS DOUBLE) / 1000000.0e0 / (2.0e0 * (CAST(rr AS DOUBLE) / 1000000.0e0) * (CAST(ss AS DOUBLE) / 1000000.0e0))
        + CAST(qst AS DOUBLE) / 1000000.0e0 / (2.0e0 * (CAST(ss AS DOUBLE) / 1000000.0e0) * (CAST(ss AS DOUBLE) / 1000000.0e0)))), 9) END AS ci_low,
  CASE WHEN rr > 0 AND ss > 0 THEN
    round(exp(ln((CAST(rr AS DOUBLE) / 1000000.0e0) / (CAST(ss AS DOUBLE) / 1000000.0e0))
      + 1.959963985e0 * sqrt(
          CAST(prt AS DOUBLE) / 1000000.0e0 / (2.0e0 * (CAST(rr AS DOUBLE) / 1000000.0e0) * (CAST(rr AS DOUBLE) / 1000000.0e0))
        + CAST(psqrt AS DOUBLE) / 1000000.0e0 / (2.0e0 * (CAST(rr AS DOUBLE) / 1000000.0e0) * (CAST(ss AS DOUBLE) / 1000000.0e0))
        + CAST(qst AS DOUBLE) / 1000000.0e0 / (2.0e0 * (CAST(ss AS DOUBLE) / 1000000.0e0) * (CAST(ss AS DOUBLE) / 1000000.0e0)))), 9) END AS ci_high
FROM tot
""",
)
def q_mantel_haenszel_source_by_lang(spark, sf_dir):
    """EXT — Mantel–Haenszel odds ratio of source→length pooled ACROSS
    LANGUAGES (profiling.mantel_haenszel_or; Mantel & Haenszel 1959,
    RBG variance): the confounder-adjusted companion to
    odds_ratio_source_flag — language confounds both source mix and
    document length, the textbook Simpson's-reversal setup. Per-
    stratum ratio terms micro-quantize before the k-row fold, one
    ln/exp/sqrt chain — hash-matched."""
    from .operators.profiling import mantel_haenszel_or

    d = t(spark, sf_dir, "documents").select(
        "lang",
        (F.col("source") == "web").alias("e"),
        (F.col("n_chars") > 600).alias("y"),
    )
    return mantel_haenszel_or(d, "lang", "e", "y")


# ---------------------------------------------------------------------------
# §2.1 S11-ext — ORC binary-columnar source (sources/columnar_source.py)
# ---------------------------------------------------------------------------


_ORC_TWIN_MEMO: dict[str, str] = {}


@query(
    "orc_scan_parity",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def q_orc_scan_parity(spark, sf_dir):
    """S11-ext — ORC source parity (VERDICT r13 task 5): write an ORC
    twin of the supplier fixture once per session (Spark's native ORC
    writer), catalog it through ColumnarDirSource — frozen footer
    schema + per-file conformance split — and read it back typed. The
    rows hash-match the parquet oracle, proving the orc:// read path
    is byte-equivalent to the parquet one the rest of the registry
    pins."""
    import tempfile
    import uuid

    from .sources.columnar_source import ColumnarDirSource

    root = _ORC_TWIN_MEMO.get(sf_dir)
    if root is None or not os.path.isdir(root):
        root = os.path.join(
            tempfile.gettempdir(), f"orc_twin_{os.getpid()}_{uuid.uuid4().hex[:8]}"
        )
        t(spark, sf_dir, "supplier").write.orc(os.path.join(root, "supplier.orc"))
        _ORC_TWIN_MEMO[sf_dir] = root
    src = ColumnarDirSource(root)
    (table,) = src.list_tables(spark)
    return src.read_table(spark, table)


# ---------------------------------------------------------------------------
# §2.12 EXT r14 — classical test battery extensions (operators/profiling.py)
# ---------------------------------------------------------------------------


@query(
    "welch_t_returnflag_price",
    oracle="""
WITH base AS (
  SELECT l_returnflag = 'R' AS g,
         CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS v
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
), cells AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN g THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(CASE WHEN NOT g THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_b,
         COALESCE(SUM(CASE WHEN g THEN CAST(v AS HUGEINT) END), 0) AS sa,
         COALESCE(SUM(CASE WHEN NOT g THEN CAST(v AS HUGEINT) END), 0) AS sb,
         COALESCE(SUM(CASE WHEN g THEN CAST(v AS HUGEINT) * CAST(v AS HUGEINT) END), 0) AS qa,
         COALESCE(SUM(CASE WHEN NOT g THEN CAST(v AS HUGEINT) * CAST(v AS HUGEINT) END), 0) AS qb
  FROM base
), d AS (
  SELECT n_a, n_b, sa, sb,
    ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
       / (CAST(n_a AS DOUBLE) - 1.0e0)) / CAST(n_a AS DOUBLE) AS ua,
    ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
       / (CAST(n_b AS DOUBLE) - 1.0e0)) / CAST(n_b AS DOUBLE) AS ub
  FROM cells
)
SELECT n_a, n_b,
  CASE WHEN n_a > 0 THEN round(CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0e0, 9) END AS mean_a,
  CASE WHEN n_b > 0 THEN round(CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0e0, 9) END AS mean_b,
  CASE WHEN n_a >= 2 AND n_b >= 2 AND ua + ub > 0
       THEN round((CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
                  / sqrt(ua + ub), 9) END AS t_stat,
  CASE WHEN n_a >= 2 AND n_b >= 2 AND ua + ub > 0
       THEN round((ua + ub) * (ua + ub)
                  / (ua * ua / (CAST(n_a AS DOUBLE) - 1.0e0)
                   + ub * ub / (CAST(n_b AS DOUBLE) - 1.0e0)), 9) END AS df
FROM d
""",
)
def q_welch_t_returnflag_price(spark, sf_dir):
    """EXT — Welch's unequal-variance t test of returned vs kept line
    price (profiling.welch_t_test; Welch 1947): the correct two-sample
    location default for observational slices — no equal-variance
    assumption, Welch–Satterthwaite df. Exact integer Σv/Σv² folds,
    one shared IEEE chain — hash-matched."""
    from .operators.profiling import welch_t_test

    d = t(spark, sf_dir, "lineitem").select(
        (F.col("l_returnflag") == "R").alias("g"), "l_extendedprice"
    )
    return welch_t_test(d, "g", "l_extendedprice")


@query(
    "anova_f_priority_price",
    oracle="""
WITH base AS (
  SELECT CAST(o_orderpriority AS VARCHAR) AS g,
         CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS v
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
), per AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_i,
         SUM(CAST(v AS HUGEINT)) AS s,
         SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS q
  FROM base GROUP BY 1
), terms AS (
  SELECT n_i, s, q,
         CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_i AS DOUBLE)) AS HUGEINT) AS tt
  FROM per
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(COALESCE(SUM(n_i), 0) AS BIGINT) AS n,
         SUM(s) AS ts, SUM(q) AS tq, SUM(tt) AS tt
  FROM terms
)
SELECT k, n,
  CAST(k - 1 AS BIGINT) AS df1,
  CAST(n - k AS BIGINT) AS df2,
  CASE WHEN k >= 1 THEN round(CAST(tt AS DOUBLE) - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / CAST(n AS DOUBLE), 9) END AS ss_between,
  CASE WHEN k >= 1 THEN round(CAST(tq AS DOUBLE) - CAST(tt AS DOUBLE), 9) END AS ss_within,
  CASE WHEN k >= 2 AND n > k AND CAST(tq AS DOUBLE) - CAST(tt AS DOUBLE) > 0
       THEN round(((CAST(tt AS DOUBLE) - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0e0))
                  / ((CAST(tq AS DOUBLE) - CAST(tt AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 9) END AS f_stat
FROM tot
""",
)
def q_anova_f_priority_price(spark, sf_dir):
    """EXT — one-way ANOVA F of order value across the five order
    priorities (profiling.anova_f_oneway; Fisher 1925): the k-group
    parametric location test — Kruskal–Wallis' moment twin
    (kruskal_wallis_priority_price ranks the same slicing). Per-group
    integer folds; the (Σv)²/nᵢ terms round to exact integers before
    the k-row fold — hash-matched."""
    from .operators.profiling import anova_f_oneway

    return anova_f_oneway(
        t(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )


@query(
    "jarque_bera_totalprice",
    oracle="""
WITH base AS (
  SELECT CAST(round(CAST(o_totalprice AS DOUBLE) * 1) AS BIGINT) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         COALESCE(SUM(CAST(v AS HUGEINT)), 0) AS s1,
         COALESCE(SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)), 0) AS s2,
         COALESCE(SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT) * CAST(v AS HUGEINT)), 0) AS s3,
         COALESCE(SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT) * CAST(v AS HUGEINT) * CAST(v AS HUGEINT)), 0) AS s4
  FROM base
), mo AS (
  SELECT n,
    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
  FROM cells
), cm AS (
  SELECT n,
    r2 - mu * mu AS m2,
    r3 - 3.0e0 * mu * r2 + 2.0e0 * mu * mu * mu AS m3,
    r4 - 4.0e0 * mu * r3 + 6.0e0 * mu * mu * r2 - 3.0e0 * mu * mu * mu * mu AS m4
  FROM mo
), sk AS (
  SELECT n, m2, m3 / sqrt(m2 * m2 * m2) AS skew, m4 / (m2 * m2) AS kurt
  FROM cm
)
SELECT n,
  CASE WHEN n >= 2 AND m2 > 0 THEN round(skew, 9) END AS skewness,
  CASE WHEN n >= 2 AND m2 > 0 THEN round(kurt, 9) END AS kurtosis,
  CASE WHEN n >= 2 AND m2 > 0
       THEN round(CAST(n AS DOUBLE) * (skew * skew / 6.0e0
                  + (kurt - 3.0e0) * (kurt - 3.0e0) / 24.0e0), 9) END AS jb_stat
FROM sk
""",
)
def q_jarque_bera_totalprice(spark, sf_dir):
    """EXT — Jarque–Bera normality screen on order values
    (profiling.jarque_bera_test; Jarque & Bera 1980): the moment-based
    Gaussianity check to run BEFORE trusting z-score thresholds
    (mad_price_outliers et al. assume roughly symmetric tails).
    Σv..Σv⁴ fold exactly in HUGEINT (whole-unit quantization keeps the
    4th power inside 10³⁸), one IEEE chain — hash-matched."""
    from .operators.profiling import jarque_bera_test

    return jarque_bera_test(t(spark, sf_dir, "orders"), "o_totalprice")


@query(
    "bartlett_returnflag_price",
    oracle="""
WITH base AS (
  SELECT CAST(l_returnflag AS VARCHAR) AS g,
         CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS v
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
), per AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_i,
         SUM(CAST(v AS HUGEINT)) AS s,
         SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS q
  FROM base GROUP BY 1
), staged AS (
  SELECT n_i,
    CAST(round(((CAST(n_i AS DOUBLE) - 1.0e0) * ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_i AS DOUBLE)) / (CAST(n_i AS DOUBLE) - 1.0e0))) * 1000000.0e0) AS HUGEINT) AS w,
    CAST(round(((CAST(n_i AS DOUBLE) - 1.0e0) * ln((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_i AS DOUBLE)) / (CAST(n_i AS DOUBLE) - 1.0e0))) * 1000000.0e0) AS HUGEINT) AS l,
    CAST(round((1.0e0 / (CAST(n_i AS DOUBLE) - 1.0e0)) * 1000000.0e0) AS HUGEINT) AS r,
    CASE WHEN n_i < 2 THEN 1 ELSE 0 END AS small,
    CASE WHEN (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_i AS DOUBLE)) / (CAST(n_i AS DOUBLE) - 1.0e0) <= 0 THEN 1 ELSE 0 END AS zero
  FROM per
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(COALESCE(SUM(n_i), 0) AS BIGINT) AS n,
         SUM(w) AS tw, SUM(l) AS tl, SUM(r) AS tr,
         MAX(small) AS any_small, MAX(zero) AS any_zero
  FROM staged
)
SELECT k, n, CAST(k - 1 AS BIGINT) AS df,
  CASE WHEN k >= 2 AND any_small = 0 AND any_zero = 0
       THEN round(((CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) * ln(CAST(tw AS DOUBLE) / 1000000.0e0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
                    - CAST(tl AS DOUBLE) / 1000000.0e0)
                  / (1.0e0 + (CAST(tr AS DOUBLE) / 1000000.0e0 - 1.0e0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
                     / (3.0e0 * (CAST(k AS DOUBLE) - 1.0e0))), 9) END AS bartlett_stat
FROM tot
""",
)
def q_bartlett_returnflag_price(spark, sf_dir):
    """EXT — Bartlett variance-homogeneity test of line price across
    return flags (profiling.bartlett_test; Bartlett 1937): the
    normal-theory companion to brown_forsythe_returnflag_price on the
    SAME slicing — disagreement between the two is itself the
    non-normality signal. Per-group micro-quantized ln/variance terms
    fold in HUGEINT, one final IEEE chain — hash-matched."""
    from .operators.profiling import bartlett_test

    return bartlett_test(
        t(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


@query(
    "cochrans_q_doc_flags",
    oracle="""
WITH base AS (
  SELECT CAST(n_chars > 500 AS BIGINT) AS f0,
         CAST(lang = 'en' AS BIGINT) AS f1,
         CAST(source = 'web' AS BIGINT) AS f2
  FROM documents
  WHERE n_chars IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL
), cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         COALESCE(SUM(CAST(f0 AS HUGEINT)), 0) AS c0,
         COALESCE(SUM(CAST(f1 AS HUGEINT)), 0) AS c1,
         COALESCE(SUM(CAST(f2 AS HUGEINT)), 0) AS c2,
         COALESCE(SUM(CAST(f0 + f1 + f2 AS HUGEINT) * CAST(f0 + f1 + f2 AS HUGEINT)), 0) AS r2
  FROM base
)
SELECT n, CAST(3 AS BIGINT) AS k, CAST(2 AS BIGINT) AS df,
  CASE WHEN CAST(3 * (c0 + c1 + c2) - r2 AS DOUBLE) <> 0
       THEN round(CAST(2 * (3 * (c0 * c0 + c1 * c1 + c2 * c2) - (c0 + c1 + c2) * (c0 + c1 + c2)) AS DOUBLE)
                  / CAST(3 * (c0 + c1 + c2) - r2 AS DOUBLE), 9) END AS q_stat
FROM cells
""",
)
def q_cochrans_q_doc_flags(spark, sf_dir):
    """EXT — Cochran's Q over three matched binary document heuristics
    — length>500, lang=en, source=web — (profiling.cochrans_q_test;
    Cochran 1950): do the k curation flags fire at one shared rate?
    The k-treatment generalization of mcnemar_paired_models.
    Integer-exact to the single final division — hash-matched."""
    from .operators.profiling import cochrans_q_test

    d = t(spark, sf_dir, "documents").select(
        (F.col("n_chars") > 500).alias("f0"),
        (F.col("lang") == "en").alias("f1"),
        (F.col("source") == "web").alias("f2"),
    )
    return cochrans_q_test(d, ["f0", "f1", "f2"])


@query(
    "cramers_v_flag_status",
    oracle="""
WITH base AS (
  SELECT CAST(l_returnflag AS VARCHAR) AS a, CAST(l_linestatus AS VARCHAR) AS b
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
), cells AS (SELECT a, b, count(*) AS c FROM base GROUP BY 1, 2),
ma AS (SELECT a, count(*) AS ca FROM base GROUP BY 1),
mb AS (SELECT b, count(*) AS cb FROM base GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
grid AS (
  SELECT CAST(COALESCE(c, 0) AS DOUBLE) AS o,
         CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE) AS e
  FROM ma CROSS JOIN mb
  LEFT JOIN cells ON ma.a = cells.a AND mb.b = cells.b
  CROSS JOIN tot
), s AS (
  SELECT CAST(COALESCE(SUM(CAST(round((o - e) * (o - e) / e
           * 1000000000.0e0) AS BIGINT)), 0) AS BIGINT) AS chi_nano
  FROM grid
), dims AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM ma) AS r,
         (SELECT CAST(count(*) AS BIGINT) FROM mb) AS c
)
SELECT n, r, c,
  CASE WHEN LEAST(r, c) >= 2
       THEN round(CAST(chi_nano AS DOUBLE) / 1000000000.0e0, 9) END AS chi2,
  CASE WHEN LEAST(r, c) >= 2
       THEN round(sqrt((CAST(chi_nano AS DOUBLE) / 1000000000.0e0)
                       / (CAST(n AS DOUBLE) * (CAST(LEAST(r, c) AS DOUBLE) - 1.0e0))), 9) END AS cramers_v
FROM tot CROSS JOIN dims CROSS JOIN s
""",
)
def q_cramers_v_flag_status(spark, sf_dir):
    """EXT — Cramér's V association strength between return flag and
    line status (profiling.cramers_v; Cramér 1946): the bounded [0,1]
    effect size over the chi_square_independence grid — at corpus
    scale χ² is always "significant"; V says whether the association
    is material. Same nano-unit grid fold — hash-matched."""
    from .operators.profiling import cramers_v

    return cramers_v(t(spark, sf_dir, "lineitem"), "l_returnflag", "l_linestatus")


@query(
    "durbin_watson_daily_revenue",
    oracle=f"""
WITH vals AS (
  SELECT o_orderdate AS ts, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), daily AS (
  SELECT day, x AS y FROM ({_DAILY_REV_SQL})
), d0 AS (SELECT MIN(day) AS d0 FROM daily),
staged AS (
  SELECT CAST(datediff('day', d0, day) AS BIGINT) AS xd, y, day
  FROM daily CROSS JOIN d0
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
    COALESCE(SUM(CAST(xd AS HUGEINT)), 0) AS sx,
    COALESCE(SUM(CAST(y AS HUGEINT)), 0) AS sy,
    COALESCE(SUM(CAST(xd AS HUGEINT) * CAST(y AS HUGEINT)), 0) AS sxy,
    COALESCE(SUM(CAST(xd AS HUGEINT) * CAST(xd AS HUGEINT)), 0) AS sxx
  FROM staged
), coef AS (
  SELECT n_days,
    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE) AS cxx,
    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) AS b,
    CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE)
      - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
        / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)))
        * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE) AS a
  FROM m
), resid AS (
  SELECT n_days, cxx, day,
         CAST(y AS DOUBLE) - (a + b * CAST(xd AS DOUBLE)) AS e
  FROM staged CROSS JOIN coef
), lagged AS (
  SELECT n_days, cxx,
         CAST(round(e * e * 1000000.0e0) AS HUGEINT) AS e2,
         CASE WHEN lag(e) OVER (ORDER BY day) IS NOT NULL
              THEN CAST(round((e - lag(e) OVER (ORDER BY day))
                              * (e - lag(e) OVER (ORDER BY day))
                              * 1000000.0e0) AS HUGEINT) END AS d2
  FROM resid
), tot AS (
  SELECT n_days, cxx, SUM(e2) AS se2, SUM(d2) AS sd2
  FROM lagged GROUP BY 1, 2
)
SELECT n_days,
  CASE WHEN n_days >= 3 AND cxx > 0 AND se2 > 0
       THEN round(CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE), 9) END AS dw_stat,
  CASE WHEN n_days >= 3 AND cxx > 0 AND se2 > 0
       THEN round(1.0e0 - CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE) / 2.0e0, 9) END AS rho_hat
FROM tot
""",
)
def q_durbin_watson_daily_revenue(spark, sf_dir):
    """EXT — Durbin–Watson residual-autocorrelation test on the daily
    revenue OLS trend (timeseries.durbin_watson; Durbin & Watson
    1950): are the trend line's errors independent, or is the se/t
    that ols_trend_daily_revenue reports overconfident? Residuals are
    one IEEE chain over the exact OLS moments; (Δe)²/e² micro-
    quantized folds; the lag runs over the CALENDAR-bounded day
    series — hash-matched."""
    from .operators.timeseries import durbin_watson

    return durbin_watson(
        t(spark, sf_dir, "orders"), ts_col="o_orderdate",
        value_col="o_totalprice",
    )


@query(
    "ljung_box_daily_revenue",
    oracle=f"""
WITH vals AS (
  SELECT o_orderdate AS ts, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), daily AS ({_DAILY_REV_SQL}),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS HUGEINT) AS t
  FROM daily
), lags AS (SELECT CAST(range + 1 AS BIGINT) AS lag FROM range(0, 7)),
pairs AS (
  SELECT l.lag,
         CAST(tot.n AS HUGEINT) * CAST(a.x AS HUGEINT) - tot.t AS da,
         CAST(tot.n AS HUGEINT) * CAST(b.x AS HUGEINT) - tot.t AS db
  FROM daily a CROSS JOIN lags l CROSS JOIN tot
  JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
), num AS (
  SELECT lag, SUM(da * db) AS nm FROM pairs GROUP BY 1
), den AS (
  SELECT SUM((CAST(n AS HUGEINT) * CAST(x AS HUGEINT) - t)
             * (CAST(n AS HUGEINT) * CAST(x AS HUGEINT) - t)) AS dn
  FROM daily CROSS JOIN tot
), acf AS (
  SELECT l.lag,
         CASE WHEN dn > 0 AND nm IS NOT NULL
              THEN round(CAST(nm AS DOUBLE) / CAST(dn AS DOUBLE), 9) END AS r
  FROM lags l LEFT JOIN num ON l.lag = num.lag CROSS JOIN den
), folded AS (
  SELECT (SELECT n FROM tot) AS n,
         CAST(count(*) AS BIGINT) AS h,
         MAX(CASE WHEN r IS NULL THEN 1 ELSE 0 END) AS any_bad,
         SUM(CASE WHEN r IS NOT NULL THEN
             CAST(round(r * r / (CAST((SELECT n FROM tot) AS DOUBLE) - CAST(lag AS DOUBLE))
                        * 1000000000000000.0e0) AS HUGEINT) END) AS ts
  FROM acf
)
SELECT CAST(n AS BIGINT) AS n_days, h,
  CASE WHEN any_bad = 0
       THEN round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0e0)
                  * (CAST(ts AS DOUBLE) / 1000000000000000.0e0), 9) END AS q_stat
FROM folded
""",
)
def q_ljung_box_daily_revenue(spark, sf_dir):
    """EXT — Ljung–Box portmanteau whiteness test over the first 7
    ACF lags of daily revenue (timeseries.ljung_box; Ljung & Box
    1978): all-lags-at-once where acf_daily_revenue eyeballs one at a
    time — the standard residual diagnostic. Composes the exact ACF
    folds; r²/(n−ℓ) terms micro-quantize before the h-row fold —
    hash-matched."""
    from .operators.timeseries import ljung_box

    return ljung_box(
        t(spark, sf_dir, "orders"), ts_col="o_orderdate",
        value_col="o_totalprice",
    )


@query(
    "runs_test_daily_revenue",
    oracle=f"""
WITH vals AS (
  SELECT o_orderdate AS ts, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), daily AS ({_DAILY_REV_SQL}),
diffs AS (
  SELECT day, x - lag(x) OVER (ORDER BY day) AS d FROM daily
), signs AS (
  SELECT day, d > 0 AS s FROM diffs WHERE d IS NOT NULL AND d <> 0
), runs AS (
  SELECT s,
         CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                OR lag(s) OVER (ORDER BY day) <> s THEN 1 ELSE 0 END AS new_run
  FROM signs
), tot AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN s THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_plus,
         CAST(COALESCE(SUM(CASE WHEN NOT s THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_minus,
         CAST(COALESCE(SUM(new_run), 0) AS BIGINT) AS n_runs
  FROM runs
)
SELECT n_plus, n_minus, n_runs,
  CASE WHEN n_plus > 0 AND n_minus > 0 AND
       2.0e0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE)
         * (2.0e0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE)
            - (CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE)))
         / ((CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE))
            * (CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE))
            * ((CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE)) - 1.0e0)) > 0
  THEN round((CAST(n_runs AS DOUBLE)
              - (2.0e0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE)
                 / (CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE)) + 1.0e0))
             / sqrt(2.0e0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE)
                    * (2.0e0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE)
                       - (CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE)))
                    / ((CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE))
                       * (CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE))
                       * ((CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE)) - 1.0e0))), 9)
  END AS z
FROM tot
""",
)
def q_runs_test_daily_revenue(spark, sf_dir):
    """EXT — Wald–Wolfowitz runs test on the signs of day-over-day
    revenue changes (timeseries.runs_test; Wald & Wolfowitz 1940):
    the model-free randomness check — too few runs = sticky regimes,
    too many = oscillation. Integer-exact counts, one IEEE z chain —
    hash-matched."""
    from .operators.timeseries import runs_test

    return runs_test(
        t(spark, sf_dir, "orders"), ts_col="o_orderdate",
        value_col="o_totalprice",
    )


_MASE_SQL = f"""
WITH vals AS (
  SELECT o_orderdate AS ts, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), daily AS ({_DAILY_REV_SQL}),
seas AS (
  SELECT CAST(count(*) AS BIGINT) AS n_seasonal_pairs,
         COALESCE(SUM(ABS(CAST(a.x AS HUGEINT) - CAST(b.x AS HUGEINT))), 0) AS s_seasonal
  FROM daily a JOIN daily b ON a.day = b.day + 7
), naiv AS (
  SELECT CAST(count(*) AS BIGINT) AS n_naive_pairs,
         COALESCE(SUM(ABS(CAST(a.x AS HUGEINT) - CAST(b.x AS HUGEINT))), 0) AS s_naive
  FROM daily a JOIN daily b ON a.day = b.day + 1
)
SELECT n_seasonal_pairs, n_naive_pairs,
  CASE WHEN n_seasonal_pairs > 0
       THEN round(CAST(s_seasonal AS DOUBLE) / CAST(n_seasonal_pairs AS DOUBLE) / 100.0e0, 9) END AS mae_seasonal,
  CASE WHEN n_naive_pairs > 0
       THEN round(CAST(s_naive AS DOUBLE) / CAST(n_naive_pairs AS DOUBLE) / 100.0e0, 9) END AS mae_naive,
  CASE WHEN n_seasonal_pairs > 0 AND n_naive_pairs > 0 AND s_naive > 0
       THEN round((CAST(s_seasonal AS DOUBLE) / CAST(n_seasonal_pairs AS DOUBLE))
                  / (CAST(s_naive AS DOUBLE) / CAST(n_naive_pairs AS DOUBLE)), 9) END AS mase
FROM seas CROSS JOIN naiv
"""


@query("mase_daily_revenue", oracle=_MASE_SQL)
def q_mase_daily_revenue(spark, sf_dir):
    """EXT — MASE of the seasonal-naïve (lag-7) forecast against the
    naïve (lag-1) baseline on daily revenue
    (timeseries.mase_seasonal_naive; Hyndman & Koehler 2006): the
    scale-free skill score every forecaster must beat — < 1 means
    last-week-same-day outpredicts yesterday (seasonality strength).
    Exact integer |Δ| folds via date-shift equi-joins, one IEEE
    chain — hash-matched."""
    from .operators.timeseries import mase_seasonal_naive

    return mase_seasonal_naive(
        t(spark, sf_dir, "orders"), ts_col="o_orderdate",
        value_col="o_totalprice",
    )


@query(
    "somers_d_quantity_discount",
    oracle="""
WITH base AS (
  SELECT CAST(round(CAST(l_quantity AS DOUBLE)) AS BIGINT) AS x,
         CAST(round(CAST(l_discount AS DOUBLE) * 100) AS BIGINT) AS y
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
), cells AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY x, y
), cd AS (
  SELECT
    COALESCE(SUM(CASE WHEN a.y < b.y THEN CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT) END), 0) AS concordant,
    COALESCE(SUM(CASE WHEN a.y > b.y THEN CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT) END), 0) AS discordant
  FROM cells a JOIN cells b ON a.x < b.x
), tx AS (
  SELECT COALESCE(SUM(CAST(t AS HUGEINT) * (CAST(t AS HUGEINT) - 1) / 2), 0) AS n1
  FROM (SELECT CAST(SUM(c) AS HUGEINT) AS t FROM cells GROUP BY x)
), ty AS (
  SELECT COALESCE(SUM(CAST(t AS HUGEINT) * (CAST(t AS HUGEINT) - 1) / 2), 0) AS n2
  FROM (SELECT CAST(SUM(c) AS HUGEINT) AS t FROM cells GROUP BY y)
), nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
SELECT n,
  CAST(concordant AS DOUBLE) AS concordant,
  CAST(discordant AS DOUBLE) AS discordant,
  CASE WHEN CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1) / 2 - n1 AS DOUBLE) > 0
  THEN round((CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
           / CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1) / 2 - n1 AS DOUBLE), 9)
  END AS d_yx,
  CASE WHEN CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1) / 2 - n2 AS DOUBLE) > 0
  THEN round((CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
           / CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1) / 2 - n2 AS DOUBLE), 9)
  END AS d_xy
FROM cd CROSS JOIN tx CROSS JOIN ty CROSS JOIN nrow
""",
)
def q_somers_d_quantity_discount(spark, sf_dir):
    """EXT — Somers' D of discount given quantity (profiling.somers_d;
    Somers 1962): the DIRECTIONAL ordinal association — ties penalized
    on the independent variable only, the 2·AUC−1 twin — where
    kendall_tau_quantity_discount symmetrizes the same cell table.
    Same domain²-bounded cell self-join, one IEEE chain per
    direction — hash-matched."""
    from .operators.profiling import somers_d

    return somers_d(
        t(spark, sf_dir, "lineitem"), "l_quantity", "l_discount",
        x_scale=1, y_scale=100,
    )


@query(
    "wilcoxon_order_vs_lines",
    oracle="""
WITH li AS (
  SELECT l_orderkey, SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS ls
  FROM lineitem GROUP BY 1
), base AS (
  SELECT CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)
         - CAST(round(CAST(ls AS DOUBLE) * 100) AS BIGINT) AS d
  FROM orders JOIN li ON o_orderkey = l_orderkey
), nz AS (
  SELECT ABS(d) AS ad, d > 0 AS pos FROM base WHERE d IS NOT NULL AND d <> 0
), per AS (
  SELECT ad, CAST(count(*) AS BIGINT) AS c,
         CAST(COALESCE(SUM(CASE WHEN pos THEN 1 ELSE 0 END), 0) AS BIGINT) AS cp
  FROM nz GROUP BY 1
), cum AS (
  SELECT ad, c, cp,
         COALESCE(SUM(c) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS p
  FROM per
), tot AS (
  SELECT COALESCE(SUM(CAST(c AS HUGEINT)), 0) AS n,
         COALESCE(SUM((2 * CAST(p AS HUGEINT) + CAST(c AS HUGEINT) + 1)
                      * CAST(cp AS HUGEINT)), 0) AS w2,
         COALESCE(SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT) * CAST(c AS HUGEINT)
                      - CAST(c AS HUGEINT)), 0) AS ties
  FROM cum
)
SELECT CAST(n AS BIGINT) AS n,
  CASE WHEN n > 0 THEN round(CAST(w2 AS DOUBLE) / 2.0e0, 9) END AS w_plus,
  CASE WHEN n > 0 AND
       (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0e0) * (2.0e0 * CAST(n AS DOUBLE) + 1.0e0) / 24.0e0
        - CAST(ties AS DOUBLE) / 48.0e0) > 0
  THEN round((CAST(w2 AS DOUBLE) / 2.0e0
              - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0e0) / 4.0e0)
             / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0e0) * (2.0e0 * CAST(n AS DOUBLE) + 1.0e0) / 24.0e0
                    - CAST(ties AS DOUBLE) / 48.0e0), 9) END AS z
FROM tot
""",
)
def q_wilcoxon_order_vs_lines(spark, sf_dir):
    """EXT — Wilcoxon signed-rank test of order header total vs the
    sum of its line gross prices (profiling.wilcoxon_signed_rank;
    Wilcoxon 1945): the PAIRED location test — does the header-level
    adjustment (tax up, discount down) shift the per-order total, and
    in which direction? Midranks exact in doubled units; the
    exclusive-preceding counts come from layout.prefix_sums (never an
    unpartitioned window) — hash-matched."""
    from .operators.profiling import wilcoxon_signed_rank

    li = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).alias("ls")
        )
    )
    d = t(spark, sf_dir, "orders").join(
        li, F.col("o_orderkey") == F.col("l_orderkey")
    )
    return wilcoxon_signed_rank(d, "o_totalprice", "ls")


@query(
    "theil_customer_revenue",
    oracle="""
WITH cust AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS rev
  FROM orders GROUP BY 1
), per AS (
  SELECT CAST(round(CAST(rev AS DOUBLE) * 100) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM cust GROUP BY 1
), tot AS (
  SELECT COALESCE(SUM(CAST(c AS HUGEINT)), 0) AS n,
         COALESCE(SUM(CAST(v AS HUGEINT) * CAST(c AS HUGEINT)), 0) AS t,
         MIN(v) AS mn
  FROM per
), folded AS (
  SELECT n, t, mn,
    COALESCE(SUM(CAST(CASE WHEN v > 0 THEN
      round((CAST(v AS DOUBLE) * CAST(n AS DOUBLE) / CAST(t AS DOUBLE))
            * ln(CAST(v AS DOUBLE) * CAST(n AS DOUBLE) / CAST(t AS DOUBLE))
            * 1000000000.0e0)
      ELSE 0.0e0 END AS HUGEINT) * CAST(c AS HUGEINT)), 0) AS s
  FROM per CROSS JOIN tot
  GROUP BY 1, 2, 3
)
SELECT CAST(n AS BIGINT) AS n,
  -- DECIMAL(38,15) route: DuckDB's double round() scales by 1e9 and
  -- half-away-rounds the scaled double, which can misround values
  -- whose 10th decimal digit sits near the scaling error (this mean
  -- does); decimal rounding is exact HALF_UP — Spark's BigDecimal
  -- semantics
  CASE WHEN n > 0 THEN CAST(round(CAST(CAST(t AS DOUBLE) / CAST(n AS DOUBLE) / 100.0e0
                                       AS DECIMAL(38,15)), 9) AS DOUBLE) END AS mean,
  CASE WHEN n > 0 AND t > 0
       THEN round(CAST(s AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE), 9) END AS theil
FROM folded
""",
)
def q_theil_customer_revenue(spark, sf_dir):
    """EXT — Theil T inequality index of per-customer revenue
    (profiling.theil_index; Theil 1967): the entropy-based companion
    to gini_revenue_concentration — the one inequality measure that
    decomposes additively across subgroups. Distinct-value grain with
    the exact (T, n) mean attach; nano-quantized x·ln x terms fold in
    HUGEINT — hash-matched. No windows at all (contrast gini's
    prefix-sum route)."""
    from .operators.profiling import theil_index

    cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("rev"))
    )
    return theil_index(cust, "rev")


@query(
    "concentration_supplier_revenue",
    oracle="""
WITH per AS (
  SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS val
  FROM lineitem GROUP BY 1
), u AS (
  SELECT CAST(val * 1000000 AS HUGEINT) AS vu FROM per
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         COALESCE(SUM(vu), 0) AS t,
         COALESCE(SUM(vu * vu), 0) AS q
  FROM u
), ta AS (
  SELECT COALESCE(SUM(vu), 0) AS s FROM (SELECT vu FROM u ORDER BY vu DESC LIMIT 4)
), tb AS (
  SELECT COALESCE(SUM(vu), 0) AS s FROM (SELECT vu FROM u ORDER BY vu DESC LIMIT 8)
)
SELECT n_items,
  CASE WHEN n_items > 0 THEN round(CAST(t AS DOUBLE) / 1000000.0e0, 9) END AS total,
  CASE WHEN n_items > 0 AND t > 0
       THEN round(CAST(q AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 9) END AS hhi,
  CASE WHEN n_items > 0 AND t > 0
       THEN round(CAST(ta.s AS DOUBLE) / CAST(t AS DOUBLE), 9) END AS cr_a,
  CASE WHEN n_items > 0 AND t > 0
       THEN round(CAST(tb.s AS DOUBLE) / CAST(t AS DOUBLE), 9) END AS cr_b
FROM tot CROSS JOIN ta CROSS JOIN tb
""",
)
def q_concentration_supplier_revenue(spark, sf_dir):
    """EXT — supplier revenue concentration: Herfindahl–Hirschman
    index + CR-4/CR-8 ratios (profiling.concentration_report;
    Herfindahl 1950): the scalar head-concentration companions to the
    pareto curve and gini. Exact micro-unit Σv/Σv² folds; CR-k sums a
    TakeOrdered top-k (constant k — no global sort materialization) —
    hash-matched."""
    from .operators.profiling import concentration_report

    return concentration_report(
        t(spark, sf_dir, "lineitem"), ["l_suppkey"], "l_extendedprice"
    )


@query(
    "friedman_event_types",
    oracle="""
WITH cell AS (
  SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS b,
         CAST(event_type AS VARCHAR) AS t,
         CAST(SUM(CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
), ktot AS (
  SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM cell
), sizes AS (
  SELECT b, CAST(count(*) AS BIGINT) AS bk FROM cell GROUP BY 1
), dropped AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN bk <> k THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped
  FROM sizes CROSS JOIN ktot
), kept AS (
  SELECT cell.* FROM cell
  JOIN sizes ON cell.b = sizes.b CROSS JOIN ktot
  WHERE sizes.bk = ktot.k
), ranked AS (
  SELECT b, t,
         CAST(2 * rank() OVER (PARTITION BY b ORDER BY x)
              + count(*) OVER (PARTITION BY b, x) - 1 AS BIGINT) AS mr2
  FROM kept
), per_t AS (
  SELECT t, CAST(count(*) AS BIGINT) AS nb,
         COALESCE(SUM(CAST(mr2 AS HUGEINT)), 0) AS r2j,
         COALESCE(SUM(CAST(mr2 AS HUGEINT) * CAST(mr2 AS HUGEINT)), 0) AS a4j
  FROM ranked GROUP BY 1
), tot AS (
  SELECT MAX(k) AS k, MAX(n_dropped) AS n_dropped,
         CAST(MAX(nb) AS BIGINT) AS n_blocks,
         COALESCE(SUM((r2j - CAST(nb AS HUGEINT) * (CAST(k AS HUGEINT) + 1))
                      * (r2j - CAST(nb AS HUGEINT) * (CAST(k AS HUGEINT) + 1))), 0) AS num,
         COALESCE(SUM(a4j), 0) AS a4
  FROM per_t CROSS JOIN ktot CROSS JOIN dropped
)
SELECT n_blocks, n_dropped, CAST(k AS BIGINT) AS k,
  CAST(k - 1 AS BIGINT) AS df,
  CASE WHEN n_blocks > 0 AND k >= 2 AND
       CAST(a4 - CAST(n_blocks AS HUGEINT) * CAST(k AS HUGEINT)
                 * (CAST(k AS HUGEINT) + 1) * (CAST(k AS HUGEINT) + 1) AS DOUBLE) <> 0
  THEN round(CAST(k - 1 AS DOUBLE) * CAST(num AS DOUBLE)
             / CAST(a4 - CAST(n_blocks AS HUGEINT) * CAST(k AS HUGEINT)
                         * (CAST(k AS HUGEINT) + 1) * (CAST(k AS HUGEINT) + 1) AS DOUBLE), 9)
  END AS chi2
FROM tot
""",
)
def q_friedman_event_types(spark, sf_dir):
    """EXT — Friedman rank test of the five event types' daily value
    across days as matched blocks (profiling.friedman_test; Friedman
    1937, Conover tie correction): the repeated-measures companion to
    kruskal_wallis — day-level drift cancels inside each block.
    Within-block midranks exact in doubled units (per-DAY windows,
    k rows each — never global); integer-exact to one final
    division — hash-matched."""
    from .operators.profiling import friedman_test

    ev = t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).cast("date").cast("string").alias("b"),
        "event_type",
        "value",
    )
    return friedman_test(ev, "b", "event_type", "value")


@query(
    "readability_panel_docs",
    oracle="""
WITH scan AS (
  SELECT doc_id,
    CASE WHEN text IS NOT NULL
         THEN CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT)
         ELSE 0 END AS n_letters,
    CASE WHEN text IS NOT NULL AND length(text) > 0
         THEN CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS BIGINT)
         ELSE 0 END AS n_words,
    CASE WHEN text IS NOT NULL
         THEN CAST(GREATEST(len(string_split_regex(text, '[.!?]+')) - 1, 1) AS BIGINT)
         ELSE 0 END AS n_sentences
  FROM documents
)
SELECT doc_id, n_letters, n_words, n_sentences,
  CASE WHEN n_words > 0 THEN
    round(0.0588e0 * (CAST(n_letters AS DOUBLE) / CAST(n_words AS DOUBLE) * 100.0e0)
          - 0.296e0 * (CAST(n_sentences AS DOUBLE) / CAST(n_words AS DOUBLE) * 100.0e0)
          - 15.8e0, 9)
  END AS coleman_liau,
  CASE WHEN n_words > 0 THEN
    round(4.71e0 * (CAST(n_letters AS DOUBLE) / CAST(n_words AS DOUBLE))
          + 0.5e0 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
          - 21.43e0, 9)
  END AS ari
FROM scan
""",
)
def q_readability_panel_docs(spark, sf_dir):
    """EXT — Coleman–Liau + ARI readability panel per document
    (text.readability_panel; Coleman & Liau 1975, Senter & Smith
    1967): the syllable-free grade-level scores — the robust
    cross-check on flesch_readability (vowel-group syllables misfire
    on URLs/code; letter counts do not). Scan-local integer counts,
    one shared IEEE chain per score — hash-matched."""
    from .operators.text import readability_panel

    return readability_panel(t(spark, sf_dir, "documents"))


@query(
    "honore_sichel_corpus",
    oracle="""
WITH words AS (
  SELECT t.w AS w FROM documents,
    LATERAL unnest(string_split(lower(text), ' ')) AS t(w)
  WHERE text IS NOT NULL AND t.w <> ''
), per AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY 1
), agg AS (
  SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab,
         CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS hapax,
         CAST(COALESCE(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS dis
  FROM per
)
SELECT n_tokens, vocab, hapax, dis,
  CASE WHEN n_tokens > 0 AND hapax < vocab THEN
    round(100.0e0 * ln(CAST(n_tokens AS DOUBLE))
          / (1.0e0 - CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE)), 9)
  END AS honore_r,
  CASE WHEN vocab > 0 THEN
    round(CAST(dis AS DOUBLE) / CAST(vocab AS DOUBLE), 9)
  END AS sichel_s
FROM agg
""",
)
def q_honore_sichel_corpus(spark, sf_dir):
    """EXT — Honoré's R and Sichel's S over the corpus word-frequency
    spectrum (text.honore_sichel; Honoré 1979, Sichel 1975): the two
    spectrum statistics lexical_richness omits — R tracks hapax
    productivity (OCR noise mints junk types), S is the length-stable
    dis-legomena share (template spam recycles types). Exact integer
    spectrum counts, one IEEE chain each — hash-matched."""
    from .operators.text import honore_sichel

    return honore_sichel(t(spark, sf_dir, "documents"))


@query("streaming_mase", oracle=_MASE_SQL)
def q_streaming_mase(spark, sf_dir):
    """EXT — streaming MASE (streaming/jobs.streaming_mase): the
    incremental twin of mase_daily_revenue — day-grain total state
    (a |Δ| against a neighbor day is not additive when a day spans
    two batches), batch finishing readout on the final state.
    Hash-matches the SAME DuckDB oracle as the batch form (stream ≡
    batch) across any slicing."""
    from .streaming.jobs import streaming_mase

    return streaming_mase(
        spark,
        t(spark, sf_dir, "orders"),
        ts_col="o_orderdate",
        value_col="o_totalprice",
    )


@query(
    "fleiss_kappa_doc_flags",
    oracle="""
WITH assign AS (
  SELECT CAST(doc_id AS VARCHAR) AS i,
         CASE WHEN n_chars > 500 THEN 'y' ELSE 'n' END AS r FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR), CASE WHEN lang = 'en' THEN 'y' ELSE 'n' END
  FROM documents WHERE doc_id IS NOT NULL AND lang IS NOT NULL
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR), CASE WHEN source = 'web' THEN 'y' ELSE 'n' END
  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
), cell AS (
  SELECT i, r, CAST(count(*) AS BIGINT) AS c FROM assign GROUP BY 1, 2
), per_item AS (
  SELECT i, CAST(SUM(c) AS BIGINT) AS ri,
         COALESCE(SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)), 0) AS q
  FROM cell GROUP BY 1
), mode_r AS (
  SELECT ri AS rr FROM (
    SELECT ri, CAST(count(*) AS BIGINT) AS cnt FROM per_item GROUP BY 1
  ) ORDER BY cnt DESC, ri ASC LIMIT 1
), dropped AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN ri <> rr THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped
  FROM per_item CROSS JOIN mode_r
), item_fold AS (
  SELECT rr, CAST(count(*) AS BIGINT) AS n,
         COALESCE(SUM(q - CAST(rr AS HUGEINT)), 0) AS pnum
  FROM per_item CROSS JOIN mode_r WHERE ri = rr GROUP BY 1
), cat_fold AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         COALESCE(SUM(CAST(cj AS HUGEINT) * CAST(cj AS HUGEINT)), 0) AS e2
  FROM (
    SELECT cell.r, CAST(SUM(c) AS HUGEINT) AS cj
    FROM cell
    JOIN per_item ON cell.i = per_item.i CROSS JOIN mode_r
    WHERE per_item.ri = mode_r.rr
    GROUP BY 1
  )
)
SELECT n, n_dropped, CAST(rr AS BIGINT) AS r, k,
  CASE WHEN n > 0 AND rr >= 2 THEN
    round(CAST(pnum AS DOUBLE)
          / (CAST(n AS DOUBLE) * CAST(rr AS DOUBLE) * (CAST(rr AS DOUBLE) - 1.0e0)), 9)
  END AS p_bar,
  CASE WHEN n > 0 AND rr >= 2 THEN
    round(CAST(e2 AS DOUBLE)
          / ((CAST(n AS DOUBLE) * CAST(rr AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(rr AS DOUBLE))), 9)
  END AS p_e,
  CASE WHEN n > 0 AND rr >= 2 AND
       CAST(e2 AS DOUBLE) / ((CAST(n AS DOUBLE) * CAST(rr AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(rr AS DOUBLE))) < 1
  THEN round((CAST(pnum AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(rr AS DOUBLE) * (CAST(rr AS DOUBLE) - 1.0e0))
              - CAST(e2 AS DOUBLE) / ((CAST(n AS DOUBLE) * CAST(rr AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(rr AS DOUBLE))))
             / (1.0e0 - CAST(e2 AS DOUBLE) / ((CAST(n AS DOUBLE) * CAST(rr AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(rr AS DOUBLE)))), 9)
  END AS kappa
FROM item_fold CROSS JOIN cat_fold CROSS JOIN dropped
""",
)
def q_fleiss_kappa_doc_flags(spark, sf_dir):
    """EXT — Fleiss' κ agreement of three binary curation heuristics
    treated as raters over documents (profiling.fleiss_kappa; Fleiss
    1971): the many-rater generalization of cohens_kappa — do the
    heuristics agree beyond chance, or is the ensemble mostly noise?
    Integer-exact Σnᵢⱼ²/Σcⱼ² folds, one IEEE chain — hash-matched."""
    from .operators.profiling import fleiss_kappa

    d = t(spark, sf_dir, "documents")
    assign = (
        d.where(F.col("doc_id").isNotNull() & F.col("n_chars").isNotNull())
        .select(
            F.col("doc_id").cast("string").alias("i"),
            F.when(F.col("n_chars") > 500, F.lit("y")).otherwise("n").alias("r"),
        )
        .unionAll(
            d.where(F.col("doc_id").isNotNull() & F.col("lang").isNotNull()).select(
                F.col("doc_id").cast("string"),
                F.when(F.col("lang") == "en", F.lit("y")).otherwise("n"),
            )
        )
        .unionAll(
            d.where(
                F.col("doc_id").isNotNull() & F.col("source").isNotNull()
            ).select(
                F.col("doc_id").cast("string"),
                F.when(F.col("source") == "web", F.lit("y")).otherwise("n"),
            )
        )
    )
    return fleiss_kappa(assign, "i", "r")


@query(
    "theils_u_lang_source",
    oracle="""
WITH base AS (
  SELECT CAST(lang AS VARCHAR) AS x, CAST(source AS VARCHAR) AS y
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
), cells AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
), mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
hx AS (
  SELECT COALESCE(SUM(CAST(round(ln(CAST(n AS DOUBLE) / CAST(cx AS DOUBLE)) * 1000000000.0e0) AS HUGEINT)
                      * CAST(cx AS HUGEINT)), 0) AS v
  FROM mx CROSS JOIN tot
), hy AS (
  SELECT COALESCE(SUM(CAST(round(ln(CAST(n AS DOUBLE) / CAST(cy AS DOUBLE)) * 1000000000.0e0) AS HUGEINT)
                      * CAST(cy AS HUGEINT)), 0) AS v
  FROM my CROSS JOIN tot
), mi AS (
  SELECT COALESCE(SUM(CAST(round(ln(CAST(n AS DOUBLE) * CAST(c AS DOUBLE)
                                    / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))) * 1000000000.0e0) AS HUGEINT)
                      * CAST(c AS HUGEINT)), 0) AS v
  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
)
SELECT n,
  CASE WHEN n > 0 THEN round(CAST(hx.v AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE), 9) END AS h_x,
  CASE WHEN n > 0 THEN round(CAST(hy.v AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE), 9) END AS h_y,
  CASE WHEN n > 0 THEN round(CAST(mi.v AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE), 9) END AS mi,
  CASE WHEN n > 0 AND CAST(hy.v AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE) > 0
       THEN round((CAST(mi.v AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE))
                  / (CAST(hy.v AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE)), 9) END AS u_yx,
  CASE WHEN n > 0 AND CAST(hx.v AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE) > 0
       THEN round((CAST(mi.v AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE))
                  / (CAST(hx.v AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE)), 9) END AS u_xy
FROM tot CROSS JOIN hx CROSS JOIN hy CROSS JOIN mi
""",
)
def q_theils_u_lang_source(spark, sf_dir):
    """EXT — Theil's uncertainty coefficient between language and
    source (profiling.theils_u; Theil 1970): the [0,1] ASYMMETRIC
    categorical association — how much of source's entropy does
    knowing language remove, and vice versa — the directional
    companion to mutual_information and cramers_v on the same grid.
    Nano-nat integer-log folds, one IEEE chain per readout —
    hash-matched."""
    from .operators.profiling import theils_u

    return theils_u(t(spark, sf_dir, "documents"), "lang", "source")


@query(
    "partial_corr_qty_price_discount",
    oracle="""
WITH base AS (
  SELECT CAST(round(CAST(l_quantity AS DOUBLE)) AS BIGINT) AS x,
         CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS y,
         CAST(round(CAST(l_discount AS DOUBLE) * 100) AS BIGINT) AS z
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    COALESCE(SUM(CAST(x AS HUGEINT)), 0) AS sx,
    COALESCE(SUM(CAST(y AS HUGEINT)), 0) AS sy,
    COALESCE(SUM(CAST(z AS HUGEINT)), 0) AS sz,
    COALESCE(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)), 0) AS sxy,
    COALESCE(SUM(CAST(x AS HUGEINT) * CAST(z AS HUGEINT)), 0) AS sxz,
    COALESCE(SUM(CAST(y AS HUGEINT) * CAST(z AS HUGEINT)), 0) AS syz,
    COALESCE(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)), 0) AS sxx,
    COALESCE(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)), 0) AS syy,
    COALESCE(SUM(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)), 0) AS szz
  FROM base
), c AS (
  SELECT n,
    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS cxx,
    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy,
    CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(n AS DOUBLE) AS czz,
    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cxy,
    CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(n AS DOUBLE) AS cxz,
    CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(n AS DOUBLE) AS cyz
  FROM m
), r AS (
  SELECT n, cxx, cyy, czz,
    cxy / sqrt(cxx * cyy) AS r_xy,
    cxz / sqrt(cxx * czz) AS r_xz,
    cyz / sqrt(cyy * czz) AS r_yz
  FROM c
)
SELECT n,
  CASE WHEN n >= 3 AND cxx > 0 AND cyy > 0 AND czz > 0 THEN round(r_xy, 9) END AS r_xy,
  CASE WHEN n >= 3 AND cxx > 0 AND cyy > 0 AND czz > 0 THEN round(r_xz, 9) END AS r_xz,
  CASE WHEN n >= 3 AND cxx > 0 AND cyy > 0 AND czz > 0 THEN round(r_yz, 9) END AS r_yz,
  CASE WHEN n >= 3 AND cxx > 0 AND cyy > 0 AND czz > 0
        AND (1.0e0 - r_xz * r_xz) * (1.0e0 - r_yz * r_yz) > 0
  THEN round((r_xy - r_xz * r_yz) / sqrt((1.0e0 - r_xz * r_xz) * (1.0e0 - r_yz * r_yz)), 9)
  END AS r_xy_given_z
FROM r
""",
)
def q_partial_corr_qty_price_discount(spark, sf_dir):
    """EXT — partial correlation of quantity and gross price holding
    discount fixed (profiling.partial_correlation; Yule 1907): the
    confounder-control readout over correlation_matrix's moment
    discipline — is the quantity↔price association real or
    discount-driven? Nine DECIMAL/HUGEINT moment folds, one shared
    IEEE chain — hash-matched."""
    from .operators.profiling import partial_correlation

    return partial_correlation(
        t(spark, sf_dir, "lineitem"),
        "l_quantity", "l_extendedprice", "l_discount",
        x_scale=1, y_scale=100, z_scale=100,
    )


@query(
    "weighted_kappa_doc_tiers",
    oracle="""
WITH rated AS (
  SELECT CASE WHEN n_chars < 300 THEN 0 WHEN n_chars < 900 THEN 1 ELSE 2 END AS ia,
         CASE WHEN length(text) < 280 THEN 0 WHEN length(text) < 880 THEN 1 ELSE 2 END AS ib
  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL
), cells AS (
  SELECT ia, ib, CAST(count(*) AS BIGINT) AS c FROM rated GROUP BY 1, 2
), obs AS (
  SELECT COALESCE(SUM(CAST(c AS HUGEINT)), 0) AS n,
         COALESCE(SUM(CAST((ia - ib) * (ia - ib) AS HUGEINT) * CAST(c AS HUGEINT)), 0) AS wo
  FROM cells
), ma AS (SELECT ia, CAST(SUM(c) AS HUGEINT) AS ra FROM cells GROUP BY 1),
mb AS (SELECT ib, CAST(SUM(c) AS HUGEINT) AS rb FROM cells GROUP BY 1),
exp_w AS (
  SELECT COALESCE(SUM(CAST((ia - ib) * (ia - ib) AS HUGEINT) * ra * rb), 0) AS we
  FROM ma CROSS JOIN mb
)
SELECT CAST(n AS BIGINT) AS n,
  CASE WHEN n > 0 AND CAST(we AS DOUBLE) > 0
       THEN round(1.0e0 - (CAST(n AS DOUBLE) * CAST(wo AS DOUBLE)) / CAST(we AS DOUBLE), 9)
  END AS kappa_w
FROM obs CROSS JOIN exp_w
""",
)
def q_weighted_kappa_doc_tiers(spark, sf_dir):
    """EXT — quadratic-weighted κ (the Kaggle QWK) between two ordinal
    document quality tiers — stored-length terciles vs actual-text-
    length terciles (profiling.weighted_kappa; Cohen 1968):
    off-by-one tier confusion costs 1, opposite-end costs 4, where
    plain kappa charges both the same. Integer-exact grid folds to
    one division — hash-matched."""
    from .operators.profiling import weighted_kappa

    d = t(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull() & F.col("text").isNotNull()
    ).select(
        F.when(F.col("n_chars") < 300, "low")
        .when(F.col("n_chars") < 900, "mid")
        .otherwise("high")
        .alias("ra"),
        F.when(F.length("text") < 280, "low")
        .when(F.length("text") < 880, "mid")
        .otherwise("high")
        .alias("rb"),
    )
    return weighted_kappa(d, "ra", "rb", ["low", "mid", "high"])


@query(
    "cohens_h_source_length",
    oracle="""
WITH base AS (
  SELECT source = 'web' AS g, n_chars > 500 AS y
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
), cells AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN g THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(CASE WHEN NOT g THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_b,
         CAST(COALESCE(SUM(CASE WHEN g AND y THEN 1 ELSE 0 END), 0) AS BIGINT) AS ka,
         CAST(COALESCE(SUM(CASE WHEN NOT g AND y THEN 1 ELSE 0 END), 0) AS BIGINT) AS kb
  FROM base
)
SELECT n_a, n_b,
  CASE WHEN n_a > 0 THEN round(CAST(ka AS DOUBLE) / CAST(n_a AS DOUBLE), 9) END AS p_a,
  CASE WHEN n_b > 0 THEN round(CAST(kb AS DOUBLE) / CAST(n_b AS DOUBLE), 9) END AS p_b,
  CASE WHEN n_a > 0 AND n_b > 0
       THEN round(2.0e0 * asin(sqrt(CAST(ka AS DOUBLE) / CAST(n_a AS DOUBLE)))
                  - 2.0e0 * asin(sqrt(CAST(kb AS DOUBLE) / CAST(n_b AS DOUBLE))), 9)
  END AS cohens_h
FROM cells
""",
)
def q_cohens_h_source_length(spark, sf_dir):
    """EXT — Cohen's h effect size of the web-vs-other long-document
    rate gap (profiling.cohens_h; Cohen 1969): the variance-
    stabilized proportion gap — the effect-size companion to the
    odds/risk ratios on the same 2×2. Exact integer cells, one
    asin/sqrt IEEE chain — hash-matched."""
    from .operators.profiling import cohens_h

    d = t(spark, sf_dir, "documents").select(
        (F.col("source") == "web").alias("g"),
        (F.col("n_chars") > 500).alias("y"),
    )
    return cohens_h(d, "g", "y")


@query(
    "risk_ratio_source_flag",
    oracle="""
WITH base AS (
  SELECT source = 'web' AS e, n_chars > 600 AS y
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
), cells AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN e AND y THEN 1 ELSE 0 END), 0) AS BIGINT) AS exposed_pos,
         CAST(COALESCE(SUM(CASE WHEN e AND NOT y THEN 1 ELSE 0 END), 0) AS BIGINT) AS exposed_neg,
         CAST(COALESCE(SUM(CASE WHEN NOT e AND y THEN 1 ELSE 0 END), 0) AS BIGINT) AS unexposed_pos,
         CAST(COALESCE(SUM(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END), 0) AS BIGINT) AS unexposed_neg
  FROM base
)
SELECT exposed_pos, exposed_neg, unexposed_pos, unexposed_neg,
  CASE WHEN exposed_pos > 0 AND unexposed_pos > 0
        AND exposed_pos + exposed_neg > 0 AND unexposed_pos + unexposed_neg > 0
  THEN round((CAST(exposed_pos AS DOUBLE) / (CAST(exposed_pos AS DOUBLE) + CAST(exposed_neg AS DOUBLE)))
             / (CAST(unexposed_pos AS DOUBLE) / (CAST(unexposed_pos AS DOUBLE) + CAST(unexposed_neg AS DOUBLE))), 9)
  END AS risk_ratio,
  CASE WHEN exposed_pos > 0 AND unexposed_pos > 0
        AND exposed_pos + exposed_neg > 0 AND unexposed_pos + unexposed_neg > 0
  THEN round(exp(ln((CAST(exposed_pos AS DOUBLE) / (CAST(exposed_pos AS DOUBLE) + CAST(exposed_neg AS DOUBLE)))
                    / (CAST(unexposed_pos AS DOUBLE) / (CAST(unexposed_pos AS DOUBLE) + CAST(unexposed_neg AS DOUBLE))))
                 - 1.959963985e0 * sqrt(1.0e0 / CAST(exposed_pos AS DOUBLE)
                                        - 1.0e0 / (CAST(exposed_pos AS DOUBLE) + CAST(exposed_neg AS DOUBLE))
                                        + 1.0e0 / CAST(unexposed_pos AS DOUBLE)
                                        - 1.0e0 / (CAST(unexposed_pos AS DOUBLE) + CAST(unexposed_neg AS DOUBLE)))), 9)
  END AS ci_low,
  CASE WHEN exposed_pos > 0 AND unexposed_pos > 0
        AND exposed_pos + exposed_neg > 0 AND unexposed_pos + unexposed_neg > 0
  THEN round(exp(ln((CAST(exposed_pos AS DOUBLE) / (CAST(exposed_pos AS DOUBLE) + CAST(exposed_neg AS DOUBLE)))
                    / (CAST(unexposed_pos AS DOUBLE) / (CAST(unexposed_pos AS DOUBLE) + CAST(unexposed_neg AS DOUBLE))))
                 + 1.959963985e0 * sqrt(1.0e0 / CAST(exposed_pos AS DOUBLE)
                                        - 1.0e0 / (CAST(exposed_pos AS DOUBLE) + CAST(exposed_neg AS DOUBLE))
                                        + 1.0e0 / CAST(unexposed_pos AS DOUBLE)
                                        - 1.0e0 / (CAST(unexposed_pos AS DOUBLE) + CAST(unexposed_neg AS DOUBLE)))), 9)
  END AS ci_high
FROM cells
""",
)
def q_risk_ratio_source_flag(spark, sf_dir):
    """EXT — relative risk of long documents from the web source with
    the Katz log CI (profiling.risk_ratio_ci; Katz 1978): the "how
    many times more likely" companion to odds_ratio_source_flag on
    the same 2×2 — the OR inflates away from RR exactly when the
    outcome is common, as here. Pure integer cells, one shared
    ln/exp/sqrt chain — hash-matched."""
    from .operators.profiling import risk_ratio_ci

    d = t(spark, sf_dir, "documents").select(
        (F.col("source") == "web").alias("e"),
        (F.col("n_chars") > 600).alias("y"),
    )
    return risk_ratio_ci(d, "e", "y")


@query(
    "diversity_lang_profile",
    oracle="""
WITH base AS (
  SELECT CAST(lang AS VARCHAR) AS c FROM documents WHERE lang IS NOT NULL
), per AS (
  SELECT c, CAST(count(*) AS BIGINT) AS cn FROM base GROUP BY 1
), tot AS (
  SELECT CAST(COALESCE(SUM(cn), 0) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k
  FROM per
), folded AS (
  SELECT n, k,
    COALESCE(SUM(CAST(round(ln(CAST(n AS DOUBLE) / CAST(cn AS DOUBLE)) * 1000000000.0e0) AS HUGEINT)
                 * CAST(cn AS HUGEINT)), 0) AS hs,
    COALESCE(SUM(CAST(cn AS HUGEINT) * (CAST(cn AS HUGEINT) - 1)), 0) AS ss
  FROM per CROSS JOIN tot GROUP BY 1, 2
)
SELECT n, k,
  CASE WHEN n > 0 THEN round(CAST(hs AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE), 9) END AS shannon,
  CASE WHEN n > 0 AND k >= 2
       THEN round((CAST(hs AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE)) / ln(CAST(k AS DOUBLE)), 9) END AS evenness,
  CASE WHEN n >= 2
       THEN round(CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)), 9) END AS simpson,
  CASE WHEN n >= 2 AND CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)) > 0
       THEN round(1.0e0 / (CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0))), 9) END AS inv_simpson
FROM folded
""",
)
def q_diversity_lang_profile(spark, sf_dir):
    """EXT — language diversity profile of the corpus: Shannon
    entropy, Pielou evenness, Simpson concentration and inverse-
    Simpson "effective language count" (profiling.diversity_profile;
    Simpson 1949, Pielou 1966): the balance panel behind mixture
    decisions — evenness is category-count-free, inverse-Simpson
    reads as equally-sized-category equivalents. Exact Σc(c−1) fold +
    nano-nat entropy fold — hash-matched."""
    from .operators.profiling import diversity_profile

    return diversity_profile(t(spark, sf_dir, "documents"), "lang")


# ---------------------------------------------------------------------------
# public contract
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    return q_tpch_q1(spark, sf_dir)

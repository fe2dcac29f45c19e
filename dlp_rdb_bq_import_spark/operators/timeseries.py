"""Time-series operators: fixed-grain resampling with gap fill and
forward fill, cohort retention matrices, and first-order event
transition (Markov) profiles.

The reference has no time-series surface (its only temporal logic is
CAST-based date filters in the default reid query,
BQReIdentificationPipelineOptions.java:15-17); these are north-star
operators for event-log curation at scale.

Scale posture
-------------
``resample_gapfill`` is three narrow-keyed shuffles, each linear in its
input: (1) aggregate events to (key, bucket) — map-side partial combine
applies; (2) per-key min/max bounds — tiny, one row per key; (3) a
left join of the dense spine onto the aggregates, co-partitioned on
(key, bucket). The spine is generated executor-side with
``sequence``+``explode`` — no driver collect, no cartesian — and its
size is bounded by (time range / grain) per key, independent of event
count. The forward-fill window is a single per-key linear pass.
Buckets are integer offsets from a caller-fixed origin, so semantics
do not depend on the session timezone.

``cohort_retention`` is one exact integer aggregation over
(cohort bucket, offset bucket): two shuffles (per-user first-seen, then
the matrix), both with partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import local_rows_df


def _bucket(ts: Column, origin: str, grain_seconds: int) -> Column:
    """Integer bucket index of ``ts`` relative to ``origin`` (a
    ``'YYYY-MM-DD HH:MM:SS'`` literal). Computed as a difference of two
    epoch values so any session-timezone offset cancels; floor division
    keeps pre-origin timestamps correct (bucket −1, not 0)."""
    delta = F.unix_timestamp(ts) - F.unix_timestamp(F.lit(origin).cast("timestamp"))
    return F.floor(delta / F.lit(grain_seconds)).cast("long")


def resample_gapfill(
    events: DataFrame,
    *,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    grain_seconds: int,
    origin: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Resample ``events`` to a fixed grain per key, densify the bucket
    spine between each key's first and last active bucket, and
    forward-fill the per-bucket mean of ``value_col`` across gaps.

    Output columns: ``key_cols…, bucket (long, grains since origin),
    n_events (long, 0 on gap buckets), avg_value (double, NULL on gap
    buckets), filled_value (double, last non-null avg_value)``.

    The mean uses the repo-wide exact-sum discipline (cast to
    DECIMAL(30,6), sum, divide as double) so it hash-matches a SQL
    oracle stating the same expression.
    """
    reserved = {"bucket", "n_events", "avg_value", "filled_value", "_mn", "_mx", "_v"}
    clash = reserved & set(events.columns)
    if clash:
        raise ValueError(f"input columns collide with reserved names: {sorted(clash)}")

    bucketed = events.select(
        *key_cols,
        _bucket(F.col(ts_col), origin, grain_seconds).alias("bucket"),
        F.col(value_col).alias("_v"),
    )
    # avg divides by the NON-NULL value count (sum skips NULLs, so
    # dividing by count(*) would silently deflate any bucket holding a
    # NULL value); n_events still counts every event row. An all-NULL
    # bucket gets avg_value NULL (NULL / 0).
    agg = bucketed.groupBy(*key_cols, "bucket").agg(
        F.count("*").alias("n_events"),
        (
            F.sum(F.col("_v").cast("decimal(30,6)")).cast("double")
            / F.count("_v").cast("double")
        ).alias("avg_value"),
    )
    bounds = agg.groupBy(*key_cols).agg(
        F.min("bucket").alias("_mn"), F.max("bucket").alias("_mx")
    )
    spine = bounds.select(
        *key_cols, F.explode(F.sequence("_mn", "_mx")).alias("bucket")
    )
    joined = spine.join(agg, on=[*key_cols, "bucket"], how="left")
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        *key_cols,
        "bucket",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        "avg_value",
        F.last("avg_value", ignorenulls=True).over(w).alias("filled_value"),
    )


def cohort_retention(
    events: DataFrame,
    *,
    user_col: str,
    ts_col: str,
    grain_seconds: int = 7 * 86400,
    origin: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Classic retention matrix: users grouped by the bucket of their
    first event (cohort), counted as active per whole-bucket offset from
    that first event.

    Output: ``cohort (long), week_offset (long), active_users (long)``
    — all exact integers, so the correctness oracle is bit-trivial.
    ``week_offset`` floors the *event-time* delta from the user's first
    event (not bucket-index difference), the standard product-analytics
    definition: a user returning 6 days after signup is offset 0 even
    when the two days straddle a calendar bucket edge.
    """
    reserved = {"cohort", "week_offset", "active_users", "_first_ts"}
    clash = reserved & set(events.columns)
    if clash:
        raise ValueError(f"input columns collide with reserved names: {sorted(clash)}")
    # Per-user first event via an unbounded window min: one shuffle on
    # user_col, versus two (groupBy + join back) for the self-join shape.
    wu = Window.partitionBy(user_col)
    joined = events.select(user_col, ts_col).withColumn(
        "_first_ts", F.min(ts_col).over(wu)
    )
    delta = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(F.col("_first_ts"))
    return (
        joined.select(
            F.col(user_col),
            _bucket(F.col("_first_ts"), origin, grain_seconds).alias("cohort"),
            F.floor(delta / F.lit(grain_seconds)).cast("long").alias("week_offset"),
        )
        .distinct()
        .groupBy("cohort", "week_offset")
        .agg(F.count("*").cast("long").alias("active_users"))
    )


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    *,
    user_col: str,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """Classic ordered-funnel analysis: how many users complete each
    prefix of ``steps`` IN ORDER (each step's event strictly after the
    user's earliest completion of the previous step — the standard
    product-analytics definition; repeated events are fine, only the
    earliest valid one per step counts). Output one row per step:
    ``(step_ord, step, n_users, conversion)`` with conversion =
    n_users / step-1 users rounded to 9 (1.0 for the first step; all
    counts exact).

    Shape: one per-user min-timestamp aggregation per step, each a
    single shuffle on ``user_col`` joined user-to-user against the
    previous step's (small, shrinking) completion table — len(steps)
    is a constant (3-5), so the whole funnel is a handful of
    co-partitioned user-key exchanges, never a self-join on time. The
    final summary is a count per step over per-user rows."""
    if len(steps) < 2:
        raise ValueError(f"funnel needs >= 2 steps, got {steps}")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct, got {steps}")
    user, ts, typ = F.col(user_col), F.col(ts_col), F.col(type_col)
    reached = []  # per step: DataFrame(user, _t = earliest valid ts)
    cur = (
        events.where(typ == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts).alias("_t"))
    )
    reached.append(cur)
    for s in steps[1:]:
        nxt = (
            events.where(typ == s)
            .select(user_col, ts.alias("_ts"))
            .join(cur.select(user_col, "_t"), user_col)
            .where(F.col("_ts") > F.col("_t"))
            .groupBy(user_col)
            .agg(F.min("_ts").alias("_t"))
        )
        reached.append(nxt)
        cur = nxt
    counts = None
    for i, (s, df) in enumerate(zip(steps, reached), start=1):
        row = df.agg(
            F.lit(i).cast("long").alias("step_ord"),
            F.lit(s).alias("step"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )
        counts = row if counts is None else counts.unionByName(row)
    # single global window over len(steps) rows — bounded by construction
    prev = F.lag("n_users").over(Window.orderBy("step_ord"))
    return counts.withColumn(
        "conversion",
        F.when(F.col("step_ord") == 1, F.lit(1.0)).otherwise(
            F.when(prev == 0, F.lit(0.0)).otherwise(
                F.round(F.col("n_users").cast("double") / prev.cast("double"), 9)
            )
        ),
    )


def event_transitions(
    events: DataFrame,
    *,
    key_col: str,
    state_col: str,
    order_cols: list[str],
) -> DataFrame:
    """First-order Markov transition profile of per-key event sequences:
    ``from_state, to_state, n (long), prob (double)``.

    ``prob`` is the row-conditional transition probability
    n(from,to) / Σ_to n(from,·) — exact int64 counts widened to double
    before ONE IEEE division, so it hash-matches a SQL oracle stating
    the same expression. ``order_cols`` must be a total order within
    each key (e.g. ``[ts, event_id]``) or the lag is nondeterministic.

    Scale shape: one window shuffle on ``key_col`` (linear per-key lag
    pass), one partial-agg groupBy on the (from,to) pair — cardinality
    ≤ |states|², tiny — and a broadcast-able join attaching the per-from
    totals. No self-join over events.
    """
    reserved = {"from_state", "to_state", "n", "prob", "_tot"}
    clash = reserved & set(events.columns)
    if clash:
        raise ValueError(f"input columns collide with reserved names: {sorted(clash)}")

    w = Window.partitionBy(key_col).orderBy(*order_cols)
    pairs = (
        events.select(
            F.lag(state_col).over(w).alias("from_state"),
            F.col(state_col).alias("to_state"),
        )
        .where(F.col("from_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = pairs.groupBy("from_state").agg(F.sum("n").cast("long").alias("_tot"))
    return pairs.join(F.broadcast(totals), "from_state").select(
        "from_state",
        "to_state",
        "n",
        (F.col("n").cast("double") / F.col("_tot").cast("double")).alias("prob"),
    )


def detect_gaps(
    events: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    min_gap_seconds: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Silence periods per key: consecutive-event gaps of at least
    ``min_gap_seconds`` — the monitoring/sensor-health primitive (a
    feed that went quiet) and the session-boundary dual (sessionize
    keeps rows between gaps; this reports the gaps themselves).

    Output: ``key_col, gap_start (timestamp, last event before the
    silence), gap_end (timestamp, first event after), gap_seconds
    (long)`` — exact integer epoch arithmetic, so the oracle is a plain
    lag-window SQL statement.

    Shape: ONE window shuffle on the key (linear per-key lag pass); no
    joins, no explode. ``order_cols`` extends the within-key ordering
    past the timestamp for total determinism when timestamps tie
    (defaults to the timestamp alone, which suffices when (key, ts) is
    unique).
    """
    reserved = {"gap_start", "gap_end", "gap_seconds", "_prev"}
    clash = reserved & set(events.columns)
    if clash:
        raise ValueError(f"input columns collide with reserved names: {sorted(clash)}")

    w = Window.partitionBy(key_col).orderBy(ts_col, *(order_cols or []))
    prev = F.lag(ts_col).over(w)
    gap = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(F.col("_prev"))
    return (
        events.select(key_col, ts_col, *(order_cols or []))
        .withColumn("_prev", prev)
        .where(F.col("_prev").isNotNull())
        .select(
            key_col,
            F.col("_prev").alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            gap.cast("long").alias("gap_seconds"),
        )
        .where(F.col("gap_seconds") >= min_gap_seconds)
    )


def interval_concurrency(
    intervals: DataFrame,
    *,
    start_col: str,
    end_col: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Sweep-line concurrency profile: how many intervals are open at
    every boundary instant — the max-concurrent-sessions / capacity-
    planning primitive (and the interval analogue of a gauge rollup).

    Each interval [start, end) contributes +1 at start and −1 at end;
    boundaries sharing a (key, instant) are pre-aggregated to ONE net
    delta — so an end and a start at the same instant cancel before
    the running sum ever sees them, which is what makes the intervals
    half-open (ordering within an instant is moot once netted). The
    running sum over instants then yields the concurrency after each
    boundary. Output:
    ``key_cols…, ts, delta (long, net change at this instant),
    concurrent (long, open intervals after it)``; boundaries sharing an
    instant are pre-aggregated so each (key, ts) appears once.

    Exact integer arithmetic end to end. Scale shape: one explode (2
    rows per interval), one (key, ts) pre-aggregation, one running-sum
    window per key — all linear, no joins. A global profile (key_cols
    None) does NOT serialize through one partition: the running sum is
    computed as a distributed prefix sum — range-exchange the instants,
    one tiny job sums each partition's deltas into cumulative offsets
    (#partitions longs, broadcast back), then the window runs WITHIN
    each range partition + offset (the global_row_ids pattern; exact
    because integer addition is associative across ordered segments).
    """
    keys = key_cols or []
    reserved = {"ts", "delta", "concurrent", "_pid", "_off"}
    clash = reserved & set(keys)
    if clash:
        raise ValueError(f"key columns collide with reserved names: {sorted(clash)}")
    from pyspark.sql import Window

    bounds = intervals.select(
        *keys,
        F.explode(
            F.array(
                F.struct(F.col(start_col).alias("ts"), F.lit(1).alias("delta")),
                F.struct(F.col(end_col).alias("ts"), F.lit(-1).alias("delta")),
            )
        ).alias("_b"),
    ).select(*keys, F.col("_b.ts").alias("ts"), F.col("_b.delta").alias("delta"))
    per_instant = bounds.groupBy(*keys, "ts").agg(
        F.sum("delta").cast("long").alias("delta")
    )
    if keys:
        w = (
            Window.partitionBy(*keys)
            .orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return per_instant.select(
            *keys,
            "ts",
            "delta",
            F.sum("delta").over(w).cast("long").alias("concurrent"),
        )
    # Global profile: distributed prefix sum. ts is unique after the
    # pre-aggregation, so range partitioning gives a total order of
    # disjoint segments; each partition's concurrency = its local
    # running sum + the sum of every earlier partition's deltas.
    spark = per_instant.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = (
        per_instant.repartitionByRange(parts, F.col("ts"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # offsets job and window must see ONE sampled exchange
    )
    psums = {
        r["_pid"]: r["s"]
        for r in ranged.groupBy("_pid").agg(F.sum("delta").alias("s")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(psums):
        offsets.append((pid, acc))
        acc += int(psums[pid])
    off_df = F.broadcast(
        local_rows_df(spark, offsets or [(0, 0)], "_pid int, _off long")
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ranged.join(off_df, "_pid")
        .select(
            "ts",
            "delta",
            (F.sum("delta").over(w) + F.col("_off")).cast("long").alias(
                "concurrent"
            ),
        )
    )


def period_over_period(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    unit: str = "month",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Period-over-period comparison (MoM/WoW/DoD): aggregate the value
    to calendar periods, then attach the previous PRESENT period and
    the deltas — the standard BI growth primitive.

    Output: ``key_cols…, period (timestamp, date_trunc(unit)), value
    (double), prev_value (double, NULL on each key's first period),
    delta (double), pct_change (double, NULL when prev is 0 or NULL)``.

    Bit-exactness: per-period sums are exact DECIMAL(30,6); delta is a
    decimal subtraction cast once to double, pct_change one IEEE
    division of exact decimals — all engine-identical. The lag skips
    over MISSING periods to the previous present one (compose with
    resample_gapfill first if strict-calendar adjacency is wanted).

    Scale shape: one partial-agg groupBy to period grain, then a lag
    window over the tiny period series per key. Global mode (key_cols
    None) serializes |periods| rows through one partition — trivially
    small by construction.
    """
    keys = key_cols or []
    reserved = {"period", "value", "prev_value", "delta", "pct_change", "_val", "_prev"}
    clash = reserved & set(keys)
    if clash:
        raise ValueError(f"key columns collide with reserved names: {sorted(clash)}")

    per = df.groupBy(
        *keys, F.date_trunc(unit, F.col(ts_col)).alias("period")
    ).agg(F.sum(F.col(value_col).cast("decimal(30,6)")).alias("_val"))
    w = Window.partitionBy(*keys).orderBy("period")
    prev = F.lag("_val").over(w)
    return per.withColumn("_prev", prev).select(
        *keys,
        "period",
        F.col("_val").cast("double").alias("value"),
        F.col("_prev").cast("double").alias("prev_value"),
        (F.col("_val") - F.col("_prev")).cast("double").alias("delta"),
        F.when(
            F.col("_prev").isNotNull() & (F.col("_prev") != 0),
            (F.col("_val") - F.col("_prev")).cast("double")
            / F.col("_prev").cast("double"),
        ).alias("pct_change"),
    )


def ewma_outliers(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: list[str],
    order_tiebreak: list[str] | None = None,
    alpha: float = 0.3,
    window_n: int = 8,
    threshold: float = 100.0,
) -> DataFrame:
    """One-step-ahead EWMA smoothing with an anomaly flag — the
    classic streaming-metrics monitor (Roberts 1959 EWMA control
    chart; Holt's level-only case): per group, predict each point
    from the exponentially-weighted mean of its ``window_n``
    PRECEDING values and flag points whose absolute deviation from
    the prediction exceeds ``threshold``.

    Output: the group/ts/tiebreak/value columns plus
    ``(ewma, deviation, is_anomaly)``, ewma/deviation rounded to 9;
    the first point of each group (no history) carries NULL
    ewma/deviation and ``is_anomaly = false`` — no history, no
    verdict.

    Exactness over the textbook recursion: the infinite-history
    recursive EWMA is order-sequential (unbounded lineage per row),
    but the TRUNCATED form is a closed weighted mean over ``window_n``
    lags — ``Σ wᵢ·x_{t-i} / Σ wᵢ`` with ``wᵢ = α(1−α)^{i-1}``
    computed once as Python float literals and both sums folded in
    fixed i=1..window_n order, skipping NULL lags (missing history
    near the group head renormalizes over what exists). Every op is a
    correctly-rounded IEEE mul/div/add, so results hash-match a SQL
    oracle stating the same association — and the window is a plain
    per-group sort with ``window_n`` lag expressions: one shuffle by
    group, no UDF, no self-join, scale-indifferent.

    Ties: ``order_tiebreak`` (default ``[value_col]``) breaks equal
    timestamps deterministically — a nondeterministic lag order would
    change every downstream value."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"ewma_outliers: alpha must be in (0,1), got {alpha}")
    if window_n < 1:
        raise ValueError(
            f"ewma_outliers: window_n must be >= 1, got {window_n}"
        )
    from pyspark.sql import Window

    tiebreak = order_tiebreak if order_tiebreak is not None else [value_col]
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak]
    )
    weights = [alpha * (1.0 - alpha) ** (i - 1) for i in range(1, window_n + 1)]
    x = F.col(value_col).cast("double")
    num = None
    den = None
    for i, wt in enumerate(weights, start=1):
        li = F.lag(x, i).over(w)
        term = F.when(li.isNotNull(), li * F.lit(wt)).otherwise(F.lit(0.0))
        pres = F.when(li.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = pres if den is None else den + pres
    ewma = F.when(den > 0, num / den)
    deviation = x - ewma
    return df.select(
        *group_cols,
        ts_col,
        *[c for c in tiebreak if c not in (*group_cols, ts_col, value_col)],
        value_col,
        F.round(ewma, 9).alias("ewma"),
        F.round(deviation, 9).alias("deviation"),
        F.coalesce(
            F.abs(deviation) > F.lit(float(threshold)), F.lit(False)
        ).alias("is_anomaly"),
    )


def holt_linear(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_cols: list[str],
    id_col: str,
    alpha: float = 0.4,
    beta: float = 0.3,
) -> DataFrame:
    """Holt double-exponential smoothing (Holt 1957 — the classic
    level+trend forecaster, the step past :func:`ewma_outliers` when a
    series DRIFTS: an EWMA lags a trending metric forever, Holt's
    trend state closes the gap). Per key, in (ts, id) order:

    ``level₁ = y₁``, ``trend₁ = 0``;
    ``levelₜ = α·yₜ + (1−α)·(levelₜ₋₁ + trendₜ₋₁)``;
    ``trendₜ = β·(levelₜ − levelₜ₋₁) + (1−β)·trendₜ₋₁``.

    Output: ``key_cols…, ts, id, value, level, trend, forecast_next``
    (= level + trend, the one-step-ahead forecast), doubles rounded to
    9. NULL values/timestamps are excluded (no state without an
    observation).

    Unlike the EWMA chart there is NO truncated-window closed form
    that keeps the coupled (level, trend) recursion bit-faithful, so
    the fold runs as an Arrow-batched applyInPandas per key — the
    per-key state is two doubles and the arithmetic replays the
    textbook order exactly, which is what lets the result hash-match
    a recursive-CTE restatement. Scale: one shuffle by key; per-key
    sequential cost is the recursion's own data dependency (same
    contract as streaming_ewma's fold)."""
    if not 0.0 < alpha < 1.0 or not 0.0 < beta < 1.0:
        raise ValueError(
            f"holt_linear: alpha/beta must be in (0,1), got {alpha}, {beta}"
        )
    if not key_cols:
        raise ValueError("holt_linear: need >= 1 key column")
    import pandas as pd

    a, g = float(alpha), float(beta)
    one_a, one_g = 1.0 - a, 1.0 - g
    dt = dict(df.dtypes)
    key_schema = ", ".join(f"`{c}` {dt[c]}" for c in key_cols)
    out_schema = (
        f"{key_schema}, `{ts_col}` {dt[ts_col]}, `{id_col}` {dt[id_col]}, "
        "value double, level double, trend double, forecast_next double"
    )
    # Float/double key columns: Arrow delivers SQL NULL to pandas as
    # NaN, so the fold's group key could not tell a NULL-key group
    # from a NaN-key group (r14 ADVICE — groupBy keeps them distinct).
    # An engine-side isnull flag per float key restores the
    # distinction; non-float keys need none (None survives Arrow).
    float_keys = [c for c in key_cols if dt[c] in ("float", "double")]
    null_flags = [F.isnull(F.col(c)).alias(f"_knull_{c}") for c in float_keys]
    base = df.select(
        *key_cols,
        *null_flags,
        F.col(ts_col),
        F.col(id_col),
        F.col(value_col).cast("double").alias("_y"),
    ).where(F.col("_y").isNotNull() & F.col(ts_col).isNotNull())

    # ONE mapInPandas pass instead of groupBy().applyInPandas: with
    # thousands of small keys (per-user series) the per-GROUP pandas
    # frame construction dominated the fold (~1-2 ms x groups; r14
    # measurement: exec 2.39s -> 0.5s at sf0.1). The shuffle is the
    # same single hash exchange on the keys; the engine-side sort
    # replaces the per-group pandas sort with the identical (ts, id)
    # order; the fold itself REPLAYS THE SAME IEEE arithmetic row for
    # row, carrying (key, level, trend) across Arrow batch boundaries
    # within a partition (a key never spans partitions — hash
    # partitioning — but may span batches). NULL keys normalize to one
    # group, matching groupBy semantics.
    def fold_iter(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        def norm(v):
            return None if pd.isna(v) else v

        carry_key, level, trend = None, None, None
        started = False
        flag_cols = [f"_knull_{c}" for c in float_keys]
        for pdf in batches:
            if pdf.empty:
                continue
            key_lists = [pdf[c].tolist() for c in key_cols] + [
                pdf[c].tolist() for c in flag_cols
            ]
            levels, trends = [], []
            for i, y in enumerate(pdf["_y"]):
                k = tuple(norm(kl[i]) for kl in key_lists)
                y = float(y)
                if not started or k != carry_key:
                    carry_key, started = k, True
                    level, trend = y, 0.0
                else:
                    new_level = a * y + one_a * (level + trend)
                    trend = g * (new_level - level) + one_g * trend
                    level = new_level
                levels.append(level)
                trends.append(trend)
            out = pdf[[*key_cols, ts_col, id_col]].copy()
            out["value"] = pdf["_y"].astype(float)
            out["level"] = [round(v, 9) for v in levels]
            out["trend"] = [round(v, 9) for v in trends]
            out["forecast_next"] = [
                round(lv + tr, 9) for lv, tr in zip(levels, trends)
            ]
            yield out

    return (
        base.repartition(*key_cols)
        # id ASC NULLS LAST: the pre-r14 pandas sort used
        # na_position='last' (and DuckDB ORDER BY defaults NULLS LAST),
        # so a NULL id tying with a non-null id on ts must fold AFTER
        # it — Spark's default asc() is NULLS FIRST, which silently
        # reordered that tie (r14 ADVICE). ts is filtered non-null
        # above, so only the id key needs the explicit null placement.
        .sortWithinPartitions(*key_cols, ts_col, F.col(id_col).asc_nulls_last())
        .mapInPandas(fold_iter, out_schema)
    )


def _daily_units(
    df: DataFrame, ts_col: str, value_col: str, unit_scale: int
) -> DataFrame:
    """Shared staging for the exact-series operators: one row per
    PRESENT day with the day's total quantized to integer units
    (``round(Σ value · unit_scale)`` — exact for values with
    ``log10(unit_scale)`` decimals; the per-day sum is DECIMAL(30,6)
    so it is aggregation-order-proof before quantization). Missing
    days simply don't appear — compose with :func:`resample_gapfill`
    upstream when strict-calendar adjacency matters."""
    if unit_scale < 1:
        raise ValueError(f"unit_scale must be >= 1, got {unit_scale}")
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.to_date(ts_col).alias("day"))
        .agg(
            F.round(
                F.sum(F.col(value_col).cast("decimal(30,6)")).cast("double")
                * F.lit(unit_scale)
            )
            .cast("long")
            .alias("_x")
        )
    )


def cusum_changepoints(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    unit_scale: int = 100,
    slack_units: int = 0,
    threshold_units: int,
) -> DataFrame:
    """Two-sided CUSUM level-shift detector over a daily series (Page
    1954 — the classic sequential changepoint chart): accumulate
    deviations from the series mean with a slack allowance; a
    sustained shift drives the one-sided sums past the threshold
    while noise resets them to zero. The monitoring complement to
    :func:`ewma_outliers` (EWMA flags single spikes; CUSUM flags
    small persistent level shifts).

    Exactness: the recursion ``S_t = max(0, S_{t-1} + dev_t)`` has
    the closed scan form ``S_t = C_t − min_{j≤t} C_j`` with C the
    running sum of deviations — both a running SUM of exact integers
    and a running MIN, order-independent. Mean subtraction stays
    integer by n-scaling: ``dev_t = n·x_t − total ∓ n·slack`` in
    DECIMAL(38,0) (per-day daily totals are ``unit_scale`` integer
    units; HUGEINT in the oracle), so every S_t is an exact rational
    with denominator ``n·unit_scale`` and the alarm compare
    ``S_t > n·threshold`` is integer-exact. Readouts are ONE IEEE
    division of exact integers (< 2^53, documented) — bit-identical
    cross-engine with no rounding step (round(·,9) is ill-conditioned
    at these magnitudes: 9 decimals on a 1e7-dollar value asks for 17
    significant digits, past double precision).

    Parameters are in scaled units: ``slack_units``/``threshold_units``
    are value·unit_scale integers (the usual tuning: slack ≈ half the
    shift you want to catch, threshold ≈ 4-5σ of the daily noise).

    Output per present day: ``(day, x, s_up, s_dn (double), alarm_up,
    alarm_dn (boolean))``.

    Scale shape: one groupBy to DAY grain, then ordered windows over
    the day series — bounded by calendar (decades = thousands of
    rows), the period_over_period contract."""
    if threshold_units < 0 or slack_units < 0:
        raise ValueError(
            "cusum_changepoints: slack_units/threshold_units must be >= 0"
        )
    daily = _daily_units(df, ts_col, value_col, unit_scale)
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_x").cast("decimal(38,0)").alias("_t"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    staged = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "_x",
        "_n",
        (
            dec("_n") * dec("_x")
            - F.col("_t")
            - dec("_n") * F.lit(slack_units).cast("decimal(38,0)")
        ).alias("_du"),
        (
            dec("_n") * dec("_x")
            - F.col("_t")
            + dec("_n") * F.lit(slack_units).cast("decimal(38,0)")
        ).alias("_dd"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    sums = staged.select(
        "day",
        "_x",
        "_n",
        F.sum("_du").over(w).alias("_cu"),
        F.sum("_dd").over(w).alias("_cd"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    cum = sums.select(
        "day",
        "_x",
        "_n",
        # S_t = C_t − min(0, min_{j≤t} C_j): the C_0 = 0 virtual start
        # must participate in the running extremes (max(0, ·) recursion)
        (F.col("_cu") - F.least(zero, F.min("_cu").over(w))).alias("_su"),
        (F.greatest(zero, F.max("_cd").over(w)) - F.col("_cd")).alias("_sd"),
    )
    denom = (F.col("_n").cast("double") * F.lit(float(unit_scale)))
    thr = F.col("_n").cast("decimal(38,0)") * F.lit(threshold_units).cast(
        "decimal(38,0)"
    )
    return cum.select(
        "day",
        (F.col("_x").cast("double") / F.lit(float(unit_scale))).alias("x"),
        (F.col("_su").cast("double") / denom).alias("s_up"),
        (F.col("_sd").cast("double") / denom).alias("s_dn"),
        (F.col("_su") > thr).alias("alarm_up"),
        (F.col("_sd") > thr).alias("alarm_dn"),
    )


def autocorrelation(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    max_lag: int = 7,
    unit_scale: int = 100,
) -> DataFrame:
    """See :func:`_acf_and_n` — the ACF rows only."""
    return _acf_and_n(
        df,
        ts_col=ts_col,
        value_col=value_col,
        max_lag=max_lag,
        unit_scale=unit_scale,
    )[0]


def _acf_and_n(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    max_lag: int = 7,
    unit_scale: int = 100,
) -> tuple[DataFrame, int]:
    """Sample autocorrelation function of a daily series at lags
    1..``max_lag`` (Box & Jenkins 1970: ``r_ℓ = Σ(x_t−μ)(x_{t+ℓ}−μ) /
    Σ(x_t−μ)²`` with the GLOBAL mean and the FULL-series denominator —
    the convention that keeps r a positive-definite sequence). The
    seasonality probe: a weekly cycle shows as a spike at lag 7.

    Exactness: mean subtraction stays integer by n-scaling —
    ``(n·x_t − T)(n·x_{t+ℓ} − T)`` accumulated in DECIMAL(38,0)
    (HUGEINT in the oracle; magnitudes reach (n·Σx)²/n, documented to
    fit DECIMAL(38) through ~1e12 daily units × decades), ONE final
    division, rounded to 9. Lag pairs come from a date-shift
    equi-join — days missing from the series simply don't pair.

    Output: one row per lag ``(lag (long), n_pairs (long), acf
    (double; NULL when the series is constant or the lag has no
    pairs))``.

    Scale shape: groupBy to DAY grain, then a |days|×max_lag
    date-equi-join against the day series and one lag-grain
    aggregation — no windows, no cartesian.

    Returns ``(acf_df, n_days)`` — the day count is already paid for
    by the total pass, so composing callers (ljung_box) must not
    re-scan the source for it (r14)."""
    if max_lag < 1:
        raise ValueError(f"autocorrelation: max_lag must be >= 1, got {max_lag}")
    # the day table is consumed four times below (total, both join
    # sides, denominator) — without a lineage cut every consumer
    # (including each broadcast build side) re-ran the full source
    # scan + day aggregation (r14 measurement; guide §2.4 "remove
    # passes outright"). Day grain is calendar-bounded, so the cut is
    # cheap at any corpus size; (n, T, den) are integer-exact scalars,
    # so attaching them as literals instead of 1-row broadcasts is
    # bit-identical and removes the joins from the final plan.
    daily = _daily_units(df, ts_col, value_col, unit_scale).localCheckpoint(
        eager=False
    )
    spark = df.sparkSession
    dec38 = "decimal(38,0)"
    trow = daily.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_x").cast("decimal(38,0)").alias("_t"),
    ).first()
    n_lit = F.lit(int(trow["_n"])).cast("long").cast(dec38)
    t_lit = (
        F.lit(trow["_t"]).cast(dec38)
        if trow["_t"] is not None
        else F.lit(None).cast(dec38)
    )
    dev = lambda xcol: (  # noqa: E731
        n_lit * F.col(xcol).cast(dec38) - t_lit
    )
    lags = spark.range(1, max_lag + 1).select(F.col("id").alias("lag"))
    left = daily.crossJoin(F.broadcast(lags)).select(
        "lag",
        F.date_add("day", F.col("lag").cast("int")).alias("_pday"),
        dev("_x").alias("_da"),
    )
    right = daily.select(F.col("day").alias("_pday"), F.col("_x").alias("_xb"))
    pairs = left.join(right, "_pday").select(
        "lag", "_da", dev("_xb").alias("_db")
    )
    num = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("_da") * F.col("_db")).alias("_num"),
    )
    den_row = daily.agg(F.sum(dev("_x") * dev("_x")).alias("_den")).first()
    den_lit = (
        F.lit(den_row["_den"]).cast(dec38)
        if den_row is not None and den_row["_den"] is not None
        else F.lit(None).cast(dec38)
    )
    out = lags.join(num, "lag", "left").select(
        F.col("lag").cast("long").alias("lag"),
        F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        F.when(
            (den_lit > 0) & F.col("_num").isNotNull(),
            F.round(
                F.col("_num").cast("double") / den_lit.cast("double"),
                9,
            ),
        ).alias("acf"),
    )
    return out, int(trow["_n"])


def seasonal_decompose(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    unit_scale: int = 100,
) -> DataFrame:
    """Classical additive seasonal decomposition of a daily series with
    weekly seasonality (Macaulay 1931 / the textbook moving-average
    method): ``x = trend + seasonal + resid`` where trend is the
    centered 7-day moving average (defined only where all 7 neighbor
    days are present), seasonal is the day-of-week mean of the
    detrended interior, and resid is what's left.

    UNCENTERED-seasonal convention, deliberately: the seasonal
    component is the RAW day-of-week mean of the detrended interior
    and is NOT re-centered to sum to ~0 over the week (the
    statsmodels/textbook variant subtracts the mean of the 7
    period means). Reconstruction ``x = trend + seasonal + resid``
    holds either way; under this convention seasonal/resid levels
    are offset from the centered variant by the detrended-series
    mean. Chosen because the raw per-dow mean is ONE exact
    integer-sum divide restated identically cross-engine, while the
    mean-of-7-rational-means needs either a non-scale-safe common
    denominator (counts multiply past DECIMAL(38,0)) or an
    order-sensitive double fold. Callers wanting the centered
    convention can subtract ``avg(seasonal) OVER ()`` of the 7
    distinct (dow, seasonal) rows downstream.

    Exactness: the 7-day neighbor sum ``t7_t`` is an exact integer
    (units), so the detrended series ``7·x_t − t7_t`` is exact in
    1/7-units; day-of-week means accumulate those integers in
    DECIMAL(38,0) (HUGEINT oracle) and divide ONCE per readout —
    trend, seasonal and resid are each a single IEEE expression over
    exact integers, rounded to 9 and engine-identical.

    Output per present day: ``(day, dow (long, 1=Sunday…7=Saturday —
    Spark dayofweek convention, restated in the oracle), x, trend,
    seasonal, resid (double; trend/resid NULL at series edges and
    around gaps))``.

    Scale shape: groupBy to DAY grain, a constant 7-offset date
    equi-join for the window sum, a 7-row day-of-week aggregate
    broadcast back — no windows, no cartesian."""
    daily = _daily_units(df, ts_col, value_col, unit_scale)
    spark = df.sparkSession
    offs = spark.range(-3, 4).select(F.col("id").alias("_off"))
    neigh = (
        daily.crossJoin(F.broadcast(offs))
        .select(
            F.date_add("day", F.col("_off").cast("int")).alias("_cday"),
            "_x",
        )
        .groupBy(F.col("_cday").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("_k"),
            F.sum("_x").cast("decimal(38,0)").alias("_t7"),
        )
        .where(F.col("_k") == 7)
        .select("day", "_t7")
    )
    # interior days: present AND full 7-day neighborhood
    base = daily.join(neigh, "day", "left").select(
        "day",
        "_x",
        "_t7",
        (
            F.lit(7).cast("decimal(38,0)") * F.col("_x").cast("decimal(38,0)")
            - F.col("_t7")
        ).alias("_d7"),
        F.dayofweek("day").cast("long").alias("dow"),
    )
    dow_means = (
        base.where(F.col("_t7").isNotNull())
        .groupBy("dow")
        .agg(
            F.sum("_d7").alias("_sd"),
            F.count(F.lit(1)).cast("long").alias("_m"),
        )
    )
    scale = F.lit(float(unit_scale))
    seasonal = F.col("_sd").cast("double") / (
        F.lit(7.0) * F.col("_m").cast("double") * scale
    )
    return (
        base.join(F.broadcast(dow_means), "dow", "left")
        .select(
            "day",
            "dow",
            (F.col("_x").cast("double") / scale).alias("x"),
            (F.col("_t7").cast("double") / (F.lit(7.0) * scale)).alias(
                "trend"
            ),
            seasonal.alias("seasonal"),
            F.when(
                F.col("_t7").isNotNull() & F.col("_sd").isNotNull(),
                F.col("_d7").cast("double") / (F.lit(7.0) * scale)
                - seasonal,
            ).alias("resid"),
        )
    )


def theil_sen_trend(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    unit_scale: int = 100,
) -> DataFrame:
    """Theil-Sen robust trend of a daily series (Theil 1950; Sen, JASA
    1968): the MEDIAN of all pairwise slopes — up to ~29% of the days
    can be arbitrarily corrupted before the estimate moves, where the
    least-squares slope (:func:`holt_linear`'s level/trend, or a
    regression fit) chases every outlier day. One row out:
    ``(n_days, n_pairs (long), slope (double — units/day),
    intercept (double — the median of xᵢ − slope·dayᵢ, Conover's
    convention; both NULL when < 2 days))``.

    Exactness: daily totals are exact integers (the shared
    ``unit_scale`` staging); each pairwise slope is ONE IEEE division
    of exact integers, the median is the pinned R-7 ``percentile`` (≡
    ``quantile_cont``), and the intercept chain reuses the slope
    scalar — every expression identical cross-engine.

    Scale shape: the pair set is DAY-grain × DAY-grain (bounded by
    calendar² — ~3M pairs per decade, trivially partitioned), never
    row grain; two percentile aggregates and two 1-row scalar
    attaches finish the plan."""
    daily = _daily_units(df, ts_col, value_col, unit_scale)
    origin = daily.agg(F.min("day").alias("_d0"))
    idx = daily.crossJoin(F.broadcast(origin)).select(
        F.datediff("day", "_d0").cast("long").alias("_i"),
        (F.col("_x").cast("double") / F.lit(float(unit_scale))).alias("_xv"),
    )
    a = idx.select(F.col("_i").alias("_ia"), F.col("_xv").alias("_xa"))
    b = idx.select(F.col("_i").alias("_ib"), F.col("_xv").alias("_xb"))
    pairs = a.join(b, F.col("_ia") < F.col("_ib")).select(
        (
            (F.col("_xb") - F.col("_xa"))
            / (F.col("_ib") - F.col("_ia")).cast("double")
        ).alias("_s")
    )
    slope_row = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("percentile(_s, 0.5)").alias("_slope"),
    )
    resid = (
        idx.crossJoin(F.broadcast(slope_row))
        .select(
            (F.col("_xv") - F.col("_slope") * F.col("_i").cast("double")).alias(
                "_r"
            )
        )
        .agg(F.expr("percentile(_r, 0.5)").alias("_icept"))
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        n_days.crossJoin(F.broadcast(slope_row))
        .crossJoin(F.broadcast(resid))
        .select(
            "n_days",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.when(F.col("n_days") > 1, F.round("_slope", 9)).alias("slope"),
            F.when(F.col("n_days") > 1, F.round("_icept", 9)).alias(
                "intercept"
            ),
        )
    )


def kaplan_meier(
    df: DataFrame,
    *,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator (Kaplan & Meier,
    JASA 1958 — the standard time-to-event curve under right
    censoring): ``S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ)`` over distinct event
    times, with censored units leaving the risk set without an event —
    retention, churn, time-to-conversion, crawl-revisit lifetimes.
    One row per DISTINCT duration: ``(t (long), n_risk, d, c (long),
    survival (double — rounded to 9; exactly 0 from the first time the
    whole risk set fails))``.

    Exactness: every count is an exact integer; each factor's log
    ``ln((nᵢ−dᵢ)/nᵢ)`` micro-quantizes to int64 and the product
    becomes a RUNNING INTEGER SUM over the distinct-duration table
    (order-independent, the mutual_information discipline), exposed
    through one ``exp`` of the same double on both engines. The
    d = n termination (log undefined) is handled by a running flag,
    not a sentinel value.

    Scale shape: one duration-grain groupBy, then ordered windows over
    the DISTINCT-DURATION table (bounded by the time resolution — the
    classifier_auc contract)."""
    t = F.col(duration_col).cast("long")
    e = F.col(event_col).cast("boolean")
    per = (
        df.select(t.alias("t"), e.alias("_e"))
        .where(F.col("t").isNotNull() & F.col("_e").isNotNull())
        .where(F.col("t") >= 0)
        .groupBy("t")
        .agg(
            F.sum(F.col("_e").cast("long")).alias("d"),
            F.sum((~F.col("_e")).cast("long")).alias("c"),
        )
    )
    w_all = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    tot = per.agg(
        F.coalesce(F.sum(F.col("d") + F.col("c")), F.lit(0))
        .cast("long")
        .alias("_tot")
    )
    staged = per.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "c",
        (
            F.col("_tot")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.round(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk").cast("double")
            )
            * F.lit(1e6)
        ).cast("long"),
    ).otherwise(F.lit(0))
    dead = (F.col("d") == F.col("n_risk")) & (F.col("d") > 0)
    cum = staged.select(
        "t",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d"),
        F.col("c").cast("long").alias("c"),
        F.sum(term).over(w_all).alias("_lmicro"),
        F.max(dead.cast("int")).over(w_all).alias("_dead"),
    )
    return cum.select(
        "t",
        "n_risk",
        "d",
        "c",
        F.when(F.col("_dead") == 1, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.col("_lmicro").cast("double") / F.lit(1e6)), 9)
        )
        .alias("survival"),
    )


def mann_kendall_trend(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    unit_scale: int = 100,
) -> DataFrame:
    """Mann-Kendall trend test over a daily series (Mann 1945;
    Kendall's tau machinery): is there a MONOTONIC trend at all? The
    significance companion to :func:`theil_sen_trend` (the classical
    pairing: MK tests, Theil-Sen estimates — both rank-based, both
    immune to the outlier days that drive least squares): ``S = Σ_{i<j}
    sign(x_j − x_i)`` with the tie-corrected normal approximation and
    the standard ±1 continuity correction. One row out: ``(n_days
    (long), s (long), z (double; NULL when n < 2 or the variance
    degenerates — an all-tied series))``.

    Exactness: daily totals are exact integers, S is a pure integer
    sign sum over DAY-grain pairs (calendar²-bounded, the theil_sen
    contract), the tie term ``Σ t(t−1)(2t+5)`` is DECIMAL(38,0)/
    HUGEINT-exact, and z is one IEEE chain over exact integers,
    rounded to 9."""
    daily = _daily_units(df, ts_col, value_col, unit_scale)
    a = daily.select(F.col("day").alias("_da"), F.col("_x").alias("_xa"))
    b = daily.select(F.col("day").alias("_db"), F.col("_x").alias("_xb"))
    s_row = (
        a.join(b, F.col("_da") < F.col("_db"))
        .select(
            F.when(F.col("_xb") > F.col("_xa"), F.lit(1))
            .when(F.col("_xb") < F.col("_xa"), F.lit(-1))
            .otherwise(F.lit(0))
            .alias("_sgn")
        )
        .agg(F.coalesce(F.sum("_sgn"), F.lit(0)).cast("long").alias("s"))
    )
    dec = "decimal(38,0)"
    ties = (
        daily.groupBy("_x")
        .agg(F.count(F.lit(1)).cast("long").alias("_t"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("_groups"),
            F.coalesce(
                F.sum(
                    F.col("_t").cast(dec)
                    * (F.col("_t").cast(dec) - F.lit(1).cast(dec))
                    * (
                        F.lit(2).cast(dec) * F.col("_t").cast(dec)
                        + F.lit(5).cast(dec)
                    )
                ),
                F.lit(0).cast(dec),
            ).alias("_tie"),
        )
    )
    nd = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    n = F.col("n_days").cast("double")
    var_s = (
        n * (n - F.lit(1.0)) * (F.lit(2.0) * n + F.lit(5.0))
        - F.col("_tie").cast("double")
    ) / F.lit(18.0)
    sd = F.col("s").cast("double")
    z = (
        F.when(F.col("s") > 0, (sd - F.lit(1.0)) / F.sqrt(var_s))
        .when(F.col("s") < 0, (sd + F.lit(1.0)) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return (
        nd.crossJoin(F.broadcast(s_row))
        .crossJoin(F.broadcast(ties))
        .select(
            "n_days",
            "s",
            F.when((F.col("n_days") > 1) & (var_s > 0), F.round(z, 9)).alias(
                "z"
            ),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    unit_scale: int = 100,
) -> DataFrame:
    """Per-key time-weighted average (the TWAP convention: each
    observation holds until the NEXT one, weighted by its holding
    duration in seconds; the last observation has no duration and
    contributes nothing) — the correct mean for irregularly-sampled
    state series (account balance, price, queue depth), where the
    row-mean over-weights busy periods exactly when they matter
    least. One row per key: ``(key, n_events (long), span_seconds
    (long), twap (double; NULL for single-event keys))``.

    Exactness: values quantize to integers at ``unit_scale``;
    durations are exact integer MICROSECONDS (``unix_micros`` ≡
    DuckDB ``epoch_us`` — second-granularity epoch casts round
    sub-second parts differently across engines); ``span_seconds``
    floors the microsecond span; the Σ v·Δt fold is
    DECIMAL(38,0)/HUGEINT; ONE division, rounded to 9. Ties on ts
    contribute zero duration (deterministic — their order cannot
    matter).

    Scale shape: ONE window partitioned BY KEY (thousands of rows per
    key, never global — the sessionize contract), one key-grain
    aggregation."""
    from pyspark.sql import Window

    v = F.round(F.col(value_col).cast("double") * F.lit(unit_scale)).cast(
        "long"
    )
    ep = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(
        F.col(key_col).alias("_k"), ep.alias("_t"), v.alias("_v")
    ).where(
        F.col("_k").isNotNull()
        & F.col("_t").isNotNull()
        & F.col("_v").isNotNull()
    )
    w = Window.partitionBy("_k").orderBy(F.col("_t").asc(), F.col("_v").asc())
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    stepped = base.select(
        "_k",
        "_t",
        "_v",
        (F.lead("_t").over(w) - F.col("_t")).alias("_dt"),
    )
    return (
        stepped.groupBy("_k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.coalesce(F.sum("_dt"), F.lit(0)).cast("long").alias("_span_us"),
            F.coalesce(
                F.sum(dec("_v") * dec("_dt")), F.lit(0).cast("decimal(38,0)")
            ).alias("_vt"),
        )
        .select(
            F.col("_k").alias("key"),
            "n_events",
            F.floor(F.col("_span_us") / F.lit(1_000_000)).cast("long").alias(
                "span_seconds"
            ),
            F.when(
                F.col("_span_us") > 0,
                F.round(
                    F.col("_vt").cast("double")
                    / (
                        F.col("_span_us").cast("double")
                        * F.lit(float(unit_scale))
                    ),
                    9,
                ),
            ).alias("twap"),
        )
    )


def logrank_test(
    df: DataFrame,
    *,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Log-rank (Mantel-Cox) test between two survival curves (Mantel
    1966; Peto & Peto 1972): the significance half of the
    Kaplan-Meier pairing — "do these two cohorts churn at different
    rates?" with right-censoring handled exactly, where a naive
    mean-lifetime comparison biases toward whichever cohort has more
    censored units. Input one row per unit: ``group_col``
    (boolean-castable — group A membership), ``duration_col``
    (integer time units), ``event_col`` (TRUE = event observed,
    FALSE = censored). One row out: ``(n_a, n_b (long), o_a (long —
    observed A events), e_a (double — expected under H0), v
    (double — hypergeometric variance), chi2 (double; NULL when
    v = 0))``. Compare against χ²(1).

    Exactness: at-risk counts are INCLUSIVE reverse cumulative sums
    over the DISTINCT-duration table (censored-at-t units count as
    at-risk at t — the standard convention; a DESC-ordered PRECEDING
    frame, never the O(n²) following frame); each event-time's
    expectation/variance term is ONE engine-identical IEEE chain over
    exact integers, micro-quantized (1e-6) BEFORE the cross-time sum
    (the kruskal_wallis fold discipline).

    Scale shape: one duration-grain groupBy + one ordered window over
    the DISTINCT duration domain (calendar-bounded — the
    kaplan_meier contract), one 1-row fold."""
    from pyspark.sql import Window

    g = F.col(group_col).cast("boolean")
    base = df.select(
        g.alias("_g"),
        F.col(duration_col).cast("long").alias("_t"),
        F.col(event_col).cast("boolean").alias("_e"),
    ).where(
        F.col("_g").isNotNull()
        & F.col("_t").isNotNull()
        & F.col("_e").isNotNull()
    )
    per = base.groupBy("_t").agg(
        F.count(F.lit(1)).cast("long").alias("_u"),
        F.sum(F.col("_g").cast("long")).cast("long").alias("_u1"),
        F.sum(F.col("_e").cast("long")).cast("long").alias("_d"),
        F.sum((F.col("_g") & F.col("_e")).cast("long")).cast("long").alias("_d1"),
    )
    w = Window.orderBy(F.col("_t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per.select(
        "_d",
        "_d1",
        F.sum("_u").over(w).cast("long").alias("_n"),
        F.sum("_u1").over(w).cast("long").alias("_n1"),
    )
    dd = F.col("_d").cast("double")
    nn = F.col("_n").cast("double")
    n1 = F.col("_n1").cast("double")
    e_term = F.when(
        F.col("_d") > 0, F.round(dd * n1 / nn * F.lit(1e6))
    ).otherwise(F.lit(0.0)).cast("decimal(38,0)")
    v_term = F.when(
        (F.col("_d") > 0) & (F.col("_n") > 1),
        F.round(
            dd
            * (n1 / nn)
            * (F.lit(1.0) - n1 / nn)
            * (nn - dd)
            / (nn - F.lit(1.0))
            * F.lit(1e6)
        ),
    ).otherwise(F.lit(0.0)).cast("decimal(38,0)")
    sums = risk.agg(
        F.coalesce(F.sum("_d1"), F.lit(0)).cast("long").alias("o_a"),
        F.coalesce(F.sum(e_term), F.lit(0).cast("decimal(38,0)")).alias("_em"),
        F.coalesce(F.sum(v_term), F.lit(0).cast("decimal(38,0)")).alias("_vm"),
    )
    tot = base.agg(
        F.coalesce(F.sum(F.col("_g").cast("long")), F.lit(0))
        .cast("long")
        .alias("n_a"),
        F.coalesce(F.sum((~F.col("_g")).cast("long")), F.lit(0))
        .cast("long")
        .alias("n_b"),
    )
    e_a = F.col("_em").cast("double") / F.lit(1e6)
    v = F.col("_vm").cast("double") / F.lit(1e6)
    return tot.crossJoin(F.broadcast(sums)).select(
        "n_a",
        "n_b",
        "o_a",
        F.round(e_a, 9).alias("e_a"),
        F.round(v, 9).alias("v"),
        F.when(
            v > 0,
            F.round(
                (F.col("o_a").cast("double") - e_a)
                * (F.col("o_a").cast("double") - e_a)
                / v,
                9,
            ),
        ).alias("chi2"),
    )


def interarrival_burstiness(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Per-key inter-arrival burstiness (Goh & Barabási, EPL 2008:
    ``B = (σ − μ)/(σ + μ)`` over the gap distribution — −1 =
    clockwork, 0 = Poisson, → 1 = extreme bursts) plus the
    coefficient of variation — the standard "is this user/host a bot
    or a burst" fingerprint for rate-limit and crawl-budget policy.
    One row per key with ≥ 3 events (≥ 2 gaps — the Bessel-corrected
    variance needs two samples, so two-event keys are dropped):
    ``(key, n_gaps (long),
    mean_gap_s, cv, burstiness (double; NULL when the mean gap is
    0))``.

    Exactness: gaps are exact integer MICROSECONDS (unix_micros ≡
    epoch_us); Σgap and Σgap² fold in DECIMAL(38,0)/HUGEINT; the
    Bessel variance ``(n·Σg² − (Σg)²)/(n(n−1))`` and every readout
    are one engine-identical IEEE chain, rounded to 9.

    Scale shape: ONE window partitioned BY KEY + one key-grain
    aggregation — the sessionize contract."""
    from pyspark.sql import Window

    ep = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(
        F.col(key_col).alias("_k"),
        ep.alias("_t"),
        F.col(id_col).cast("long").alias("_i"),
    ).where(F.col("_k").isNotNull() & F.col("_t").isNotNull())
    w = Window.partitionBy("_k").orderBy(F.col("_t").asc(), F.col("_i").asc())
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    gaps = base.select(
        "_k", (F.lead("_t").over(w) - F.col("_t")).alias("_gap")
    ).where(F.col("_gap").isNotNull())
    agg = gaps.groupBy("_k").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(dec("_gap")).alias("_s1"),
        F.sum(dec("_gap") * dec("_gap")).alias("_s2"),
    )
    n = F.col("n_gaps").cast("double")
    mean_us = F.col("_s1").cast("double") / n
    var_us = (
        n * F.col("_s2").cast("double")
        - F.col("_s1").cast("double") * F.col("_s1").cast("double")
    ) / (n * (n - F.lit(1.0)))
    std_us = F.sqrt(var_us)
    return agg.where(F.col("n_gaps") >= 2).select(
        F.col("_k").alias("key"),
        "n_gaps",
        F.round(mean_us / F.lit(1e6), 9).alias("mean_gap_s"),
        F.when(mean_us > 0, F.round(std_us / mean_us, 9)).alias("cv"),
        F.when(
            (std_us + mean_us) > 0,
            F.round((std_us - mean_us) / (std_us + mean_us), 9),
        ).alias("burstiness"),
    )


def max_drawdown(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    unit_scale: int = 100,
) -> DataFrame:
    """Maximum drawdown of the DEMEANED cumulative daily series — the
    deepest sustained run of below-average days (Magdon-Ismail &
    Atiya, Risk 2004 frame the statistic; demeaning adapts it from
    price LEVELS to revenue FLOWS: the cumulative of raw positive
    flows never falls, so the meaningful question is "how far behind
    the average run-rate did we get, and when?"). The companion to
    :func:`cusum_changepoints`: CUSUM alarms on a shift, drawdown
    sizes the worst cumulative shortfall. One row out: ``(n_days
    (long), max_drawdown (double — value units; 0 when the series
    never dips), trough_day (date — FIRST day attaining the maximum,
    NULL when drawdown is 0))``.

    Exactness: the cusum integer discipline verbatim — daily totals
    quantize at ``unit_scale``, mean subtraction stays integer by
    n-scaling (``dev = n·x − total`` in DECIMAL(38,0)/HUGEINT), the
    running sum C and running max P are exact-integer windows, and
    ``max(P − C)/(n·unit_scale)`` is ONE IEEE division of exact
    integers. Scale shape: one groupBy to DAY grain, ordered windows
    over the calendar-bounded day series, a 1-row max attach."""
    v = F.col(value_col).cast("decimal(30,6)")
    daily = (
        df.select(
            F.date_trunc("day", F.col(ts_col).cast("timestamp")).cast("date").alias("day"),
            v.alias("_v"),
        )
        .where(F.col("day").isNotNull() & F.col("_v").isNotNull())
        .groupBy("day")
        .agg(
            F.round(F.sum("_v").cast("double") * F.lit(unit_scale))
            .cast("long")
            .alias("_x")
        )
    )
    return _drawdown_readout(daily, unit_scale)


def _drawdown_readout(daily: DataFrame, unit_scale: int) -> DataFrame:
    """:func:`max_drawdown` from the quantized day table ``(day, _x)``
    onward (shared with the streaming fold's final readout)."""
    from pyspark.sql import Window

    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.coalesce(F.sum(dec("_x")), F.lit(0).cast("decimal(38,0)")).alias("_t"),
    )
    staged = daily.crossJoin(F.broadcast(tot))
    w = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dev = (dec("_n") * dec("_x") - F.col("_t")).cast("decimal(38,0)")
    cum = staged.select(
        "day",
        "_n",
        F.sum(dev).over(w).cast("decimal(38,0)").alias("_c"),
    ).select(
        "day",
        "_n",
        "_c",
        F.max("_c").over(w).cast("decimal(38,0)").alias("_p"),
    )
    dd = cum.select(
        "day", "_n", (F.col("_p") - F.col("_c")).cast("decimal(38,0)").alias("_dd")
    )
    top = dd.agg(F.max("_dd").alias("_mx"))
    out = dd.crossJoin(F.broadcast(top)).where(F.col("_dd") == F.col("_mx"))
    return out.groupBy().agg(
        F.max("_n").cast("long").alias("n_days"),
        (
            F.max("_mx").cast("double")
            / (F.max("_n").cast("double") * F.lit(float(unit_scale)))
        ).alias("max_drawdown"),
        F.when(F.max("_mx") > 0, F.min("day")).alias("trough_day"),
    )


def ols_trend(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    unit_scale: int = 100,
) -> DataFrame:
    """Ordinary-least-squares linear trend of the daily series with
    inference: slope per day, its standard error, the t statistic and
    R² (the textbook simple regression; Theil-Sen in this module is
    its robust sibling — OLS adds the UNCERTAINTY readout Theil-Sen
    omits, at the price of outlier sensitivity). x is the calendar
    day offset from the first present day (gaps stay gaps). One row
    out: ``(n_days (long), slope, intercept, se_slope, t_stat, r2
    (double; NULL when n < 3 or the day spread/residual variance is
    0))``. slope/intercept/se are in value units per day.

    Exactness: y quantizes to integers at ``unit_scale``; x is an
    exact small integer; every Σx/Σy/Σxy/Σx²/Σy² fold is
    DECIMAL(38,0)/HUGEINT; the readouts are ONE engine-identical IEEE
    chain over those exact integers, rounded to 9. Scale shape: one
    groupBy to DAY grain, a 1-row min-day attach, one 5-moment fold."""
    v = F.col(value_col).cast("decimal(30,6)")
    daily = (
        df.select(
            F.date_trunc("day", F.col(ts_col).cast("timestamp")).cast("date").alias("day"),
            v.alias("_v"),
        )
        .where(F.col("day").isNotNull() & F.col("_v").isNotNull())
        .groupBy("day")
        .agg(
            F.round(F.sum("_v").cast("double") * F.lit(unit_scale))
            .cast("long")
            .alias("_y")
        )
    )
    return _ols_readout(daily, unit_scale)


def _ols_readout(daily: DataFrame, unit_scale: int) -> DataFrame:
    """:func:`ols_trend` from the quantized day table ``(day, _y)``
    onward (shared with the streaming fold's final readout)."""
    first = daily.agg(F.min("day").alias("_d0"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    staged = daily.crossJoin(F.broadcast(first)).select(
        F.datediff(F.col("day"), F.col("_d0")).cast("long").alias("_x"),
        "_y",
    )
    m = staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.coalesce(F.sum(dec(F.col("_x"))), F.lit(0).cast("decimal(38,0)")).alias("_sx"),
        F.coalesce(F.sum(dec(F.col("_y"))), F.lit(0).cast("decimal(38,0)")).alias("_sy"),
        F.coalesce(F.sum((dec(F.col("_x")) * dec(F.col("_y"))).cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")).alias("_sxy"),
        F.coalesce(F.sum((dec(F.col("_x")) * dec(F.col("_x"))).cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")).alias("_sxx"),
        F.coalesce(F.sum((dec(F.col("_y")) * dec(F.col("_y"))).cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")).alias("_syy"),
    )
    n = F.col("n_days").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy, sxx, syy = (
        F.col("_sxy").cast("double"),
        F.col("_sxx").cast("double"),
        F.col("_syy").cast("double"),
    )
    s = F.lit(float(unit_scale))
    cxx = sxx - sx * sx / n
    cyy = syy - sy * sy / n
    cxy = sxy - sx * sy / n
    b = cxy / cxx
    sse = cyy - b * cxy
    se_b = F.sqrt(sse / (n - F.lit(2.0)) / cxx)
    ok = (F.col("n_days") >= 3) & (cxx > 0)
    return m.select(
        "n_days",
        F.when(ok, F.round(b / s, 9)).alias("slope"),
        F.when(ok, F.round((sy / n - b * sx / n) / s, 9)).alias("intercept"),
        F.when(ok & (sse > 0), F.round(se_b / s, 9)).alias("se_slope"),
        F.when(ok & (sse > 0), F.round(b / se_b, 9)).alias("t_stat"),
        F.when(ok & (cyy > 0), F.round(b * cxy / cyy, 9)).alias("r2"),
    )


def pacf(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    max_lag: int = 7,
    unit_scale: int = 100,
) -> DataFrame:
    """Partial autocorrelation function at lags 1..``max_lag`` via the
    Durbin–Levinson recursion (Durbin, Biometrika 1960; Box & Jenkins
    1970 §3.2) over :func:`autocorrelation`'s sample ACF — the AR
    order-selection readout the ACF cannot give: PACF at lag ℓ is the
    correlation REMAINING after regressing out lags 1..ℓ−1, so an
    AR(p) series cuts off sharply after p where its ACF decays
    forever. Output one row per lag: ``(lag (long), pacf (double;
    NULL when the series is constant or any required ACF lag is
    undefined))``.

    Scale shape and honesty: all distributed work is the ACF's
    (day-grain equi-joins, DECIMAL folds); the recursion itself runs
    DRIVER-SIDE on the collected ``max_lag`` scalars — a deliberate
    bounded-size collect (max_lag ≤ a few dozen), the classifier_auc
    k-row discipline. The recursion has no SQL restatement, so the
    gate entry is rows-only; correctness pins to an independent
    reference implementation and to direct OLS in pytest."""
    if max_lag < 1:
        raise ValueError(f"pacf: max_lag must be >= 1, got {max_lag}")
    spark = df.sparkSession
    rows = (
        autocorrelation(
            df,
            ts_col=ts_col,
            value_col=value_col,
            max_lag=max_lag,
            unit_scale=unit_scale,
        )
        .orderBy("lag")
        .collect()
    )
    r = {int(row["lag"]): row["acf"] for row in rows}
    out: list[tuple[int, float | None]] = []
    if any(r.get(l) is None for l in range(1, max_lag + 1)):
        out = [(l, None) for l in range(1, max_lag + 1)]
    else:
        acf = [1.0] + [float(r[l]) for l in range(1, max_lag + 1)]
        phi_prev: list[float] = []
        for k in range(1, max_lag + 1):
            if k == 1:
                phi_kk = acf[1]
                phi_cur = [phi_kk]
            else:
                num = acf[k] - sum(
                    phi_prev[j] * acf[k - 1 - j] for j in range(k - 1)
                )
                den = 1.0 - sum(phi_prev[j] * acf[j + 1] for j in range(k - 1))
                if den == 0.0:
                    out.extend((l, None) for l in range(k, max_lag + 1))
                    break
                phi_kk = num / den
                phi_cur = [
                    phi_prev[j] - phi_kk * phi_prev[k - 2 - j]
                    for j in range(k - 1)
                ] + [phi_kk]
            out.append((k, round(phi_kk, 9)))
            phi_prev = phi_cur
    return local_rows_df(spark, out, "lag long, pacf double")


def durbin_watson(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    unit_scale: int = 100,
) -> DataFrame:
    """Durbin–Watson autocorrelation test on the residuals of the
    daily OLS trend (Durbin & Watson, Biometrika 1950): ``DW =
    Σ(eₜ−eₜ₋₁)²/Σeₜ²`` over the day-ordered residuals of
    :func:`ols_trend`'s fit — THE standard check that a trend line's
    errors are independent (DW ≈ 2), positively autocorrelated
    (→ 0: the se/t the OLS reports are overconfident) or negatively
    (→ 4). One row out: ``(n_days (long), dw_stat, rho_hat
    (double — the 1 − DW/2 first-order estimate; NULL when n < 3,
    zero day spread, or zero residual variance))``.

    Exactness: the OLS moments are the exact integer folds of
    ols_trend; each residual is ONE IEEE chain over them; the
    (Δe)²/e² terms micro-quantize to 1e-6 units and fold in
    DECIMAL(38,0) (order-free), one final division, rounded to 9.
    Scale shape: day-grain aggregate, one 5-moment fold, one lag
    window over the DAY series (CALENDAR-bounded — the cusum
    contract), one k-row fold."""
    daily = _daily_units(df, ts_col, value_col, unit_scale)
    first = daily.agg(F.min("day").alias("_d0"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    staged = daily.crossJoin(F.broadcast(first)).select(
        F.datediff(F.col("day"), F.col("_d0")).cast("long").alias("_xd"),
        F.col("_x").alias("_y"),
        "day",
    )
    m = staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.coalesce(F.sum(dec(F.col("_xd"))), F.lit(0).cast("decimal(38,0)")).alias("_sx"),
        F.coalesce(F.sum(dec(F.col("_y"))), F.lit(0).cast("decimal(38,0)")).alias("_sy"),
        F.coalesce(F.sum((dec(F.col("_xd")) * dec(F.col("_y"))).cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")).alias("_sxy"),
        F.coalesce(F.sum((dec(F.col("_xd")) * dec(F.col("_xd"))).cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")).alias("_sxx"),
    )
    n = F.col("n_days").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy, sxx = F.col("_sxy").cast("double"), F.col("_sxx").cast("double")
    cxx = sxx - sx * sx / n
    b = (sxy - sx * sy / n) / cxx
    a = sy / n - b * sx / n
    resid = F.col("_y").cast("double") - (
        F.col("_a") + F.col("_b") * F.col("_xd").cast("double")
    )
    w = Window.orderBy("day")
    ed = staged.crossJoin(
        F.broadcast(m.select(n.alias("_n"), cxx.alias("_cxx"), b.alias("_b"), a.alias("_a")))
    ).select(
        "day",
        "_n",
        "_cxx",
        resid.alias("_e"),
    )
    lagged = ed.select(
        "_n",
        "_cxx",
        F.round(F.col("_e") * F.col("_e") * F.lit(1e6)).cast("decimal(38,0)").alias("_e2"),
        F.lag("_e").over(w).alias("_ep"),
        "_e",
    ).select(
        "_n",
        "_cxx",
        "_e2",
        F.when(
            F.col("_ep").isNotNull(),
            F.round(
                (F.col("_e") - F.col("_ep")) * (F.col("_e") - F.col("_ep"))
                * F.lit(1e6)
            ).cast("decimal(38,0)"),
        ).alias("_d2"),
    )
    tot = lagged.groupBy("_n", "_cxx").agg(
        F.sum("_e2").alias("_se2"),
        F.sum("_d2").alias("_sd2"),
    )
    dw = F.col("_sd2").cast("double") / F.col("_se2").cast("double")
    ok = (F.col("_n") >= 3) & (F.col("_cxx") > 0) & (F.col("_se2") > 0)
    return tot.select(
        F.col("_n").cast("long").alias("n_days"),
        F.when(ok, F.round(dw, 9)).alias("dw_stat"),
        F.when(ok, F.round(F.lit(1.0) - dw / F.lit(2.0), 9)).alias("rho_hat"),
    )


def ljung_box(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    max_lag: int = 7,
    unit_scale: int = 100,
) -> DataFrame:
    """Ljung–Box portmanteau whiteness test (Ljung & Box, Biometrika
    1978): ``Q = n(n+2)·Σ_{ℓ=1..h} r²_ℓ/(n−ℓ)`` over the sample ACF —
    is the daily series white noise across ALL lags up to h at once,
    where :func:`autocorrelation` eyeballs one lag at a time (the
    standard residual-diagnostic after fitting a trend/seasonal
    model). One row out: ``(n_days (long), h (long), q_stat (double;
    NULL when the series is constant or shorter than h+1 days))``.

    Exactness: the ACF lags are autocorrelation's exact-integer-fold
    readouts (each rounded to 9 — the composition reuses the same
    values the acf gate row pins); each r²ℓ/(n−ℓ) term micro-
    quantizes to 1e-15 units (terms are ≤ 1/(n−h)) and folds in
    DECIMAL(38,0), one final chain, rounded to 9. Scale shape: the
    ACF's day-grain equi-joins plus an h-row fold."""
    # n comes free from the ACF's own total pass — re-deriving the day
    # table here just to count it cost a second full source scan plus
    # a broadcast build (r14; guide §1.2)
    acf, n_days = _acf_and_n(
        df, ts_col=ts_col, value_col=value_col, max_lag=max_lag,
        unit_scale=unit_scale,
    )
    term = F.round(
        F.col("acf") * F.col("acf")
        / (F.col("_n").cast("double") - F.col("lag").cast("double"))
        * F.lit(1e15)
    ).cast("decimal(38,0)")
    staged = acf.select(
        F.lit(int(n_days)).cast("long").alias("_n"),
        F.col("lag"),
        F.col("acf"),
    ).select(
        "_n",
        F.col("acf").isNull().cast("int").alias("_bad"),
        F.when(F.col("acf").isNotNull(), term).alias("_t"),
    )
    tot = staged.groupBy("_n").agg(
        F.count(F.lit(1)).cast("long").alias("h"),
        F.max("_bad").alias("_any_bad"),
        F.sum("_t").alias("_ts"),
    )
    n = F.col("_n").cast("double")
    q = (
        n * (n + F.lit(2.0))
        * (F.col("_ts").cast("double") / F.lit(1e15))
    )
    return tot.select(
        F.col("_n").cast("long").alias("n_days"),
        "h",
        F.when(F.col("_any_bad") == 0, F.round(q, 9)).alias("q_stat"),
    )


def runs_test(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    unit_scale: int = 100,
) -> DataFrame:
    """Wald–Wolfowitz runs test on the SIGNS of day-over-day changes
    (Wald & Wolfowitz, Ann. Math. Stat. 1940): too few runs = sticky
    regimes (momentum), too many = oscillation — the
    distribution-free randomness check that needs no model at all,
    where Ljung–Box assumes a linear one. Zero-change days carry no
    sign and are dropped (the standard tie convention). One row out:
    ``(n_plus, n_minus, n_runs (long), z (double; NULL when either
    sign is absent or the variance is 0))``.

    Exactness: day totals are exact integers, so every sign, the run
    boundaries and the three counts are integer-exact; z is ONE IEEE
    chain over them, rounded to 9. Scale shape: day-grain aggregate +
    two lag windows over the DAY series (CALENDAR-bounded)."""
    daily = _daily_units(df, ts_col, value_col, unit_scale)
    w = Window.orderBy("day")
    diff = daily.select(
        "day", (F.col("_x") - F.lag("_x").over(w)).alias("_d")
    ).where(F.col("_d").isNotNull() & (F.col("_d") != 0))
    signs = diff.select("day", (F.col("_d") > 0).alias("_s"))
    runs = signs.select(
        "_s",
        F.when(
            F.lag("_s").over(w).isNull() | (F.lag("_s").over(w) != F.col("_s")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_new_run"),
    )
    tot = runs.agg(
        F.coalesce(F.sum(F.col("_s").cast("long")), F.lit(0)).cast("long").alias("n_plus"),
        F.coalesce(F.sum((~F.col("_s")).cast("long")), F.lit(0)).cast("long").alias("n_minus"),
        F.coalesce(F.sum("_new_run"), F.lit(0)).cast("long").alias("n_runs"),
    )
    p = F.col("n_plus").cast("double")
    q = F.col("n_minus").cast("double")
    r = F.col("n_runs").cast("double")
    nn = p + q
    mu = F.lit(2.0) * p * q / nn + F.lit(1.0)
    var = (
        F.lit(2.0) * p * q * (F.lit(2.0) * p * q - nn)
        / (nn * nn * (nn - F.lit(1.0)))
    )
    ok = (F.col("n_plus") > 0) & (F.col("n_minus") > 0) & (var > 0)
    return tot.select(
        "n_plus",
        "n_minus",
        "n_runs",
        F.when(ok, F.round((r - mu) / F.sqrt(var), 9)).alias("z"),
    )


def mase_seasonal_naive(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    season: int = 7,
    unit_scale: int = 100,
) -> DataFrame:
    """Mean Absolute Scaled Error of the seasonal-naïve forecast
    (Hyndman & Koehler, IJF 2006): ``MASE = MAE(yₜ vs yₜ₋ₘ) /
    MAE(yₜ vs yₜ₋₁)`` on the daily series — the scale-free forecast
    skill score: < 1 means "last week same-day" beats "yesterday", the
    cheapest possible seasonality-strength readout and the honest
    baseline every fancier forecaster (holt_linear_forecast) must
    beat. One row out: ``(n_seasonal_pairs, n_naive_pairs (long),
    mae_seasonal, mae_naive (double — original units), mase (double;
    NULL when either pair set is empty or the naïve MAE is 0))``.

    Exactness: day totals and both |Δ| sets are exact integers;
    the two means and their ratio are ONE IEEE chain, rounded to 9.
    Pairs come from date-shift equi-joins — days missing from the
    series simply don't pair (no window at all). Scale shape:
    day-grain aggregate + two self-equi-joins on day."""
    if season < 2:
        raise ValueError(f"mase_seasonal_naive: season must be >= 2, got {season}")
    daily = _daily_units(df, ts_col, value_col, unit_scale)
    return _mase_readout(daily, season, unit_scale)


def _mase_readout(daily: DataFrame, season: int, unit_scale: int) -> DataFrame:
    """:func:`mase_seasonal_naive` from the quantized day table
    ``(day, _x)`` onward (shared with the streaming fold's final
    readout)."""
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def _mae(shift: int, tag: str) -> DataFrame:
        prev = daily.select(
            F.date_add("day", shift).alias("day"), F.col("_x").alias("_p")
        )
        return (
            daily.join(prev, "day")
            .select(F.abs(dec(F.col("_x")) - dec(F.col("_p"))).alias("_a"))
            .agg(
                F.count(F.lit(1)).cast("long").alias(f"n_{tag}_pairs"),
                F.coalesce(F.sum("_a"), F.lit(0).cast("decimal(38,0)")).alias(f"_s_{tag}"),
            )
        )
    tot = _mae(season, "seasonal").crossJoin(F.broadcast(_mae(1, "naive")))
    s = F.lit(float(unit_scale))
    mae_s = (
        F.col("_s_seasonal").cast("double")
        / F.col("n_seasonal_pairs").cast("double")
    )
    mae_n = (
        F.col("_s_naive").cast("double") / F.col("n_naive_pairs").cast("double")
    )
    ok = (
        (F.col("n_seasonal_pairs") > 0)
        & (F.col("n_naive_pairs") > 0)
        & (F.col("_s_naive") > 0)
    )
    return tot.select(
        "n_seasonal_pairs",
        "n_naive_pairs",
        F.when(F.col("n_seasonal_pairs") > 0, F.round(mae_s / s, 9)).alias("mae_seasonal"),
        F.when(F.col("n_naive_pairs") > 0, F.round(mae_n / s, 9)).alias("mae_naive"),
        F.when(ok, F.round(mae_s / mae_n, 9)).alias("mase"),
    )

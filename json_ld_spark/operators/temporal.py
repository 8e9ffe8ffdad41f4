"""Temporal joins Spark lacks as built-ins: as-of join and
interval (range) join — expressed so Catalyst plans them as ordinary
shuffles instead of the nested-loop/theta joins a naive translation
produces.

As-of join (each left row picks the latest right row at-or-before its
timestamp — market-data / slowly-changing-dimension semantics): the
union-marker technique. Tag both sides, union, ONE shuffle on the key,
one linear window pass carrying the last-seen right payload; left rows
read it, right rows are dropped. No join condition ever touches the
timestamp, so there is no range predicate for the planner to mis-plan:
cost is sort-within-partition, state is one payload struct per key.
A per-key sort of a hot key is the skew hazard — same profile as any
windowed op; salt the key upstream if one entity dominates.

Interval join (point-in-range): banding. Intervals explode into the
fixed-width time buckets they cover, points map to their bucket, and
the join is a plain equi-join on (key, bucket) + an exact containment
filter. Fan-out = interval_length / bucket_width per interval, bounded
and chosen by the caller; the alternative — a theta join — is a
cartesian per key at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# holt_forecast collects its (type, day) table to the driver; past this
# many rows the input is corpus-shaped, not a daily aggregate, and it fails
_MAX_HOLT_ROWS = 100_000


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_time: str = "ts",
    right_time: str = "ts",
    right_cols: list[str] | None = None,
    direction: str = "backward",
    prefix: str = "asof_",
) -> DataFrame:
    """For every left row, attach the right row with the greatest
    `right_time` <= `left_time` (direction="backward", inclusive) or
    the least `right_time` >= `left_time` ("forward") sharing the `on`
    key(s). Unmatched left rows keep NULLs. Right side should be unique
    per (key, time) — pre-aggregate duplicates or the picked row among
    equal timestamps is unspecified (DuckDB's ASOF has the same
    caveat). Output: every left column + prefixed right time/columns.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    rcols = right_cols if right_cols is not None else [
        c for c in right.columns if c not in keys and c != right_time
    ]
    payload_src = right.select(
        *keys, F.col(right_time).alias("__t"),
        F.struct(
            F.col(right_time).alias(f"{prefix}{right_time}"),
            *[F.col(c).alias(f"{prefix}{c}") for c in rcols],
        ).alias("__rp"),
    )
    payload_type = payload_src.schema["__rp"].dataType
    lpacked = left.select(
        *keys, F.col(left_time).alias("__t"), F.lit(0).alias("__r"),
        F.struct(*[c for c in left.columns]).alias("__l"),
        F.lit(None).cast(payload_type).alias("__rp"),
    )
    rpacked = payload_src.select(
        *keys, "__t", F.lit(1).alias("__r"),
        F.lit(None).cast(lpacked.schema["__l"].dataType).alias("__l"),
        "__rp",
    )
    both = lpacked.unionByName(rpacked)
    if direction == "backward":
        # right rows sort BEFORE left at equal t (inclusive match)
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__t").asc(), F.col("__r").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled = both.withColumn(
            "__hit", F.last("__rp", ignorenulls=True).over(w)
        )
    else:
        # left rows sort before right at equal t; look forward
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__t").asc(), F.col("__r").asc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        filled = both.withColumn(
            "__hit", F.first("__rp", ignorenulls=True).over(w)
        )
    out = filled.filter(F.col("__r") == 0)
    return out.select("__l.*", "__hit.*")


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str | list[str],
    point_time: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int,
    how: str = "inner",
) -> DataFrame:
    """Join each point to every interval containing it
    (`start <= t <= end`, same key) via fixed-width time banding:
    intervals replicate into each covered bucket (sequence + explode —
    JVM-side), points map to one bucket, the match is an equi-join on
    (key, bucket) followed by the exact containment filter. Choose
    `bucket_seconds` near the typical interval length: fan-out per
    interval is len/bucket + 1. Only inner/left_semi supported (a
    containment MISS has no bucket to preserve)."""
    if how not in ("inner", "left_semi"):
        raise ValueError("how must be 'inner' or 'left_semi'")
    keys = [on] if isinstance(on, str) else list(on)
    b = F.lit(bucket_seconds)
    ivals = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / b),
                F.floor(F.unix_timestamp(F.col(end_col)) / b),
            )
        ),
    )
    pts = points.withColumn(
        "__bucket", F.floor(F.unix_timestamp(F.col(point_time)) / b)
    )
    cond = [pts[k] == ivals[k] for k in keys] + [
        pts["__bucket"] == ivals["__bucket"],
        pts[point_time] >= ivals[start_col],
        pts[point_time] <= ivals[end_col],
    ]
    joined = pts.join(ivals, cond, how)
    if how == "left_semi":
        return joined.drop("__bucket")
    return joined.drop(ivals["__bucket"]).drop(pts["__bucket"]).drop(
        *[ivals[k] for k in keys]
    )


def decayed_counts(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    ref_time: str,
    half_life_s: float,
) -> DataFrame:
    """Recency-weighted activity score per key: each event contributes
    ``2^(-(ref - ts) / half_life)`` — an event half a half-life old
    counts ~0.71, one half-life 0.5, two 0.25 — summed per key next to
    the raw count. The standard freshness feature for entity salience
    and ranking, computed as one projection + one map-side-combinable
    agg (state per key: one double + one long).

    ``ref_time`` is an explicit ISO timestamp, NOT now(): scoring is
    deterministic, resumable and oracle-able; re-running tomorrow with
    the same ref gives identical output. Events after ``ref`` get
    weight > 1 by the same formula (document or pre-filter)."""
    age = F.unix_timestamp(F.lit(ref_time)) - F.unix_timestamp(F.col(ts_col))
    w = F.pow(F.lit(2.0), -age.cast("double") / F.lit(float(half_life_s)))
    return (
        df.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(w), 6).alias("decayed_r"),
        )
    )


def sessionize(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Inactivity-gap sessionization (the classic cumulative-boundary
    trick): within each ``key``, ordered by ``ts_col`` (+``order_cols``
    as the deterministic tiebreaker for equal timestamps), a row starts
    a new session when the gap to the previous row exceeds
    ``gap_seconds``; ``session_idx`` is the running count of such
    boundaries and ``session_id`` = key#idx.

    Gaps compare in integer MICROSECONDS (unix_micros), so boundary
    decisions are exact — no float time arithmetic, engine-replayable.
    Rows with NULL ``ts_col`` are dropped (no temporal position).

    Scale shape: ONE shuffle on ``key`` feeds both window passes
    (lag + running sum share the partitioning and ordering); state is
    O(1) per key. A single hyperactive key serializes through one
    task — the same profile as any per-entity window; salt or
    pre-split upstream if one entity dominates. For unbounded streams
    use Structured Streaming's session_window instead; this is the
    batch/backfill twin.
    """
    order = [ts_col, *(order_cols or [])]
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order])
    # parquet naive timestamps arrive as TIMESTAMP_NTZ; unix_micros
    # needs TIMESTAMP — the cast reads the wall time in the session TZ
    # (callers pin UTC), keeping micros aligned with DuckDB's epoch_us
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev = F.lag(us).over(w)
    boundary = F.when(
        prev.isNull() | ((us - prev) > F.lit(int(gap_seconds) * 1_000_000)),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = Window.partitionBy(key).orderBy(*[F.col(c) for c in order]).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        events.filter(F.col(ts_col).isNotNull())
        .withColumn("session_idx", F.sum(boundary).over(run).cast("long"))
        .withColumn(
            "session_id",
            F.concat(F.col(key).cast("string"), F.lit("#"),
                     F.col("session_idx").cast("string")),
        )
    )


def session_stats(sessions: DataFrame, key: str = "user_id",
                  ts_col: str = "ts") -> DataFrame:
    """Per-session rollup of a sessionize() output: event count and
    integer-microsecond start/end/duration (one map-side-combinable
    aggregation keyed on the session)."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return sessions.groupBy(key, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(us).alias("start_us"),
        F.max(us).alias("end_us"),
        (F.max(us) - F.min(us)).alias("duration_us"),
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Sequential funnel analysis: for each key, the earliest
    timestamp of step 1, the earliest step-2 event STRICTLY AFTER it,
    the earliest step-3 event strictly after that, and so on —
    the standard ordered-conversion query (view -> click -> purchase).
    Returns ``(key, t1_us..tk_us, steps_completed)`` with integer
    microseconds (nullable past the last completed step).

    Plan: one filtered min-aggregation per step (map-side partial;
    the slice for step i is only that event type), each joined to the
    previous frontier on the key — k-1 hash joins on a uniform key.
    No windows over the full event stream, no per-key event sorting:
    cost is O(matching events) per step, and the frontier can only
    shrink. The earliest-next-match greedy is OPTIMAL for funnel
    reachability (exchange argument: taking the earliest step-i event
    never excludes a later step-i+1 match), so this computes true
    multi-step conversion, not an approximation.
    """
    if len(steps) < 2:
        raise ValueError("funnel needs >= 2 steps")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cur = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(key)
        .agg(F.min(us).alias("t1_us"))
    )
    for i, step in enumerate(steps[1:], start=2):
        nxt = events.where(F.col(type_col) == step).select(
            F.col(key), us.alias("_ts")
        )
        prev_col = f"t{i - 1}_us"
        # candidates at or before the previous step become NULL (not
        # filtered): min() over all-NULL keeps the key with a NULL
        # step time, so partially-converted keys stay in the result
        cur = (
            cur.join(nxt, key, "left")
            .groupBy(key, *[f"t{j}_us" for j in range(1, i)])
            .agg(
                F.min(
                    F.when(F.col("_ts") > F.col(prev_col), F.col("_ts"))
                ).alias(f"t{i}_us")
            )
        )
    completed = sum(
        F.when(F.col(f"t{i}_us").isNotNull(), 1).otherwise(0)
        for i in range(1, len(steps) + 1)
    )
    return cur.select(
        key,
        *[f"t{i}_us" for i in range(1, len(steps) + 1)],
        completed.cast("long").alias("steps_completed"),
    )


def retention_cohorts(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    unit_days: int = 7,
) -> DataFrame:
    """Cohort retention matrix — the standard engagement report: group
    every key by the period of its FIRST event (its cohort), then for
    each (cohort, period offset) count how many of the cohort's keys
    were active in that period, plus the retention ratio against the
    cohort's size.

    Periods are integer buckets of ``unit_days`` days since the epoch
    (integer-exact in both Spark and DuckDB — no calendar/date_trunc
    semantics to cross-check between engines). Output:
    ``(cohort_start DATE, offset BIGINT, n_active BIGINT, n_cohort
    BIGINT, retention_r DOUBLE)`` with retention_r rounded to 6 dp.

    Plan shape: one key-grain MIN aggregation (map-side combinable)
    for first events, one distinct over (key, period) — both shuffles
    keyed on the uniform key column — then an equi-join back on the
    key and one cohort-grain count agg; cohort sizes re-derive from
    offset 0 via a cohort-keyed self-join (cohort cardinality =
    number of periods, dictionary-sized; Spark broadcasts it). No
    windows, no collect; every shuffle key is either the uniform key
    or the bounded cohort id.
    """
    day = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(86_400_000_000)
    )
    period = F.floor(day / F.lit(int(unit_days))).cast("long")
    firsts = (
        events.groupBy(key).agg(F.min(period).alias("cohort_p"))
    )
    active = events.select(F.col(key), period.alias("p")).dropDuplicates()
    cells = (
        active.join(firsts, key)
        .groupBy("cohort_p", (F.col("p") - F.col("cohort_p")).alias("offset"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    sizes = cells.where(F.col("offset") == 0).select(
        "cohort_p", F.col("n_active").alias("n_cohort")
    )
    return (
        cells.join(sizes, "cohort_p")
        .select(
            F.date_add(
                F.to_date(F.lit("1970-01-01")),
                (F.col("cohort_p") * int(unit_days)).cast("int"),
            ).alias("cohort_start"),
            F.col("offset").cast("long").alias("offset"),
            "n_active",
            "n_cohort",
            F.round(F.col("n_active") / F.col("n_cohort"), 6).alias("retention_r"),
        )
    )


def cuped_adjusted(
    events: DataFrame,
    cutoff: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """CUPED-adjusted experiment readout (Deng et al. WSDM 2013): the
    variance-reduction estimator every experimentation platform runs —
    per-user post-period metric adjusted by the pre-period covariate,

        adj_u = post_u − θ·(pre_u − mean(pre)),   θ = cov(pre, post)/var(pre),

    with arms assigned deterministically (user_id parity stands in for
    the assignment column). All money math is integer CENTS; θ and the
    pre-mean are computed from exact DECIMAL(38,0) sums via the same scaled
    integer-OLS identity as ttr_zipf (the scale cancels in the ratio)
    and rounded 6 dp IN-ENGINE, so a DuckDB replay lands on identical
    doubles; per-user adjusted values are re-quantized to micros before
    the final arm mean (order-free sums).

    Scale shape: one user-keyed aggregation (map-side combinable), one
    global 1-row OLS aggregation (bounded driver state: 2 doubles),
    one arm rollup. No windows, no Python.
    """
    cents = F.round(F.col(value_col) * F.lit(100.0), 0).cast("long")
    pre = F.when(F.col(ts_col) < F.lit(cutoff).cast("timestamp"), cents).otherwise(
        F.lit(0)
    )
    post = F.when(
        F.col(ts_col) >= F.lit(cutoff).cast("timestamp"), cents
    ).otherwise(F.lit(0))
    per_user = events.groupBy(F.col(user_col).alias("user_id")).agg(
        F.sum(pre).alias("pre_c"), F.sum(post).alias("post_c")
    )
    # cent products overflow BIGINT from ~$30M per user: exact decimals
    pre_d = F.col("pre_c").cast("decimal(38,0)")
    post_d = F.col("post_c").cast("decimal(38,0)")
    ols = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(pre_d).alias("sx"),
        F.sum(post_d).alias("sy"),
        F.sum(pre_d * post_d).alias("sxy"),
        F.sum(pre_d * pre_d).alias("sxx"),
    ).select(
        F.when(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) != 0,
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                    "double"
                )
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                ),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("theta"),
        F.round(F.col("sx").cast("double") / F.col("n").cast("double"), 6).alias(
            "mean_pre"
        ),
    ).collect()[0]
    theta, mean_pre = ols["theta"], ols["mean_pre"]
    adj = (
        F.col("post_c").cast("double")
        - F.lit(theta) * (F.col("pre_c").cast("double") - F.lit(mean_pre))
    )
    keyed = per_user.withColumn(
        "adj_micro", F.round(adj * F.lit(1e4), 0).cast("long")
    ).withColumn("arm", (F.col("user_id") % 2).cast("int"))
    return (
        keyed.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("post_c").alias("post_sum_c"),
            F.sum("adj_micro").alias("adj_sum_micro"),
        )
        .select(
            "arm",
            "n_users",
            F.round(
                F.col("post_sum_c").cast("double")
                / F.lit(100.0)
                / F.col("n_users").cast("double"),
                6,
            ).alias("mean_post_r"),
            F.round(
                F.col("adj_sum_micro").cast("double")
                / F.lit(1e4)
                / F.lit(100.0)
                / F.col("n_users").cast("double"),
                6,
            ).alias("mean_adj_r"),
            F.lit(theta).alias("theta_r"),
        )
    )


def rate_anomalies(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_days: int = 7,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Event-rate anomaly detection — the ops-monitoring staple: per
    (event_type, day) counts compared against the ROLLING baseline of
    the preceding `window_days` ROWS of that event type, flagged when
    |z| ≥ z_threshold. The frame is rowsBetween(-window_days, -1): the
    `window_days` latest earlier days that HAVE events of the type,
    however far back they lie (a day without events has no row, so it
    neither counts as a zero nor shortens the reach). The current day
    is excluded, so a spike can't mask itself.

    Determinism: daily counts are exact integers; the rolling mean and
    sample variance derive from window SUM/SUMSQ/COUNT over those
    integers (identical scalar arithmetic on both engines), and z is
    rounded at 4 dp. Days with fewer than 2 baseline days or zero
    variance emit NULL z (never a division blowup).

    Scale shape: one (type, day) count agg + one type-partitioned
    ordered window — partition cardinality = event types, frame
    bounded by window_days.
    """
    daily = events.groupBy(
        F.col(type_col).alias("event_type"),
        F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-int(window_days), -1)
    )
    s1 = F.sum("n").over(w)
    s2 = F.sum(F.col("n") * F.col("n")).over(w)
    cnt = F.count("n").over(w)
    mean = s1.cast("double") / cnt.cast("double")
    var = (
        s2.cast("double") - s1.cast("double") * s1.cast("double") / cnt.cast("double")
    ) / (cnt.cast("double") - F.lit(1.0))
    z = F.when(
        (cnt >= 2) & (var > 0),
        F.round((F.col("n").cast("double") - mean) / F.sqrt(var), 4),
    )
    # zero-variance baseline: z is undefined (NULL), but ANY deviation
    # from the constant rate is an anomaly — integer-exact test
    # n != mean  ⇔  n·cnt != Σ (no float compare)
    flat_dev = (cnt >= 2) & (var <= 0) & (F.col("n") * cnt != s1)
    return (
        daily.withColumn("z_r", z)
        .withColumn(
            "is_anomaly",
            F.when(flat_dev, F.lit(1))
            .when(F.col("z_r").isNull(), F.lit(0))
            .otherwise((F.abs(F.col("z_r")) >= F.lit(float(z_threshold))).cast("int")),
        )
        .select("event_type", "day", "n", "z_r", "is_anomaly")
    )


def holt_forecast(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Holt linear-trend exponential smoothing over per-type DAILY
    event rates, with a one-step-ahead forecast — the capacity-planning
    primitive next to rate_anomalies' detection:

        l_k = α·n_k + (1−α)(l_{k−1} + b_{k−1})
        b_k = β(l_k − l_{k−1}) + (1−β)·b_{k−1},   l_0 = n_0, b_0 = 0

    The smoothing recursion is inherently sequential, but its input is
    the (type, day) AGGREGATE — bounded by days × types, never corpus-
    sized — so it runs on the driver over the collected daily table
    (the codebook-sized-state contract used by IVF/BPE), while the
    count aggregation underneath stays fully distributed. Both engines
    execute the identical IEEE sequence (integers in, fixed literal
    α/β, same association), so the 4-dp outputs replay exactly via a
    recursive CTE. More than ``_MAX_HOLT_ROWS`` (type, day) rows raise
    ValueError instead of being collected.

    Output: (event_type, n_days, level_r, trend_r, forecast_r).
    """
    daily = (
        events.groupBy(
            F.col(type_col).alias("event_type"),
            F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("event_type", "day")
        .limit(_MAX_HOLT_ROWS + 1)
        .collect()
    )
    if len(daily) > _MAX_HOLT_ROWS:
        raise ValueError(
            f"holt_forecast: more than {_MAX_HOLT_ROWS} (type, day) rows to "
            "collect; the daily table is not a bounded aggregate"
        )
    series: dict = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append(int(r["n"]))
    rows = []
    for et in sorted(series):
        ns = series[et]
        level = float(ns[0])
        trend = 0.0
        for n in ns[1:]:
            prev = level
            level = alpha * float(n) + (1.0 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1.0 - beta) * trend
        rows.append((et, len(ns), level, trend, level + trend))
    # 4-dp rounding happens IN-ENGINE (F.round == DuckDB round
    # semantics; Python's round() is half-even and would diverge at
    # exact decimal boundaries)
    return (
        events.sparkSession.createDataFrame(
            rows,
            "event_type string, n_days long, level double, trend double, "
            "forecast double",
        )
        .select(
            "event_type",
            "n_days",
            F.round("level", 4).alias("level_r"),
            F.round("trend", 4).alias("trend_r"),
            F.round("forecast", 4).alias("forecast_r"),
        )
    )

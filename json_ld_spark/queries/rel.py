"""``rel_*`` queries: the relational operator checklist over the
TPC-H-style and event tables (aggregates, windows, set ops, sessions,
cohorts, forecasting), each registered with its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from json_ld_spark.queries import query
from json_ld_spark.queries._common import _utc, _read


# rel_funnel_events: per-step min-after-previous chain; CASE-null (not
# WHERE) keeps partially-converted users with NULL step times.
_FUNNEL_SQL = """
WITH ev AS MATERIALIZED (
  SELECT user_id, epoch_us(ts) AS us, event_type FROM events
), s1 AS MATERIALIZED (
  SELECT user_id, MIN(us) AS t1_us FROM ev
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS MATERIALIZED (
  SELECT s1.user_id, s1.t1_us,
         MIN(CASE WHEN e.us > s1.t1_us THEN e.us END) AS t2_us
  FROM s1 LEFT JOIN ev e
    ON e.user_id = s1.user_id AND e.event_type = 'click'
  GROUP BY s1.user_id, s1.t1_us
), s3 AS MATERIALIZED (
  SELECT s2.user_id, s2.t1_us, s2.t2_us,
         MIN(CASE WHEN e.us > s2.t2_us THEN e.us END) AS t3_us
  FROM s2 LEFT JOIN ev e
    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
  GROUP BY s2.user_id, s2.t1_us, s2.t2_us
)
SELECT user_id, t1_us, t2_us, t3_us,
       CAST((t1_us IS NOT NULL)::INT + (t2_us IS NOT NULL)::INT
            + (t3_us IS NOT NULL)::INT AS BIGINT) AS steps_completed
FROM s3
"""


@query(oracle=_FUNNEL_SQL)
def q_rel_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel (temporal.funnel): per user the
    earliest view, the earliest click strictly after it, the earliest
    purchase strictly after that — integer-microsecond timestamps, one
    filtered min-agg + uniform-key hash join per step, no windows over
    the raw stream. The earliest-next-match greedy is exact for funnel
    reachability. Oracle: the same three-step chain in DuckDB
    (epoch_us == unix_micros under the UTC session)."""
    _utc(spark)
    from json_ld_spark.operators.temporal import funnel

    ev = _read(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"], key="user_id")


# rel_recursive_chain: the IDENTICAL SQL text runs on Spark 4.1
# (WITH RECURSIVE landed in Spark 4.0) and DuckDB. floor(x/10.0), not
# CAST or //: DuckDB CAST rounds where Spark cast truncates.
_REL_RECURSIVE_SQL = r"""
WITH RECURSIVE chain(custkey, root, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, ch.root, ch.depth + 1
  FROM customer c JOIN chain ch
    ON CAST(floor(c.c_custkey / 10.0) AS BIGINT) = ch.custkey
  WHERE c.c_custkey >= 10
)
SELECT CAST(custkey AS BIGINT) AS custkey, CAST(root AS BIGINT) AS root,
       CAST(depth AS BIGINT) AS depth
FROM chain
"""


@query(oracle=_REL_RECURSIVE_SQL)
def q_rel_recursive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 WITH RECURSIVE — the Catalyst-native
    iterative construct): customers form a decimal-trie forest
    (parent(c) = floor(c/10), roots < 10); the recursion labels every
    customer with its root and depth. The IDENTICAL SQL text runs on
    both engines — the one query in the suite where the oracle is
    literally the Spark query. floor(x/10.0) (not CAST or //) because
    DuckDB CAST rounds where Spark cast truncates."""
    _utc(spark)
    _read(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_REL_RECURSIVE_SQL)


def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100).cast("long")


# GROUPING(c1, c2) bitmask convention verified identical to Spark's
# grouping_id() (first grouping column = MSB) on this engine pair.
_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price,
       COUNT(*) AS n,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@query(oracle=_ROLLUP_SQL)
def q_rel_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS coverage: ROLLUP(l_returnflag, l_linestatus) with
    grouping_id — subtotal and grand-total rows alongside the detail,
    integer-cents exact."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(_cents("l_extendedprice")) / 100.0).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


_CORRELATED_MAX_SQL = """
SELECT o1.o_orderkey, o1.o_custkey,
       CAST(round(o1.o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders o1
WHERE o1.o_totalprice = (
  SELECT MAX(o2.o_totalprice) FROM orders o2
  WHERE o2.o_custkey = o1.o_custkey
)
"""


@query(oracle=_CORRELATED_MAX_SQL)
def q_rel_correlated_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery coverage: each customer's most
    expensive order via an inner per-customer MAX — Catalyst rewrites
    the correlation into an aggregate + join; MAX is exact on doubles
    so the comparison is engine-deterministic (an AVG here would be
    summation-order-sensitive at the boundary)."""
    _utc(spark)
    orders = _read(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__corr_orders")
    return spark.sql(
        """
        SELECT o1.o_orderkey, o1.o_custkey,
               CAST(round(o1.o_totalprice * 100) AS BIGINT) AS price_cents
        FROM __corr_orders o1
        WHERE o1.o_totalprice = (
          SELECT MAX(o2.o_totalprice) FROM __corr_orders o2
          WHERE o2.o_custkey = o1.o_custkey
        )
        """
    )


_CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price,
       COUNT(*) AS n,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""


@query(oracle=_CUBE_SQL)
def q_rel_cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE grouping sets: every subtotal combination of
    (returnflag, linestatus) incl. both one-dimension margins —
    completes the grouping-sets family next to ROLLUP/PIVOT,
    integer-cents exact with the grouping_id bitmask compared across
    engines."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(_cents("l_extendedprice")) / 100.0).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


_RANK_FUNCTIONS_SQL = """
SELECT * FROM (
  SELECT o_orderpriority, o_orderkey,
         ROW_NUMBER() OVER w AS rn,
         RANK() OVER w AS rnk,
         DENSE_RANK() OVER w AS drnk,
         round(PERCENT_RANK() OVER w, 6) AS prank_r,
         CAST(NTILE(4) OVER w AS BIGINT) AS tile,
         round(CUME_DIST() OVER w, 6) AS cume_r
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey)
)
WHERE rn <= 50
"""


@query(oracle=_RANK_FUNCTIONS_SQL)
def q_rel_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SQL ranking-function family over one deterministic
    total order (totalprice DESC, orderkey): row_number / rank /
    dense_rank / percent_rank / ntile(4) / cume_dist per priority
    partition, top-50 page per partition."""
    from pyspark.sql.window import Window

    _utc(spark)
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    out = orders.select(
        "o_orderpriority", "o_orderkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prank_r"),
        F.ntile(4).over(w).cast("long").alias("tile"),
        F.round(F.cume_dist().over(w), 6).alias("cume_r"),
    )
    return out.filter(F.col("rn") <= 50)


_PIVOT_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                     THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS cents_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'F'
                     THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS cents_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'P'
                     THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS cents_p
FROM orders
GROUP BY o_orderpriority
"""


@query(oracle=_PIVOT_SQL)
def q_rel_pivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT coverage: order-status columns per priority (explicit
    pivot values so the plan is a single pass, no distinct-collect),
    integer-cents sums."""
    _utc(spark)
    orders = _read(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum(_cents("o_totalprice")))
    )
    return out.select(
        "o_orderpriority",
        F.col("O").alias("cents_o"),
        F.col("F").alias("cents_f"),
        F.col("P").alias("cents_p"),
    )


# as-of oracle: DuckDB's native ASOF LEFT JOIN is the ground truth for
# the union-marker window implementation; the snapshot stream is
# deduped per (user, ts) on both sides so equal-timestamp picks agree
_ASOF_SQL = """
WITH snaps AS (
  SELECT user_id, ts, MAX(value) AS snap_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT e.event_id, e.user_id, e.event_type,
       s.ts AS asof_ts, s.snap_value AS asof_value
FROM events e ASOF LEFT JOIN snaps s
  ON e.user_id = s.user_id AND e.ts >= s.ts
"""


@query(oracle=_ASOF_SQL)
def q_rel_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.py): every event picks the
    user's latest click at-or-before its timestamp — union-marker +
    one keyed window, no range predicate in any join condition (the
    plan is one shuffle + sort, not a theta join). Oracle: DuckDB's
    native ASOF LEFT JOIN over the identical deduped snapshot stream."""
    from json_ld_spark.operators.temporal import asof_join

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    snaps = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("snap_value"))
    )
    out = asof_join(
        ev.select("event_id", "user_id", "event_type", "ts"),
        snaps, on="user_id", right_cols=["snap_value"],
    )
    return out.select(
        "event_id", "user_id", "event_type",
        F.col("asof_ts"), F.col("asof_snap_value").alias("asof_value"),
    )


_INTERVAL_SQL = """
WITH err AS (
  SELECT event_id AS err_id, user_id, ts AS s,
         ts + INTERVAL 10 MINUTE AS e
  FROM events WHERE event_type = 'error'
), v AS (
  SELECT user_id, ts FROM events WHERE event_type = 'view'
)
SELECT err_id, COUNT(*) AS n_views
FROM err JOIN v ON v.user_id = err.user_id AND v.ts BETWEEN err.s AND err.e
GROUP BY err_id
"""


@query(oracle=_INTERVAL_SQL)
def q_rel_interval_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join (operators/temporal.py): views falling in
    the 10-minute window after each error, joined via fixed-width time
    buckets (equi-join + containment filter — never a theta join), then
    aggregated per error window. Oracle: plain BETWEEN join in SQL."""
    from json_ld_spark.operators.temporal import interval_join

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts"
    )
    joined = interval_join(
        views, errors, on="user_id", point_time="ts",
        start_col="s", end_col="e", bucket_seconds=600,
    )
    return joined.groupBy("err_id").agg(F.count(F.lit(1)).alias("n_views"))


_AGG_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
       SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
       SUM(CAST(round(l_discount * 10000) AS BIGINT)) / 10000.0 AS sum_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query(oracle=_AGG_PRICING_SQL)
def q_rel_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-style hash aggregation with exact integer-cents sums."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(_cents("l_quantity")) / 100.0).alias("sum_qty"),
            (F.sum(_cents("l_extendedprice")) / 100.0).alias("sum_base_price"),
            (F.sum(F.round(F.col("l_discount") * 10000).cast("long")) / 10000.0).alias("sum_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_TOPNATIONS_SQL = """
SELECT n_name, COUNT(*) AS n_orders,
       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderstatus = 'O'
GROUP BY n_name
"""


@query(oracle=_TOPNATIONS_SQL)
def q_rel_join_topnations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join (broadcast dim) + aggregation."""
    _utc(spark)
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(_cents("o_totalprice")) / 100.0).alias("revenue"),
        )
    )


_WINDOW_SQL = """
SELECT event_id,
       ROW_NUMBER() OVER w AS rn,
       round(coalesce(LAG(value) OVER w, 0.0), 6) AS prev_value_r
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query(oracle=_WINDOW_SQL)
def q_rel_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: per-user ordered row_number + lag."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.round(F.coalesce(F.lag("value").over(w), F.lit(0.0)), 6).alias("prev_value_r"),
    )


_SETOPS_SQL = """
WITH rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
     seg AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
SELECT 'both' AS tag, k FROM (SELECT k FROM rich INTERSECT SELECT k FROM seg)
UNION ALL
SELECT 'rich_only' AS tag, k FROM (SELECT k FROM rich EXCEPT SELECT k FROM seg)
"""


@query(oracle=_SETOPS_SQL)
def q_rel_setops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: INTERSECT / EXCEPT / UNION on customer key sets."""
    _utc(spark)
    c = _read(spark, sf_dir, "customer")
    rich = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("k"))
    seg = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("k"))
    return (
        rich.intersect(seg).withColumn("tag", F.lit("both"))
        .unionByName(rich.subtract(seg).withColumn("tag", F.lit("rich_only")))
        .select("tag", "k")
    )


_SETOPS_ALL_SQL = """
WITH a AS (SELECT l_partkey AS k FROM lineitem WHERE l_orderkey % 2 = 0),
     b AS (SELECT l_partkey AS k FROM lineitem WHERE l_suppkey % 3 = 0)
SELECT 'inter_all' AS tag, k FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
UNION ALL
SELECT 'except_all' AS tag, k FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
"""


@query(oracle=_SETOPS_ALL_SQL)
def q_rel_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operators: INTERSECT ALL / EXCEPT ALL (bag
    semantics with duplicate part keys on both sides — the
    multiplicity math is the point; the distinct variants are
    rel_setops_customers)."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_orderkey") % 2 == 0).select(F.col("l_partkey").alias("k"))
    b = li.filter(F.col("l_suppkey") % 3 == 0).select(F.col("l_partkey").alias("k"))
    return (
        a.intersectAll(b).withColumn("tag", F.lit("inter_all"))
        .unionByName(a.exceptAll(b).withColumn("tag", F.lit("except_all")))
        .select("tag", "k")
    )


_WORDCOUNT_SQL = """
SELECT w.e AS word, COUNT(*) AS n
FROM part CROSS JOIN UNNEST(string_split(lower(p_name), ' ')) AS w(e)
GROUP BY w.e
HAVING COUNT(*) > 1
"""


@query(oracle=_WORDCOUNT_SQL)
def q_rel_string_array_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + array functions: split/explode word count over part names."""
    _utc(spark)
    part = _read(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split(F.lower(F.col("p_name")), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


_JSON_EVENTS_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n
FROM events
GROUP BY event_type
"""


@query(oracle=_JSON_EVENTS_SQL)
def q_rel_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions: extract props.k, aggregate per event type."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        )
        .groupBy("event_type")
        .agg(F.sum("k_val").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events
), g AS (
  SELECT user_id, event_id, ts, ep,
         CASE WHEN ep - LAG(ep) OVER w IS NULL
                OR ep - LAG(ep) OVER w > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, ep,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM g
)
SELECT user_id, session_no, COUNT(*) AS n_events,
       MAX(ep) - MIN(ep) AS duration_s
FROM s GROUP BY user_id, session_no
"""


@query(oracle=_SESSIONIZE_SQL)
def q_rel_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands): per-user session ids with a
    30-minute inactivity gap — the classic stateful-window pattern."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    epoch = F.unix_timestamp(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        ev.withColumn("epoch", epoch)
        .withColumn("new_sess", new_sess)
        .withColumn("session_no", F.sum("new_sess").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("epoch") - F.min("epoch")).alias("duration_s"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("session_no").cast("long").alias("session_no"),
            "n_events",
            F.col("duration_s").cast("long").alias("duration_s"),
        )
    )


# Each x<y<z triangle counted once off the canonical u<v edge list,
# then attributed to all three corners — orientation-independent, so it
# must equal the degree-oriented Spark count exactly.
# ORDER BY floor(epoch): Spark's unix_timestamp TRUNCATES to whole
# seconds while DuckDB's epoch() keeps microseconds — un-floored, an
# event pair whose gap straddles exactly 3600s counts differently
# (one real row at sf0.1; this round's regenerated events hit it).
_WINDOW_RANGE_SQL = """
SELECT event_id, user_id,
       COUNT(*) OVER (PARTITION BY user_id
                      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         AS n_last_hour
FROM events
"""


@query(oracle=_WINDOW_RANGE_SQL)
def q_rel_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-RANGE window frame coverage (vs the ROWS frames used
    elsewhere): per event, how many of the same user's events fall in
    the trailing hour — rangeBetween over unix seconds, the sliding-
    rate-limit / burst-detection window. Integer counts, engine-
    deterministic."""
    from pyspark.sql.window import Window

    _utc(spark)
    events = _read(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, 0)
    )
    return events.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_last_hour"),
    )


# floor(epoch): Spark unix_timestamp truncates to whole seconds (the
# rel_window_range_frame lesson) — the 6-dp round hid the fractional
# drift so far, but mirroring the truncation makes the ages identical
# integers instead of relying on rounding luck.
_DECAYED_COUNTS_SQL = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       round(SUM(POWER(2.0,
         -(epoch(TIMESTAMP '2026-02-01 00:00:00')
           - CAST(floor(epoch(ts)) AS BIGINT))
          / 604800.0)), 6) AS decayed_r
FROM events GROUP BY user_id
"""


@query(oracle=_DECAYED_COUNTS_SQL)
def q_rel_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted activity scoring (temporal.decayed_counts):
    per-user event count + Σ 2^(-age/half-life) against an EXPLICIT
    reference time (deterministic, not now()) — the freshness feature
    for entity salience. One projection + one partial-agg shuffle.
    Oracle: same pow/epoch arithmetic in SQL, 6-dp."""
    from json_ld_spark.operators.temporal import decayed_counts

    _utc(spark)
    events = _read(spark, sf_dir, "events")
    return decayed_counts(
        events, ["user_id"], "ts", "2026-02-01 00:00:00", 7 * 86400.0
    ).select("user_id", F.col("n_events").cast("long").alias("n_events"),
             "decayed_r")


_SEMI_ANTI_SQL = """
SELECT 'with_orders' AS tag, COUNT(*) AS n FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT 'without_orders' AS tag, COUNT(*) AS n FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


@query(oracle=_SEMI_ANTI_SQL)
def q_rel_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins: customers with vs without orders."""
    _utc(spark)
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    on = F.col("c_custkey") == F.col("o_custkey")
    with_orders = c.join(o, on, "left_semi").agg(F.count(F.lit(1)).alias("n")).withColumn("tag", F.lit("with_orders"))
    without = c.join(o, on, "left_anti").agg(F.count(F.lit(1)).alias("n")).withColumn("tag", F.lit("without_orders"))
    return with_orders.unionByName(without).select("tag", "n")


_TOPK_SQL = """
SELECT o_orderkey, round(o_totalprice, 2) AS price_r
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
"""


@query(oracle=_TOPK_SQL)
def q_rel_distinct_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort + limit (top-k) with deterministic tie-break."""
    _utc(spark)
    o = _read(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price_r"))
    )


# CUPED: cent sums -> integer-OLS theta -> micro-quantized adjusted means
_CUPED_SQL = """
WITH per_user AS (
  SELECT user_id,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(round(value * 100.0, 0) AS BIGINT) ELSE 0 END) AS pre_c,
         SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(round(value * 100.0, 0) AS BIGINT) ELSE 0 END) AS post_c
  FROM events GROUP BY user_id
), ols AS (
  SELECT CASE WHEN (n * sxx - sx * sx) <> 0
              THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE), 6)
              ELSE 0.0 END AS theta,
         round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_pre
  FROM (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(pre_c) AS HUGEINT) AS sx, CAST(SUM(post_c) AS HUGEINT) AS sy,
           SUM(CAST(pre_c AS HUGEINT) * CAST(post_c AS HUGEINT)) AS sxy,
           SUM(CAST(pre_c AS HUGEINT) * CAST(pre_c AS HUGEINT)) AS sxx
    FROM per_user)
), keyed AS (
  SELECT CAST(user_id % 2 AS INT) AS arm, post_c,
         CAST(round((CAST(post_c AS DOUBLE)
                     - o.theta * (CAST(pre_c AS DOUBLE) - o.mean_pre)) * 1e4, 0)
              AS BIGINT) AS adj_micro,
         o.theta
  FROM per_user CROSS JOIN ols o
)
SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
       round(CAST(SUM(post_c) AS DOUBLE) / 100.0
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_post_r,
       round(CAST(SUM(adj_micro) AS DOUBLE) / 1e4 / 100.0
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_adj_r,
       ANY_VALUE(theta) AS theta_r
FROM keyed GROUP BY arm
"""


@query(oracle=_CUPED_SQL)
def q_rel_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (temporal.
    cuped_adjusted, Deng et al. WSDM 2013): per-user pre/post cent
    sums, pooled θ from the scaled integer-OLS identity, micro-
    quantized adjusted arm means — the experimentation-platform
    estimator as a first-class oracled op. One user agg + one 1-row
    OLS agg + one arm rollup; no windows. Oracle replays the cent
    sums, θ, and the adjusted means."""
    from json_ld_spark.operators.temporal import cuped_adjusted

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    return cuped_adjusted(ev, cutoff="2024-01-16 00:00:00")


# rolling z-score rate anomalies: integer window sums feed the z math
_RATE_ANOMALIES_SQL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), rolled AS (
  SELECT event_type, day, n,
         SUM(n) OVER w AS s1,
         SUM(n * n) OVER w AS s2,
         COUNT(n) OVER w AS cnt
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
), scored AS (
  SELECT event_type, day, n, s1, cnt,
         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
          / CAST(cnt AS DOUBLE)) / (CAST(cnt AS DOUBLE) - 1.0) AS var,
         CASE WHEN cnt >= 2
               AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                    / CAST(cnt AS DOUBLE)) / (CAST(cnt AS DOUBLE) - 1.0) > 0
              THEN round(
                (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE))
                / sqrt((CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                          / CAST(cnt AS DOUBLE))
                       / (CAST(cnt AS DOUBLE) - 1.0)), 4)
         END AS z_r
  FROM rolled
)
SELECT event_type, day, n, z_r,
       CASE WHEN cnt >= 2 AND var <= 0 AND n * cnt <> s1 THEN 1
            WHEN z_r IS NULL THEN 0
            WHEN abs(z_r) >= 2.0 THEN 1 ELSE 0 END AS is_anomaly
FROM scored
"""


@query(oracle=_RATE_ANOMALIES_SQL)
def q_rel_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection (temporal.rate_anomalies): per
    (event_type, day) counts vs the rolling 7-day self-excluding
    baseline, |z| ≥ 2 flagged — the ops-monitoring staple as an
    oracled op. One count agg + one type-partitioned bounded-frame
    window; exact integer window sums feed the only float math.
    Oracle replays the frame and the z arithmetic."""
    from json_ld_spark.operators.temporal import rate_anomalies

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    return rate_anomalies(ev, window_days=7, z_threshold=2.0)


# Holt smoothing: the identical IEEE recursion as a recursive CTE
_HOLT_SQL = """
WITH RECURSIVE daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type, n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k,
         COUNT(*) OVER (PARTITION BY event_type) AS kmax
  FROM daily
), rec AS (
  SELECT event_type, 1 AS k, kmax, CAST(n AS DOUBLE) AS level,
         CAST(0.0 AS DOUBLE) AS trend
  FROM idx WHERE k = 1
  UNION ALL
  SELECT r.event_type, r.k + 1, r.kmax,
         0.5 * CAST(i.n AS DOUBLE) + (1.0 - 0.5) * (r.level + r.trend)
           AS level,
         0.3 * ((0.5 * CAST(i.n AS DOUBLE)
                 + (1.0 - 0.5) * (r.level + r.trend)) - r.level)
           + (1.0 - 0.3) * r.trend AS trend
  FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.k = r.k + 1
)
SELECT event_type, CAST(kmax AS BIGINT) AS n_days,
       round(level, 4) AS level_r, round(trend, 4) AS trend_r,
       round(level + trend, 4) AS forecast_r
FROM rec WHERE k = kmax
"""


@query(oracle=_HOLT_SQL)
def q_rel_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing + one-step forecast of per-type
    daily event rates (temporal.holt_forecast) — the capacity-planning
    primitive beside rate_anomalies. Distributed count aggregation;
    the sequential recursion runs over the bounded (type, day)
    aggregate (codebook-sized driver state). Oracle: recursive CTE
    executing the identical IEEE sequence."""
    from json_ld_spark.operators.temporal import holt_forecast

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    return holt_forecast(ev, alpha=0.5, beta=0.3)


# rel_retention_cohorts: identical integer epoch-day bucket algebra —
# day = epoch_us // 86.4e9, period = day // 7 (positive operands, so
# DuckDB's truncating // equals Spark's floor()).
_RETENTION_SQL = r"""
WITH p AS (
  SELECT user_id,
         (epoch_us(ts) // 86400000000) // 7 AS period
  FROM events
),
firsts AS (SELECT user_id, MIN(period) AS cohort_p FROM p GROUP BY user_id),
active AS (SELECT DISTINCT user_id, period FROM p),
cells AS (
  SELECT f.cohort_p, a.period - f.cohort_p AS "offset",
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM active a JOIN firsts f USING (user_id)
  GROUP BY f.cohort_p, a.period - f.cohort_p
),
sizes AS (SELECT cohort_p, n_active AS n_cohort FROM cells WHERE "offset" = 0)
SELECT strftime(DATE '1970-01-01' + CAST(c.cohort_p * 7 AS INT), '%Y-%m-%d')
         AS cohort_start,
       CAST(c."offset" AS BIGINT) AS "offset",
       c.n_active,
       s.n_cohort,
       ROUND(c.n_active / CAST(s.n_cohort AS DOUBLE), 6) AS retention_r
FROM cells c JOIN sizes s USING (cohort_p)
"""


@query(oracle=_RETENTION_SQL)
def q_rel_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (temporal.retention_cohorts) over
    the events table — group every user by the 7-day period of their
    first event, then count per (cohort, offset) how many are still
    active, with the retention ratio vs cohort size. Periods are
    integer epoch-day buckets (no calendar semantics to cross-check).
    Two user-keyed shuffles + one bounded cohort-keyed agg; no
    windows. Oracle: the identical integer bucket algebra in SQL."""
    from json_ld_spark.operators.temporal import retention_cohorts

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    out = retention_cohorts(ev, key="user_id", ts_col="ts", unit_days=7)
    # DATE surfaces as datetime.date from Spark but Timestamp from
    # DuckDB's pandas bridge — lexical form is the hash-stable choice
    return out.withColumn(
        "cohort_start", F.date_format("cohort_start", "yyyy-MM-dd")
    )

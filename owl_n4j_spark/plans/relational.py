"""Relational operator surface (SURVEY.md §2.2-2.7) over the driver tables.

Every query is written Spark-first: declarative DataFrame plans that let
Catalyst push filters/prune columns, with explicit broadcast() on dimension
tables (nation/region/customer dims vs the lineitem/orders/events facts) so
the 100 TB shape is broadcast-hash-join + partial aggregation, never a
shuffled sort-merge join against a 25-row dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from owl_n4j_spark.functions.numeric import sql_stable_round, stable_round
from owl_n4j_spark.localrel import local_df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _r2(c):
    return F.round(c, 2)


# ---------------------------------------------------------------------------
# A8/A1-style aggregations
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape — financial aggregation (SURVEY A8): partial-agg
    friendly groupBy over the fact table, filter pushed to the scan."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2025-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r2(F.sum("l_quantity")).alias("sum_qty"),
            _r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
             .alias("sum_disc_price"),
            stable_round(F.sum("l_quantity") / F.count("*"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING = f"""
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2)                              AS sum_qty,
       round(SUM(l_extendedprice), 2)                         AS sum_base_price,
       round(SUM(l_extendedprice * (1 - l_discount)), 4)      AS sum_disc_price,
       {sql_stable_round('SUM(l_quantity) / COUNT(*)', 6)} AS avg_qty,
       COUNT(*)                                               AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2025-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_customers(spark, sf_dir):
    """Top-N by revenue (SURVEY T4/W3) — broadcast the customer dim."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        orders.groupBy("o_custkey")
        .agg(_r2(F.sum("o_totalprice")).alias("revenue"),
             F.count("*").alias("n_orders"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("c_custkey"), F.col("c_name"), "revenue", "n_orders")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


SQL_TOP_CUSTOMERS = """
SELECT c_custkey, c_name,
       round(SUM(o_totalprice), 2) AS revenue,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 10
"""


def q_region_revenue(spark, sf_dir):
    """Multi-hop dimension join (J1-style equi chain), all dims broadcast."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(_r2(F.sum("l_extendedprice")).alias("revenue"),
             F.count("*").alias("n_items"))
        .orderBy("r_name", "n_name")
    )


SQL_REGION_REVENUE = """
SELECT r_name, n_name,
       round(SUM(l_extendedprice), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q_order_priority_pivot(spark, sf_dir):
    """Pivot / conditional aggregation (SURVEY A5/A12)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
             .cast("bigint").alias("cnt_f"),
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
             .cast("bigint").alias("cnt_o"),
            F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0))
             .cast("bigint").alias("cnt_p"),
        )
        .orderBy("o_orderpriority")
    )


SQL_ORDER_PRIORITY_PIVOT = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_p
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_customer_first_order(spark, sf_dir):
    """First-row-per-group (SURVEY W2/W7) as an algebraic argmin:
    min(struct(o_orderdate, o_orderkey)) elects exactly the
    row_number()-over-(date, key) winner, but partially aggregates
    map-side instead of sorting every customer's orders per partition
    (guide §2.3 — at scale the window ships every order row through the
    shuffle; the agg ships one row per customer per map task)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.min(F.struct("o_orderdate", "o_orderkey")).alias("e"))
        .select(
            "o_custkey",
            F.col("e.o_orderkey").alias("first_orderkey"),
            F.date_format("e.o_orderdate", "yyyy-MM-dd")
             .alias("first_orderdate"),
        )
    )


SQL_CUSTOMER_FIRST_ORDER = """
SELECT o_custkey,
       o_orderkey AS first_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS first_orderdate
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


def q_monthly_revenue(spark, sf_dir):
    """Volume-over-time (SURVEY A8 'volume')."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(_r2(F.sum("o_totalprice")).alias("revenue"),
             F.count("*").alias("n_orders"))
        .orderBy("month")
    )


SQL_MONTHLY_REVENUE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       round(SUM(o_totalprice), 2) AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY month
ORDER BY month
"""


def q_customers_no_orders(spark, sf_dir):
    """Anti-join (SURVEY U4 — rejected-pairs pattern)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders.select("o_custkey").distinct(),
                  F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


SQL_CUSTOMERS_NO_ORDERS = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def q_customers_with_orders_semi(spark, sf_dir):
    """Semi-join (SURVEY J5 — endpoint-existence validation pattern)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders.select("o_custkey"),
                  F.col("c_custkey") == F.col("o_custkey"), "leftsemi")
        .groupBy("c_mktsegment").agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


SQL_CUSTOMERS_WITH_ORDERS_SEMI = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_top_parts(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.groupBy("l_partkey").agg(_r2(F.sum("l_quantity")).alias("total_qty"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_name", "total_qty")
        .orderBy(F.desc("total_qty"), F.asc("p_partkey"))
        .limit(20)
    )


SQL_TOP_PARTS = """
SELECT p_partkey, p_name, round(SUM(l_quantity), 2) AS total_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_partkey, p_name
ORDER BY total_qty DESC, p_partkey
LIMIT 20
"""


def q_nation_customer_stats(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            stable_round(F.sum("c_acctbal") / F.count("*"), 6).alias("avg_acctbal"),
            _r2(F.min("c_acctbal")).alias("min_acctbal"),
            _r2(F.max("c_acctbal")).alias("max_acctbal"),
        )
        .orderBy("n_name")
    )


SQL_NATION_CUSTOMER_STATS = f"""
SELECT n_name,
       COUNT(*) AS n_customers,
       {sql_stable_round('SUM(c_acctbal) / COUNT(*)', 6)} AS avg_acctbal,
       round(MIN(c_acctbal), 2) AS min_acctbal,
       round(MAX(c_acctbal), 2) AS max_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# Events — the comms-stream analogs (SURVEY A6/A7/A10, T1, W2/W5/W7, J6-J9)
# ---------------------------------------------------------------------------


def q_event_type_counts(spark, sf_dir):
    """Filter-chip counts (SURVEY A10) + value rollup."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             _r2(F.sum("value")).alias("total_value"))
        .orderBy("event_type")
    )


SQL_EVENT_TYPE_COUNTS = """
SELECT event_type, COUNT(*) AS n_events, round(SUM(value), 2) AS total_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_envelope_daily(spark, sf_dir):
    """Comms envelope histogram (SURVEY A7): per-day per-type counts."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("day", "event_type")
    )


SQL_ENVELOPE_DAILY = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n
FROM events GROUP BY day, event_type ORDER BY day, event_type
"""


def q_user_thread_agg(spark, sf_dir):
    """Thread aggregation (SURVEY A6): participant set -> per-thread stats."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            _r2(F.sum("value")).alias("total_value"),
        )
        .orderBy("user_id")
    )


SQL_USER_THREAD_AGG = """
SELECT user_id,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
       round(SUM(value), 2) AS total_value
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_timeline_page(spark, sf_dir):
    """Chronological timeline + limit (SURVEY T1): ORDER BY (ts, key) LIMIT."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.orderBy("ts", "event_id")
        .select("event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
                "user_id", "event_type")
        .limit(100)
    )


SQL_TIMELINE_PAGE = """
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, user_id, event_type
FROM events ORDER BY ts, event_id LIMIT 100
"""


def q_keyset_page(spark, sf_dir):
    """Keyset pagination (SURVEY W2): tuple-cursor strictly-greater page."""
    ev = load(spark, sf_dir, "events")
    cur_ts, cur_id = "2024-01-03 00:00:00", 0
    return (
        ev.filter(
            (F.col("ts") > F.lit(cur_ts).cast("timestamp"))
            | ((F.col("ts") == F.lit(cur_ts).cast("timestamp"))
               & (F.col("event_id") > F.lit(cur_id)))
        )
        .orderBy("ts", "event_id")
        .select("event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
                "event_type")
        .limit(50)
    )


SQL_KEYSET_PAGE = """
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type
FROM events
WHERE ts > TIMESTAMP '2024-01-03 00:00:00'
   OR (ts = TIMESTAMP '2024-01-03 00:00:00' AND event_id > 0)
ORDER BY ts, event_id LIMIT 50
"""


def q_event_dedup(spark, sf_dir):
    """Duplicate-comm dedup (SURVEY W7): keep first per
    (user, type, minute), count survivors per user. One survivor exists
    per distinct (type, minute) within a user, so the survivor COUNT is
    a countDistinct — one hash aggregation with map-side partials,
    replacing a sort-every-partition row_number window that shipped every
    event row through the shuffle (guide §2.3). The key is counted as ONE
    struct: a struct is never NULL, so a NULL type or minute is its own
    key, as in the oracle's PARTITION BY, where countDistinct over two
    columns would drop the row."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.countDistinct(F.struct(
            "event_type", F.date_format("ts", "yyyy-MM-dd HH:mm")))
            .alias("n_dedup"))
        .orderBy("user_id")
    )


SQL_EVENT_DEDUP = """
SELECT user_id, COUNT(*) AS n_dedup
FROM (
  SELECT user_id, row_number() OVER (
      PARTITION BY user_id, event_type, strftime(ts, '%Y-%m-%d %H:%M')
      ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
GROUP BY user_id ORDER BY user_id
"""


def q_sessionize(spark, sf_dir):
    """Sessionization / convoy detection shape (SURVEY W5): new session on
    >30 min gap; sessions-per-user."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn("new_sess",
                      F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("new_sess").cast("bigint").alias("n_sessions"),
             F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


SQL_SESSIONIZE = """
SELECT user_id,
       CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                             ts) > 1800
                   OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
GROUP BY user_id ORDER BY user_id
"""


def q_asof_prior_event(spark, sf_dir):
    """As-of join (SURVEY J6/W4): each 'error' event picks the most recent
    prior 'click' by the same user — union+window form (last ignorenulls),
    the scalable as-of strategy (no per-row probe)."""
    ev = load(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    prior = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("prior_click_ts", prior)
        .filter(F.col("event_type") == "error")
        .select("event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
                "user_id",
                F.date_format("prior_click_ts", "yyyy-MM-dd HH:mm:ss")
                 .alias("prior_click_ts_s"))
        .orderBy("event_id")
    )


SQL_ASOF_PRIOR_EVENT = """
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, user_id,
       strftime(prior_click_ts, '%Y-%m-%d %H:%M:%S') AS prior_click_ts_s
FROM (
  SELECT event_id, ts, user_id, event_type,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior_click_ts
  FROM events
) WHERE event_type = 'error'
ORDER BY event_id
"""


def q_comm_hub(spark, sf_dir):
    """Comm-hub join (SURVEY J9): >=5 distinct users on the same type within
    the same hour window."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
                   "event_type")
        .agg(F.countDistinct("user_id").alias("n_users"),
             F.count("*").alias("n_events"))
        .filter(F.col("n_users") >= 5)
        .orderBy("hour", "event_type")
    )


SQL_COMM_HUB = """
SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
       COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events
GROUP BY hour, event_type
HAVING COUNT(DISTINCT user_id) >= 5
ORDER BY hour, event_type
"""


def q_copresence_pairs(spark, sf_dir):
    """Spatio-temporal co-presence (SURVEY J7, time leg): user pairs active
    in the same minute bucket, counted — bucket join bounds the pair blowup
    exactly like the reference's time-ordered sweep."""
    ev = load(spark, sf_dir, "events")
    b = ev.select(F.date_format("ts", "yyyy-MM-dd HH:mm").alias("minute"),
                  "user_id").distinct()
    a2 = b.withColumnRenamed("user_id", "user_b")
    return (
        b.join(a2, on="minute")
        .filter(F.col("user_id") < F.col("user_b"))
        .groupBy(F.col("user_id").alias("user_a"), "user_b")
        .agg(F.count("*").alias("n_minutes"))
        .filter(F.col("n_minutes") >= 3)
        .orderBy(F.desc("n_minutes"), "user_a", "user_b")
        .limit(100)
    )


SQL_COPRESENCE_PAIRS = """
WITH b AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d %H:%M') AS minute, user_id
  FROM events
)
SELECT x.user_id AS user_a, y.user_id AS user_b, COUNT(*) AS n_minutes
FROM b x JOIN b y ON x.minute = y.minute AND x.user_id < y.user_id
GROUP BY user_a, user_b
HAVING COUNT(*) >= 3
ORDER BY n_minutes DESC, user_a, user_b
LIMIT 100
"""


def q_value_quantiles(spark, sf_dir):
    """Exact percentiles per group (the OLAP quantile family; the scalable
    variant is percentile_approx / t-digest — same plan shape, sketch
    mergeable map-side): p25/p50/p75/p95 of value per event_type. Spark
    ``percentile`` and DuckDB ``quantile_cont`` both use linear
    interpolation, so the oracle is exact at round 6."""
    ev = load(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.25, 0.5, 0.75, 0.95))")
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("p"), F.count("*").alias("n"))
        .select("event_type",
                F.round(F.element_at("p", 1), 6).alias("p25"),
                F.round(F.element_at("p", 2), 6).alias("p50"),
                F.round(F.element_at("p", 3), 6).alias("p75"),
                F.round(F.element_at("p", 4), 6).alias("p95"),
                "n")
        .orderBy("event_type")
    )


SQL_VALUE_QUANTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       round(quantile_cont(value, 0.95), 6) AS p95,
       COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_value_histogram(spark, sf_dir):
    """Tile/bucket aggregation (SURVEY A9): 1-D analog of the spatial tile
    binning — floor-bucket, count + mean."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 10).cast("bigint").alias("bucket"))
        .agg(F.count("*").alias("n"),
             stable_round(F.sum("value") / F.count("*"), 6).alias("avg_value"))
        .orderBy("bucket")
    )


SQL_VALUE_HISTOGRAM = f"""
SELECT CAST(floor(value / 10) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       {sql_stable_round('SUM(value) / COUNT(*)', 6)} AS avg_value
FROM events GROUP BY bucket ORDER BY bucket
"""


def q_rollup_revenue(spark, sf_dir):
    """ROLLUP aggregation (SURVEY §2.4 note: grouping-sets family provided
    natively by Spark; no reference analog). Year/month revenue with
    subtotal and grand-total rows; GROUPING() flags disambiguate NULLs."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders
        .withColumn("year", F.date_format("o_orderdate", "yyyy"))
        .withColumn("month", F.date_format("o_orderdate", "MM"))
        .rollup("year", "month")
        .agg(_r2(F.sum("o_totalprice")).alias("revenue"),
             F.count("*").alias("n_orders"))
        .select(
            F.coalesce("year", F.lit("ALL")).alias("year"),
            F.coalesce("month", F.lit("ALL")).alias("month"),
            "revenue", "n_orders",
        )
        .orderBy("year", "month")
    )


SQL_ROLLUP_REVENUE = """
SELECT coalesce(strftime(o_orderdate, '%Y'), 'ALL') AS year,
       coalesce(strftime(o_orderdate, '%m'), 'ALL') AS month,
       round(SUM(o_totalprice), 2) AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY ROLLUP (strftime(o_orderdate, '%Y'), strftime(o_orderdate, '%m'))
ORDER BY year, month
"""


def q_distinct_approx(spark, sf_dir):
    """Exact vs approx distinct-count side by side (SURVEY §2.4 note).
    The oracle checks the exact column; the HLL estimate is emitted with a
    tolerance flag rather than a raw value (approx values differ by engine)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", 0.02).alias("__approx"),
        )
        .select(
            "event_type", "n_exact",
            (F.abs(F.col("__approx") - F.col("n_exact"))
             <= F.col("n_exact") * 0.1).alias("approx_within_10pct"),
        )
        .orderBy("event_type")
    )


SQL_DISTINCT_APPROX = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_exact,
       TRUE AS approx_within_10pct
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_json_props(spark, sf_dir):
    """JSON prop decode + aggregate (SURVEY F12: the reference JSON-encodes
    nested props into strings and re-parses on read). get_json_object stays
    JVM-side; the k value buckets into a histogram."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select((k / 10).cast("bigint").alias("k_bucket"))
        .groupBy("k_bucket").agg(F.count("*").alias("n"))
        .orderBy("k_bucket")
    )


SQL_JSON_PROPS = """
SELECT CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS BIGINT) AS k_bucket,
       COUNT(*) AS n
FROM events GROUP BY k_bucket ORDER BY k_bucket
"""


def q_track_thinning(spark, sf_dir):
    """Track simplification (SURVEY F16 _simplify_points): drop events
    closer than 10 minutes to their predecessor in the same user's stream —
    lag window + filter; per-user kept-point counts."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn("keep", F.when(gap.isNull() | (gap >= 600), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("keep").cast("bigint").alias("n_kept"),
             F.count("*").alias("n_points"))
        .orderBy("user_id")
    )


SQL_TRACK_THINNING = """
SELECT user_id,
       CAST(SUM(CASE WHEN prev_ts IS NULL
                     OR date_diff('second', prev_ts, ts) >= 600
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COUNT(*) AS n_points
FROM (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
)
GROUP BY user_id ORDER BY user_id
"""


# Per-engine query-param lookup, mirroring the reference's engine table
# (`/root/reference/ingestion/scripts/cellebrite/neo4j_writer.py:59-109`:
# each search engine names its query parameter differently).
SEARCH_ENGINES = [
    ("google", "q", 0),
    ("bing", "q2", 1),
    ("duckduckgo", "qd", 2),
    ("yahoo", "p", 3),
]


def q_url_terms(spark, sf_dir):
    """URL search-term extraction (SURVEY F9 `_extract_search_query` —
    reference `ingestion/scripts/cellebrite/neo4j_writer.py:59-109`).
    The input contract has no raw URL column, so browsing URLs are derived
    deterministically from events; the per-engine param table joins as a
    broadcast dim and the term is pulled with a per-row regex built from the
    joined param — the reference's lookup-table-driven extraction. All
    JVM-side: concat/regexp_extract/regexp_replace, one shuffle for the
    final (engine, term) rollup."""
    ev = load(spark, sf_dir, "events")
    engines = local_df(
        spark, SEARCH_ENGINES, "engine string, param string, eidx bigint")
    b = (ev.filter(F.col("event_id") % 7 == 0)
           .withColumn("eidx", F.col("event_id") % 4))
    j = b.join(F.broadcast(engines), "eidx")
    url = F.concat(
        F.lit("https://www."), F.col("engine"), F.lit(".com/search?src=nav&"),
        F.col("param"), F.lit("="), F.lower("event_type"), F.lit("+"),
        (F.col("event_id") % 50).cast("string"), F.lit("&lang=en"))
    withu = j.withColumn("url", url)
    # Parse the query string into a map and look the engine's param up by
    # the JOINED column — a per-row regex built from the param would
    # thrash Spark's compiled-pattern cache when engines interleave;
    # str_to_map + element_at stays in whole-stage codegen with no regex.
    qmap = F.str_to_map(
        F.substring_index("url", "?", -1), F.lit("&"), F.lit("="))
    term = F.regexp_replace(
        F.element_at(qmap, F.col("param")), r"\+", " ")
    return (
        withu.select("engine", term.alias("term"))
        .groupBy("engine", "term").agg(F.count("*").alias("n_hits"))
        .orderBy("engine", "term")
    )


SQL_URL_TERMS = """
WITH engines(engine, param, eidx) AS (
  VALUES ('google','q',0), ('bing','q2',1), ('duckduckgo','qd',2),
         ('yahoo','p',3)
),
b AS (
  SELECT eng.engine, eng.param,
         'https://www.' || eng.engine || '.com/search?src=nav&' || eng.param
           || '=' || lower(e.event_type) || '+'
           || CAST(e.event_id % 50 AS VARCHAR) || '&lang=en' AS url
  FROM events e JOIN engines eng ON e.event_id % 4 = eng.eidx
  WHERE e.event_id % 7 = 0
)
SELECT engine,
       replace(regexp_extract(url, '[?&]' || param || '=([^&]*)', 1),
               '+', ' ') AS term,
       COUNT(*) AS n_hits
FROM b
GROUP BY engine, term
ORDER BY engine, term
"""


RELATIONAL_REGISTRY = {
    "q_rollup_revenue": (q_rollup_revenue, SQL_ROLLUP_REVENUE),
    "q_distinct_approx": (q_distinct_approx, SQL_DISTINCT_APPROX),
    "q_json_props": (q_json_props, SQL_JSON_PROPS),
    "q_track_thinning": (q_track_thinning, SQL_TRACK_THINNING),
    "q_pricing_summary": (q_pricing_summary, SQL_PRICING),
    "q_top_customers": (q_top_customers, SQL_TOP_CUSTOMERS),
    "q_region_revenue": (q_region_revenue, SQL_REGION_REVENUE),
    "q_order_priority_pivot": (q_order_priority_pivot, SQL_ORDER_PRIORITY_PIVOT),
    "q_customer_first_order": (q_customer_first_order, SQL_CUSTOMER_FIRST_ORDER),
    "q_monthly_revenue": (q_monthly_revenue, SQL_MONTHLY_REVENUE),
    "q_customers_no_orders": (q_customers_no_orders, SQL_CUSTOMERS_NO_ORDERS),
    "q_customers_with_orders_semi": (q_customers_with_orders_semi,
                                     SQL_CUSTOMERS_WITH_ORDERS_SEMI),
    "q_top_parts": (q_top_parts, SQL_TOP_PARTS),
    "q_nation_customer_stats": (q_nation_customer_stats,
                                SQL_NATION_CUSTOMER_STATS),
    "q_event_type_counts": (q_event_type_counts, SQL_EVENT_TYPE_COUNTS),
    "q_envelope_daily": (q_envelope_daily, SQL_ENVELOPE_DAILY),
    "q_user_thread_agg": (q_user_thread_agg, SQL_USER_THREAD_AGG),
    "q_timeline_page": (q_timeline_page, SQL_TIMELINE_PAGE),
    "q_keyset_page": (q_keyset_page, SQL_KEYSET_PAGE),
    "q_event_dedup": (q_event_dedup, SQL_EVENT_DEDUP),
    "q_sessionize": (q_sessionize, SQL_SESSIONIZE),
    "q_asof_prior_event": (q_asof_prior_event, SQL_ASOF_PRIOR_EVENT),
    "q_comm_hub": (q_comm_hub, SQL_COMM_HUB),
    "q_copresence_pairs": (q_copresence_pairs, SQL_COPRESENCE_PAIRS),
    "q_value_histogram": (q_value_histogram, SQL_VALUE_HISTOGRAM),
    "q_value_quantiles": (q_value_quantiles, SQL_VALUE_QUANTILES),
    "q_url_terms": (q_url_terms, SQL_URL_TERMS),
}

"""Composite analytics queries — multi-operator plans over the star
schema, the "实时数据分析" (real-time data analytics) use case the
reference names first among its motivations
(/root/reference/README.md:15). Each composes operators from §2 the
way a production workload would: selective scans → broadcast dims →
shuffle agg → ordered top-k.

Scale notes mirror the component operators: filters reach the scans,
every aggregate is partial+final, top-k compiles to
TakeOrderedAndProject. Broadcast policy (100 TB design point): explicit
``F.broadcast`` hints only on FIXED-cardinality frames (nation=25,
region=5, per-event-type stats, model-sized offset tables).
Scale-growing tables — customer, supplier, part — carry NO hint:
size-based join selection + AQE broadcasts them while they fit the
threshold (they do at sf0.1) and falls back to a shuffle join at scale
factors where an unconditional hint would OOM the executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_plg_spark.catalog import load_table
from cdc_plg_spark.functions.numeric import fast_round
from cdc_plg_spark.operators.aggregates import _exact_sum
from cdc_plg_spark.registry import register


@register(
    "analytics_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount), 4)
                         * 10000 AS BIGINT)) AS DOUBLE) / 10000 AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderdate, l_orderkey
    LIMIT 10
    """,
)
def analytics_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter on the customer dim (unhinted —
    AQE broadcasts it while small),
    date filters pushed to both fact scans, revenue agg, top-10."""
    c = (load_table(spark, "customer", sf_dir)
         .filter(F.col("c_mktsegment") == "BUILDING"))
    o = (load_table(spark, "orders", sf_dir)
         .filter(F.col("o_orderdate") < "1995-03-15"))
    li = (load_table(spark, "lineitem", sf_dir)
          .filter(F.col("l_shipdate") > "1995-03-15"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .groupBy("l_orderkey",
                     F.col("o_orderdate").cast("date").alias("orderdate"),
                     "o_orderpriority")
            .agg(_exact_sum(rev, scale=4).alias("revenue"))
            .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
            .orderBy(F.desc("revenue"), "orderdate", "l_orderkey")
            .limit(10))


@register(
    "analytics_nation_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount), 4)
                         * 10000 AS BIGINT)) AS DOUBLE) / 10000 AS revenue
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
)
def analytics_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact → supplier (size-gated) → nation
    (broadcast hint, fixed 25 rows) → per-nation revenue, ordered."""
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(s, li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(_exact_sum(rev, scale=4).alias("revenue"))
            .orderBy(F.desc("revenue")))


@register(
    "analytics_sessionize_batch",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def analytics_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands, 30-min inactivity gap):
    the offline twin of stream_session_window — one window pass marks
    session starts, a running sum numbers them, then a plain group-by.
    Linear per user; no self-join."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond gap: unix_timestamp truncates to whole seconds, so a
    # 1800.5 s gap would not split the session its oracle's epoch() splits
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    marked = ev.withColumn(
        "new_s", F.when(gap > 1800 * 1_000_000, 1)
        .when(gap.isNull(), 1).otherwise(0))
    wsum = (Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sess = marked.withColumn("session_id", F.sum("new_s").over(wsum))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count(F.lit(1)).alias("n_events")))


@register(
    "analytics_histogram",
    oracle="""
    SELECT LEAST(CAST(floor(o_totalprice / 50000) AS BIGINT), 9) AS bucket,
           COUNT(*) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM orders GROUP BY 1
    """,
)
def analytics_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (50k buckets, top-capped): a single
    partial+final agg on the bucket expression — the shape dashboards
    compute over billions of rows."""
    o = load_table(spark, "orders", sf_dir)
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000).cast("long"),
                     F.lit(9))
    return (o.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("o_totalprice").alias("lo"),
                 F.max("o_totalprice").alias("hi")))


@register(
    "analytics_zscore_outliers",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               avg(value) AS mu,
               stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND((e.value - s.mu) / s.sigma, 4) AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE abs((e.value - s.mu) / s.sigma) > 3
    """,
)
def analytics_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier flagging (|z| > 3): tiny aggregated
    stats table broadcast back against the fact — two passes over the
    data, no per-group window sort (the window form would shuffle and
    sort every row; the join form shuffles only the group stats)."""
    ev = load_table(spark, "events", sf_dir)
    stats = (ev.groupBy("event_type")
             .agg(F.avg("value").alias("mu"),
                  F.stddev_samp("value").alias("sigma")))
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (ev.join(F.broadcast(stats), "event_type")
            .withColumn("z", z)
            .filter(F.abs("z") > 3)
            .select("event_id", "event_type", fast_round("z", 4).alias("z")))


@register(
    "analytics_profile_columns",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(o_custkey) AS custkey_nonnull,
           COUNT(DISTINCT o_custkey) AS custkey_distinct,
           CAST(MIN(o_totalprice) AS DOUBLE) AS price_min,
           CAST(MAX(o_totalprice) AS DOUBLE) AS price_max,
           COUNT(DISTINCT o_orderstatus) AS status_distinct,
           CAST(MIN(o_orderdate) AS DATE) AS date_min,
           CAST(MAX(o_orderdate) AS DATE) AS date_max
    FROM orders
    """,
)
def analytics_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality profile: null counts, distinct counts, and
    ranges for several columns in a SINGLE aggregate — one scan, one
    reduce, however many columns are profiled. The per-column-query
    alternative scans the table once per column; at 100 TB that
    difference is the whole job."""
    o = load_table(spark, "orders", sf_dir)
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("custkey_nonnull"),
        F.countDistinct("o_custkey").alias("custkey_distinct"),
        F.min("o_totalprice").alias("price_min"),
        F.max("o_totalprice").alias("price_max"),
        F.countDistinct("o_orderstatus").alias("status_distinct"),
        F.min(F.col("o_orderdate").cast("date")).alias("date_min"),
        F.max(F.col("o_orderdate").cast("date")).alias("date_max"))


@register(
    "analytics_funnel",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(t_view) AS n_view,
           CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view_click,
           CAST(SUM(CASE WHEN t_purchase > t_click AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM per_user
    """,
)
def analytics_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): per-user
    first-touch timestamps via conditional aggregation in ONE scan and
    one keyed shuffle, then a global rollup of stage counts. The
    textbook alternative — one self-join per funnel stage — is quadratic
    in stages; this shape is how funnels stay linear at 100 TB."""
    ev = load_table(spark, "events", sf_dir)
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
    per_user = ev.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.sum(F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0))
         .alias("n_view_click"),
        F.sum(F.when((F.col("t_purchase") > F.col("t_click"))
                     & (F.col("t_click") > F.col("t_view")), 1).otherwise(0))
         .alias("n_full_funnel"))


@register(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE WHEN lang = 'en' THEN '20' ELSE '80' END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum rates driven by a
    portable content hash (md5 of the key), here 12.5% of 'en' docs and
    50% of everything else. Unlike ``df.sample`` this is reproducible
    across engines, runs, and partitionings — the property a training-
    data pipeline needs for auditable corpus construction. Pure filter:
    no shuffle, fully pushed into the scan stage."""
    d = load_table(spark, "documents", sf_dir)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    thresh = F.when(F.col("lang") == "en", "20").otherwise("80")
    return (d.filter(bucket < thresh)
             .select("doc_id", "lang", "n_chars"))


@register(
    "analytics_regional_trade",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount), 4)
                         * 10000 AS BIGINT)) AS DOUBLE) / 10000 AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1994-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-01-01'
    GROUP BY n.n_name ORDER BY revenue DESC
    """,
)
def analytics_regional_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full TPC-H Q5 shape — the deepest join tree in the suite: fact
    lineitem against orders (shuffle join on orderkey) with the
    customer/supplier "local trade" equi-condition, then the
    region→nation dimension chain. Only fixed-size nation/region carry
    broadcast hints; customer/supplier are size-gated (AQE). The
    region filter prunes the broadcast side BEFORE it ships, so at
    100 TB the only big exchange is lineitem×orders; Catalyst pushes
    the date window to the orders scan."""
    c = load_table(spark, "customer", sf_dir)
    o = (load_table(spark, "orders", sf_dir)
         .filter((F.col("o_orderdate") >= "1994-01-01")
                 & (F.col("o_orderdate") < "1996-01-01")))
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = (load_table(spark, "region", sf_dir)
         .filter(F.col("r_name") == "ASIA"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(s, (li.l_suppkey == s.s_suppkey)
                  & (c.c_nationkey == s.s_nationkey))
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(_exact_sum(rev, scale=4).alias("revenue"))
            .orderBy(F.desc("revenue")))


@register(
    "analytics_retention",
    oracle="""
    WITH fw AS (
        SELECT user_id, MIN(date_trunc('week', ts)) AS cohort
        FROM events GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT f.cohort,
           CAST(date_diff('day', f.cohort, a.wk) / 7 AS BIGINT) AS week_n,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM act a JOIN fw f USING (user_id)
    GROUP BY 1, 2
    """,
)
def analytics_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active week, counted in
    each subsequent week they return — the standard growth-analytics
    triangle. Two keyed aggregations plus one join on user_id; the
    (cohort, week) result is tiny, so every shuffle after the first is
    over per-user rows, not raw events. Week truncation is
    Monday-start in both engines."""
    ev = load_table(spark, "events", sf_dir)
    fw = (ev.groupBy("user_id")
          .agg(F.min(F.date_trunc("week", "ts")).alias("cohort")))
    act = (ev.select("user_id", F.date_trunc("week", "ts").alias("wk"))
           .distinct())
    week_n = F.floor(
        F.timestamp_diff("DAY", F.col("cohort"), F.col("wk")) / 7).cast("long")
    return (act.join(fw, "user_id")
            .groupBy("cohort", week_n.alias("week_n"))
            .agg(F.countDistinct("user_id").alias("n_active")))


@register(
    "analytics_pareto",
    oracle="""
    WITH brand_rev AS (
        SELECT p.p_brand AS brand,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount), 4)
                             * 10000 AS BIGINT)) AS DOUBLE) / 10000 AS revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand)
    SELECT brand, revenue,
           ROUND(SUM(revenue) OVER (ORDER BY revenue DESC, brand)
                 / SUM(revenue) OVER (), 6) AS cum_share,
           (SUM(revenue) OVER (ORDER BY revenue DESC, brand)
                 / SUM(revenue) OVER ()) <= 0.8 AS in_top80
    FROM brand_rev
    """,
)
def analytics_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: revenue per brand, cumulative share in
    descending-revenue order, top-80% flag. The cumulative window is a
    single-partition running sum — fine here because it runs over the
    AGGREGATED domain (|brands|, thousands at most), never the fact
    table; the heavy lifting is the partial+final hash agg below it."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    brand_rev = (li.join(p, li.l_partkey == p.p_partkey)
                 .groupBy(F.col("p_brand").alias("brand"))
                 .agg(_exact_sum(rev, scale=4).alias("revenue")))
    w_run = (Window.orderBy(F.desc("revenue"), "brand")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    share = F.sum("revenue").over(w_run) / F.sum("revenue").over(w_all)
    return brand_rev.select(
        "brand", "revenue",
        F.round(share, 6).alias("cum_share"),
        (share <= 0.8).alias("in_top80"))


@register(
    "analytics_orphan_audit",
    oracle="""
    SELECT 'orders_without_customer' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_bad
    FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_without_order', CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem_without_part', CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS (
        SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'customer_without_nation', CAST(COUNT(*) AS BIGINT)
    FROM customer c WHERE NOT EXISTS (
        SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    """,
)
def analytics_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every FK edge of
    the star schema via left-anti joins — the data-quality gate a CDC
    pipeline runs after each apply (out-of-order deletes manufacture
    orphans). Each anti join's dimension side is size-gated (AQE
    broadcasts it while it fits; dims grow with scale factor);
    the four checks share no state so Spark schedules them as parallel
    stages of one job."""
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    p = load_table(spark, "part", sf_dir)
    n = load_table(spark, "nation", sf_dir)

    def audit(name: str, fact: DataFrame, dim: DataFrame, cond) -> DataFrame:
        return (fact.join(dim, cond, "left_anti")
                .agg(F.count(F.lit(1)).alias("n_bad"))
                .select(F.lit(name).alias("check_name"), "n_bad"))

    return (audit("orders_without_customer", o, c,
                  o.o_custkey == c.c_custkey)
            .unionByName(audit("lineitem_without_order", li, o,
                               li.l_orderkey == o.o_orderkey))
            .unionByName(audit("lineitem_without_part", li, p,
                               li.l_partkey == p.p_partkey))
            .unionByName(audit("customer_without_nation", c, n,
                               c.c_nationkey == n.n_nationkey)))


@register(
    "analytics_market_share",
    oracle="""
    WITH region_rev AS (
        SELECT EXTRACT(year FROM o.o_orderdate) AS yr,
               n.n_name AS supp_nation,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount), 4)
                             * 10000 AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY 1, 2)
    SELECT CAST(yr AS BIGINT) AS yr, supp_nation,
           CAST(rev_cents AS DOUBLE) / 10000 AS revenue,
           ROUND(CAST(rev_cents AS DOUBLE)
                 / SUM(CAST(rev_cents AS DOUBLE)) OVER (PARTITION BY yr), 6)
               AS mkt_share
    FROM region_rev
    """,
)
def analytics_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: each supplier nation's share of yearly regional
    revenue. Agg first (fact collapses to |years|×|nations| rows), THEN
    the share window over the tiny aggregate — the order that matters
    at 100 TB; windowing the fact table first would sort terabytes to
    produce the same number."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = (load_table(spark, "region", sf_dir)
         .filter(F.col("r_name") == "ASIA"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cents = (F.floor(F.abs(rev) * 10000 + F.lit(0.5)) * F.signum(rev)
             ).cast("long")
    agg = (li.join(o, li.l_orderkey == o.o_orderkey)
           .join(s, li.l_suppkey == s.s_suppkey)
           .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
           .groupBy(F.year("o_orderdate").cast("long").alias("yr"),
                    F.col("n_name").alias("supp_nation"))
           .agg(F.sum(cents).alias("rev_cents")))
    w = Window.partitionBy("yr")
    return agg.select(
        "yr", "supp_nation",
        (F.col("rev_cents").cast("double") / 10000).alias("revenue"),
        F.round(F.col("rev_cents").cast("double")
                / F.sum(F.col("rev_cents").cast("double")).over(w), 6)
         .alias("mkt_share"))


@register(
    "analytics_window_funnel",
    oracle="""
    WITH t1 AS (
        SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS ts1
        FROM events GROUP BY user_id),
    t2 AS (
        SELECT e.user_id, MIN(e.ts) AS ts2
        FROM events e JOIN t1 ON e.user_id = t1.user_id
        WHERE e.event_type = 'click' AND e.ts > t1.ts1
          AND e.ts <= t1.ts1 + INTERVAL 7 DAY
        GROUP BY e.user_id),
    t3 AS (
        SELECT e.user_id, MIN(e.ts) AS ts3
        FROM events e JOIN t2 ON e.user_id = t2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
          AND e.ts <= t2.ts2 + INTERVAL 7 DAY
        GROUP BY e.user_id)
    SELECT CAST(COUNT(t1.ts1) AS BIGINT) AS stage_view,
           CAST(COUNT(t2.ts2) AS BIGINT) AS stage_click,
           CAST(COUNT(t3.ts3) AS BIGINT) AS stage_purchase
    FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
    """,
)
def analytics_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained sequence funnel (the windowFunnel analytic):
    users who viewed, then clicked within 7 days of that first view,
    then purchased within 7 days of that first qualifying click.

    Each stage's anchor time is a conditional-min window over the SAME
    user_id partition — three chained Window nodes share ONE shuffle
    (the oracle's three self-join passes express the same thing; Spark
    needs no self-join, so the fact table is scanned once). The closing
    count is a tiny agg over distinct users."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id")
    day7 = F.expr("interval 7 days")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = ev.withColumn("ts1", t1)
    t2 = F.min(F.when((F.col("event_type") == "click")
                      & (F.col("ts") > F.col("ts1"))
                      & (F.col("ts") <= F.col("ts1") + day7),
                      F.col("ts"))).over(w)
    staged = staged.withColumn("ts2", t2)
    t3 = F.min(F.when((F.col("event_type") == "purchase")
                      & (F.col("ts") > F.col("ts2"))
                      & (F.col("ts") <= F.col("ts2") + day7),
                      F.col("ts"))).over(w)
    staged = staged.withColumn("ts3", t3)
    per_user = (staged.groupBy("user_id")
                .agg(F.max("ts1").alias("ts1"), F.max("ts2").alias("ts2"),
                     F.max("ts3").alias("ts3")))
    return per_user.agg(
        F.count("ts1").alias("stage_view"),
        F.count("ts2").alias("stage_click"),
        F.count("ts3").alias("stage_purchase"))


@register(
    "sample_weighted",
    oracle="""
    SELECT doc_id, lang, n_chars,
           ROUND(LEAST(1.0, n_chars / 3000.0), 6) AS p_keep
    FROM documents
    WHERE (doc_id * 2654435761 % 1048576) / 1048576.0
          < LEAST(1.0, n_chars / 3000.0)
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling: keep probability proportional
    to document length (the upsample-long/downsample-short knob of
    corpus construction), decided by a Knuth multiplicative hash of
    the key against the weight — reproducible across engines, runs,
    and partitionings, unlike df.sample. Pure pushed-down filter, no
    shuffle, no RNG state; at 100 TB the sample is re-derivable from
    the keys alone, so the pipeline can audit exactly why any row was
    kept or dropped."""
    d = load_table(spark, "documents", sf_dir)
    p_keep = F.least(F.lit(1.0), F.col("n_chars") / 3000.0)
    u = (F.col("doc_id") * 2654435761 % 1048576) / 1048576.0
    return (d.filter(u < p_keep)
             .select("doc_id", "lang", "n_chars",
                     F.round(p_keep, 6).alias("p_keep")))


@register(
    "analytics_cumulative_distinct_users",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d
        FROM events GROUP BY user_id),
    daily_new AS (
        SELECT first_d AS d, COUNT(*) AS new_users
        FROM firsts GROUP BY first_d),
    active AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    SELECT a.d,
           CAST(COALESCE(dn.new_users, 0) AS BIGINT) AS new_users,
           CAST(SUM(COALESCE(dn.new_users, 0)) OVER (ORDER BY a.d)
                AS BIGINT) AS cum_distinct_users
    FROM active a LEFT JOIN daily_new dn ON a.d = dn.d
    """,
)
def analytics_cumulative_distinct_users(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) without distinct state: a cumulative
    distinct-user curve computed as first-appearance day per user →
    daily new-user counts → running sum. The naive form (a windowed
    COUNT(DISTINCT) per day) holds the full user set in window state;
    this decomposition carries ONE row per user then ONE row per day
    — the only version that survives a 100 TB event table with
    billions of users. The single-partition running-sum window is over
    |days| rows, which is trivially safe."""
    ev = load_table(spark, "events", sf_dir)
    firsts = (ev.groupBy("user_id")
              .agg(F.min(F.col("ts").cast("date")).alias("first_d")))
    daily_new = (firsts.groupBy(F.col("first_d").alias("d"))
                 .agg(F.count(F.lit(1)).alias("new_users")))
    active = ev.select(F.col("ts").cast("date").alias("d")).distinct()
    joined = (active.join(F.broadcast(daily_new), "d", "left")
              .select("d", F.coalesce("new_users", F.lit(0))
                      .alias("new_users")))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    return joined.select(
        "d", "new_users",
        F.sum("new_users").over(w).alias("cum_distinct_users"))


@register(
    "analytics_rfm_segmentation",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(MAX(epoch_us(o_orderdate)) AS BIGINT) AS last_us,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(ROUND(o_totalprice, 2) * 100 AS BIGINT))
                    AS DOUBLE) / 100 AS monetary
        FROM orders GROUP BY o_custkey)
    SELECT o_custkey AS custkey,
           CAST(NTILE(4) OVER (ORDER BY last_us DESC, o_custkey) AS INT)
               AS r_quartile,
           CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS INT)
               AS f_quartile,
           CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS INT)
               AS m_quartile
    FROM per_cust
    """,
)
def analytics_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency/frequency/monetary quartiles
    with exact NTILE(4) semantics (tie-break on custkey, identical to
    the oracle's NTILE) — but computed WITHOUT a single-partition
    window. Each dimension's exact global rank decomposes as
    `rank = offset(bucket) + rank_within_bucket`, where the bucket is a
    value-derived range key (order day / order count / spend band): the
    within-bucket rank is a window PARTITIONED by bucket (parallel),
    and the bucket offsets come from a model-sized per-bucket count
    table (running-sum window on executors, then broadcast). The
    quartile label is then closed-form arithmetic on the rank. At
    100 TB, bucket granularity is the knob: finer buckets bound
    per-partition rows while the counts table stays tiny."""
    o = load_table(spark, "orders", sf_dir)
    cents = (F.floor(F.abs(F.round("o_totalprice", 2)) * 100 + F.lit(0.5))
             * F.signum(F.col("o_totalprice"))).cast("long")
    # Cached on executors: the per-customer profile is the aggregated
    # model (3 scalars/customer), tiny vs the fact — caching it means
    # the orders fact is scanned exactly ONCE no matter how many rank
    # dimensions read the profile below.
    per_cust = (o.groupBy("o_custkey")
                .agg(F.max(F.unix_micros(F.col("o_orderdate")
                                         .cast("timestamp")))
                      .alias("last_us"),
                     F.count(F.lit(1)).alias("frequency"),
                     (F.sum(cents).cast("double") / 100).alias("monetary"))
                ).cache()

    def exact_rank(df, bucket, order_cols, out):
        """Exact global row_number under `order_cols` (whose leading
        column descends within `bucket`, and buckets descend too) via
        bucket-partitioned window + broadcast cumulative offsets. The
        offsets are a prefix-sum computed on executors (broadcast
        theta-join over the model-sized counts DF — one row per bucket,
        B² pairs of a tiny table, no single-partition exchange), never
        collected to the driver."""
        b = df.withColumn("_bkt", bucket.cast("long"))
        w = Window.partitionBy("_bkt").orderBy(*order_cols)
        counts = b.groupBy("_bkt").agg(F.count(F.lit(1)).alias("cnt"))
        prior = counts.select(F.col("_bkt").alias("_b2"),
                              F.col("cnt").alias("_c2"))
        offs = (counts.join(F.broadcast(prior),
                            F.col("_b2") > F.col("_bkt"),  # buckets DESC
                            "left")
                .groupBy("_bkt")
                .agg(F.coalesce(F.sum("_c2"), F.lit(0)).alias("_off")))
        return (b.withColumn("_rn", F.row_number().over(w))
                 .join(F.broadcast(offs), "_bkt")
                 .withColumn(out, F.col("_off") + F.col("_rn"))
                 .drop("_bkt", "_off", "_rn"))

    # The three dimensions rank INDEPENDENTLY from the cached profile
    # (not chained): chaining would square the upstream tree per level,
    # while independent ranks each read the cache twice (rows + counts)
    # and rejoin on the customer key — co-partitioned after the first
    # shuffle at scale.
    r_rk = exact_rank(per_cust, F.floor(F.col("last_us") / 86_400_000_000),
                      [F.desc("last_us"), F.asc("o_custkey")], "r_rank"
                      ).select("o_custkey", "r_rank")
    f_rk = exact_rank(per_cust, F.col("frequency"),
                      [F.desc("frequency"), F.asc("o_custkey")], "f_rank"
                      ).select("o_custkey", "f_rank")
    m_rk = exact_rank(per_cust, F.floor(F.col("monetary") / 1000),
                      [F.desc("monetary"), F.asc("o_custkey")], "m_rank"
                      ).select("o_custkey", "m_rank")
    ranked = r_rk.join(f_rk, "o_custkey").join(m_rk, "o_custkey")

    # NTILE(4) closed form: the first (n % 4) tiles get ceil(n/4) rows.
    n = per_cust.count()
    big, size_small = n % 4, max(n // 4, 1)
    size_big, threshold = n // 4 + 1, (n % 4) * (n // 4 + 1)

    def ntile4(rank_col):
        # integer `div` keeps the tile assignment exact at any n
        return F.expr(
            f"CAST(CASE WHEN {rank_col} <= {threshold}"
            f"  THEN ({rank_col} - 1) DIV {size_big}"
            f"  ELSE {big} + ({rank_col} - 1 - {threshold}) DIV {size_small}"
            f" END + 1 AS INT)")

    return ranked.select(
        F.col("o_custkey").alias("custkey"),
        ntile4("r_rank").alias("r_quartile"),
        ntile4("f_rank").alias("f_quartile"),
        ntile4("m_rank").alias("m_quartile"))

"""Join operators (SURVEY.md §2.3).

The reference never joins (its RFC moves single-table change events);
joins realize its real-time-analytics use case (README.md:15) and the
enrichment pattern implied by README.md:89 (plugins consult reference
data via host_call — here: a broadcast dimension join).

Scale strategy per operator:
- dimension joins broadcast explicitly (`F.broadcast`) — zero shuffle;
- fact-fact joins shuffle on the join key once and rely on AQE for
  skew-split; at 100 TB, bucketing both facts on the key removes the
  shuffle entirely (see sources/bucketing notes);
- the as-of join is linear (union + last-ignoreNulls window), never the
  quadratic candidate-pair join (kept only as the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_plg_spark.catalog import load_table
from cdc_plg_spark.functions.numeric import fast_round
from cdc_plg_spark.registry import register


@register(
    "join_inner_hash",
    oracle="""
    SELECT o.o_orderkey, c.c_name, n.n_name AS nation,
           ROUND(o.o_totalprice, 2) AS totalprice
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join, dims broadcast → BroadcastHashJoin, no shuffle."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
             .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .select("o_orderkey", "c_name", F.col("n_name").alias("nation"),
                     fast_round("o_totalprice", 2).alias("totalprice")))


@register(
    "join_sortmerge",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderstatus,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS net_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large equi join: merge hint forces SortMergeJoin (the 100 TB
    shape — both sides shuffle-partitioned on the key; with bucketed
    tables the exchange disappears)."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir).hint("merge")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .select("l_orderkey", "l_linenumber", "o_orderstatus",
                      (F.col("l_extendedprice").cast("decimal(18,2)")
                       * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")))
                      .cast("double").alias("net_price")))


@register(
    "join_left",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeps customers without orders (null o_orderkey)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (c.join(o, c.c_custkey == o.o_custkey, "left")
             .select("c_custkey", "o_orderkey"))


@register(
    "join_right",
    oracle="""
    SELECT p.p_partkey, l.l_orderkey, l.l_linenumber
    FROM lineitem l RIGHT JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join keeps parts never ordered."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    return (li.join(p, li.l_partkey == p.p_partkey, "right")
              .select("p_partkey", "l_orderkey", "l_linenumber"))


@register(
    "join_full",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cn.nationkey, sn.nationkey) AS nationkey,
           cn.n_cust, sn.n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nationkey = sn.nationkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer/supplier counts."""
    c = (load_table(spark, "customer", sf_dir)
         .groupBy(F.col("c_nationkey").alias("nationkey"))
         .agg(F.count(F.lit(1)).alias("n_cust")))
    s = (load_table(spark, "supplier", sf_dir)
         .groupBy(F.col("s_nationkey").alias("nationkey"))
         .agg(F.count(F.lit(1)).alias("n_supp")))
    return (c.join(s, "nationkey", "full")
             .select(F.coalesce(c["nationkey"], s["nationkey"]).alias("nationkey"),
                     "n_cust", "n_supp"))


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): customers having ≥1 order."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
             .select("c_custkey", "c_name"))


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): customers with no orders."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .select("c_custkey", "c_name"))


@register(
    "join_theta_range",
    oracle="""
    SELECT b.band, COUNT(o.o_orderkey) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders o
    JOIN (VALUES ('small', 0.0, 100000.0),
                 ('medium', 100000.0, 300000.0),
                 ('large', 300000.0, 1e18)) AS b(band, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range-band) join against a tiny broadcast bands table.

    The bands side is broadcast → BroadcastNestedLoopJoin over 3 rows,
    which is the right plan; a large-large range join would instead get
    an equi-prefix bucket key (SURVEY.md §2.3 note).
    """
    o = load_table(spark, "orders", sf_dir)
    bands = spark.createDataFrame(
        [("small", 0.0, 100000.0), ("medium", 100000.0, 300000.0),
         ("large", 300000.0, 1e18)], "band string, lo double, hi double")
    return (o.join(F.broadcast(bands),
                   (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi))
             .groupBy("band")
             .agg(F.count("o_orderkey").alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   .cast("double").alias("sum_price")))


@register(
    "join_asof",
    oracle="""
    SELECT purchase_id, user_id, ts_us, last_click_id FROM (
        SELECT p.event_id AS purchase_id, p.user_id,
               epoch_us(p.ts) AS ts_us, c.event_id AS last_click_id,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY c.ts DESC, c.event_id DESC) AS rn
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND c.ts <= p.ts
    ) WHERE rn = 1
    """,
    tags=("cdc",),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click at-or-before it.

    Implemented linearly — union both sides, one window pass with
    last(..., ignorenulls) — O(n log n) in the partition instead of the
    O(clicks × purchases) candidate join the oracle uses. This is the
    state-at-time lookup pattern the reference implies for
    schema-versioned decisions (README.md:89).
    """
    ev = load_table(spark, "events", sf_dir)
    both = (ev.filter(F.col("event_type").isin("click", "purchase"))
              .select("user_id", "ts", "event_id",
                      # clicks sort before purchases at equal ts so an
                      # equal-timestamp click is visible to the purchase
                      F.when(F.col("event_type") == "click", 0).otherwise(1)
                       .alias("kind")))
    w = (Window.partitionBy("user_id").orderBy("ts", "kind", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    last_click = F.last(F.when(F.col("kind") == 0, F.col("event_id")),
                        ignorenulls=True).over(w)
    return (both.withColumn("last_click_id", last_click)
                .filter(F.col("kind") == 1)
                .select(F.col("event_id").alias("purchase_id"), "user_id",
                        F.unix_micros("ts").alias("ts_us"), "last_click_id"))


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
               / 100 AS order_total
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located large-large join via bucketing: both sides written
    `bucketBy(8, join_key).sortBy(join_key)`, so the join compiles to a
    SortMergeJoin with NO Exchange on either side (asserted in
    tests/test_plans.py::test_bucketed_join_has_no_shuffle). At 100 TB
    this is the standard answer for a fact-fact join that repeats every
    run: pay the shuffle once at write time, never again at read time.
    Same result as the shuffle-join form (the oracle is the plain join).
    """
    import os as _os

    from cdc_plg_spark.catalog import CACHE_VERSION, cache_dir

    sf_tag = f"_v{CACHE_VERSION}" + sf_dir.rstrip("/").replace("/", "_")
    base = cache_dir("bucketed", sf_dir)
    specs = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
    for t, key in specs.items():
        tbl = f"bkt_{t}{sf_tag}".replace(".", "_").replace("-", "_")
        if not spark.catalog.tableExists(tbl):
            (load_table(spark, t, sf_dir)
             .write.mode("overwrite")
             .bucketBy(8, key).sortBy(key)
             .option("path", _os.path.join(base, t))
             .saveAsTable(tbl))
    o = spark.table(f"bkt_orders{sf_tag}".replace(".", "_").replace("-", "_"))
    li = spark.table(f"bkt_lineitem{sf_tag}".replace(".", "_").replace("-", "_"))
    # merge hint: the point is the co-located SortMergeJoin (at fixture
    # scale AQE would broadcast instead and hide the property under test)
    return (o.hint("merge").join(li, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderkey", "o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 (F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                  .cast("double") / 100).alias("order_total")))


@register(
    "join_skew_salted",
    oracle="""
    SELECT e.event_type, c.c_mktsegment, COUNT(*) AS n
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient shuffle join via key salting: the fact side's key
    gains a deterministic salt (event_id % N), the dimension side is
    exploded into N salted replicas, and the join runs on
    (key, salt) — a hot key's rows now spread over N reducer partitions
    instead of one straggler. AQE's skew-join split is the first-line
    fix; explicit salting is the portable fallback when a single key
    exceeds even a split partition (SURVEY.md §4). Result is identical
    to the unsalted join (the oracle is the plain join)."""
    n_salt = 8
    ev = (load_table(spark, "events", sf_dir)
          .select("user_id", "event_type",
                  (F.col("event_id") % n_salt).alias("salt")))
    cust = (load_table(spark, "customer", sf_dir)
            .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
            .withColumn("salt", F.explode(F.array(
                *[F.lit(i) for i in range(n_salt)]))))
    # defeat the broadcast so the exercise is the shuffle-join path the
    # technique exists for (dims small enough to broadcast don't skew)
    joined = ev.hint("shuffle_hash").join(cust, ["user_id", "salt"])
    return (joined.groupBy("event_type", "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n")))


@register(
    "join_range_bucketed",
    oracle="""
    SELECT c.user_id, COUNT(*) AS n_pairs,
           COUNT(DISTINCT c.event_id) AS n_clicks
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = c.user_id
     AND epoch(v.ts) >= epoch(c.ts) - 600 AND epoch(v.ts) < epoch(c.ts)
    GROUP BY c.user_id
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large interval join with an EQUI-PREFIX: the scale path the
    plain theta join can't take (a raw range predicate between two big
    tables compiles to a nested-loop over every pair). Each side gets a
    time bucket of the interval width (10 min); a right-side row can
    only match left buckets {b, b+1}, so the left explodes into those
    two bucket keys and the join runs as an ordinary hash/sort-merge
    equi join on (user_id, bucket) with the exact range predicate as a
    post-filter. Work drops from |L|x|R| per user to only
    adjacent-bucket pairs — the same banding trick every production
    interval join (IP-range lookup, sessionization, sensor alignment)
    uses at 100 TB."""
    ev = load_table(spark, "events", sf_dir)
    # the interval length, in µs: the oracle's epoch() keeps sub-second
    # fractions, which unix_timestamp would truncate away
    width = 600 * 10**6
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.unix_micros("ts").alias("c_us")))
    views = (ev.filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.unix_micros("ts").alias("v_us"))
             .withColumn("bucket", (F.col("v_us") / width).cast("long")))
    # a click at c_us matches views with v_us in [c_us-width, c_us): those
    # views live in buckets {floor(c_us/width)-1, floor(c_us/width)};
    # explode the click side into both candidate buckets
    cb = (F.col("c_us") / width).cast("long")
    clicks2 = clicks.withColumn("bucket",
                                F.explode(F.array(cb - 1, cb)))
    joined = (clicks2.join(
        views,
        (clicks2.c_user == views.v_user) &
        (clicks2.bucket == views.bucket) &
        (views.v_us >= clicks2.c_us - width) & (views.v_us < clicks2.c_us)))
    return (joined.groupBy(F.col("c_user").alias("user_id"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.countDistinct("click_id").alias("n_clicks")))


@register(
    "join_existence_composite",
    oracle="""
    SELECT s.s_name AS supp_name,
           CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS n_wins
    FROM lineitem l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_extendedprice > l1.l_extendedprice)
    GROUP BY s.s_name
    ORDER BY n_wins DESC, supp_name
    LIMIT 10
    """,
)
def join_existence_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: correlated EXISTS + NOT EXISTS against the same
    fact — per supplier, orders where it participated alongside another
    supplier (semi) and priced highest (anti). Both existence probes
    compile to one-shuffle semi/anti joins on the correlation key; no
    decorrelation subquery materializes the fact twice per probe. At
    100 TB the three lineitem branches share the scan (Spark reuses the
    exchange on l_orderkey across the semi and anti sides)."""
    li = load_table(spark, "lineitem", sf_dir)
    l1 = li.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.select("l_orderkey", "l_extendedprice").alias("l3")
    s = load_table(spark, "supplier", sf_dir)
    won = (l1.join(l2, (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
                   & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
                   "left_semi")
           .join(l3, (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
                 & (F.col("l3.l_extendedprice") > F.col("l1.l_extendedprice")),
                 "left_anti"))
    return (won.join(F.broadcast(s), won.l_suppkey == s.s_suppkey)
            .groupBy(F.col("s_name").alias("supp_name"))
            .agg(F.count_distinct("l_orderkey").alias("n_wins"))
            .orderBy(F.desc("n_wins"), "supp_name")
            .limit(10))


@register(
    "join_asof_forward",
    oracle="""
    SELECT click_id, user_id, ts_us, next_purchase_id FROM (
        SELECT c.event_id AS click_id, c.user_id,
               epoch_us(c.ts) AS ts_us, p.event_id AS next_purchase_id,
               ROW_NUMBER() OVER (PARTITION BY c.event_id
                                  ORDER BY p.ts, p.event_id) AS rn
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON p.user_id = c.user_id AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 3 DAY
    ) WHERE rn = 1
    """,
    tags=("cdc",),
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance: for each click, the next
    purchase at-or-after it, but only if within 3 days — the attribution
    twin of ``join_asof`` (backward). Same linear form: union both
    sides, ONE window pass with first(ignorenulls) over the following
    frame, then apply the tolerance to the carried timestamp — no
    candidate join, no per-pair expansion, O(n log n) per key."""
    ev = load_table(spark, "events", sf_dir)
    both = (ev.filter(F.col("event_type").isin("click", "purchase"))
              .select("user_id", "ts", "event_id",
                      # purchases sort after clicks at equal ts so an
                      # equal-timestamp purchase is visible to the click
                      F.when(F.col("event_type") == "click", 0).otherwise(1)
                       .alias("kind")))
    w = (Window.partitionBy("user_id").orderBy("ts", "kind", "event_id")
         .rowsBetween(1, Window.unboundedFollowing))
    nxt = F.first(F.when(F.col("kind") == 1,
                         F.struct("ts", "event_id")), ignorenulls=True).over(w)
    return (both.withColumn("np", nxt)
                .filter(F.col("kind") == 0)
                .select(F.col("event_id").alias("click_id"), "user_id",
                        F.unix_micros("ts").alias("ts_us"),
                        F.when(F.col("np.ts") <= F.col("ts")
                               + F.expr("interval 3 days"),
                               F.col("np.event_id"))
                         .alias("next_purchase_id")))


@register(
    "join_asof_nearest",
    oracle="""
    SELECT purchase_id, user_id, ts_us, nearest_click_id FROM (
        SELECT p.event_id AS purchase_id, p.user_id,
               epoch_us(p.ts) AS ts_us, c.event_id AS nearest_click_id,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                   ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)),
                            CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
                            CASE WHEN c.ts <= p.ts THEN -c.event_id
                                 ELSE c.event_id END) AS rn
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON c.user_id = p.user_id
         AND c.ts >= p.ts - INTERVAL 6 HOUR
         AND c.ts <= p.ts + INTERVAL 6 HOUR
    ) WHERE rn = 1
    """,
    tags=("cdc",),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: for each purchase, the click closest in
    time in EITHER direction within ±6 h (ties prefer the earlier,
    backward click) — completing the as-of family (backward
    ``join_asof``, forward ``join_asof_forward``, nearest here).

    Still linear: union both sides, ONE sort per key, carry the
    latest-preceding and earliest-following click as structs, then a
    pure projection picks the nearer arm and applies the tolerance —
    the oracle's candidate join expands every (purchase × ±6 h click)
    pair, which at 100 TB is exactly the blow-up this form avoids."""
    ev = load_table(spark, "events", sf_dir)
    both = (ev.filter(F.col("event_type").isin("click", "purchase"))
              .select("user_id", "ts", "event_id",
                      F.when(F.col("event_type") == "click", 0).otherwise(1)
                       .alias("kind")))
    order = [F.col("ts"), F.col("kind"), F.col("event_id")]
    back_w = (Window.partitionBy("user_id").orderBy(*order)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fwd_w = (Window.partitionBy("user_id").orderBy(*order)
             .rowsBetween(1, Window.unboundedFollowing))
    click_struct = F.when(F.col("kind") == 0, F.struct("ts", "event_id"))
    back = F.last(click_struct, ignorenulls=True).over(back_w)
    fwd = F.first(click_struct, ignorenulls=True).over(fwd_w)
    tol_us = 6 * 3600 * 1_000_000
    p_us = F.unix_micros("ts")
    db = p_us - F.unix_micros(F.col("b.ts"))      # >= 0 (at-or-before)
    df_ = F.unix_micros(F.col("f.ts")) - p_us     # > 0 (strictly after)
    b_ok = F.col("b").isNotNull() & (db <= tol_us)
    f_ok = F.col("f").isNotNull() & (df_ <= tol_us)
    nearest = (F.when(b_ok & (~f_ok | (db <= df_)), F.col("b.event_id"))
               .when(f_ok, F.col("f.event_id")))
    return (both.withColumn("b", back).withColumn("f", fwd)
                .filter(F.col("kind") == 1)
                .select(F.col("event_id").alias("purchase_id"), "user_id",
                        p_us.alias("ts_us"),
                        nearest.alias("nearest_click_id")))


@register(
    "join_null_safe",
    oracle="""
    WITH c AS (SELECT c_custkey,
                      CASE WHEN c_custkey % 10 = 0 THEN NULL
                           ELSE c_nationkey END AS ck
               FROM customer),
    s AS (SELECT s_suppkey,
                 CASE WHEN s_suppkey % 10 = 0 THEN NULL
                      ELSE s_nationkey END AS sk
          FROM supplier)
    SELECT c.ck AS nationkey, COUNT(*) AS n_pairs
    FROM c JOIN s ON c.ck IS NOT DISTINCT FROM s.sk
    GROUP BY 1
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of vanishing — the semantics SCD
    merge keys and optional foreign keys need.  Keys are deterministic
    nullified copies of the nation keys so both populations exist.

    Scale note: every NULL key hashes to ONE shuffle partition — a
    null-heavy fact side is the canonical skew bomb.  Salt the null
    bucket or split the query (IS NULL pairs via cross of two tiny
    filtered sides, non-null via plain equi-join) when nulls exceed a
    few percent; here the null fraction is 10% of two dimension-sized
    inputs, which one task absorbs."""
    c = (load_table(spark, "customer", sf_dir)
         .select("c_custkey",
                 F.when(F.col("c_custkey") % 10 == 0, None)
                  .otherwise(F.col("c_nationkey")).alias("ck")))
    s = (load_table(spark, "supplier", sf_dir)
         .select("s_suppkey",
                 F.when(F.col("s_suppkey") % 10 == 0, None)
                  .otherwise(F.col("s_nationkey")).alias("sk")))
    return (c.join(s, c["ck"].eqNullSafe(s["sk"]))
            .groupBy(F.col("ck").alias("nationkey"))
            .agg(F.count(F.lit(1)).alias("n_pairs")))

"""Analytics catalog: window functions, grouping sets, percentiles, pivot,
range join, native session windows, exact distinct — oracle-checked.

The reference engine has none of these (SURVEY §2.4/§2.8 note no multi-key
GROUP BY, no distinct-agg, no grouping sets, no session windows); they are
north-star analytics operators a 100 TB training-data pipeline leans on
daily. Each query is a declarative DataFrame plan (no UDFs) so Catalyst
keeps pushdown/pruning, and each has an exact DuckDB oracle.

Scale notes are per-query; the common theme is one shuffle on a
well-distributed key and codegen'd aggregates/windows.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import register
from .operators.rangejoin import interval_count_join
from .session import scoped_shuffle_partitions
from .sources.fixtures import artifact_dir, assert_owned, load_table

#: iterative graph rounds churn node-sized tables; size their shuffles
#: to the working set, not the input (scoped, restored on exit).
#: Scale note (optimization r15): a max(8, defaultParallelism) adaptive
#: variant was built and A/B'd — at sf0.1 the flat 8 won every lap on
#: sssp/pagerank_dangling (node-sized rounds pay 32-way task-launch
#: overhead for nothing), and at an sf1 spot-bench the adaptive form
#: bought nothing (the rounds are not shuffle-partition-bound there
#: either; LPA round 1's aggregate input is edge-sized but its map-side
#: partials parallelize by INPUT partitions, not by this setting).  On
#: a real cluster this value should derive from the node-table size
#: (bytes / target-partition-size), not core count; at both bench SFs
#: 8 is the measured optimum, so the constant stays.
GRAPH_SHUFFLE_PARTS = 8

SESSION_GAP_US = 30 * 60 * 1_000_000
RANGE_WIDTH_US = 10 * 60 * 1_000_000


@register(
    "q6_revenue_delta",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_revenue_delta(spark, sf_dir):
    """TPC-H Q6 shape: pure filter + single aggregate. The whole WHERE
    clause reaches the parquet scan as PushedFilters (min/max row-group
    skipping on l_shipdate) — at 100 TB this query reads only the
    matching date range's row groups, no shuffle at all (partial aggs
    merge into one row)."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * F.col("l_discount").cast("decimal(18,4)")
                ), 2
            ).cast("double").alias("revenue")
        )
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join. The semi
    join shuffles on orderkey but never materializes lineitem columns
    past the probe — at scale this is a shuffled-hash/sort-merge semi
    join with the date filter pushed to both scans."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o["o_orderkey"] == l["l_orderkey"]) & (l["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
    )


@register(
    "window_user_activity",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
    )
    SELECT user_id, event_id, ts_us,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           ts_us - lag(ts_us) OVER w AS gap_us,
           CAST(round(sum(CAST(value AS DECIMAL(18,6)))
                OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS run_value
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    """,
)
def window_user_activity(spark, sf_dir):
    """Window-function family (row_number / lag / running sum) over the
    event stream — per-user ordered analytics. One shuffle on user_id,
    then all three windows share the same sort (single Window physical
    node); the (ts_us, event_id) tie-breaker makes every frame
    deterministic, and the running sum accumulates in DECIMAL(18,6) so
    the rounded value is engine-exact regardless of addition order."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "user_id",
        "event_id",
        "ts_us",
        F.row_number().over(w).cast("bigint").alias("rn"),
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).over(run), 4)
        .cast("double")
        .alias("run_value"),
    )


@register(
    "rollup_revenue",
    """
    WITH o AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
                      o_orderpriority, o_totalprice
               FROM orders)
    SELECT order_year, o_orderpriority,
           CAST(grouping(order_year) AS BIGINT) AS g_year,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM o
    GROUP BY ROLLUP(order_year, o_orderpriority)
    """,
)
def rollup_revenue(spark, sf_dir):
    """Grouping sets (ROLLUP year -> priority -> grand total) in one
    aggregate pass — Spark expands the sets map-side and shuffles once;
    grouping() flags disambiguate real NULL keys from subtotal rows."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        "o_orderpriority",
        "o_totalprice",
    )
    return o.rollup("order_year", "o_orderpriority").agg(
        F.grouping("order_year").cast("bigint").alias("g_year"),
        F.grouping("o_orderpriority").cast("bigint").alias("g_prio"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
        .cast("double").alias("revenue"),
        F.count("*").cast("bigint").alias("n_orders"),
    )


@register(
    "percentile_prices",
    """
    SELECT l_returnflag,
           CAST(round(quantile_cont(l_extendedprice, 0.5), 4) AS DOUBLE) AS p50,
           CAST(round(quantile_cont(l_extendedprice, 0.9), 4) AS DOUBLE) AS p90,
           CAST(round(quantile_cont(l_extendedprice, 0.99), 4) AS DOUBLE) AS p99,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_prices(spark, sf_dir, exact: bool = True):
    """Exact linear-interpolation percentiles per group (matches DuckDB
    quantile_cont). Exact percentile is a sort-based aggregate — fine
    per bounded group; ``exact=False`` IS the 100 TB path: it swaps in
    approx_percentile (mergeable sketch, map-side combinable, no
    per-group value sort) at identical call and output shape.  The
    driver/oracle always runs the exact form; the approx form is pinned
    within tolerance of it in tests/test_approx_modes.py."""
    l = load_table(spark, sf_dir, "lineitem")
    # one percentile aggregate with an array of percentages: a single
    # sort/digest per group instead of three
    pcts = F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    if exact:
        qs = F.percentile("l_extendedprice", pcts)
    else:
        qs = F.percentile_approx("l_extendedprice", pcts, F.lit(10000))
    return (
        l.groupBy("l_returnflag")
        .agg(qs.alias("_q"), F.count("*").cast("bigint").alias("n"))
        .select(
            "l_returnflag",
            F.round(F.col("_q")[0], 4).alias("p50"),
            F.round(F.col("_q")[1], 4).alias("p90"),
            F.round(F.col("_q")[2], 4).alias("p99"),
            "n",
        )
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PIVOT_ALIASES = ["urgent", "high", "medium", "not_specified", "low"]


@register(
    "pivot_segment_priority",
    """
    SELECT c.c_mktsegment,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
           CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
           CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
           CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS not_specified,
           CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def pivot_segment_priority(spark, sf_dir):
    """Pivot (long -> wide) with an explicit value list: with values
    given, Spark compiles the pivot into one pass of conditional
    aggregates — no extra distinct-values job, one shuffle on the
    grouping key. Customer joins hint-free (SF-scaling dim: Catalyst broadcasts it while it fits the threshold — always at bench scale — and shuffle-joins at 100 TB)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    wide = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)).cast("bigint"))
        .na.fill(0)
    )
    renamed = wide
    for src, dst in zip(_PRIORITIES, _PIVOT_ALIASES):
        renamed = renamed.withColumnRenamed(src, dst)
    return renamed


@register(
    "range_join_click_attribution",
    f"""
    WITH p AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT epoch_us(ts) AS ts_us FROM events
               WHERE event_type = 'click')
    SELECT p.event_id,
           CAST(count(c.ts_us) AS BIGINT) AS n_in_range
    FROM p LEFT JOIN c
      ON c.ts_us > p.ts_us - {RANGE_WIDTH_US} AND c.ts_us <= p.ts_us
    GROUP BY p.event_id
    """,
)
def range_join_click_attribution(spark, sf_dir):
    """Pure range join (no equi-key): clicks in the 10 minutes before
    each purchase. Implemented via temporal bucketing
    (operators/rangejoin.py) — explode each probe into its <=2 covering
    buckets, equi-join on the bucket id, exact range re-check — so the
    plan is a shuffled equi-join instead of the quadratic
    BroadcastNestedLoopJoin the naive predicate produces."""
    ev = load_table(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "purchase").select("event_id", "ts_us")
    build = ev.filter(F.col("event_type") == "click").select("ts_us")
    out = interval_count_join(probe, build, "ts_us", "ts_us", RANGE_WIDTH_US)
    return out.select("event_id", "n_in_range")


@register(
    "sessionize_native",
    f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
    flagged AS (
      SELECT user_id, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w >= {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ),
    sess AS (
      SELECT user_id, ts_us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts_us) AS sess_start_us,
           MAX(ts_us) + {SESSION_GAP_US} AS sess_end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def sessionize_native(spark, sf_dir):
    """Spark-native session windows: groupBy(session_window(ts, gap)) —
    the same operator Structured Streaming uses for stateful session
    aggregation, here in batch. One shuffle on user_id, sessions merged
    by the SessionWindow physical node (no self-join, no window-function
    cascade). Oracle reproduces the semantics via classic gap
    sessionization (new session when gap >= 30 min; window end = last
    event + gap)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("sess_start_us"),
            F.unix_micros("w.end").alias("sess_end_us"),
            "n_events",
        )
    )


@register(
    "distinct_users_daily",
    """
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY CAST(ts AS DATE)
    """,
)
def distinct_users_daily(spark, sf_dir):
    """Exact distinct-aggregate per day (Spark expands it to a two-phase
    partial-distinct aggregate: dedup map-side on (day, user_id), then
    count — no full-row shuffle). The sketch_distinct_users query is
    the approximate/mergeable counterpart for 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.count("*").cast("bigint").alias("n_events"),
    )


@register(
    "q13_customer_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: orders-per-customer distribution. Aggregate
    BEFORE the join — orders collapse to (custkey, n) with map-side
    partials first, so the join moves one row per customer instead of
    one per order; customers with no orders enter via the left join as
    count 0. The naive join-then-aggregate shuffles the full orders
    table twice."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        o.groupBy("o_custkey").agg(F.count("*").alias("_n"))
        .join(c.select("c_custkey"), c["c_custkey"] == F.col("o_custkey"), "right")
        .select(F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("bigint").alias("custdist")
    )


def _dec_rev():
    return F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,4)")


@register(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * CAST(1 - l.l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returned items, top-20
    customers. Date filter pushes to the orders scan and the returnflag
    filter to the lineitem scan BEFORE the join; nation is a broadcast
    dim, customer joins hint-free (SF-scaling dim: Catalyst broadcasts it while it fits the threshold — always at bench scale — and shuffle-joins at 100 TB); the top-20 is a TakeOrderedAndProject over the aggregate
    (deterministic tie-break on custkey). Revenue sums in DECIMAL(18,4):
    double accumulation is order-dependent and a sum landing within a
    ULP of a half-cent rounds differently per engine — exact decimal
    arithmetic makes the aggregate value (and therefore the top-20 cut)
    engine-identical."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(_dec_rev()), 2).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Round-2 TPC-H-shaped additions (adapted to the fixture schema: no
# partsupp/commitdate/shipmode columns). Decimal-exact revenue sums
# throughout (see q10's docstring for why).
# --------------------------------------------------------------------------

@register(
    "q7_nation_volume",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * CAST(1 - l.l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    year. Scale shape: both nation dims carry broadcast hints (constant
    25 rows); supplier/customer join hint-free (SF-scaling — broadcast
    while they fit, shuffle-join at 100 TB);
    the lineitem-orders join is the only big shuffle; the disjunctive
    nation-pair filter evaluates after the (tiny) broadcast joins and
    prunes before aggregation."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1995-01-01").cast("timestamp"),
            F.lit("1996-12-31").cast("timestamp"),
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.round(F.sum(_dec_rev()), 2).cast("double").alias("revenue"))
    )


@register(
    "q9_profit_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS o_year,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * CAST(1 - l.l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q9_profit_by_nation(spark, sf_dir):
    """TPC-H Q9 shape (adapted: no partsupp fixture, so profit = net
    revenue): per supplier-nation, per year, over parts whose name
    matches a LIKE pattern. The LIKE filter prunes part BEFORE its
    hint-free join (broadcast while it fits, shuffle-join at 100 TB);
    lineitem shuffles once for the aggregate."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year"))
        .agg(F.round(F.sum(_dec_rev()), 2).cast("double").alias("sum_profit"))
    )


@register(
    "q14_promo_revenue",
    """
    SELECT CAST(round(
             100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                              * CAST(1 - l.l_discount AS DECIMAL(18,4)) END) AS DOUBLE)
                   / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                              * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE),
             4) AS DOUBLE) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01'
      AND l.l_shipdate < TIMESTAMP '1995-10-01'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue share for one month. Both sums are
    decimal-exact; only the final ratio is a double (the division result
    is identical across engines given identical decimal inputs)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = _dec_rev()
    joined = l.join(p, l["l_partkey"] == p["p_partkey"])
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev)).cast("double")
            / F.sum(rev).cast("double"),
            4,
        )
        .cast("double")
        .alias("promo_pct")
    )


@register(
    "q16_supplier_variety",
    """
    SELECT p.p_brand, p.p_size, CAST(count(DISTINCT l.l_suppkey) AS BIGINT)
             AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size IN (1, 14, 23, 45)
      AND p.p_brand NOT IN ('Brand#1', 'Brand#2')
    GROUP BY 1, 2
    """,
)
def q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape (partsupp stood in by lineitem's part-supplier
    pairs): distinct-supplier counts per (brand, size) with IN and
    NOT IN pushdown filters. count(DISTINCT) expands to a two-phase
    aggregate — partial distinct per partition, then merge — no
    driver-side set."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 14, 23, 45)
        & ~F.col("p_brand").isin("Brand#1", "Brand#2")
    )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@register(
    "q18_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey, CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)
               AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 220
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (HAVING-subquery turned into aggregate-then-join). The aggregate
    runs FIRST and shrinks the join input ~30x before customer/orders
    attach (hint-free: broadcast while small, shuffle-join at scale); quantity sums decimal-exact so the >220 cut is
    engine-identical."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    qty = F.sum(F.col("l_quantity").cast("decimal(18,4)"))
    big = (
        l.groupBy("l_orderkey")
        .agg(qty.alias("_q"))
        .filter(F.col("_q") > 220)
        .select("l_orderkey", F.round(F.col("_q"), 2).cast("double").alias("sum_qty"))
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


@register(
    "q19_disjunctive_pred",
    """
    SELECT CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * CAST(1 - l.l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
             AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
             AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_pred(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    factors the part-only disjuncts (brand/size union) into a pushdown
    filter on the part scan and the quantity bounds onto the lineitem
    scan, keeping the residual disjunction post-join — the classic
    derived-predicate pattern this query exists to exercise."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = l.join(p, l["l_partkey"] == p["p_partkey"])
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        F.round(F.sum(_dec_rev()), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    )


@register(
    "q22_dormant_customers",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_acctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1
    """,
)
def q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape: positive-balance-above-average customers with no
    recent orders. The scalar AVG is a 1-row broadcast (never a driver
    collect); the NOT EXISTS compiles to a left-anti join against the
    date-pruned orders scan."""
    c = load_table(spark, sf_dir, "customer")
    o_recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o_recent, c["c_custkey"] == o_recent["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_acctbal"),
        )
    )


@register(
    "q8_market_share",
    """
    WITH all_nations AS (
        SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(18,4))
                 * CAST(1 - l.l_discount AS DECIMAL(18,4)) AS volume,
               n2.n_name AS supp_nation
        FROM part p, lineitem l, supplier s, orders o, customer c,
             nation n1, nation n2, region r
        WHERE p.p_partkey = l.l_partkey
          AND s.s_suppkey = l.l_suppkey
          AND l.l_orderkey = o.o_orderkey
          AND o.o_custkey = c.c_custkey
          AND c.c_nationkey = n1.n_nationkey
          AND n1.n_regionkey = r.r_regionkey
          AND r.r_name = 'ASIA'
          AND s.s_nationkey = n2.n_nationkey
          AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                AND TIMESTAMP '1997-12-31'
          AND p.p_type = 'PROMO'
    )
    SELECT CAST(o_year AS BIGINT) AS o_year,
           CAST(round(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume
                               ELSE 0 END) / sum(volume), 6) AS DOUBLE)
             AS mkt_share
    FROM all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: national market share inside a region. Seven-table
    star join — nation/region carry broadcast hints (constant-sized at
    any SF); part/supplier join hint-free, since they scale LINEARLY
    with SF (200k/10k x SF rows — billions at 100 TB): Catalyst
    broadcasts them while they fit autoBroadcastJoinThreshold (always
    at bench scale) and shuffle-joins beyond it instead of forcing a
    driver OOM; orders->lineitem is the one real shuffle, on
    orderkey. The p_type and r_name filters prune the broadcast sides
    before the build, and the date range reaches the orders parquet scan
    as PushedFilters. Conditional market-share numerator compiles to a
    codegen'd CASE inside the same hash aggregate — no second pass."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").alias("n1")
    n2 = load_table(spark, sf_dir, "nation").alias("n2")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == r["r_regionkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == F.col("n2.n_nationkey"))
    )
    vol = _dec_rev()
    return (
        joined.select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            vol.alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_7", F.col("volume"))
                      .otherwise(F.lit(0).cast("decimal(18,4)")))
                / F.sum("volume"),
                6,
            ).cast("double").alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(CAST(l_extendedprice AS DECIMAL(18,4))
                   * CAST(1 - l_discount AS DECIMAL(18,4))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(round(r.total_revenue, 2) AS DOUBLE) AS total_revenue
    FROM supplier s, revenue r
    WHERE s.s_suppkey = r.supplier_no
      AND r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) hitting the quarter's max revenue.
    The revenue CTE is computed ONCE (cached logical subtree reused for
    both the scalar MAX and the probe side — Spark reuses the exchange
    under AQE); the scalar max is a 1-row broadcast joined as a filter,
    never a driver collect. Supplier joins hint-free (SF-scaling dim: Catalyst broadcasts it while it fits the threshold — always at bench scale — and shuffle-joins at 100 TB)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_dec_rev()).alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(s, F.col("supplier_no") == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_revenue", 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) / 7.0, 2)
                AS DOUBLE) AS avg_yearly
    FROM lineitem l, part p
    WHERE p.p_partkey = l.l_partkey
      AND p.p_brand = 'Brand#3'
      AND p.p_type = 'PROMO'
      AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar AVG decorrelated into a
    per-part aggregate joined back. (Fixtures lack p_container, so the
    part filter is brand+type — same plan shape.) The per-part avg is a
    hash aggregate on l_partkey reused as the join probe — one shuffle
    on partkey shared by both sides; the filtered part dim joins
    hint-free (broadcast while it fits, shuffle-join at 100 TB).
    At 100 TB the avg side aggregates BEFORE the join so the shuffle
    carries one row per part, not per lineitem — and it semi-joins the
    FILTERED part keys before the groupBy (the q2 pattern, ~6x there):
    only Brand#3+PROMO parts can survive the inner join, and a part's
    average over its own lineitems is unchanged by dropping OTHER
    parts' rows, so pruning first is exact."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "PROMO")
    )
    pk = p.select(F.col("p_partkey").alias("pa_pk"))
    part_avg = (
        l.join(pk, l["l_partkey"] == F.col("pa_pk"), "left_semi")
        .groupBy(F.col("l_partkey").alias("pa_partkey"))
        .agg((F.lit(0.5) * F.avg("l_quantity")).alias("half_avg_qty"))
    )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(part_avg, l["l_partkey"] == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")) / 7.0, 2
            ).cast("double").alias("avg_yearly")
        )
    )


@register(
    "q21_waiting_supplier",
    """
    WITH late AS (
        SELECT l.l_orderkey, l.l_suppkey
        FROM lineitem l, orders o
        WHERE o.o_orderkey = l.l_orderkey
          AND o.o_orderstatus = 'F'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s, late l1
    WHERE s.s_suppkey = l1.l_suppkey
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: the supplier who alone shipped late on a
    multi-supplier finished order. (Fixtures lack commit/receipt dates,
    so 'late' = shipped >60 days after order date — identical plan
    shape: base join + EXISTS semi + NOT EXISTS anti, both correlated
    on orderkey with a supplier inequality.) All three legs shuffle on
    orderkey, so AQE reuses one exchange; supplier joins hint-free
    (broadcast while it fits, shuffle-join at 100 TB). The
    inequality predicates ride on the join condition — no post-filter
    pass over a wider join."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select(F.col("l_orderkey").alias("lk"), F.col("l_suppkey").alias("sk"))
    )
    l2 = l.select(F.col("l_orderkey").alias("lk2"), F.col("l_suppkey").alias("sk2"))
    l3 = late.select(F.col("lk").alias("lk3"), F.col("sk").alias("sk3"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        late.join(
            l2, (F.col("lk") == F.col("lk2")) & (F.col("sk") != F.col("sk2")),
            "left_semi",
        )
        .join(
            l3, (F.col("lk") == F.col("lk3")) & (F.col("sk") != F.col("sk3")),
            "left_anti",
        )
        .join(s, F.col("sk") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Round-5 additions: the four remaining classic TPC-H decorrelation
# shapes (Q2/Q11/Q12/Q20), adapted to the fixture schema (no partsupp /
# shipmode / commitdate; supply cost derives from lineitem itself).
# --------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               round(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                     / sum(CAST(l_quantity AS DECIMAL(18,4))), 6) AS unit_cost
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey,
           CAST(c.unit_cost AS DOUBLE) AS unit_cost
    FROM part p, cost c, supplier s, nation n
    WHERE p.p_partkey = c.l_partkey
      AND s.s_suppkey = c.l_suppkey
      AND s.s_nationkey = n.n_nationkey
      AND p.p_size = 15 AND p.p_type = 'PROMO'
      AND c.unit_cost = (SELECT min(c2.unit_cost) FROM cost c2
                         WHERE c2.l_partkey = p.p_partkey)
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: min-cost supplier per part. The correlated scalar
    MIN decorrelates into a per-part aggregate of the (part, supplier)
    unit-cost table joined back on (partkey, cost) — both sides hash on
    l_partkey so AQE reuses one exchange; nation is a broadcast dim,
    part/supplier join hint-free (broadcast while they fit,
    shuffle-join at 100 TB). (Fixtures lack partsupp, so supply cost = decimal
    sum(extendedprice)/sum(quantity) per (part, supplier) from lineitem
    — exact decimal division, order-independent, then one round-6.)
    The selective part predicate prunes FIRST: lineitem is broadcast-
    semi-joined against the filtered part keys BEFORE any aggregation
    (Catalyst cannot push a join below a groupBy on its own), so the
    cost/min-cost aggregates run over only the surviving parts' rows —
    at 100 TB that is the difference between aggregating the whole fact
    table and aggregating a sliver (measured ~6x at sf0.1). Min-cost
    per part is unchanged: the semi-join keys on partkey only, so every
    supplier of a surviving part still participates.  The semi-join is
    deliberately HINT-FREE: the filtered key set scales linearly with
    SF (~2% of part — tens of millions of keys at 100 TB), so a forced
    broadcast would ship GBs to every executor; AQE sees the actual
    post-filter size at runtime and promotes to broadcast only while
    the side genuinely fits (it does at every test SF)."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "PROMO")
    )
    l = load_table(spark, sf_dir, "lineitem").join(
        p.select(F.col("p_partkey").alias("l_partkey")),
        "l_partkey",
        "left_semi",
    )
    cost = l.groupBy("l_partkey", "l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            / F.sum(F.col("l_quantity").cast("decimal(18,4)")),
            6,
        ).alias("unit_cost")
    )
    min_cost = cost.groupBy(F.col("l_partkey").alias("mc_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        cost.join(
            min_cost,
            (F.col("l_partkey") == F.col("mc_partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .join(p, F.col("l_partkey") == p["p_partkey"])
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            F.col("unit_cost").cast("double").alias("unit_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q11_important_stock",
    """
    WITH value AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,4))
                   * CAST(1 - l_discount AS DECIMAL(18,4))) AS part_value
        FROM lineitem
        GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(round(part_value, 2) AS DOUBLE) AS part_value
    FROM value
    WHERE part_value > (SELECT sum(part_value) * 0.0006 FROM value)
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: keep groups whose value exceeds a fraction of
    the GLOBAL total — the scalar subquery decorrelates into a 1-row
    aggregate broadcast-cross-joined as a filter (same pattern as Q15's
    scalar max; never a driver collect). The per-part value aggregate is
    computed once; under AQE the exchange feeding both the global sum
    and the probe is reused. Decimal sums keep the threshold compare
    order-independent. At 100 TB: one lineitem shuffle on l_partkey,
    then a |parts|-row table against a broadcast scalar."""
    l = load_table(spark, sf_dir, "lineitem")
    value = l.groupBy("l_partkey").agg(F.sum(_dec_rev()).alias("part_value"))
    total = value.agg(
        (F.sum("part_value") * F.lit(0.0006)).alias("_threshold")
    )
    return (
        value.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("_threshold"))
        .select(
            "l_partkey",
            F.round("part_value", 2).cast("double").alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register(
    "q12_priority_lateness",
    """
    SELECT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
                THEN 'LATE' ELSE 'ONTIME' END AS ship_bucket,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l, orders o
    WHERE o.o_orderkey = l.l_orderkey
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY ship_bucket
    ORDER BY ship_bucket
    """,
)
def q12_priority_lateness(spark, sf_dir):
    """TPC-H Q12 shape: per-bucket conditional counts of high/low
    priority orders. (Fixtures lack l_shipmode/commitdate, so the
    grouping key is a lateness bucket — shipped more than 30 days after
    the order date — which keeps Q12's signature pattern: a CASE
    grouping key + two conditional SUMs in one pass.) The year filter
    is pushed to the lineitem scan; orders joins on orderkey then the
    2-row aggregate is map-side partial — the shuffle carries 2 rows per
    task. Pure integer counts: no float drift possible."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .withColumn(
            "ship_bucket",
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
                F.lit("LATE"),
            ).otherwise(F.lit("ONTIME")),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


@register(
    "q20_excess_supply",
    """
    WITH shipped AS (
        SELECT l_suppkey, l_partkey,
               sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey, l_partkey
    ),
    dominant AS (
        SELECT s1.l_suppkey
        FROM shipped s1
        WHERE s1.l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE 'small%')
          AND s1.qty > (SELECT 0.35 * sum(s2.qty) FROM shipped s2
                        WHERE s2.l_partkey = s1.l_partkey)
    )
    SELECT s.s_name, n.n_name,
           CAST(round(s.s_acctbal, 2) AS DOUBLE) AS s_acctbal
    FROM supplier s, nation n
    WHERE s.s_nationkey = n.n_nationkey
      AND n.n_name IN ('NATION_6', 'NATION_9', 'NATION_11')
      AND s.s_suppkey IN (SELECT l_suppkey FROM dominant)
    ORDER BY s.s_name
    """,
)
def q20_excess_supply(spark, sf_dir):
    """TPC-H Q20 shape: the nested semi-join chain — suppliers (in one
    nation) who dominate the supply of name-filtered parts. (Fixtures
    lack partsupp, so 'dominates' = shipped more than half that part's
    total shipped quantity in the window — the same correlated
    threshold-vs-aggregate subquery, decorrelated into a per-part total
    joined back on partkey. 'Dominates' = shipped more than 35% of that
    part's total shipped quantity in the window.) The filtered part set
    semi-joins the LINEITEM SCAN before both aggregates (hint-free:
    broadcast while it fits, shuffle-join at 100 TB) — exact, because a
    part's own total is unchanged by dropping other parts' rows; the
    final supplier membership is a left-semi against the distinct
    dominant-supplier set (an SF-scaling set, so no forced broadcast);
    nation is a constant-size broadcast dim. Decimal quantity sums:
    order-independent compares. At 100 TB both aggregates shuffle the
    same (suppkey, partkey) grain once, over the pruned part set only;
    nothing lineitem-wide survives past the first groupBy."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p_small = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    l_small = l.join(
        p_small, l["l_partkey"] == p_small["p_partkey"], "left_semi"
    )
    shipped = l_small.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("qty")
    )
    part_total = shipped.groupBy(F.col("l_partkey").alias("pt_partkey")).agg(
        (F.lit(0.35) * F.sum("qty")).alias("threshold_qty")
    )
    dominant = (
        shipped.join(part_total, F.col("l_partkey") == F.col("pt_partkey"))
        .filter(F.col("qty") > F.col("threshold_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_6", "NATION_9", "NATION_11")
    )
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(dominant, s["s_suppkey"] == F.col("l_suppkey"), "left_semi")
        .select(
            "s_name", "n_name",
            F.round("s_acctbal", 2).cast("double").alias("s_acctbal"),
        )
        .orderBy("s_name")
    )


@register(
    "zorder_skipping_scan",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_price,
           CAST(min(l_partkey) AS BIGINT) AS min_part,
           CAST(max(l_orderkey) AS BIGINT) AS max_order
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 200
      AND l_orderkey BETWEEN 5000 AND 9000
    """,
)
def zorder_skipping_scan(spark, sf_dir):
    """Z-order clustering + file-level min/max skipping (Morton-code
    layout; operators/zorder.py): lineitem is rewritten once per
    dataset clustered by (l_partkey, l_orderkey), then a 2-D box
    predicate reads ONLY the files whose stats rectangle intersects the
    box (~5 of 16 at sf0.01; a linear sort layout prunes zero files for
    the second dimension — tests/test_zorder.py proves both). The
    oracle computes the same aggregate over the raw table: skipping
    must be invisible to results. Layout build is cached per dataset
    (build-once/serve-many) in a per-uid, ownership-gated artifact dir."""
    import os

    from .operators.zorder import MANIFEST, read_with_skipping, write_zordered

    zpath = artifact_dir("zorder", sf_dir, "lineitem")
    # trust point: MANIFEST is what makes us serve the layout's files, so
    # a directory planted after artifact_dir ran is refused here too
    assert_owned(zpath)
    if not os.path.exists(os.path.join(zpath, MANIFEST)):
        write_zordered(
            load_table(spark, sf_dir, "lineitem"),
            zpath,
            ["l_partkey", "l_orderkey"],
            n_files=16,
        )
    box = {"l_partkey": (100, 200), "l_orderkey": (5000, 9000)}
    df, _n_read, _n_total = read_with_skipping(spark, zpath, box)
    return (
        df.filter(
            F.col("l_partkey").between(100, 200)
            & F.col("l_orderkey").between(5000, 9000)
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_price"),
            F.min("l_partkey").cast("bigint").alias("min_part"),
            F.max("l_orderkey").cast("bigint").alias("max_order"),
        )
    )


PR_ITERS = 3
PR_SCALE = 10**12  # fixed-point scale: all rank math in exact BIGINT


@register(
    "pagerank_part_supplier",
    f"""
    WITH pairs AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    edges AS (
      SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM pairs
      UNION ALL
      SELECT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT count(*) AS n_nodes FROM nodes),
    r0 AS (SELECT node, CAST({PR_SCALE} // n_nodes AS BIGINT) AS r
           FROM nodes, n),
    it1 AS (
      SELECT e.dst AS node,
             CAST(((15 * ({PR_SCALE} // n.n_nodes))
                   + 85 * sum(r0.r // d.outdeg)) // 100 AS BIGINT) AS r
      FROM edges e JOIN r0 ON e.src = r0.node
                   JOIN deg d ON e.src = d.src
                   CROSS JOIN n
      GROUP BY e.dst, n.n_nodes
    ),
    it2 AS (
      SELECT e.dst AS node,
             CAST(((15 * ({PR_SCALE} // n.n_nodes))
                   + 85 * sum(it1.r // d.outdeg)) // 100 AS BIGINT) AS r
      FROM edges e JOIN it1 ON e.src = it1.node
                   JOIN deg d ON e.src = d.src
                   CROSS JOIN n
      GROUP BY e.dst, n.n_nodes
    ),
    it3 AS (
      SELECT e.dst AS node,
             CAST(((15 * ({PR_SCALE} // n.n_nodes))
                   + 85 * sum(it2.r // d.outdeg)) // 100 AS BIGINT) AS r
      FROM edges e JOIN it2 ON e.src = it2.node
                   JOIN deg d ON e.src = d.src
                   CROSS JOIN n
      GROUP BY e.dst, n.n_nodes
    )
    SELECT node, r AS rank_scaled FROM (
      SELECT node, r, row_number() OVER (ORDER BY r DESC, node) AS rn FROM it3
    ) WHERE rn <= 20
    """,
)
def pagerank_part_supplier(spark, sf_dir):
    """Iterative distributed PageRank (Brin & Page 1998) over the
    part-supplier bipartite graph from lineitem, 3 synchronous
    iterations, damping 0.85 — the canonical iterative-join workload
    (each iteration = contributions join + hash aggregate; the edge
    list is computed once and reused across iterations, so AQE reuses
    its exchange). ENGINE-EXACT determinism: ranks live in fixed-point
    BIGINT (scale 1e12) and every step is integer division/multiply —
    no float sums whose value depends on partition order (Spark's
    `div` operator = DuckDB's `//` on BIGINT, exactly) — so a
    1000-executor run and the DuckDB 3-level unrolled-CTE oracle agree
    bit-for-bit, making a VALUE-CHECKED iterative graph algorithm
    possible. Every bipartite node has degree >= 1 by construction
    (both directions of each pair are emitted), so there is no
    dangling-mass term (the library detects the empty dangling set and
    skips its aggregate). At 100 TB: edges shuffle once per iteration
    on dst; ranks are |nodes|-sized, tiny next to the edge list — and
    every node-sized join side is SIZE-GATED (functions/graph.py
    ``_gate_broadcast``): broadcast below 4M nodes, Catalyst/AQE
    shuffle join above, so the plan survives a billion-node graph
    instead of aborting on an 8 GB broadcast."""
    from .functions.graph import pagerank

    l = load_table(spark, sf_dir, "lineitem")
    pairs = l.select("l_partkey", "l_suppkey").distinct()
    # modest fixed partitioning for the cached edge list: the iteration
    # stages inherit it, so per-stage task count tracks cores, not the
    # source's 100+-partition shuffle layout (at cluster scale this is
    # the usual edges-partition sizing knob)
    par = max(spark.sparkContext.defaultParallelism, 4)
    edges = (
        pairs.select(
            (2 * F.col("l_partkey")).alias("src"),
            (2 * F.col("l_suppkey") + 1).alias("dst"),
        )
        .unionByName(
            pairs.select(
                (2 * F.col("l_suppkey") + 1).alias("src"),
                (2 * F.col("l_partkey")).alias("dst"),
            )
        )
        .repartition(par)
    )
    # No scoped_shuffle_partitions here (unlike pagerank_dangling): this
    # graph has no dangling node and no tolerance, so the library takes
    # the LAZY path — the iteration shuffles execute at the CALLER's
    # action, after any scope here would have been restored.  AQE
    # coalesces those small post-shuffle partitions at runtime instead.
    ranks, _ = pagerank(edges, max_iters=PR_ITERS, damping_pct=85, scale=PR_SCALE)
    return (
        ranks.orderBy(F.col("r").desc(), "node")
        .limit(20)
        .select("node", F.col("r").alias("rank_scaled"))
    )


@register(
    "pagerank_dangling",
    f"""
    WITH edges AS (
      SELECT 2 * o_custkey AS src, 2 * o_orderkey + 1 AS dst FROM orders
    ),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION
      SELECT DISTINCT dst AS node FROM edges
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    n AS (SELECT COUNT(*) AS nn FROM nodes),
    r0 AS (
      SELECT node, CAST({PR_SCALE} // nn AS BIGINT) AS r
      FROM nodes CROSS JOIN n
    ),
    dm0 AS (
      SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS m FROM r0
      WHERE node NOT IN (SELECT src FROM deg)
    ),
    r1 AS (
      SELECT nd.node,
             CAST((15 * ({PR_SCALE} // n.nn)
                   + 85 * (COALESCE(c.s, 0) + dm0.m // n.nn)) // 100
                  AS BIGINT) AS r
      FROM nodes nd
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r0.r // d.outdeg) AS s
        FROM edges e
        JOIN r0 ON e.src = r0.node
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
      ) c ON c.node = nd.node
      CROSS JOIN n CROSS JOIN dm0
    ),
    dm1 AS (
      SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS m FROM r1
      WHERE node NOT IN (SELECT src FROM deg)
    ),
    r2 AS (
      SELECT nd.node,
             CAST((15 * ({PR_SCALE} // n.nn)
                   + 85 * (COALESCE(c.s, 0) + dm1.m // n.nn)) // 100
                  AS BIGINT) AS r
      FROM nodes nd
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r1.r // d.outdeg) AS s
        FROM edges e
        JOIN r1 ON e.src = r1.node
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
      ) c ON c.node = nd.node
      CROSS JOIN n CROSS JOIN dm1
    )
    SELECT node, r AS rank_scaled FROM (
      SELECT node, r, row_number() OVER (ORDER BY r DESC, node) AS rn FROM r2
    ) WHERE rn <= 20
    """,
)
def pagerank_dangling(spark, sf_dir):
    """General PageRank (functions/graph.py) on a graph that is MOSTLY
    dangling: customer -> order edges from the orders table, where every
    order node has no out-edges.  Without dangling-mass redistribution
    ~6/7 of the rank mass would leak per iteration; with it the scaled
    total is conserved up to integer-division remainders, and the
    2-iteration result value-checks bit-for-bit against the unrolled
    DuckDB oracle (same fixed-point BIGINT arithmetic, including the
    per-iteration dangling aggregate).  Closes the round-5 verdict ask:
    the earlier pagerank_part_supplier relied on its bipartite
    construction guaranteeing no dangling nodes.

    100 TB shape: identical to pagerank_part_supplier (cached edge
    scan + broadcast contributions per iteration) plus one tiny
    rank-table aggregate per iteration for the dangling mass."""
    from .functions.graph import pagerank

    o = load_table(spark, sf_dir, "orders")
    edges = o.select(
        (2 * F.col("o_custkey")).alias("src"),
        (2 * F.col("o_orderkey") + 1).alias("dst"),
    )
    # the per-round materializations all execute inside this call: size
    # the shuffle to the node-sized working set (see session.py)
    with scoped_shuffle_partitions(spark, GRAPH_SHUFFLE_PARTS):
        ranks, _ = pagerank(edges, max_iters=2, damping_pct=85, scale=PR_SCALE)
    return (
        ranks.orderBy(F.col("r").desc(), "node")
        .limit(20)
        .select("node", F.col("r").alias("rank_scaled"))
    )


@register(
    "cube_nation_year",
    """
    WITH base AS (
      SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
             o.o_totalprice
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
    )
    SELECT nation, order_year,
           CAST(grouping(nation) AS BIGINT) AS g_nation,
           CAST(grouping(order_year) AS BIGINT) AS g_year,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM base
    GROUP BY CUBE(nation, order_year)
    """,
)
def cube_nation_year(spark, sf_dir):
    """CUBE (all 2^k grouping sets) in ONE aggregate pass: Spark expands
    each input row into its 4 grouping-set rows map-side and shuffles
    once — never k separate aggregation jobs.  grouping() flags
    disambiguate subtotal rows from genuine NULL keys.  Dim joins are
    broadcast; the filter prunes to 3 nations before the expansion so
    the 4x row blowup applies to the reduced stream (at 100 TB the
    pre-CUBE filter/projection placement is what keeps this viable)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            "o_totalprice",
        )
    )
    return base.cube("nation", "order_year").agg(
        F.grouping("nation").cast("bigint").alias("g_nation"),
        F.grouping("order_year").cast("bigint").alias("g_year"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
        .cast("double").alias("revenue"),
        F.count("*").cast("bigint").alias("n_orders"),
    )


@register(
    "grouping_sets_returns",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
           CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_returns(spark, sf_dir):
    """Explicit GROUPING SETS — the general form under ROLLUP/CUBE:
    exactly the named sets are produced ((flag, status), (flag), grand
    total), still one map-side expansion + one shuffle.  Quantities sum
    in BIGINT so every cell is engine-exact."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag", "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count("*").cast("bigint").alias("n"),
    )


@register(
    "unpivot_lineitem_measures",
    """
    WITH l AS (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                      l_discount, l_tax
               FROM lineitem WHERE l_orderkey < 200)
    SELECT l_orderkey, l_linenumber, measure,
           CAST(ROUND(value, 4) AS DOUBLE) AS value
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
             CAST(l_quantity AS DOUBLE) AS value FROM l
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM l
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM l
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM l
    )
    """,
)
def unpivot_lineitem_measures(spark, sf_dir):
    """UNPIVOT (wide -> long, the inverse of pivot): 4 measure columns
    melt into (measure, value) rows via the native unpivot operator —
    one generate-style projection, zero shuffle, zero joins (the
    UNION-ALL oracle form would rescan the table 4 times).  The melted
    form is what per-measure operators (histograms, drift checks)
    consume without writing one query per column."""
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 200)
        .select(
            "l_orderkey", "l_linenumber",
            F.col("l_quantity").cast("double").alias("quantity"),
            F.col("l_extendedprice").alias("extendedprice"),
            F.col("l_discount").alias("discount"),
            F.col("l_tax").alias("tax"),
        )
    )
    return l.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "extendedprice", "discount", "tax"],
        "measure",
        "_v",
    ).select(
        "l_orderkey", "l_linenumber", "measure",
        F.round("_v", 4).alias("value"),
    )


@register(
    "histogram_equidepth_prices",
    """
    WITH t AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(ROUND(MIN(o_totalprice), 2) AS DOUBLE) AS lo,
           CAST(ROUND(MAX(o_totalprice), 2) AS DOUBLE) AS hi,
           CAST(count(*) AS BIGINT) AS n
    FROM t GROUP BY bucket
    """,
)
def histogram_equidepth_prices(spark, sf_dir, exact: bool = True):
    """Equi-depth histogram (10 buckets of equal row count) — the
    profiling structure query optimizers and data-quality checks use.
    NTILE over a deterministic total order (price, orderkey tiebreak)
    makes bucket membership engine-exact.  The global-sort window is the
    honest cost of exact equi-depth; ``exact=False`` IS the 100 TB
    path: approx_percentile computes the 9 interior bucket BOUNDS as
    one mergeable-sketch aggregate (no global sort, no single-partition
    window), the bounds come back to the driver as 9 doubles (a scalar
    aggregate, not a data collect), and bucket assignment is then a
    pure per-row expression — scan-parallel, one shuffle for the final
    group-by.  Same output shape; bucket populations are approximately
    equal instead of exactly equal (pinned in
    tests/test_approx_modes.py)."""
    o = load_table(spark, sf_dir, "orders")
    if exact:
        w = Window.orderBy("o_totalprice", "o_orderkey")
        bucketed = o.select(
            "o_totalprice", F.ntile(10).over(w).cast("bigint").alias("bucket")
        )
    else:
        bounds = o.agg(
            F.percentile_approx(
                "o_totalprice",
                F.array(*[F.lit(i / 10) for i in range(1, 10)]),
                F.lit(10000),
            ).alias("b")
        ).collect()[0]["b"]
        # empty input: percentile_approx returns NULL (not []) — treat as
        # "no interior bounds" so both modes agree on the empty DataFrame
        bounds = bounds or []
        bucket = F.lit(1)
        for b in bounds:
            bucket = bucket + F.when(
                F.col("o_totalprice") > F.lit(float(b)), 1
            ).otherwise(0)
        bucketed = o.select("o_totalprice", bucket.cast("bigint").alias("bucket"))
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.count("*").cast("bigint").alias("n"),
        )
    )


@register(
    "triangle_count_cosupplier",
    """
    WITH ps AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s
      FROM lineitem WHERE l_quantity >= 48
    ),
    e AS (
      SELECT DISTINCT a.s AS u, b.s AS v
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pern AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      FROM (SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY node
    )
    SELECT node, n_triangles FROM (
      SELECT node, n_triangles,
             row_number() OVER (ORDER BY n_triangles DESC, node) AS rn
      FROM pern
    ) WHERE rn <= 20
    """,
)
def triangle_count_cosupplier(spark, sf_dir):
    """Distributed triangle counting (per-node participation, top 20)
    over the co-supplier graph: suppliers are adjacent when they both
    ship the same high-quantity part.  The classic compact-forward /
    node-iterator join plan: orient every edge low-id -> high-id (each
    triangle counted exactly once as a < b < c), self-join oriented
    edges on the middle node to enumerate wedges, then close each wedge
    against the edge set — two shuffle joins total, no cross product.

    100 TB shape: wedge count is sum(deg_out^2) under the orientation;
    production-scale runs orient by (degree, id) instead of raw id so
    hub nodes get LOW out-degree and the wedge blowup at skewed hubs is
    bounded (Chiba-Nishizeki / "compact-forward", Latapy 2008) — same
    output, one extra degree pass; raw-id orientation keeps the oracle
    bit-exact here.  Filters prune lineitem to the sparse high-quantity
    slice before the distinct (pushed to the scan)."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    ps = l.select("l_partkey", "l_suppkey").distinct()
    a, b = ps.alias("a"), ps.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .distinct()
    )
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    closing = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = wedges.join(closing, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(20)
    )


@register(
    "topk_per_group_orders",
    """
    WITH r AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey,
           CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS totalprice,
           CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 3
    """,
)
def topk_per_group_orders(spark, sf_dir):
    """Top-k PER GROUP (k=3 priciest orders per priority class) — the
    grouped counterpart of the global T1 top-k.  One window rank over a
    partitioned sort with a deterministic (price, orderkey) tie-break.
    At scale the sort is per-partition-key (never global), and Spark's
    rank-filter pushdown (WindowGroupLimit) keeps only k rows per key
    per map task before the shuffle — the plan to check for, vs sorting
    whole groups."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.select(
            "o_orderpriority", "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "moving_revenue_window",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders WHERE o_orderdate < TIMESTAMP '1995-04-01'
      GROUP BY CAST(o_orderdate AS DATE)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n_orders,
           CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
           CAST(ROUND(SUM(rev) OVER (
             ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                                    AND CURRENT ROW), 2) AS DOUBLE)
             AS revenue_7d
    FROM daily
    """,
)
def moving_revenue_window(spark, sf_dir):
    """Trailing 7-day revenue via a RANGE window frame over EVENT TIME —
    unlike a ROWS frame, missing days don't silently widen the window.
    Aggregate-then-window: the frame runs over the tiny daily rollup
    (one row per day), not raw orders, so the single-partition time
    window is bounded by calendar size no matter the table size (the
    standard fix for global time windows at scale; partition by month
    first if even the calendar outgrows one task).  DECIMAL sums keep
    the frame arithmetic exact."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-04-01"
    )
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    # RANGE frame over day-as-integer: 6 preceding days + current
    w = (
        Window.orderBy(F.unix_date("day"))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_orders",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round(F.sum("rev").over(w), 2).cast("double").alias("revenue_7d"),
    )


@register(
    "pareto_front_parts",
    """
    WITH p AS (
      SELECT p_partkey, p_size, p_retailprice,
             MIN(p_retailprice) OVER (
               ORDER BY p_size, p_retailprice, p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS best_price_smaller
      FROM part
    )
    SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
           CAST(ROUND(p_retailprice, 2) AS DOUBLE) AS retailprice
    FROM p
    WHERE best_price_smaller IS NULL OR p_retailprice < best_price_smaller
    """,
)
def pareto_front_parts(spark, sf_dir):
    """2-D SKYLINE (Pareto front): parts where no other part is both
    smaller-or-equal in size and cheaper — the classic dominance query.
    The naive form is an O(n^2) NOT-EXISTS self-join; in 2-D it
    collapses to ONE window pass: sort by (size, price) and keep rows
    cheaper than every predecessor (running MIN over the strict-
    predecessor frame).  Ties handled exactly: a row equal in size but
    more expensive is dominated, equal in both survives only as the
    first by the sort order... strictly: price must beat the best among
    all strict predecessors in the total order, which the 1-PRECEDING
    frame encodes.  At 100 TB the global sort is the cost — partition by
    a coarse size-bucket, compute local fronts, then merge the (tiny)
    per-bucket fronts: same two-phase shape as every order-statistic
    here."""
    p = load_table(spark, sf_dir, "part")
    # p_partkey tie-break: exact (p_size, p_retailprice) duplicates DO
    # occur in the fixtures, and a ROWS frame over an ambiguous sort
    # would let the engine pick which duplicate survives — the partkey
    # makes the total order (and therefore the surviving row) unique,
    # the same engine-exactness rule every other window here follows.
    w = (
        Window.orderBy("p_size", "p_retailprice", "p_partkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    best = F.min("p_retailprice").over(w)
    return (
        p.select(
            "p_partkey",
            F.col("p_size").cast("bigint").alias("p_size"),
            F.round("p_retailprice", 2).alias("retailprice"),
            best.alias("_best"),
        )
        .filter(F.col("_best").isNull() | (F.col("p_retailprice") < F.col("_best")))
        .drop("_best")
    )


# --------------------------------------------------------------------------
# Per-group OLS trend lines (round 6)
# --------------------------------------------------------------------------

@register(
    "trend_segment_spend",
    """
    WITH pts AS (
      SELECT c_mktsegment AS segment,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS DECIMAL(18,0)) AS x,
             CAST(o_totalprice AS DECIMAL(18,4)) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    sums AS (
      SELECT segment,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx
      FROM pts GROUP BY segment
    )
    SELECT segment, n_orders,
           CAST(round((CAST(n_orders AS DOUBLE) * sxy - sx * sy)
                      / (CAST(n_orders AS DOUBLE) * sxx - sx * sx), 6) AS DOUBLE)
             AS slope_per_day,
           CAST(round((sy - ((CAST(n_orders AS DOUBLE) * sxy - sx * sy)
                             / (CAST(n_orders AS DOUBLE) * sxx - sx * sx)) * sx)
                      / CAST(n_orders AS DOUBLE), 6) AS DOUBLE)
             AS intercept
    FROM sums
    """,
)
def trend_segment_spend(spark, sf_dir):
    """Per-group ordinary-least-squares trend: slope/intercept of order
    value over time for each market segment — the groupwise regression a
    pipeline runs to spot drifting sources.  Closed-form from five
    sufficient statistics (n, Σx, Σy, Σxy, Σx²), so the whole fit is ONE
    shuffled aggregate: partial sums combine map-side, the regression
    itself costs O(groups) arithmetic after the shuffle — no per-group
    iteration, no second pass.  Determinism: the sums accumulate in
    DECIMAL (exact, order-independent); only then does each engine cast
    the agreed decimals to double and evaluate the identical IEEE
    expression tree, so the rounded slope matches bit-for-bit.  The
    orders⋈customer join shuffles on custkey at scale (bucket both sides
    to kill the exchange; at fixture scale AQE broadcasts customer).  No
    reference counterpart — north-star analytics."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pts = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("decimal(18,0)")
        .alias("x"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("y"),
    )
    sums = pts.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    nd = F.col("n_orders").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        "segment",
        "n_orders",
        F.round(slope, 6).alias("slope_per_day"),
        F.round((F.col("sy") - slope * F.col("sx")) / nd, 6).alias("intercept"),
    )


# --------------------------------------------------------------------------
# k-hop BFS reachability (round 6)
# --------------------------------------------------------------------------

@register(
    "bfs_reach_3hop",
    """
    WITH edges AS (
      SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
    ),
    seed AS (SELECT p_partkey AS pk FROM part WHERE p_brand = 'Brand#33'),
    h1 AS (SELECT DISTINCT e.sk FROM edges e JOIN seed s ON e.pk = s.pk),
    h2 AS (
      SELECT DISTINCT e.pk FROM edges e JOIN h1 ON e.sk = h1.sk
      EXCEPT SELECT pk FROM seed
    ),
    h3 AS (
      SELECT DISTINCT e.sk FROM edges e JOIN h2 ON e.pk = h2.pk
      EXCEPT SELECT sk FROM h1
    )
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS hop, 'part' AS side,
             CAST((SELECT count(*) FROM seed) AS BIGINT) AS frontier_size
      UNION ALL
      SELECT 1, 'supplier', CAST((SELECT count(*) FROM h1) AS BIGINT)
      UNION ALL
      SELECT 2, 'part', CAST((SELECT count(*) FROM h2) AS BIGINT)
      UNION ALL
      SELECT 3, 'supplier', CAST((SELECT count(*) FROM h3) AS BIGINT)
    )
    """,
)
def bfs_reach_3hop(spark, sf_dir):
    """Breadth-first reachability over the bipartite part—supplier graph
    (edges = distinct (partkey, suppkey) pairs from lineitem): exact
    frontier sizes at hops 0–3 from a brand seed set.  Each hop is one
    hash join frontier⋈edges + one distinct — the textbook distributed
    BFS step — and frontiers subtract the previous same-side level
    (left_anti) so a node counts only at its first distance.  The edge
    list is computed ONCE and cached across hops (one dedup shuffle);
    frontiers are node-sized, orders of magnitude smaller than edges, so
    at 100 TB each hop broadcasts the frontier into the cached edge scan
    rather than re-shuffling edges.  Frontier SIZES (exact integers) are
    the output, so results are partition-order independent.  Graph-family
    companion to pagerank_* / triangle_count (no reference counterpart)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    edges = l.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).distinct()
    edges.cache()
    seed = p.filter(F.col("p_brand") == "Brand#33").select(
        F.col("p_partkey").alias("pk")
    )
    h1 = edges.join(seed, "pk", "left_semi").select("sk").distinct()
    h2 = (
        edges.join(h1, "sk", "left_semi")
        .select("pk")
        .distinct()
        .join(seed, "pk", "left_anti")
    )
    h3 = (
        edges.join(h2, "pk", "left_semi")
        .select("sk")
        .distinct()
        .join(h1, "sk", "left_anti")
    )

    def lvl(hop, side, frontier):
        return frontier.agg(
            F.lit(hop).cast("bigint").alias("hop"),
            F.lit(side).alias("side"),
            F.count(F.lit(1)).cast("bigint").alias("frontier_size"),
        )

    # Returned LAZY (the plan linter must see the real join/exchange
    # shape, not a post-checkpoint RDD scan); the session-lifetime cache
    # pin is handled where long-lived sessions run many queries — the
    # bench clears the CacheManager between queries (bench.py force_gc),
    # and the driver's correctness runs are one-process-per-round.
    return (
        lvl(0, "part", seed)
        .unionByName(lvl(1, "supplier", h1))
        .unionByName(lvl(2, "part", h2))
        .unionByName(lvl(3, "supplier", h3))
    )


# --------------------------------------------------------------------------
# SCD Type-2 history rebuild (round 6)
# --------------------------------------------------------------------------

@register(
    "scd2_priority_history",
    """
    WITH ev AS (
      SELECT o_custkey AS custkey, epoch_us(o_orderdate) AS ts_us,
             arg_min(o_orderpriority, o_orderkey) AS val
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    chg AS (
      SELECT custkey, ts_us, val,
             lag(val) OVER (PARTITION BY custkey ORDER BY ts_us) AS prev
      FROM ev
    ),
    hist AS (
      SELECT custkey, val, ts_us AS valid_from_us,
             lead(ts_us) OVER (PARTITION BY custkey ORDER BY ts_us) AS valid_to_us
      FROM chg WHERE prev IS NULL OR val <> prev
    )
    SELECT custkey, val AS attr_value, valid_from_us, valid_to_us,
           valid_to_us IS NULL AS is_current
    FROM hist
    """,
)
def scd2_priority_history(spark, sf_dir):
    """Slowly-Changing-Dimension Type 2 rebuild: collapse a change-event
    stream (here: each customer's order priority over time) into
    validity-interval history rows [valid_from, valid_to) with an
    is_current flag — the dimension-table pattern every warehouse
    maintains.  Three window passes over ONE shuffle on the dimension
    key: (1) per-(key, ts) tie-break via min_by on the unique event id
    (deterministic when a key changes twice in one tick), (2) lag() to
    keep only genuine value changes, (3) lead() to close each interval
    at the next change.  All three windows share the same
    (custkey × ts) sort order, so Catalyst plans a single Exchange and
    sorts once.  At 100 TB the state is O(changes), never O(events),
    because the change filter runs before the interval build.  The
    incremental form (apply one new batch to stored history) is
    `operators/scd.py::scd2_upsert`, equivalence-tested against this
    rebuild."""
    o = load_table(spark, sf_dir, "orders")
    ev = o.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
    ).agg(F.min_by("o_orderpriority", "o_orderkey").alias("val"))
    ev = ev.select(
        "custkey",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "val",
    )
    w = Window.partitionBy("custkey").orderBy("ts_us")
    chg = ev.withColumn("prev", F.lag("val").over(w)).filter(
        F.col("prev").isNull() | (F.col("val") != F.col("prev"))
    )
    hist = chg.withColumn("valid_to_us", F.lead("ts_us").over(w))
    return hist.select(
        "custkey",
        F.col("val").alias("attr_value"),
        F.col("ts_us").alias("valid_from_us"),
        "valid_to_us",
        F.col("valid_to_us").isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# Event funnel, cohort retention, MAD outliers (round 6)
# --------------------------------------------------------------------------

@register(
    "funnel_view_click_purchase",
    """
    WITH t1 AS (
      SELECT user_id, min(ts_us) AS ts1 FROM (
        SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
      ) WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS ts2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > t1.ts1
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS ts3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t2.ts2
      GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
             CAST((SELECT count(*) FROM t1) AS BIGINT) AS n_users
      UNION ALL
      SELECT 2, 'click', CAST((SELECT count(*) FROM t2) AS BIGINT)
      UNION ALL
      SELECT 3, 'purchase', CAST((SELECT count(*) FROM t3) AS BIGINT)
    )
    """,
)
def funnel_view_click_purchase(spark, sf_dir):
    """Ordered event funnel (view -> click -> purchase, strictly
    increasing timestamps): how many users completed each prefix of the
    sequence.  Stage k is one aggregate over the events filtered to the
    stage's type, semi-joined against the (user, first-completion-time)
    table of stage k-1 — the standard iterated min-join funnel, no
    window over the whole event stream and no per-user UDF.  Stage
    tables are user-sized (orders of magnitude below event count) but
    still SCALE WITH THE DATA, so the stage joins are hint-free —
    Catalyst/AQE broadcasts while a stage fits and falls back to a
    shuffle join on a billion-user table (a forced broadcast here is
    the 8 GB-abort anti-pattern the graph library gates against); the
    type filter pushes to parquet, and the exact min-timestamps make
    the result partition-order independent."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts_us", "event_type"
    )

    def first_after(etype, prev):
        e = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            e = e.join(prev, "user_id").filter(
                F.col("ts_us") > F.col("prev_ts")
            )
        return e.groupBy("user_id").agg(F.min("ts_us").alias("prev_ts"))

    t1 = first_after("view", None)
    t2 = first_after("click", t1)
    t3 = first_after("purchase", t2)

    def stage(k, etype, t):
        return t.agg(
            F.lit(k).cast("bigint").alias("stage"),
            F.lit(etype).alias("event_type"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        )

    return (
        stage(1, "view", t1)
        .unionByName(stage(2, "click", t2))
        .unionByName(stage(3, "purchase", t3))
    )


@register(
    "cohort_retention",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    cohort AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id)
    SELECT c.cohort_day, a.day - c.cohort_day AS offset_days,
           CAST(count(*) AS BIGINT) AS n_users
    FROM act a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY c.cohort_day, a.day - c.cohort_day
    """,
)
def cohort_retention(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-activity day,
    counted on each later activity day as an offset — the standard
    product-analytics retention matrix.  Two aggregates and one join,
    all on user_id: (1) distinct (user, day) activity — one shuffle that
    also serves as the dedup, (2) per-user min day (map-side combinable),
    (3) join back + final count — hint-free: the cohort table is
    user-sized, which grows with the data, so AQE chooses broadcast vs
    shuffle from measured size instead of a pinned broadcast that would
    abort on a billion-user table.  `count(*)` over distinct (user, day) IS distinct users —
    no count(DISTINCT) needed after the dedup.  Day ids are exact
    integer epoch-day divisions, so every engine agrees."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.expr("ts_us div 86400000000").alias("day")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        act.join(cohort, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("offset_days")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


@register(
    "outlier_orders_mad",
    """
    WITH med AS (
      SELECT o_orderpriority AS priority,
             quantile_cont(o_totalprice, 0.5) AS med
      FROM orders GROUP BY o_orderpriority
    ),
    dev AS (
      SELECT o.o_orderpriority AS priority, m.med,
             abs(o.o_totalprice - m.med) AS d
      FROM orders o JOIN med m ON o.o_orderpriority = m.priority
    ),
    mad AS (
      SELECT priority, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY priority
    )
    SELECT d.priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(any_value(d.med), 4) AS DOUBLE) AS median_price,
           CAST(round(any_value(m.mad), 4) AS DOUBLE) AS mad,
           CAST(sum(CASE WHEN d.d > 1.5 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m ON d.priority = m.priority
    GROUP BY d.priority
    """,
)
def outlier_orders_mad(spark, sf_dir, exact: bool = True):
    """Robust outlier detection per group: median absolute deviation
    (|x - median| > k·MAD) — the data-cleaning filter that, unlike
    z-scores, a few extreme rows cannot poison.  k = 1.5 here so the
    outlier class is NON-EMPTY on the near-uniform fixture prices
    (uniform deviations top out near 2·MAD); production default is 3.  Two exact-percentile
    aggregates (group-bounded sorts, same parity mechanics as
    percentile_prices) with the group-sized median/MAD tables BROADCAST
    back into the fact scans — the big side shuffles once per aggregate
    and never for the joins.  ``exact=False`` IS the 100 TB path: both
    medians come from approx_percentile (mergeable sketch, no per-group
    sort) at identical call shape; the deviation compare and counts
    stay exact integers given the sketched thresholds (tolerance pinned
    in tests/test_approx_modes.py)."""

    def med_of(col):
        if exact:
            return F.percentile(col, F.lit(0.5))
        return F.percentile_approx(col, F.lit(0.5), F.lit(10000))

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"), "o_totalprice"
    )
    med = o.groupBy("priority").agg(med_of("o_totalprice").alias("med"))
    dev = o.join(F.broadcast(med), "priority").select(
        "priority", "med", F.abs(F.col("o_totalprice") - F.col("med")).alias("d")
    )
    mad = dev.groupBy("priority").agg(med_of("d").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "priority")
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.any_value("med"), 4).alias("median_price"),
            F.round(F.any_value("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.col("d") > 1.5 * F.col("mad"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# Time-series gap fill, chi-square contingency (round 6)
# --------------------------------------------------------------------------

@register(
    "gapfill_user_daily",
    """
    WITH daily AS (
      SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             sum(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
      FROM daily GROUP BY user_id
    ),
    joined AS (
      SELECT s.user_id, s.day, d.v, d.v IS NULL AS is_gap
      FROM spine s LEFT JOIN daily d
        ON s.user_id = d.user_id AND s.day = d.day
    )
    SELECT user_id, day,
           CAST(round(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE)
             AS filled_value,
           is_gap
    FROM joined
    """,
)
def gapfill_user_daily(spark, sf_dir):
    """Time-series gap filling: densify each user's daily activity onto
    a complete calendar spine (min..max day per user) and forward-fill
    missing days with the last observed value — the resample-ffill step
    every downstream window/trend computation needs, as a pure
    DataFrame plan.  Spine = explode(sequence(min, max)) per user: spine
    size is bounded by calendar span, never event count.  The fill is
    one `last(v, ignorenulls)` running window per user — same single
    (user × day) sort the gap join already needed.  Daily sums
    accumulate in DECIMAL (exact, order-independent) and round once at
    the edge; the carried value is a bit-exact copy, so both engines
    agree everywhere.  100 TB: one shuffle on user_id; AQE handles the
    skewed-user case; is_gap marks synthesized rows for downstream
    weighting."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "user_id",
            F.expr("ts_us div 86400000000").alias("day"),
            F.col("value").cast("decimal(18,6)").alias("v0"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("v0").alias("v"))
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        )
    )
    joined = spine.join(daily, ["user_id", "day"], "left").select(
        "user_id", "day", "v", F.col("v").isNull().alias("is_gap")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.round(F.last("v", ignorenulls=True).over(w), 4)
        .cast("double")
        .alias("filled_value"),
        "is_gap",
    )


@register(
    "chisq_lang_source",
    """
    WITH obs AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT o.lang, o.source, o.o,
             sum(o.o) OVER (PARTITION BY o.lang) AS row_tot,
             sum(o.o) OVER (PARTITION BY o.source) AS col_tot,
             sum(o.o) OVER () AS n
      FROM obs o
    )
    SELECT lang, source, o AS observed,
           CAST(round(CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                      / CAST(n AS DOUBLE), 6) AS DOUBLE) AS expected,
           CAST(round(
             (CAST(o AS DOUBLE) - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                                  / CAST(n AS DOUBLE))
             * (CAST(o AS DOUBLE) - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                                    / CAST(n AS DOUBLE))
             / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                / CAST(n AS DOUBLE)), 8) AS DOUBLE) AS chi2_contrib
    FROM tot
    """,
)
def chisq_lang_source(spark, sf_dir):
    """Chi-square contingency table lang × source: observed vs expected
    counts and per-cell χ² contributions — the independence test a
    curation pipeline runs to detect language/source coupling drift.
    ONE aggregation builds the contingency cells (these are tiny:
    |langs|·|sources| rows), then the marginals are windows OVER THE
    CELLS, not the corpus — corpus-size work is the single count
    shuffle.  All counts are exact BIGINTs; expected/χ² evaluate the
    identical double expression tree on both engines.  The driver can
    sum chi2_contrib against a χ² CDF for the test verdict; emitting
    per-cell contributions keeps the result set value-checkable and the
    drill-down useful."""
    d = load_table(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    tot = obs.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("source")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    exp = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n").cast("double")
    )
    dev = F.col("o").cast("double") - exp
    return tot.select(
        "lang",
        "source",
        F.col("o").alias("observed"),
        F.round(exp, 6).alias("expected"),
        F.round(dev * dev / exp, 8).alias("chi2_contrib"),
    )


@register(
    "rolling_7d_active_users",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM act),
    contrib AS (
      SELECT DISTINCT a.user_id, a.day + j.j AS report_day
      FROM act a, (SELECT unnest(range(7)) AS j) j
    )
    SELECT c.report_day,
           CAST(count(*) AS BIGINT) AS active_users_7d
    FROM contrib c, bounds b
    WHERE c.report_day BETWEEN b.d0 AND b.d1
    GROUP BY c.report_day
    """,
)
def rolling_7d_active_users(spark, sf_dir):
    """Rolling 7-day distinct active users per calendar day — the
    windowed-DISTINCT metric every activity dashboard needs, computed
    WITHOUT a per-day self-join or a 7-day range join: each (user, day)
    activity fact contributes to the 7 report days it can influence
    (explode of a 7-element sequence), a second distinct collapses
    multi-day users within each window, and `count(*)` finishes it.
    Work is O(activity × 7) rows through two hash shuffles — at 100 TB
    this beats both the range join (state × width) and 7 daily distinct
    passes, and the same shape scales to any window width.  The global
    day bounds come from a 1-row broadcast (q11's scalar-threshold
    pattern), trimming edge windows that extend past the data."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.expr("ts_us div 86400000000").alias("day")
    ).distinct()
    bounds = act.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    contrib = (
        act.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + F.lit(6))
            ).alias("report_day"),
        )
        .distinct()
    )
    return (
        contrib.join(F.broadcast(bounds))
        .filter(F.col("report_day").between(F.col("d0"), F.col("d1")))
        .groupBy("report_day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("active_users_7d"))
    )


# --------------------------------------------------------------------------
# Weighted shortest paths + label-propagation communities (round 6)
# --------------------------------------------------------------------------

def _sssp_relax_sql(prev: str) -> str:
    return f"""
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT e.dst AS node, p.dist + e.w AS dist
        FROM edges e JOIN {prev} p ON e.src = p.node
      ) GROUP BY node
    """


@register(
    "sssp_supplier_3hop",
    f"""
    WITH pairs AS (
      SELECT l_suppkey AS sk, l_partkey AS pk,
             CAST(min(l_quantity) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    edges AS (
      SELECT 2 * sk AS src, 2 * pk + 1 AS dst, w FROM pairs
      UNION ALL
      SELECT 2 * pk + 1 AS src, 2 * sk AS dst, w FROM pairs
    ),
    d0 AS (
      SELECT DISTINCT 2 * s_suppkey AS node, CAST(0 AS BIGINT) AS dist
      FROM supplier
      WHERE s_nationkey = (SELECT min(s_nationkey) FROM supplier)
    ),
    d1 AS ({_sssp_relax_sql('d0')}),
    d2 AS ({_sssp_relax_sql('d1')}),
    d3 AS ({_sssp_relax_sql('d2')})
    SELECT node, dist FROM d3
    """,
)
def sssp_supplier_3hop(spark, sf_dir):
    """Hop-bounded weighted shortest paths (functions/graph.py
    ``sssp_bounded`` — synchronous Bellman-Ford) from the lowest-nation
    supplier set (a 1-row broadcast scalar, non-empty at every SF) over the bipartite supplier↔part graph, edge weight =
    the pair's minimum shipped quantity (exact BIGINT).  Three
    relaxation rounds, each one cached-edge-scan join + min-combine —
    value-checked bit-for-bit against the unrolled 3-round SQL oracle,
    the same policy that made PageRank a VALUE-CHECKED iterative
    algorithm.  min is associative/commutative, so any partition layout
    agrees."""
    from .functions.graph import sssp_bounded

    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    pairs = (
        l.groupBy(
            F.col("l_suppkey").alias("sk"), F.col("l_partkey").alias("pk")
        )
        .agg(F.min("l_quantity").cast("bigint").alias("w"))
    )
    edges = (
        pairs.select(
            (2 * F.col("sk")).alias("src"),
            (2 * F.col("pk") + 1).alias("dst"),
            "w",
        )
        .unionByName(
            pairs.select(
                (2 * F.col("pk") + 1).alias("src"),
                (2 * F.col("sk")).alias("dst"),
                "w",
            )
        )
    )
    min_nat = s.agg(F.min("s_nationkey").alias("mn"))
    sources = (
        s.join(F.broadcast(min_nat))
        .filter(F.col("s_nationkey") == F.col("mn"))
        .select((2 * F.col("s_suppkey")).alias("node"))
    )
    # per-round dist tables materialize inside sssp_bounded: node-sized
    # shuffles (see session.scoped_shuffle_partitions)
    with scoped_shuffle_partitions(spark, GRAPH_SHUFFLE_PARTS):
        dist = sssp_bounded(edges, sources, max_hops=3)
    return dist.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("dist").cast("bigint").alias("dist"),
    )


_LP_WINNER_SQL = """
      SELECT node, label AS new_label FROM (
        SELECT c.node, c.label,
               row_number() OVER (PARTITION BY c.node
                                  ORDER BY c.cnt DESC, c.label ASC) AS rn
        FROM (
          SELECT e.dst AS node, p.label, count(*) AS cnt
          FROM edges e JOIN {prev} p ON e.src = p.node
          GROUP BY e.dst, p.label
        ) c
      ) WHERE rn = 1
"""


@register(
    "label_prop_communities",
    f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),
    edges AS (SELECT p1 AS src, p2 AS dst FROM pairs),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION SELECT DISTINCT dst FROM edges
    ),
    l0 AS (SELECT node, node AS label FROM nodes),
    w1 AS ({_LP_WINNER_SQL.format(prev='l0')}),
    l1 AS (
      SELECT n.node, coalesce(w1.new_label, l0.label) AS label
      FROM nodes n JOIN l0 ON n.node = l0.node
      LEFT JOIN w1 ON n.node = w1.node
    ),
    w2 AS ({_LP_WINNER_SQL.format(prev='l1')}),
    l2 AS (
      SELECT n.node, coalesce(w2.new_label, l1.label) AS label
      FROM nodes n JOIN l1 ON n.node = l1.node
      LEFT JOIN w2 ON n.node = w2.node
    )
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
    FROM l2 GROUP BY label
    """,
)
def label_prop_communities(spark, sf_dir):
    """Determinized synchronous label propagation (functions/graph.py
    ``label_propagation``) on the parts-bought-together graph (parts
    co-occurring in an order, both directions): 2 rounds, frequency ties
    broken by smallest label so the run is a pure function of the edge
    list.  Emits community sizes.  Value-checked against the unrolled
    2-round oracle — the arg-max per node replays as a
    (count DESC, label ASC) row_number in SQL, matching max_by over the
    (cnt, -label) struct exactly."""
    from .functions.graph import label_propagation

    l = load_table(spark, sf_dir, "lineitem")
    op = l.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()  # dedup BEFORE the self-join: identical DISTINCT pairs,
    # strictly less fan-out (same PPJoin-style discipline as the dedup family)
    a = op.select("ok", F.col("p").alias("p1"))
    b = op.select("ok", F.col("p").alias("p2"))
    # The co-occurrence relation is symmetric: build only the p1 < p2
    # half, distinct it, then mirror each surviving pair with one
    # explode (optimization r15, guide §2.3 — shuffle fewer bytes).
    # Halves the self-join output AND the rows into the (src, dst)
    # distinct exchange — the query's dominant, edge-sized shuffle; the
    # explode is narrow (no second pass over the distinct, which a
    # self-union of the half WOULD pay), and the two directions of a
    # p1 < p2 pair are distinct rows (no self-loops), so the edge SET
    # is identical to the old p1 != p2 + distinct form.
    half = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )
    edges = half.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # the EDGE BUILD (pair self-join + distinct) is input-sized — run it
    # at the session's full parallelism and materialize; only the
    # node-sized propagation rounds get the scoped shuffle
    edges = edges.cache()
    edges.count()
    with scoped_shuffle_partitions(spark, GRAPH_SHUFFLE_PARTS):
        labels = label_propagation(edges, iters=2)
    # lazy return so the plan linter sees the propagation plan; the
    # edge-cache session pin is reclaimed by the bench's between-query
    # CacheManager clear (bench.py force_gc)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )


@register(
    "window_rank_family",
    """
    WITH o AS (
      SELECT o_orderpriority AS priority, o_orderkey, o_totalprice
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    )
    SELECT priority, o_orderkey,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(round(percent_rank() OVER w, 8) AS DOUBLE) AS prank,
           CAST(round(cume_dist() OVER w, 8) AS DOUBLE) AS cdist,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           CAST(first_value(o_orderkey) OVER w AS BIGINT) AS first_key,
           CAST(nth_value(o_orderkey, 3) OVER
                (PARTITION BY priority ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS third_key
    FROM o
    WINDOW w AS (PARTITION BY priority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_rank_family(spark, sf_dir):
    """The remaining rank-family window functions in one pass: rank /
    dense_rank / percent_rank / cume_dist / ntile / first_value /
    nth_value, all over a single (priority × price) sort — Catalyst
    plans ONE Window node because every function shares the same
    partitioning and ordering (the (price, orderkey) tie-break makes
    each deterministic).  percent_rank/cume_dist are exact rationals of
    row positions, so the rounded doubles agree across engines.
    Completes the window surface alongside window_user_activity
    (row_number/lag/running sums) and topk_per_group (WindowGroupLimit);
    same 100 TB shape: one shuffle on the partition key."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).select(
        F.col("o_orderpriority").alias("priority"), "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("priority").orderBy("o_totalprice", "o_orderkey")
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "priority",
        "o_orderkey",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.round(F.percent_rank().over(w), 8).alias("prank"),
        F.round(F.cume_dist().over(w), 8).alias("cdist"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.first("o_orderkey").over(w).cast("bigint").alias("first_key"),
        F.nth_value("o_orderkey", 3).over(wrows).cast("bigint").alias(
            "third_key"
        ),
    )


@register(
    "anomaly_daily_zscore",
    """
    WITH daily AS (
      SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             sum(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY 1, 2
    ),
    win AS (
      SELECT user_id, day, v,
             CAST(count(v) OVER w AS BIGINT) AS n,
             sum(v) OVER w AS s1,
             sum(v * v) OVER w AS s2
      FROM daily
      WINDOW w AS (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, day,
           CAST(round(CAST(v AS DOUBLE), 4) AS DOUBLE) AS value,
           CAST(round(
             (CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
             / sqrt(greatest(
                 (CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                 / (CAST(n AS DOUBLE) * n), 1e-12)), 6) AS DOUBLE) AS zscore,
           abs((CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
               / sqrt(greatest(
                   (CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                   / (CAST(n AS DOUBLE) * n), 1e-12))) > 2.0 AS is_anomaly
    FROM win WHERE n >= 3
    """,
)
def anomaly_daily_zscore(spark, sf_dir):
    """Rolling z-score anomaly detection over each user's daily volume:
    a day is scored against the trailing week's mean/std (current day
    EXCLUDED from its own baseline — the standard leakage guard).  One
    shuffle on user_id; the baseline is a bounded ROWS window sharing
    the daily rollup's sort.  Determinism: the windowed Σv and Σv² are
    DECIMAL (exact under the frame's defined order), converted to double
    only for the final closed-form z — identical IEEE tree on both
    engines; the variance floor (1e-12) keeps constant baselines finite
    instead of NULL/Inf-diverging.  The monitoring-family companion to
    gapfill_user_daily and chisq_lang_source.  At 100 TB the rollup
    bounds all window work by calendar x users."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "user_id",
            F.expr("ts_us div 86400000000").alias("day"),
            F.col("value").cast("decimal(18,6)").alias("v0"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("v0").alias("v"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    win = daily.select(
        "user_id",
        "day",
        "v",
        F.count("v").over(w).cast("bigint").alias("n"),
        F.sum("v").over(w).alias("s1"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("s2"),
    ).filter(F.col("n") >= 3)
    vd = F.col("v").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    nd = F.col("n").cast("double")
    mean = s1d / F.col("n")
    std = F.sqrt(
        F.greatest(
            (s2d * F.col("n") - s1d * s1d) / (nd * F.col("n")), F.lit(1e-12)
        )
    )
    z = (vd - mean) / std
    return win.select(
        "user_id",
        "day",
        F.round(vd, 4).alias("value"),
        F.round(z, 6).alias("zscore"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


@register(
    "skew_salted_join",
    """
    WITH fact AS (
      SELECT CASE WHEN l_partkey % 50 < 35 THEN 0
                  ELSE CAST(l_partkey % 25 AS INTEGER) END AS hotkey,
             l_orderkey
      FROM lineitem
    )
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(f.l_orderkey) AS BIGINT) AS sum_okey
    FROM fact f JOIN nation n ON n.n_nationkey = f.hotkey
    GROUP BY n.n_name
    """,
)
def skew_salted_join(spark, sf_dir):
    """Skewed fact x small dim equi-join via deterministic salting
    (operators/skew.py::salted_join_skewed_fact) — the join-side twin of
    a1_salted_count_per_key. The derived key is skewed by construction
    (70% of lineitem lands on hotkey 0, the viral-feed shape); a plain
    key-equi-join would put that key's rows into ONE reducer task. The
    salted form replicates each dim row n_salt times, salts the fact
    side by hash of a high-cardinality column (never rand() — replay-
    safe), and joins on (key, salt): the hot key spreads over n_salt
    tasks. Semantically transparent — row-for-row equal to the plain
    join the oracle runs — so the aggregate value-checks exactly (BIGINT
    sums, no float order sensitivity).

    100 TB shape: dim replication costs n_salt x |dim| (25 x 16 rows
    here — negligible against any fact side); the aggregate after the
    join is map-side partial. For large-large skewed joins AQE skew
    splitting is the path instead; this operator covers the pre-AQE /
    streaming-replay case where determinism matters.
    """
    from .operators.skew import salted_join_skewed_fact

    li = load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_partkey") % 50 < 35, F.lit(0))
        .otherwise((F.col("l_partkey") % 25).cast("int"))
        .alias("hotkey"),
        "l_orderkey",
    )
    dim = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("hotkey"), "n_name"
    )
    joined = salted_join_skewed_fact(
        fact, dim, key_col="hotkey", salt_from="l_orderkey", n_salt=16
    )
    return joined.groupBy("n_name").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("l_orderkey").cast("bigint").alias("sum_okey"),
    )

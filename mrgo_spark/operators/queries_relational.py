"""Declared queries: engine-native relational surface.

The reference has NO joins, window functions, limits, set ops, or
grouping sets (SURVEY §2.5 "ABSENT" rows) — these are the operators a
user of the new engine gets natively from Spark, declared here so the
oracle gate covers them.

Cross-engine float determinism: double sums are order-dependent at
the last ulp, so every declared aggregate over doubles goes through a
fixed-point form — per-row ``round(x*100)`` to integer cents (a
deterministic function of identical parquet bytes on both engines),
then an exact integer sum, then one final division. The resulting
doubles are bit-identical regardless of partition/summation order.

Scale notes (100 TB): dimension joins (region/nation/customer/
supplier) are broadcast-eligible; fact-fact joins shuffle on join
keys with AQE skew splitting; every agg is partial (map-side) first.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import declare
from ..sources.tables import load_table
from . import mlfit, sketch


def _cents(col):
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


@declare(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
           SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT))/100.0
               AS sum_disc_price,
           SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*(1+l_tax)*100) AS BIGINT))
               /100.0 AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1(spark, sf_dir):
    """TPC-H Q1-style pricing summary (sort-agg in the reference's
    world = O6+O7; here one partial-agg shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            (F.sum(_cents("l_extendedprice")) / 100.0).alias("sum_base_price"),
            (F.sum(_cents(disc)) / 100.0).alias("sum_disc_price"),
            (F.sum(_cents(charge)) / 100.0).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@declare(
    "q3_top_revenue_orders",
    """
    SELECT o_orderkey,
           SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT))/100.0
               AS revenue,
           CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderkey, order_date, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3(spark, sf_dir):
    """TPC-H Q3-style: 3-way join + agg + deterministic top-k.

    customer is broadcast (small dim); orders⋈lineitem shuffles on
    orderkey. Tie-break on o_orderkey keeps LIMIT deterministic.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(
            (
                F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / 100.0
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "order_date", "o_orderpriority")
    )


@declare(
    "q6_forecast_revenue",
    """
    SELECT SUM(CAST(ROUND(l_extendedprice*l_discount*100) AS BIGINT))/100.0
               AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6(spark, sf_dir):
    """TPC-H Q6-style forecast revenue: pure filter + global agg —
    the pushdown showcase (all four predicates reach the parquet
    scan; only 4 columns read)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            (F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"))) / 100.0)
            .alias("revenue")
        )
    )


@declare(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4(spark, sf_dir):
    """TPC-H Q4-style order-priority check: orders in 1997Q1 with at
    least one line shipped >60 days after the order date (the fixture
    lineitem has no commit/receipt dates — late shipment is the
    equivalent correlated-EXISTS shape). Spark plans the EXISTS as a
    left-semi join on (orderkey + the date condition) — decorrelated,
    no per-row subquery."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@declare(
    "q9_nation_profit",
    """
    SELECT n_name, year(o_orderdate) AS o_year,
           SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT))/100.0
               AS profit
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_type = 'ECONOMY'
    GROUP BY 1, 2
    """,
)
def q9(spark, sf_dir):
    """TPC-H Q9-style profit by supplier nation and order year for one
    part type (fixtures have no partsupp, so profit = discounted
    revenue). part/supplier/nation broadcast; lineitem⋈orders is the
    only fact shuffle; fixed-point cents keep the double sum
    bit-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / 100.0
            ).alias("profit")
        )
    )


@declare(
    "q5_nation_revenue",
    """
    SELECT n_name,
           SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT))/100.0
               AS revenue
    FROM region
      JOIN nation   ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders   ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5(spark, sf_dir):
    """TPC-H Q5-style six-way join: local-supplier revenue per nation.

    All four dims broadcast; the only shuffles are lineitem⋈orders
    and the final agg.
    """
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n),
            (c.c_nationkey == n.n_nationkey) & (s.s_nationkey == n.n_nationkey),
        )
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            (
                F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / 100.0
            ).alias("revenue")
        )
    )


@declare(
    "join_semi_anti",
    """
    SELECT 'with_orders' AS cohort, COUNT(*) AS n_customers FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'without_orders', COUNT(*) FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_semi_anti(spark, sf_dir):
    """Semi/anti joins (EXISTS / NOT EXISTS) — absent in reference."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(
        F.count("*").alias("n_customers")
    ).select(F.lit("with_orders").alias("cohort"), "n_customers")
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count("*").alias("n_customers")
    ).select(F.lit("without_orders").alias("cohort"), "n_customers")
    return semi.unionAll(anti)


@declare(
    "window_topk_parts",
    """
    SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part
    ) WHERE rn <= 3
    """,
)
def q_topk_parts(spark, sf_dir):
    """Top-k per group via window — absent in reference (SURVEY §2.5).

    Raw parquet doubles compared directly (no arithmetic) → exact.
    """
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


@declare(
    "window_running_balance",
    """
    SELECT o_custkey, o_orderkey,
           SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING)/100.0 AS running_spend
    FROM orders
    """,
)
def q_running(spark, sf_dir):
    """Running aggregate over an ordered window (op-log-fold shaped:
    same plan as O21's state accumulation)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(_cents("o_totalprice")).over(w) / 100.0).alias("running_spend"),
    )


@declare(
    "sort_limit_top_orders",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_sort_limit(spark, sf_dir):
    """Global top-k: Spark plans TakeOrderedAndProject (no full sort)."""
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@declare(
    "setops_nations",
    """
    SELECT n_name, 'both' AS src FROM (
        SELECT DISTINCT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
        INTERSECT
        SELECT DISTINCT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
    )
    UNION ALL
    SELECT n_name, 'customer_only' FROM (
        SELECT DISTINCT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
        EXCEPT
        SELECT DISTINCT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
    )
    """,
)
def q_setops(spark, sf_dir):
    """INTERSECT / EXCEPT / UNION ALL — absent in reference."""
    n = load_table(spark, sf_dir, "nation")
    cust_n = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name")
        .distinct()
    )
    supp_n = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name")
        .distinct()
    )
    both = cust_n.intersect(supp_n).select("n_name", F.lit("both").alias("src"))
    only = cust_n.exceptAll(supp_n).select(
        "n_name", F.lit("customer_only").alias("src")
    )
    return both.unionAll(only)


@declare(
    "rollup_lineitem_status",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))/100.0 AS total_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    """ROLLUP grouping sets — absent in reference (SURVEY §2.5)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            (F.sum(_cents("l_extendedprice")) / 100.0).alias("total_price"),
        )
    )


@declare(
    "distinct_agg",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_distinct_agg(spark, sf_dir):
    """Distinct aggregation (expand + two-phase agg in Spark)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count("*").alias("n_rows"),
        )
    )


@declare(
    "pivot_order_priority",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot(spark, sf_dir):
    """Pivot (conditional aggregation under the hood)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0)
        .withColumnsRenamed({"O": "status_o", "F": "status_f", "P": "status_p"})
    )


@declare(
    "events_sessionize",
    """
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - epoch_us(
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                         > 1800000000
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    )
    SELECT user_id,
           CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (lag + flag-sum) — streaming analog is
    session_window(ts, gap); batch form declared for the oracle.

    Gap math is at MICROsecond precision on both engines
    (unix_micros / epoch_us): events.ts carries sub-second
    components, so whole-second truncation would mis-classify gaps
    within 1 s of the 30-min boundary."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    return (
        e.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


@declare(
    "range_join_errors_after_purchase",
    """
    WITH purchases AS (
        SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS s
        FROM events WHERE event_type = 'purchase'
    ),
    errors AS (
        SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'error'
    )
    SELECT p.purchase_id, p.user_id,
           CAST(COUNT(e.t) AS BIGINT) AS n_errors_1h
    FROM purchases p LEFT JOIN errors e
      ON p.user_id = e.user_id AND e.t >= p.s AND e.t <= p.s + 3600000000
    GROUP BY p.purchase_id, p.user_id
    """,
)
def q_range_join(spark, sf_dir):
    """Range/interval join via the binned equi-join reduction
    (operators/rangejoin.py) — the oracle runs the O(n·m) BETWEEN
    form this operator exists to avoid; the Spark plan contains no
    nested loop (pinned in tests/test_plans.py)."""
    from . import rangejoin

    return rangejoin.errors_within_hour_of_purchase(
        load_table(spark, sf_dir, "events")
    )


@declare(
    "events_tumbling_hour",
    """
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n,
           SUM(CAST(ROUND(value*100) AS BIGINT))/100.0 AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_tumbling(spark, sf_dir):
    """Tumbling time-window aggregate (batch form of the streaming
    windowed agg in mrgo_spark.streaming)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            (F.sum(_cents("value")) / 100.0).alias("total_value"),
        )
    )


@declare(
    "hypertable_rollup",
    """
    WITH minute AS (
        SELECT date_trunc('minute', ts) AS bucket, event_type,
               COUNT(*) AS n,
               SUM(CAST(ROUND(value*100) AS BIGINT)) AS cents
        FROM events GROUP BY 1, 2
    ),
    hour AS (
        SELECT date_trunc('hour', bucket) AS bucket, event_type,
               SUM(n) AS n, SUM(cents) AS cents
        FROM minute GROUP BY 1, 2
    ),
    day AS (
        SELECT date_trunc('day', bucket) AS bucket, event_type,
               SUM(n) AS n, SUM(cents) AS cents
        FROM hour GROUP BY 1, 2
    )
    SELECT grain, bucket, event_type,
           CAST(n AS BIGINT) AS n,
           CAST(cents AS BIGINT)/100.0 AS total_value
    FROM (
        SELECT 'minute' AS grain, * FROM minute
        UNION ALL SELECT 'hour', * FROM hour
        UNION ALL SELECT 'day', * FROM day
    )
    """,
)
def q_hypertable_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate (operators/rollup.py):
    minute grain aggregates raw events once; hour and day re-aggregate
    the previous grain's (n, cents) — sums of sums, bit-identical to
    direct aggregation, which is what the oracle computes."""
    from . import rollup

    return rollup.rollup_union(load_table(spark, sf_dir, "events"))


@declare(
    "percentiles_order_value",
    """
    SELECT o_orderpriority,
           median(o_totalprice) AS med,
           quantile_cont(o_totalprice, 0.9) AS p90,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (engine-native; the approx
    variants approx_count_distinct/percentile_approx exist but are
    not oracle-declarable). Interpolation arithmetic on identical
    sorted doubles is identical on both engines."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.median("o_totalprice").alias("med"),
        F.percentile("o_totalprice", F.lit(0.9)).alias("p90"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@declare("approx_aggregates")
def q_approx(spark, sf_dir):
    """Sketch-based aggregates (HLL distinct, quantile sketch) — the
    scale path for cardinality/quantile estimation; inherently
    approximate so rows-only declared, with exactness bounds tested
    in tests/test_relational_extra.py."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        F.count("*").alias("n_rows"),
    )


@declare(
    "kmv_distinct_parts",
    # constants interpolated from operators.sketch so the three legs
    # (Spark, oracle, tests) cannot desync (the Bloom-tuple rule)
    f"""
    WITH h AS (
        SELECT DISTINCT l_returnflag AS grp,
               CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)),
                                        1, 12)) AS BIGINT) AS h
        FROM lineitem
    ),
    r AS (
        SELECT grp, h,
               row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        FROM h
    ),
    kept AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(max(h) AS BIGINT) AS kth_min
        FROM r WHERE rn <= {sketch.KMV_K} GROUP BY grp
    ),
    ex AS (
        SELECT l_returnflag AS grp,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
        FROM lineitem GROUP BY 1
    )
    SELECT k.grp, k.n_kept, k.kth_min,
           CAST(CASE WHEN k.n_kept < {sketch.KMV_K} THEN k.n_kept
                     ELSE {(sketch.KMV_K - 1) * sketch.KMV_SPACE}
                          // greatest(k.kth_min, 1) END AS BIGINT)
             AS kmv_estimate,
           ex.exact_distinct
    FROM kept k JOIN ex USING (grp)
    """,
)
def q_kmv_distinct(spark, sf_dir):
    """The VERIFIABLE twin of approx_aggregates' HLL column: KMV
    (k-minimum-values) distinct-part sketch per return flag — same
    question as approx_parts, but every intermediate (48-bit md5
    hash, k-th order statistic, integer-division estimator) is a
    deterministic integer that replays bit-for-bit in DuckDB
    (17732923532771328 = (k-1)*2^48 at k=64). exact_distinct rides
    along so the driver row itself documents the estimation error.
    Merge story: sketch union = k smallest of combined hash sets
    (sketch.kmv_merge), the mergeability HLL has, verifiably."""
    li = load_table(spark, sf_dir, "lineitem")
    sk = sketch.kmv_distinct(li, "l_returnflag", "l_partkey")
    ex = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_distinct")
    )
    return sk.join(ex, "grp")


@declare(
    "hll_distinct_parts",
    # every constant interpolates from operators.sketch (HLL_M=64
    # registers, RHO_MAX=43, alpha_64 = 461632/650790 exact rational)
    f"""
    WITH h AS (
        SELECT l_returnflag AS grp,
               CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)),
                                        1, 12)) AS BIGINT) AS h
        FROM lineitem
    ),
    r AS (
        SELECT grp, h % {sketch.HLL_M} AS j,
               CASE WHEN h // {sketch.HLL_M} = 0 THEN {sketch.HLL_RHO_MAX}
                    ELSE {sketch.HLL_RHO_MAX}
                         - length(bin(h // {sketch.HLL_M}))
               END AS rho
        FROM h
    ),
    m AS (
        SELECT grp, j, CAST(max(rho) AS BIGINT) AS m_j FROM r GROUP BY 1, 2
    ),
    s AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n_regs_hit,
               CAST(sum(1::BIGINT << ({sketch.HLL_RHO_MAX} - m_j))
                    + ({sketch.HLL_M} - count(*))
                      * (1::BIGINT << {sketch.HLL_RHO_MAX})
                    AS BIGINT) AS s_sum
        FROM m GROUP BY grp
    ),
    ex AS (
        SELECT l_returnflag AS grp,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
        FROM lineitem GROUP BY 1
    )
    SELECT s.grp, s.n_regs_hit, s.s_sum,
           CAST(({sketch.HLL_ALPHA_NUM}
                 * (({sketch.HLL_M * sketch.HLL_M}
                     * (1::BIGINT << {sketch.HLL_RHO_MAX})) // s_sum))
                // {sketch.HLL_ALPHA_DEN} AS BIGINT) AS hll_estimate,
           ex.exact_distinct
    FROM s JOIN ex USING (grp)
    """,
)
def q_hll_distinct(spark, sf_dir):
    """HyperLogLog, verifiably — completes the portable-sketch
    trio (KMV cardinality, CMS frequency, bucketed quantiles) with
    THE canonical cardinality sketch: 64 registers off the 48-bit md5
    hash, rho as exact integer bit-length (length(bin(w)) — the zipf
    trick), harmonic-mean estimate with alpha_64 as the exact
    rational 7213·64/(10000·64+10790), every intermediate a
    replayable integer. Registers merge by per-(grp,j) MAX (merge law
    tested); unlike KMV no pre-DISTINCT shuffle is needed — max is
    idempotent over raw rows. exact_distinct rides along so the
    driver row documents the estimation error (~13% at m=64).
    Small-range linear counting needs ln() (not hash-portable);
    n_regs_hit lets callers apply it float-side."""
    li = load_table(spark, sf_dir, "lineitem")
    sk = sketch.hll_distinct(li, "l_returnflag", "l_partkey")
    ex = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_distinct")
    )
    return sk.join(ex, "grp")


@declare(
    "linreg_discount_quantity",
    """
    WITH pts AS (
        SELECT l_returnflag AS grp,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(round(l_discount * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    s AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM pts GROUP BY grp
    )
    SELECT grp, n,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CAST(sy * sxx - sx * sxy AS BIGINT) AS intercept_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS intercept_den,
           CAST(CASE WHEN n * sxx - sx * sx <> 0
                     THEN (1000000 * (n * sxy - sx * sy))
                          // (n * sxx - sx * sx)
                END AS BIGINT) AS slope_micro
    FROM s
    """,
)
def q_linreg_discount_quantity(spark, sf_dir):
    """Closed-form distributed model fit (r5, mlfit.linreg_fit_exact):
    per-return-flag OLS of discount-cents on quantity via exact
    integer normal equations — the fit IS an aggregate (one partial
    shuffle, no iteration, no collect) and the slope/intercept
    fractions replay bit-for-bit in the oracle. The ML class beyond
    clustering (kmeans) and ranking (pagerank): supervised fitting,
    hash-exact. Magnitudes (qty <= 50, cents <= 10) keep every
    Cramer term inside int64 through SF 100."""
    li = load_table(spark, sf_dir, "lineitem")
    return mlfit.linreg_fit_exact(
        li,
        "l_returnflag",
        F.col("l_quantity"),
        F.round(F.col("l_discount") * 100),
    )


_CORR_COLS = ["qty", "disc", "tax", "sday"]


def _corr_oracle_sql() -> str:
    cols = _CORR_COLS
    sums = ", ".join(f"CAST(sum({c}) AS BIGINT) AS s_{c}" for c in cols)
    prods = ", ".join(
        f"CAST(sum({a} * {b}) AS BIGINT) AS p_{a}_{b}"
        for i, a in enumerate(cols)
        for b in cols[i:]
    )
    selects = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            selects.append(
                f"""SELECT grp, '{a}' AS x_col, '{b}' AS y_col, n,
           CAST(n * p_{a}_{b} - s_{a} * s_{b} AS BIGINT) AS corr_num,
           CAST(n * p_{a}_{a} - s_{a} * s_{a} AS BIGINT) AS varx_num,
           CAST(n * p_{b}_{b} - s_{b} * s_{b} AS BIGINT) AS vary_num
    FROM s"""
            )
    body = "\n    UNION ALL\n    ".join(selects)
    return f"""
    WITH pts AS (
        SELECT l_returnflag AS grp,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(round(l_discount * 100) AS BIGINT) AS disc,
               CAST(round(l_tax * 100) AS BIGINT) AS tax,
               CAST(datepart('day', l_shipdate) AS BIGINT) AS sday
        FROM lineitem),
    s AS MATERIALIZED (
        SELECT grp, CAST(count(*) AS BIGINT) AS n, {sums}, {prods}
        FROM pts GROUP BY grp)
    {body}
    """


@declare("corr_matrix_lineitem", _corr_oracle_sql())
def q_corr_matrix_lineitem(spark, sf_dir):
    """Exact per-group correlation matrix (r5, mlfit.corr_pairs_exact):
    all 6 column pairs of (quantity, discount-cents, tax-cents,
    ship-day) per return flag, as integer Cramer fractions — ONE
    partial-agg pass computes every sum/product, the pair rows unpivot
    from the aggregate row (explode, not a 6-way UNION re-scan), and
    Pearson r = corr_num / sqrt(varx·vary) is derived outside the
    hash surface (sqrt is libm). Magnitudes (≤50·31) keep n²·|x||y|
    inside int64 through per-group n ≈ 7·10⁷ (~SF 30; group finer
    beyond)."""
    li = load_table(spark, sf_dir, "lineitem")
    return mlfit.corr_pairs_exact(
        li,
        "l_returnflag",
        {
            "qty": F.col("l_quantity"),
            "disc": F.round(F.col("l_discount") * 100),
            "tax": F.round(F.col("l_tax") * 100),
            "sday": F.dayofmonth(F.col("l_shipdate")),
        },
    )


@declare(
    "auc_price_returnflag",
    """
    WITH pts AS (
        SELECT l_linestatus AS grp,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS score,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        FROM lineitem),
    sb AS (
        SELECT grp, score,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(pos) AS BIGINT) AS pos
        FROM pts GROUP BY grp, score),
    w AS (
        SELECT grp, cnt, pos,
               sum(cnt) OVER (PARTITION BY grp ORDER BY score
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - cnt AS cum_below
        FROM sb),
    g AS (
        SELECT grp,
               CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS np,
               CAST(sum(pos * (2 * cum_below + cnt + 1)) AS BIGINT) AS rs2
        FROM w GROUP BY grp)
    SELECT grp, n, np AS n_pos,
           CAST(rs2 - np * (np + 1) AS BIGINT) AS auc_num,
           CAST(2 * np * (n - np) AS BIGINT) AS auc_den,
           CAST(CASE WHEN np > 0 AND n > np
                     THEN (1000000 * (rs2 - np * (np + 1)))
                          // (2 * np * (n - np))
                END AS BIGINT) AS auc_micro
    FROM g
    """,
)
def q_auc_price_returnflag(spark, sf_dir):
    """Exact tie-aware ROC AUC (r5, mlfit.auc_exact): does price
    predict returns, per linestatus — the Mann-Whitney rank-sum form
    with average ranks, entirely in integers, so the model-evaluation
    metric itself is hash-exact (the ML-EVAL class next to fitting:
    linreg/kmeans fit, AUC evaluates). Shape: score-bucket agg →
    per-group ordered cumsum over |distinct scores| rows (domain-
    sized, not corpus-sized) → one final agg; `div` floors a
    non-negative numerator so Spark div == DuckDB //."""
    li = load_table(spark, sf_dir, "lineitem")
    return mlfit.auc_exact(
        li,
        "l_linestatus",
        F.round(F.col("l_extendedprice") * 100),
        (F.col("l_returnflag") == "R").cast("int"),
    )


@declare(
    "triangle_copurchase_top",
    """
    WITH e AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pairs AS MATERIALIZED (
        SELECT DISTINCT a.p AS p1, b.p AS p2
        FROM e a JOIN e b ON a.o = b.o AND a.p < b.p),
    tri AS (
        SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.p1 = e1.p2
        JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
    corners AS (SELECT unnest([a, b, c]) AS node FROM tri)
    SELECT CAST(node AS BIGINT) AS node,
           CAST(count(*) AS BIGINT) AS tri_cnt
    FROM corners GROUP BY node
    ORDER BY tri_cnt DESC, node LIMIT 20
    """,
)
def q_triangle_copurchase_top(spark, sf_dir):
    """Triangle counting — the third member of the graph family
    (PageRank ranks, CC clusters, triangles measure cohesion):
    per-part triangle participation in the co-purchase graph, served
    by the DEGREE-ORDERED wedge join
    (graph.triangle_counts_degree_ordered — each edge oriented
    lower-degree → higher-degree endpoint, bounding wedge fan-out by
    O(sqrt|E|) under skew; output identical to the canonical a<b<c
    form it is parity-tested against, so the oracle is unchanged).
    Corners credited by explode-once (a 3-way UNION would re-run the
    whole join per branch). Top 20 by (tri_cnt DESC, node) —
    deterministic."""
    from . import graph

    li = load_table(spark, sf_dir, "lineitem")
    return graph.triangle_counts_degree_ordered(
        graph.coorder_part_edges(li), top=20
    )


@declare(
    "grouping_sets_status",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond rollup/cube): one pass, two
    grouping combinations."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_gs_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@declare(
    "q17_small_quantity_revenue",
    """
    WITH part_avg AS (
        SELECT l_partkey AS pk,
               SUM(CAST(l_quantity AS BIGINT)) * 1.0 / COUNT(*) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT p_brand,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           COUNT(*) AS n_small
    FROM lineitem JOIN part ON p_partkey = l_partkey
                  JOIN part_avg ON pk = l_partkey
    WHERE l_quantity < 0.5 * avg_qty
    GROUP BY p_brand
    """,
)
def q17(spark, sf_dir):
    """TPC-H Q17-style correlated threshold: lineitems below half
    their part's average quantity. The correlated scalar subquery is
    decorrelated into a per-part aggregate + join — the plan Catalyst
    produces for the subquery form too. avg_qty = exact-int sum /
    count → identical doubles both sides."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(F.col("l_quantity").cast("bigint")) * 1.0 / F.count("*")
        ).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy("p_brand")
        .agg(
            F.sum(_cents("l_extendedprice")).alias("revenue_cents"),
            F.count("*").alias("n_small"),
        )
    )


@declare(
    "window_battery",
    """
    SELECT o_orderkey, o_custkey,
           dense_rank() OVER w AS drnk,
           lag(o_orderkey) OVER w AS prev_ok,
           lead(o_orderkey) OVER w AS next_ok,
           first_value(o_orderkey) OVER w AS first_ok,
           last_value(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_ok,
           ntile(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_battery(spark, sf_dir):
    """Window-function battery: dense_rank/lag/lead/first/last/ntile
    over a deterministic (o_orderdate, o_orderkey) order."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.dense_rank().over(w).alias("drnk"),
        F.lag("o_orderkey").over(w).alias("prev_ok"),
        F.lead("o_orderkey").over(w).alias("next_ok"),
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w_full).alias("last_ok"),
        F.ntile(4).over(w).alias("quartile"),
    )


@declare(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT))/100.0
               AS revenue,
           c_acctbal, n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10(spark, sf_dir):
    """TPC-H Q10-style returned-item losses per customer: fact-fact
    join on orderkey + two broadcast dims (customer, nation),
    deterministic top-20."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            (
                F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / 100.0
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@declare(
    "q14_promo_revenue",
    """
    SELECT 100.0
           * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)
                 ELSE 0 END) AS BIGINT)
           / CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT))
                  AS BIGINT) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q14(spark, sf_dir):
    """TPC-H Q14-style promo revenue share. part is the broadcast
    side; the month filter reaches the lineitem scan. Both sums are
    exact integer cents, so the single final double division is
    IEEE-identical across engines."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    disc_cents = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc_cents).otherwise(0))
                / F.sum(disc_cents)
            ).alias("promo_revenue_pct")
        )
    )


@declare(
    "q15_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT))/100.0
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15(spark, sf_dir):
    """TPC-H Q15-style top supplier: revenue view + scalar-subquery
    max, expressed as an aggregate cross-joined back (broadcast 1-row
    side) — no driver-side collect in the declared plan."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        (F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0)
        .alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx._mx)
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@declare(
    "q18_large_volume_customers",
    """
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
    )
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date, o_totalprice, qty
    FROM big JOIN orders ON o_orderkey = l_orderkey
             JOIN customer ON c_custkey = o_custkey
    """,
)
def q18(spark, sf_dir):
    """TPC-H Q18-style large-volume orders: HAVING over a fact agg,
    then joins back to orders/customer. The agg output (orders above
    threshold) is tiny, so BOTH joins broadcast the filtered agg —
    no second fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
        .filter(F.col("qty") > 250)
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice",
            "qty",
        )
    )


@declare(
    "q19_brand_quantity_revenue",
    """
    SELECT SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT))/100.0
               AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19(spark, sf_dir):
    """TPC-H Q19-style OR-of-ANDs predicate join: the disjunction
    references both sides, so it stays a join FILTER over the
    broadcast hash join on partkey (not a nested loop) — the shape
    Catalyst picks when the equi-key is extractable."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & sz.between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#21") & sz.between(1, 35) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            (F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0)
            .alias("revenue")
        )
    )


@declare(
    "q22_idle_customers",
    """
    WITH thr AS (
        SELECT CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS BIGINT)
               / 100.0 / COUNT(*) AS avg_bal
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS BIGINT)/100.0
               AS totacctbal
    FROM customer, thr
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY c_nationkey
    """,
)
def q22(spark, sf_dir):
    """TPC-H Q22-style: customers with above-average balance and no
    recent orders (none since 2001). The average is a 1-row
    aggregate cross-joined (broadcast)
    — fixed-point so the threshold is bit-identical — and the
    no-orders test is a left-anti join (never a correlated probe per
    row). At scale the anti join shuffles on custkey; orders is
    projected to the single join column first."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2001-01-01")
        .select("o_custkey")
    )
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_cents("c_acctbal")) / 100.0 / F.count("*")).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            (F.sum(_cents("c_acctbal")) / 100.0).alias("totacctbal"),
        )
    )


@declare(
    "q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT))/100.0
               AS revenue
    FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                  JOIN orders ON o_orderkey = l_orderkey
                  JOIN customer ON c_custkey = o_custkey
                  JOIN nation n1 ON n1.n_nationkey = s_nationkey
                  JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7(spark, sf_dir):
    """TPC-H Q7-style bilateral shipping volume: one fact-fact shuffle
    (lineitem⋈orders on orderkey); supplier/customer/nation are
    broadcast; the nation-pair disjunction is a post-join filter on
    broadcast columns."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            (F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0)
            .alias("revenue")
        )
    )


@declare(
    "lateral_latest_order",
    """
    SELECT c.c_custkey, c.c_name,
           l.o_orderkey AS latest_order,
           CAST(l.o_orderdate AS DATE) AS latest_date
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_orderdate FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_orderdate DESC, o_orderkey LIMIT 1) l
    """,
)
def q_lateral_latest_order(spark, sf_dir):
    """Correlated LATERAL (CROSS APPLY) top-1-per-group: Catalyst
    decorrelates it into a WindowGroupLimit + one equi-join — no
    per-row re-execution of the subquery at any scale (plan asserted
    in tests/test_plans.py). Same answer shape as the as-of/window
    forms, exercised through the lateral-subquery path."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "mrgo_lat_customer"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("mrgo_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name,
               l.o_orderkey AS latest_order,
               CAST(l.o_orderdate AS DATE) AS latest_date
        FROM mrgo_lat_customer c,
        LATERAL (SELECT o_orderkey, o_orderdate FROM mrgo_lat_orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_orderdate DESC, o_orderkey LIMIT 1) l
        """
    )


# --- TPC-H completion set (q2/q8/q11/q12/q13/q16/q20/q21 variants) ---
# The fixtures have no partsupp / commitdate / comment columns, so
# each variant keeps the ORIGINAL query's operator shape (correlated
# MIN, market-share ratio, HAVING vs global aggregate, CASE counts,
# left-outer distribution, NOT-IN + COUNT DISTINCT, nested two-level
# agg, EXISTS + NOT-EXISTS) re-targeted at the columns that exist —
# lineitem doubles as the supply relation, shipment lateness as the
# commit/receipt lateness.


@declare(
    "q2_min_cost_supplier",
    """
    WITH eu_supply AS (
        SELECT l_partkey, l_suppkey, l_extendedprice AS cost,
               s_name, s_acctbal, n_name
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                      JOIN nation   ON n_nationkey = s_nationkey
                      JOIN region   ON r_regionkey = n_regionkey
        WHERE r_name = 'EUROPE'
    ),
    mincost AS (
        SELECT l_partkey AS mk, MIN(cost) AS min_cost
        FROM eu_supply GROUP BY l_partkey
    )
    SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, min_cost AS cost
    FROM part JOIN eu_supply ON l_partkey = p_partkey
              JOIN mincost   ON mk = p_partkey AND cost = min_cost
    WHERE p_size = 15
    """,
)
def q2(spark, sf_dir):
    """TPC-H Q2-style min-cost supplier: for each size-15 part, the
    EUROPE supplier(s) observed at the minimum price (lineitem is the
    supply relation — fixtures have no partsupp). The correlated
    `cost = (SELECT MIN ...)` is decorrelated the way Catalyst would:
    one partial agg per partkey over the region-filtered supply, then
    an equi-join back on (partkey, price). MIN over doubles is an
    element of the input (no accumulation), so it is bit-stable
    cross-engine. supplier/nation/region broadcast; the min-per-part
    agg output is ~|part| rows and broadcast back — lineitem is
    scanned once and shuffled once (the groupBy)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    eu = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "l_partkey",
            F.col("l_extendedprice").alias("cost"),
            "s_name",
            "s_acctbal",
            "n_name",
        )
    )
    mincost = eu.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        eu.join(
            F.broadcast(mincost),
            (eu.l_partkey == mincost.mk) & (eu.cost == mincost.min_cost),
        )
        .join(F.broadcast(p), eu.l_partkey == p.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            F.col("min_cost").alias("cost"),
        )
        .distinct()
    )


@declare(
    "q8_market_share",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CASE WHEN n1.n_name = 'NATION_2'
                    THEN CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)
                    ELSE 0 END) AS BIGINT)
           / CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT))
                  AS BIGINT) AS mkt_share
    FROM lineitem JOIN orders   ON o_orderkey = l_orderkey
                  JOIN customer ON c_custkey = o_custkey
                  JOIN nation n2 ON n2.n_nationkey = c_nationkey
                  JOIN region   ON r_regionkey = n2.n_regionkey
                  JOIN supplier ON s_suppkey = l_suppkey
                  JOIN nation n1 ON n1.n_nationkey = s_nationkey
                  JOIN part     ON p_partkey = l_partkey
    WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    GROUP BY o_year
    """,
)
def q8(spark, sf_dir):
    """TPC-H Q8-style national market share: NATION_2's fraction of
    ECONOMY-part revenue delivered into ASIA customers, per order
    year. Both the numerator (CASE-guarded) and denominator are exact
    integer cent sums; the share is ONE final bigint/bigint double
    division — bit-identical regardless of partition order. One
    fact-fact shuffle (lineitem⋈orders); every dimension broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rk")
    )
    cents = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    nat = F.when(F.col("supp_nation") == "NATION_2", cents).otherwise(F.lit(0))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg((F.sum(nat) / F.sum(cents)).alias("mkt_share"))
    )


@declare(
    "q11_important_parts",
    """
    WITH val AS (
        SELECT l_partkey,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
                   AS v_cents
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        WHERE s_nationkey = 3
        GROUP BY l_partkey
    ),
    tot AS (
        SELECT CAST(SUM(v_cents) AS BIGINT) AS t_cents FROM val
    )
    SELECT l_partkey, v_cents/100.0 AS part_value
    FROM val, tot
    WHERE CAST(v_cents AS DOUBLE) > CAST(t_cents AS DOUBLE) * 0.001
    """,
)
def q11(spark, sf_dir):
    """TPC-H Q11-style important stock: parts whose NATION_3-supplied
    value exceeds 0.1% of that nation's total (lineitem value stands
    in for partsupp). The global total is re-aggregated from the
    per-part agg (no second fact scan) and cross-joined as a 1-row
    broadcast; the threshold compare is double-on-exact-bigints, so
    it is deterministic. One fact shuffle (groupBy partkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 3)
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(_cents("l_extendedprice")).alias("v_cents"))
    )
    tot = val.agg(F.sum("v_cents").alias("t_cents"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(
            F.col("v_cents").cast("double") > F.col("t_cents").cast("double") * 0.001
        )
        .select("l_partkey", (F.col("v_cents") / 100.0).alias("part_value"))
    )


@declare(
    "q12_priority_shipping",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def q12(spark, sf_dir):
    """TPC-H Q12-style shipping-priority counts: 1997 lines shipped
    >30 days after order placement (the fixture's lateness analog of
    commit/receipt), split into high/low priority CASE counts per
    return flag (the shipmode analog). The date filters push to the
    lineitem scan; one fact-fact shuffle; CASE counts are map-side
    partial sums."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


@declare(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13(spark, sf_dir):
    """TPC-H Q13-style order-count distribution: customers left-outer
    joined to their non-LOW-priority orders (the comment-pattern
    exclusion analog), counted per customer, then the histogram of
    those counts. COUNT(o_orderkey) counts only matched rows — the
    outer-join-then-count-child-key idiom. Two shuffles total
    (join+agg share the custkey partitioning; the second agg is over
    at most |distinct counts| rows)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("bigint").alias("custdist")
    )


@declare(
    "q16_supplier_part_count",
    """
    SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
               AS supplier_cnt
    FROM part JOIN lineitem ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#12'
      AND p_size IN (1, 5, 15, 25, 35, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
)
def q16(spark, sf_dir):
    """TPC-H Q16-style supplier diversity per part attribute:
    distinct suppliers observed shipping each (brand, size) bucket,
    excluding complained-about suppliers (negative balance — the
    comment-LIKE analog) via NOT IN → left-anti broadcast join.
    COUNT(DISTINCT) expands to a two-phase partial-distinct agg
    (dedup on (brand,size,suppkey) map-side, then count) — no
    single-point collect of the distinct set."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#12")
        & F.col("p_size").isin(1, 5, 15, 25, 35, 45)
    )
    li = load_table(spark, sf_dir, "lineitem")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@declare(
    "q20_part_promotion",
    """
    WITH shipped AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sup_q
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_partkey, l_suppkey
    ),
    tot AS (
        SELECT l_partkey AS tp, CAST(SUM(sup_q) AS BIGINT) AS total_q
        FROM shipped GROUP BY l_partkey
    )
    SELECT DISTINCT s_name, n_name
    FROM shipped JOIN tot ON tp = l_partkey
                 JOIN part ON p_partkey = l_partkey
                 JOIN supplier ON s_suppkey = l_suppkey
                 JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE 'small%'
      AND CAST(sup_q AS DOUBLE) > 0.5 * CAST(total_q AS DOUBLE)
    """,
)
def q20(spark, sf_dir):
    """TPC-H Q20-style dominant suppliers: suppliers shipping more
    than half of a 'small%' part's 1997 volume (availqty>0.5*sum
    analog — fixtures have no partsupp). Two-level nested agg: ONE
    fact scan aggregated at (part,supplier) grain, then the per-part
    total as a window SUM over that already-reduced output — a
    join-back formulation re-expands the fact subplan into a second
    scan (measured), whereas the window reuses the ~|part×supplier|
    agg rows. Fixed-point quantity cents keep the double threshold
    deterministic."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_cents("l_quantity")).alias("sup_q")
    )
    w = Window.partitionBy("l_partkey")
    return (
        shipped.withColumn("total_q", F.sum("sup_q").over(w))
        .filter(
            F.col("sup_q").cast("double") > 0.5 * F.col("total_q").cast("double")
        )
        .join(F.broadcast(p), shipped.l_partkey == p.p_partkey)
        .join(F.broadcast(s), shipped.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name")
        .distinct()
    )


@declare(
    "q21_waiting_suppliers",
    """
    WITH late AS (
        SELECT l_orderkey AS lo, l_suppkey AS ls
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F'
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late JOIN supplier ON s_suppkey = ls
              JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name = 'NATION_1'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = lo AND l2.l_suppkey <> ls)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.lo = late.lo AND l3.ls <> late.ls)
    GROUP BY s_name
    """,
)
def q21(spark, sf_dir):
    """TPC-H Q21-style suppliers who kept orders waiting: NATION_1
    suppliers with a late line (shipped >60d after order, status F)
    on a multi-supplier order where NO other supplier was late —
    i.e. solely responsible. The EXISTS becomes a left-semi and the
    NOT EXISTS a left-anti, both equi-keyed on orderkey with the
    supplier-inequality as a join residual — decorrelated, shuffle
    on orderkey only. The nation filter is applied before the
    semi/anti joins (smaller probe side; the oracle's WHERE is
    commutative with them)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    late = (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        )
        .select(F.col("l_orderkey").alias("lo"), F.col("l_suppkey").alias("ls"))
    )
    l1 = (
        late.join(F.broadcast(s), late.ls == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("lo", "ls", "s_name")
    )
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = late.select(F.col("lo").alias("o3"), F.col("ls").alias("s3")).distinct()
    return (
        l1.join(l2, (l1.lo == l2.o2) & (l1.ls != l2.s2), "left_semi")
        .join(l3, (F.col("lo") == l3.o3) & (F.col("ls") != l3.s3), "left_anti")
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
    )


def _pagerank_oracle_sql(iters: int = 3, top: int = 100) -> str:
    """Unrolled replay of the exact integer PageRank fold. All state
    is non-negative, so DuckDB's truncating ``//`` equals floor here
    (unlike the kmeans oracle, which needs the positive-mod form).
    Multiply-read CTEs are MATERIALIZED (inline-expansion hazard)."""
    scale, damp = 10**12, 85
    parts = [
        f"""WITH e0 AS (SELECT DISTINCT l_orderkey * 2 AS src,
                            l_partkey * 2 + 1 AS dst FROM lineitem),
    edges AS MATERIALIZED (SELECT src, dst FROM e0
                           UNION ALL SELECT dst, src FROM e0),
    deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg
                         FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS MATERIALIZED (SELECT node,
                               CAST({scale} // n AS BIGINT) AS rank_fx
                        FROM deg, nn)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""c{i} AS (
        SELECT e.dst AS node,
               CAST(sum(r.rank_fx // d.deg) AS BIGINT) AS inbox
        FROM r{i - 1} r JOIN deg d USING (node)
        JOIN edges e ON e.src = r.node
        GROUP BY e.dst),
    r{i} AS MATERIALIZED (
        SELECT c.node,
               CAST((15 * ({scale} // nn.n)) // 100
                    + ({damp} * c.inbox) // 100 AS BIGINT) AS rank_fx
        FROM c{i} c, nn)"""
        )
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT node, rank_fx FROM r{iters}
    ORDER BY rank_fx DESC, node LIMIT {top}
    """
    )


@declare("pagerank_order_part", _pagerank_oracle_sql())
def q_pagerank_order_part(spark, sf_dir):
    """Extension: fixed-point PageRank over the order–part bipartite
    graph — an iterative Pregel-shaped fold whose ENTIRE 3-iteration
    run the DuckDB oracle replays exactly (integer mass, floor-only
    arithmetic; see operators/graph.py). Third leg: Python replay in
    tests/test_graph.py."""
    from . import graph

    return graph.pagerank(
        graph.bipartite_edges(load_table(spark, sf_dir, "lineitem"))
    )


@declare(
    "lineitem_zorder_audit",
    """
    WITH z AS (
      SELECT CAST(list_sum([
               ((l_partkey >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
               + ((l_suppkey >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))
               for i in generate_series(0, 30)]) AS BIGINT) AS zv,
             l_partkey, l_suppkey
      FROM lineitem)
    SELECT (zv >> 16) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_partkey) AS BIGINT) AS c1_min,
           CAST(max(l_partkey) AS BIGINT) AS c1_max,
           CAST(min(l_suppkey) AS BIGINT) AS c2_min,
           CAST(max(l_suppkey) AS BIGINT) AS c2_max
    FROM z GROUP BY 1
    """,
)
def q_lineitem_zorder_audit(spark, sf_dir):
    """Layout extension: Z-order (Morton) clustering audit over
    lineitem's (l_partkey, l_suppkey) — the OPTIMIZE ZORDER analog.
    Buckets rows by the Z key's high bits (what range-partitioned
    file boundaries would see) and reports per-bucket extents in BOTH
    dimensions; bounded extents are what make either-column range
    scans prune files at 100 TB. Pure codegen'd bit arithmetic +
    one partially-aggregated groupBy — rows never shuffle."""
    from .layout import zorder_audit

    li = load_table(spark, sf_dir, "lineitem")
    return zorder_audit(li, "l_partkey", "l_suppkey")


@declare(
    "quantile_sketch_orders",
    """
    WITH pts AS (
        SELECT o_orderpriority AS grp,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v
        FROM orders),
    cells AS (
        SELECT grp, v // 1000000 AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM pts GROUP BY 1, 2),
    cum AS (
        SELECT grp, bucket, cnt,
               sum(cnt) OVER (PARTITION BY grp ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
        FROM cells),
    tot AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n
            FROM cells GROUP BY 1),
    tgt AS (
        SELECT grp, n, q,
               CAST((q * n + 99) // 100 AS BIGINT) AS rank_target
        FROM tot, (SELECT unnest([25, 50, 90, 99]) AS q) qs),
    hit AS (
        SELECT t.grp, t.q, t.n, t.rank_target,
               min(c.bucket) AS bucket
        FROM tgt t JOIN cum c
          ON c.grp = t.grp AND c.cum >= t.rank_target
        GROUP BY 1, 2, 3, 4)
    SELECT grp, CAST(q AS BIGINT) AS q, n, rank_target,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(bucket * 1000000 AS BIGINT) AS est_lo
    FROM hit
    """,
)
def q_quantile_sketch_orders(spark, sf_dir):
    """Mergeable bucketed-quantile sketch (r5,
    sketch.bucket_quantile_sketch): P25/P50/P90/P99 of order value
    per priority from $10k-wide bucket counts — the deterministic,
    oracle-checkable twin of approx_percentile completing the
    portable-sketch family (KMV=distinct, CMS=frequency, this=
    quantiles). Cells merge by addition (merge-law test); estimate
    error < one bucket width by construction; every number in the
    row is an integer the oracle replays."""
    orders = load_table(spark, sf_dir, "orders")
    return sketch.bucket_quantile_sketch(
        orders,
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100),
        width=1_000_000,
        qs=(25, 50, 90, 99),
    )


@declare(
    "pr_at_price_thresholds",
    """
    WITH pts AS (
        SELECT l_linestatus AS grp,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS score,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        FROM lineitem),
    sb AS (
        SELECT grp, score,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(pos) AS BIGINT) AS pos
        FROM pts GROUP BY 1, 2),
    np AS (SELECT grp, CAST(sum(pos) AS BIGINT) AS n_pos
           FROM sb GROUP BY 1),
    fan AS (
        SELECT sb.grp, sb.score, sb.cnt, sb.pos, t.t
        FROM sb, (SELECT unnest([1000000, 2000000, 3000000, 4000000,
                                 5000000, 6000000, 7000000, 8000000,
                                 9000000, 10000000]) AS t) t),
    g AS (
        SELECT grp, t,
               CAST(sum(CASE WHEN score >= t THEN pos ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(sum(CASE WHEN score >= t THEN cnt - pos ELSE 0 END)
                    AS BIGINT) AS fp
        FROM fan GROUP BY 1, 2)
    SELECT g.grp, CAST(g.t AS BIGINT) AS t, g.tp, g.fp, np.n_pos,
           CAST(CASE WHEN g.tp + g.fp > 0
                     THEN (1000000 * g.tp) // (g.tp + g.fp)
                END AS BIGINT) AS precision_micro,
           CAST(CASE WHEN np.n_pos > 0
                     THEN (1000000 * g.tp) // np.n_pos
                END AS BIGINT) AS recall_micro
    FROM g JOIN np USING (grp)
    """,
)
def q_pr_at_price_thresholds(spark, sf_dir):
    """Exact PR curve at 10 literal price thresholds (r5,
    mlfit.pr_at_thresholds) — the threshold-sweep companion to
    auc_price_returnflag: precision/recall of "price ≥ t predicts a
    return", per linestatus, as exact integer fractions. The
    |thresholds|-way fan-out runs over the score-BUCKET table (the
    auc_exact trick), so the explode is domain-sized, never
    corpus-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    return mlfit.pr_at_thresholds(
        li,
        "l_linestatus",
        F.round(F.col("l_extendedprice") * 100),
        (F.col("l_returnflag") == "R").cast("int"),
        thresholds=[k * 1_000_000 for k in range(1, 11)],
    )


@declare(
    "class_balance_docs",
    """
    WITH c AS (
        SELECT source AS grp, lang AS cls,
               CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1, 2),
    g AS (
        SELECT grp,
               CAST(sum(cnt) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(max(cnt) AS BIGINT) AS majority_cnt,
               CAST(sum(cnt * cnt) AS BIGINT) AS ss
        FROM c GROUP BY 1)
    SELECT grp, n, n_classes, majority_cnt,
           CAST(n * n - ss AS BIGINT) AS gini_num,
           CAST(n * n AS BIGINT) AS gini_den,
           CAST((1000000 * (n * n - ss)) // (n * n) AS BIGINT)
               AS gini_micro
    FROM g
    """,
)
def q_class_balance_docs(spark, sf_dir):
    """Exact label-balance audit (r5, mlfit.class_balance_exact):
    language balance per document source with Gini impurity as an
    exact integer fraction — the class-imbalance check a labeled
    training set gets before fitting (entropy needs log and isn't
    hash-portable; Gini is the rational impurity). Two partial aggs,
    second over the |classes|-sized frame."""
    docs = load_table(spark, sf_dir, "documents")
    return mlfit.class_balance_exact(docs, "source", "lang")


@declare(
    "profile_customer",
    """
    SELECT 'c_custkey' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(c_custkey) AS BIGINT) AS null_cnt,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS distinct_cnt,
           CAST(min(c_custkey) AS VARCHAR) AS min_s,
           CAST(max(c_custkey) AS VARCHAR) AS max_s
    FROM customer
    UNION ALL
    SELECT 'c_name' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(c_name) AS BIGINT) AS null_cnt,
           CAST(count(DISTINCT c_name) AS BIGINT) AS distinct_cnt,
           CAST(min(c_name) AS VARCHAR) AS min_s,
           CAST(max(c_name) AS VARCHAR) AS max_s
    FROM customer
    UNION ALL
    SELECT 'c_nationkey' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(c_nationkey) AS BIGINT) AS null_cnt,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS distinct_cnt,
           CAST(min(c_nationkey) AS VARCHAR) AS min_s,
           CAST(max(c_nationkey) AS VARCHAR) AS max_s
    FROM customer
    UNION ALL
    SELECT 'c_mktsegment' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(c_mktsegment) AS BIGINT) AS null_cnt,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS distinct_cnt,
           CAST(min(c_mktsegment) AS VARCHAR) AS min_s,
           CAST(max(c_mktsegment) AS VARCHAR) AS max_s
    FROM customer
    UNION ALL
    SELECT 'acctbal_cents' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS null_cnt,
           CAST(count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS distinct_cnt,
           CAST(min(CAST(round(c_acctbal * 100) AS BIGINT)) AS VARCHAR) AS min_s,
           CAST(max(CAST(round(c_acctbal * 100) AS BIGINT)) AS VARCHAR) AS max_s
    FROM customer
    """,
)
def q_profile_customer(spark, sf_dir):
    """One-pass data profiling (r5, profile.profile_columns): null /
    exact-distinct / min / max per column of customer in a SINGLE
    aggregate (Spark's Expand handles the multi-distinct; no
    per-column re-scan on the Spark side — the oracle's UNION ALL
    form is the *spec*, not the plan), unpivoted by the corr-matrix
    explode idiom. Extrema are computed on native types and cast to
    string for the uniform schema; the double column is profiled as
    cents (double→string formatting is not engine-portable)."""
    from . import profile as profile_ops

    cust = load_table(spark, sf_dir, "customer")
    return profile_ops.profile_columns(
        cust,
        {
            "c_custkey": F.col("c_custkey"),
            "c_name": F.col("c_name"),
            "c_nationkey": F.col("c_nationkey"),
            "c_mktsegment": F.col("c_mktsegment"),
            "acctbal_cents": F.round(F.col("c_acctbal") * 100)
            .cast("long"),
        },
    )


@declare(
    "degree_assortativity_copurchase",
    """
    WITH e AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pairs AS MATERIALIZED (
        SELECT DISTINCT a.p AS p1, b.p AS p2
        FROM e a JOIN e b ON a.o = b.o AND a.p < b.p),
    sym AS MATERIALIZED (
        SELECT p1, p2 FROM pairs
        UNION ALL
        SELECT p2 AS p1, p1 AS p2 FROM pairs),
    deg AS MATERIALIZED (
        SELECT p1 AS node, CAST(count(*) AS BIGINT) AS deg
        FROM sym GROUP BY 1),
    pts AS (
        SELECT 'copurchase' AS grp, d1.deg AS x, d2.deg AS y
        FROM sym
        JOIN deg d1 ON sym.p1 = d1.node
        JOIN deg d2 ON sym.p2 = d2.node),
    s AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM pts GROUP BY grp)
    SELECT grp, 'dx' AS x_col, 'dy' AS y_col, n,
           CAST(n * sxy - sx * sy AS BIGINT) AS corr_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS varx_num,
           CAST(n * syy - sy * sy AS BIGINT) AS vary_num
    FROM s
    """,
)
def q_degree_assortativity_copurchase(spark, sf_dir):
    """Degree assortativity of the co-purchase graph: Pearson
    correlation of endpoint degrees over the symmetrized edge list —
    Newman's r as an exact integer fraction (corr_num /
    sqrt(varx·vary) derived outside the hash surface), composing the
    graph family's edge builder with mlfit.corr_pairs_exact. The
    edge frame is checkpointed before symmetrization (a UNION of two
    projections would re-run the whole distinct self-join per
    branch); degree joins shuffle on node — co-located at scale by
    bucketing edges on each endpoint. Symmetry makes varx ≡ vary
    (pinned in tests)."""
    from . import graph, mlfit

    li = load_table(spark, sf_dir, "lineitem")
    e = graph.coorder_part_edges(li).localCheckpoint(eager=False)
    sym = e.unionByName(
        e.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"))
    )
    # deg feeds BOTH endpoint joins; checkpoint it or the aggregate
    # subtree is computed twice (the renamed outputs defeat
    # ReusedExchange — observed in the r5 plan audit)
    deg = (
        sym.groupBy(F.col("p1").alias("node"))
        .agg(F.count("*").cast("long").alias("deg"))
        .localCheckpoint(eager=False)
    )
    pts = (
        sym.join(deg.withColumnRenamed("deg", "dx"),
                 sym.p1 == F.col("node")).drop("node")
        .join(deg.withColumnRenamed("deg", "dy"),
              F.col("p2") == F.col("node")).drop("node")
        .select(F.lit("copurchase").alias("g"), "dx", "dy")
    )
    return mlfit.corr_pairs_exact(
        pts, "g", {"dx": "dx", "dy": "dy"}
    )


@declare(
    "k_anonymity_customer",
    """
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
           c_mktsegment,
           CAST(CAST(round(c_acctbal * 100) AS BIGINT) // 200000
                AS BIGINT) AS acct_band,
           CAST(count(*) AS BIGINT) AS n,
           count(*) < 5 AS at_risk,
           CAST(1000 // count(*) AS BIGINT) AS risk_milli
    FROM customer
    GROUP BY 1, 2, 3
    """,
)
def q_k_anonymity_customer(spark, sf_dir):
    """Privacy audit (r10, profile.k_anonymity_audit): k-anonymity
    over the customer quasi-identifier set (nation, market segment,
    $2000 account-balance band) at k=5 — the re-identification-risk
    gate next to pii_scrub in a compliance pipeline (scrubbing kills
    direct identifiers; this measures what the REMAINING columns
    leak). risk_milli = the exact 1/|class| prosecutor-model
    probability. Balance cents are integers so the band's truncating
    division replays exactly on the few negative-balance rows (both
    engines truncate toward zero). One wordcount-shaped shuffle."""
    from . import profile as profile_ops

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "c_mktsegment",
        F.expr(
            "cast(cast(round(c_acctbal * 100) as bigint) div 200000"
            " as bigint)"
        ).alias("acct_band"),
    )
    return profile_ops.k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment", "acct_band"], k=5
    )


# Shared QI projection for the privacy trio: (nation, $2000 balance
# band) as quasi-identifiers, market segment as the SENSITIVE
# attribute (k_anonymity_customer keeps segment in ITS QI set — the
# trio audits different threat models over the same table).
_PRIV_BASE = """
    WITH base AS MATERIALIZED (
        SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
               CAST(CAST(round(c_acctbal * 100) AS BIGINT) // 200000
                    AS BIGINT) AS acct_band,
               c_mktsegment AS sv
        FROM customer),
    svc AS MATERIALIZED (
        SELECT c_nationkey, acct_band, sv, count(*) AS c
        FROM base GROUP BY 1, 2, 3)
"""


def _priv_qi(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        F.expr(
            "cast(cast(round(c_acctbal * 100) as bigint) div 200000"
            " as bigint)"
        ).alias("acct_band"),
        "c_mktsegment",
    )


@declare(
    "l_diversity_customer",
    _PRIV_BASE
    + """
    , rk AS (
        SELECT *, row_number() OVER (
            PARTITION BY c_nationkey, acct_band
            ORDER BY c DESC, sv ASC) AS r
        FROM svc)
    SELECT c_nationkey, acct_band,
           CAST(sum(c) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_distinct_sv,
           count(*) >= 3 AS distinct_l_ok,
           CAST(max(CASE WHEN r = 1 THEN c END) AS BIGINT) AS top_freq,
           CAST(coalesce(sum(c) FILTER (WHERE r >= 3), 0) AS BIGINT)
               AS tail_from_l,
           max(CASE WHEN r = 1 THEN c END)
               < 2 * coalesce(sum(c) FILTER (WHERE r >= 3), 0)
               AS recursive_cl_ok
    FROM rk GROUP BY 1, 2
    """,
)
def q_l_diversity_customer(spark, sf_dir):
    """Privacy audit #2 (r12, profile.l_diversity_audit —
    Machanavajjhala et al. 2007): distinct l-diversity (l=3) and
    recursive (c,l)-diversity (c=2) of the market segment within
    each (nation, balance-band) class — the homogeneity-attack gate
    k-anonymity misses. Frequency ranking is (count desc, value asc)
    — a total order, so the l-th cut is deterministic in both
    engines. One domain-bounded shuffle + a per-class window over
    ≤|segment| rows."""
    from . import profile as profile_ops

    return profile_ops.l_diversity_audit(
        _priv_qi(spark, sf_dir),
        ["c_nationkey", "acct_band"],
        "c_mktsegment",
        l=3,
        c=2,
    )


@declare(
    "t_closeness_customer",
    _PRIV_BASE
    + """
    , cls AS (SELECT c_nationkey, acct_band, sum(c) AS n
              FROM svc GROUP BY 1, 2),
    g AS (SELECT sv, count(*) AS gc FROM base GROUP BY 1),
    tot AS (SELECT count(*) AS nt FROM base),
    x AS (
        SELECT cls.c_nationkey, cls.acct_band, cls.n, t.nt,
               abs(CAST(coalesce(svc.c, 0) AS HUGEINT) * t.nt
                   - CAST(g.gc AS HUGEINT) * cls.n) AS term
        FROM cls CROSS JOIN g CROSS JOIN tot t
        LEFT JOIN svc ON svc.c_nationkey = cls.c_nationkey
                     AND svc.acct_band = cls.acct_band
                     AND svc.sv = g.sv),
    e AS (
        SELECT c_nationkey, acct_band,
               CAST(max(n) AS BIGINT) AS n,
               CAST((1000 * sum(term))
                    // (2 * CAST(max(n) AS HUGEINT)
                          * CAST(max(nt) AS HUGEINT)) AS BIGINT)
                   AS emd_milli
        FROM x GROUP BY 1, 2)
    SELECT c_nationkey, acct_band, n, emd_milli,
           emd_milli > 300 AS t_violated
    FROM e
    """,
)
def q_t_closeness_customer(spark, sf_dir):
    """Privacy audit #3 (r12, profile.t_closeness_audit — Li et al.
    2007): exact variational-distance EMD between each class's
    segment distribution and the corpus's, in fixed point —
    emd_milli = (1000·Σ|cnt·N − g·n|) div (2·n·N) with the cross
    products in decimal(38,0)/HUGEINT (the r6 overflow rule).
    Completes the privacy trio: k-anonymity (size), l-diversity
    (variety), t-closeness (skew). Wordcount-shaped: one
    (QI × segment) shuffle + a broadcast of the 5-row global
    distribution."""
    from . import profile as profile_ops

    return profile_ops.t_closeness_audit(
        _priv_qi(spark, sf_dir),
        ["c_nationkey", "acct_band"],
        "c_mktsegment",
        t_milli=300,
    )


def _fs_weight_sql() -> str:
    """The summed Fellegi-Sunter weight as a SQL expression over the
    agree_* flag columns — interpolated from linkage.fs_weights() so
    the integer milli-log2 constants have ONE source (the Bloom-tuple
    literal rule)."""
    from . import linkage

    terms = [
        f"CASE WHEN agree_{f} = 1 THEN {wa} ELSE {wd} END"
        for f, (wa, wd) in linkage.fs_weights().items()
    ]
    return " + ".join(terms)


def _record_linkage_sql() -> str:
    from . import linkage

    return f"""
    WITH cb AS (
        SELECT c_custkey AS ck, c_nationkey AS nk, c_mktsegment AS seg,
               right(c_name, 1) AS nm1,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer),
    rk AS MATERIALIZED (
        SELECT *, row_number() OVER (
            PARTITION BY nk ORDER BY bal_cents, ck) AS rn
        FROM cb),
    pr AS (
        SELECT a.ck AS custkey_a, b.ck AS custkey_b,
               a.nk AS c_nationkey,
               CAST(a.seg = b.seg AS INT) AS agree_seg,
               CAST(a.nm1 = b.nm1 AS INT) AS agree_nm1,
               CAST(abs(a.bal_cents - b.bal_cents) <= 10000 AS INT)
                   AS agree_bal,
               CAST((a.bal_cents >= 0) = (b.bal_cents >= 0) AS INT)
                   AS agree_sgn
        FROM rk a JOIN rk b
          ON a.nk = b.nk
         AND b.rn - a.rn BETWEEN 1 AND {linkage.SNM_WINDOW}),
    sc AS (
        SELECT *, CAST({_fs_weight_sql()} AS BIGINT) AS weight_milli
        FROM pr)
    SELECT custkey_a, custkey_b, c_nationkey, agree_seg, agree_nm1,
           agree_bal, agree_sgn, weight_milli,
           CASE WHEN weight_milli >= {linkage.FS_MATCH_MILLI}
                THEN 'match'
                WHEN weight_milli >= {linkage.FS_POSSIBLE_MILLI}
                THEN 'possible'
                ELSE 'non_match' END AS verdict
    FROM sc
    """


@declare("record_linkage_customer", _record_linkage_sql())
def q_record_linkage_customer(spark, sf_dir):
    """Probabilistic record linkage (r13, linkage.fs_link_customers):
    sorted-neighborhood blocking (Hernandez-Stolfo 1995 — rank by
    balance cents inside each nation, compare only rank-distance <= 5
    pairs, candidate volume w*n LINEAR in the corpus) + Fellegi-
    Sunter 1969 match weights (per-field agreement/disagreement
    integer milli-log2(m/u) constants, Python-derived, one source
    linkage.fs_weights) with the classic three-band verdict. The
    whole agreement vector, summed weight, and verdict oracle-check.
    Shape: one block shuffle for the rank window + one (block, rank)
    equi-join built by a w-fold offset explode — never a range join
    or cartesian."""
    from . import linkage

    cust = load_table(spark, sf_dir, "customer")
    return linkage.fs_link_customers(cust)


@declare(
    "matview_maintenance_orders",
    """
    WITH base AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
    ins AS (SELECT * FROM orders WHERE o_orderkey % 7 = 0),
    kept AS (SELECT * FROM base WHERE o_orderkey % 5 <> 0),
    eff AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
    SELECT o_orderpriority,
           CAST(year(o_orderdate) * 100 + month(o_orderdate)
                AS BIGINT) AS ym,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS sum_price_cents
    FROM eff GROUP BY 1, 2
    """,
)
def q_matview_maintenance_orders(spark, sf_dir):
    """Incremental view maintenance (r13, matview.maintain_groupby):
    a stored (priority, month) COUNT/SUM rollup over the base orders
    snapshot (o_orderkey % 7 != 0) is maintained under a CDC batch —
    inserts (% 7 == 0) and deletes (% 5 == 0 of the base) fold in as
    signed contributions; groups whose count reaches zero drop. The
    ORACLE is the full recompute over the effective corpus, so the
    IVM equivalence (maintained == recomputed) is itself the driver-
    checked contract. Shape: the base aggregate is computed once and
    checkpointed (the stored-view stand-in); maintenance touches the
    DELTA scan plus a domain-sized full-outer merge — base-size-
    independent, which is the whole point at 100 TB. MIN/MAX are
    deliberately absent (not self-maintainable under deletes)."""
    from . import matview

    orders = load_table(spark, sf_dir, "orders")
    pricec = F.expr("cast(round(o_totalprice * 100) as bigint)")
    ym = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast(
        "long"
    )
    base = orders.filter(F.col("o_orderkey") % 7 != 0)
    base_agg = (
        base.groupBy(
            "o_orderpriority", ym.alias("ym")
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(pricec).cast("long").alias("sum_price_cents"),
        )
        .localCheckpoint(eager=False)
    )
    proj = lambda df, sign: df.select(  # noqa: E731
        "o_orderpriority",
        ym.alias("ym"),
        F.lit(sign).alias("sign"),
        pricec.alias("sum_price_cents"),
    )
    delta = proj(
        orders.filter(F.col("o_orderkey") % 7 == 0), 1
    ).unionByName(proj(base.filter(F.col("o_orderkey") % 5 == 0), -1))
    return matview.maintain_groupby(
        base_agg,
        delta,
        ["o_orderpriority", "ym"],
        "n_orders",
        ["sum_price_cents"],
    )

"""Bucketed fixture materialization: the shuffle-free fact-join path.

At 100 TB the dominant cost of repeated fact-fact joins is re-shuffling
the same table on the same key per query. Bucketing pays that shuffle
ONCE at write time: both sides of an equi-join bucketed (and sorted)
on the join key plan a SortMergeJoin with no Exchange, and a groupBy
on the bucket key needs no exchange either (SCALE.md; plan pinned in
tests/test_plans.py::test_bucketed_join_avoids_shuffle and
test_bucketed_variants_match_declared).

Crossover (measured at sf0.1, local[32]): the declared q3 beats q3_bucketed —
orders fits under the broadcast threshold, so the plain plan is a BHJ
with no shuffle at all, and bucketing can't improve on zero exchanges.
Bucketing's regime is the one where NEITHER side broadcasts (the 100 TB
norm): with broadcast disabled, the bare lineitem⋈orders join repeated
3x ran 2.41 s shuffled vs 1.10 s bucketed — the per-query shuffle the
bucket write amortizes away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import load_table

BUCKETS_DEFAULT = 32

# (source table, bucket/sort key, saved-table base name)
SPECS = [
    ("orders", "o_orderkey", "orders_bk"),
    ("lineitem", "l_orderkey", "lineitem_bk_ok"),
    ("lineitem", "l_partkey", "lineitem_bk_pk"),
]


def materialize_bucketed(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = BUCKETS_DEFAULT,
    suffix: str = "",
) -> dict[tuple[str, str], str]:
    """Write the fact tables as bucketed+sorted managed tables (one
    shuffle each, amortized across every later join/agg on that key).
    lineitem is written twice — per-key copies are the price of
    shuffle-free joins on two different keys; at scale you keep the
    copies your workload joins on. Returns {(source, key): table}."""
    # Overlap the three independent writes (guide §2.6): Spark's
    # scheduler runs concurrent jobs fine; submitting them from a
    # small thread pool lets each job's tail back-fill the others'
    # idle cores instead of serializing three shuffle+sort writes
    # (bucket_prep measured 8.6 s → ~4 s at sf0.1).
    # Each write's plan/input/partitioning is unchanged, so the
    # written tables are byte-identical to the sequential form.
    from concurrent.futures import ThreadPoolExecutor

    def _write(spec: tuple[str, str, str]) -> tuple[tuple[str, str], str]:
        src, key, base = spec
        name = base + suffix
        (
            load_table(spark, sf_dir, src)
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
        return (src, key), name

    with ThreadPoolExecutor(max_workers=len(SPECS)) as pool:
        return dict(pool.map(_write, SPECS))


def q3_bucketed(
    spark: SparkSession, sf_dir: str, tables: dict[tuple[str, str], str]
) -> DataFrame:
    """q3_top_revenue_orders on bucketed facts: lineitem⋈orders is a
    zero-exchange SortMergeJoin on orderkey (customer stays a
    broadcast dim). Result-identical to the declared q3."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = spark.table(tables[("orders", "o_orderkey")]).filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = spark.table(tables[("lineitem", "l_orderkey")]).filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg((F.sum(cents) / 100.0).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "order_date", "o_orderpriority")
    )


def q17_bucketed(
    spark: SparkSession, sf_dir: str, tables: dict[tuple[str, str], str]
) -> DataFrame:
    """q17_small_quantity_revenue on lineitem bucketed by l_partkey:
    BOTH the per-part average aggregate and the lineitem⋈part_avg
    join reuse the bucket partitioning — no exchange on either.
    Result-identical to the declared q17."""
    li = spark.table(tables[("lineitem", "l_partkey")])
    p = load_table(spark, sf_dir, "part")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(F.col("l_quantity").cast("bigint")) * 1.0 / F.count("*")).alias(
            "avg_qty"
        )
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy("p_brand")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
            F.count("*").alias("n_small"),
        )
    )

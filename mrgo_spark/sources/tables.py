"""Fixture table loaders.

The driver's synthetic fixtures (TESTDATA.md) are one parquet file per
table under ``/root/testdata/sf*/``. Parquet scans get predicate
pushdown + column pruning from Catalyst for free; loaders stay thin.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def ensure_events_session_confs(spark: SparkSession) -> None:
    """Runtime confs the events surface depends on, safe to set on any
    session (the grading driver's included):

    - ``nanosAsLong`` so a TIMESTAMP(NANOS) fixture (an older
      fixture encoding) reads as bigint instead of throwing.
    - session timezone pinned to UTC so the naive-µs fixture's
      wall-clock values convert to TIMESTAMP instants with identical
      micros — tz-independent math regardless of the host session's
      default timezone. The fixtures carry no timezone, and the DuckDB
      oracle treats naive timestamps as UTC, so UTC is the only
      rendering that round-trips.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP with micros == the stored
    naive micros, whatever encoding the fixture generation used:

    - bigint        — TIMESTAMP(NANOS) surfaced via ``nanosAsLong``;
                      floor-divide to µs (fixture has no sub-µs parts).
    - timestamp_ntz — naive µs (the current fixtures). Under the UTC
                      session pin the cast is an exact reinterpretation
                      (same internal micros), matching DuckDB's
                      ``epoch_us`` on the same file.
    - timestamp     — already an instant; pass through.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table.

    ``events.ts`` encoding has drifted across fixture generations
    (TIMESTAMP(NANOS) → naive-µs TIMESTAMP_NTZ); ``normalize_events_ts``
    branches on the observed dtype so every downstream operator sees a
    plain TIMESTAMP whose ``unix_micros`` equals the stored value.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        ensure_events_session_confs(spark)
        return normalize_events_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def widen_scan(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a degenerate-parallelism scan up to the
    session's default parallelism.

    The sf fixtures are single-row-group parquet files, so a scan is
    ONE task and any map-heavy stage over it (tokenize/shingle/
    minhash) runs single-threaded no matter how many cores exist —
    a fixture artifact, not a plan property. Self-disabling at scale:
    input that already arrives as >= target splits passes through
    untouched, so the extra exchange exists only where it buys map
    parallelism the source cannot provide (the reference equivalent:
    the master schedules one map task per input file,
    mr/master.go:116-134).
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _read_tombstones(
    spark: SparkSession, path: str, id_col: str
) -> DataFrame | None:
    """The distinct deleted ids under ``{path}/tombstones``, as one
    ``id_col`` column — the tombstone store both at-rest indexes
    (``BM25Index``, ``IVFIndex``) share.

    Read semantics: ``None`` iff no delete was ever recorded, decided
    by an ``os.path.isdir`` check on the local FS every index writer
    already assumes, so an index without deletes launches no Spark
    job. A directory that EXISTS but cannot be read (corrupt parquet,
    a transient FS error) PROPAGATES: treating it as 'no deletes'
    would serve deleted rows and let a deleted id be re-added."""
    tdir = f"{path}/tombstones"
    if not os.path.isdir(tdir):
        return None
    return spark.read.parquet(tdir).select(id_col).distinct()


def _append_tombstones(
    spark: SparkSession, path: str, ids, id_col: str
) -> None:
    """Record deletes: ``ids`` is a list of ids or a 1-column
    DataFrame; they are cast to long, renamed ``id_col``, deduped
    within the call and appended to ``{path}/tombstones``. Duplicate
    and unknown ids are harmless — every reader anti-joins."""
    if isinstance(ids, DataFrame):
        ids = ids.select(F.col(ids.columns[0]).cast("long").alias(id_col))
    else:
        ids = spark.createDataFrame([(int(i),) for i in ids], f"{id_col} long")
    ids.distinct().write.mode("append").parquet(f"{path}/tombstones")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)

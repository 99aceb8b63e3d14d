"""SparkSession factory with scale-aware defaults.

Local testing runs on a single JVM (local[N]); the configs below are
chosen so the same code is correct and fast on a real cluster at
~100 TB:

- AQE on (runtime partition coalescing, skew-join splitting) — at
  scale this is what keeps one hot key from stalling a stage.
- ``spark.sql.shuffle.partitions`` sized to local cores; on a cluster
  AQE coalesces upward/downward from this initial value.
- Arrow enabled so any pandas-UDF path is vectorized batch transfer.
- Session timezone pinned to UTC so results hash-match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Local masters run Python workers under ``mrgo_spark.worker_daemon``,
  which drops the JVM's ``pyspark.zip``/py4j zip/jar from the workers'
  ``sys.path`` so they import the site-packages pyspark and each task
  skips re-reading the zip directories (about 0.2 s a task). Its guard
  keeps the zips, i.e. the stock daemon's behaviour, when no pyspark is
  importable without them or its version differs from the zip's.
  Sessions built elsewhere (a caller's own SparkSession) keep the
  stock daemon.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Executor Python workers resolve pickled closures (MRJob map/reduce
# fns, applyInPandas bodies) by importing this package — make sure
# they can even when the driver process was launched outside the repo.
_REPO_DIR = str(Path(__file__).resolve().parent.parent)


def _ensure_worker_pythonpath() -> None:
    existing = os.environ.get("PYTHONPATH", "")
    if _REPO_DIR not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_REPO_DIR}{os.pathsep}{existing}" if existing else _REPO_DIR
        )


def _session_conf(
    master: str | None, extra_conf: dict[str, str] | None
) -> dict[str, str]:
    """Per-session conf on top of the shared defaults.

    Only a local master's workers inherit the ``PYTHONPATH`` set by
    ``_ensure_worker_pythonpath``, so only there can they find the
    worker daemon. A key in ``extra_conf`` wins.
    """
    conf = {}
    if master is not None and master.startswith("local"):
        conf["spark.python.daemon.module"] = "mrgo_spark.worker_daemon"
    conf.update(extra_conf or {})
    return conf


def get_spark(
    app_name: str = "mrgo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS,2]`` — the ``,2``
    allows task retry in local mode so fault-tolerance behavior
    (reference: straggler re-execution, mr/master.go:116-134) is
    testable. The default applies under spark-submit too: the
    builder's ``spark.master`` overrides the submitted one, so to run
    on a cluster pass its URL as ``master`` explicitly.
    """
    _ensure_worker_pythonpath()
    cpus = _DEF_CPUS
    if master is None:
        master = f"local[{cpus},2]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in _session_conf(master, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

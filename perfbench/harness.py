"""Session lifecycle, input writing and statistics shared by the
workloads."""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time

from spans import Tracer


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One benchmark process: its work directory, tracer, live session
    and the failure counts per layer."""

    def __init__(self, work: str, tracer: Tracer):
        self.work = work
        self.tr = tracer
        self.spark = None
        self.cpus = nproc()
        self.errors: dict[str, int] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.phases: dict[str, float] = {}
        self._phase_t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase mark."""
        now = time.perf_counter()
        self.phases[name] = round(now - self._phase_t, 3)
        self._phase_t = now

    # ---- outcome bookkeeping ----------------------------------------

    def check(self, layer: str, ok: bool, what: str) -> bool:
        """Count one checked operation of ``layer``."""
        self.attempted += 1
        if not ok:
            self.errors[layer] = self.errors.get(layer, 0) + 1
            self.failures.append(f"{layer}: {what}")
        return ok

    # ---- session ----------------------------------------------------

    def start_session(self) -> None:
        from mrgo_spark.session import get_spark

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        with self.tr.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{self.cpus}]",
                extra_conf={
                    # the host is shared: keep the driver heap modest
                    "spark.driver.memory": "2g",
                    "spark.local.dir": local,
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.pyspark.python": sys.executable,
                    "spark.pyspark.driver.python": sys.executable,
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.tr.spark = self.spark
        with self.tr.span("session.worker_spawn"):
            n = self.cpus
            pids = (
                self.spark.sparkContext.parallelize(range(n), n)
                .map(lambda _: os.getpid())
                .collect()
            )
        self.check("session", len(pids) == n, "worker pool did not answer")

    def stop_session(self) -> None:
        if self.spark is None:
            return
        self.tr.attach_counters(self.spark)
        self.tr.spark = None
        self.spark.stop()
        self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM behind it, waiting for it."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()

    # ---- sources ----------------------------------------------------

    def write_table(self, rows, schema: str, name: str):
        """Write generated rows through the engine's parquet sink and
        read them back as the DataFrame the workload consumes."""
        from mrgo_spark.sources.sinks import write_parquet

        path = os.path.join(self.work, "inputs", name)
        with self.tr.span("sources.write"):
            write_parquet(self.spark.createDataFrame(rows, schema), path)
            df = self.spark.read.parquet(path)
            n = df.count()
        self.check("sources", n == len(rows), f"{name}: wrote {len(rows)} read {n}")
        return df


# ---- statistics -------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``xs`` with at
    least ten samples beyond it. Below 21 samples that percentile
    would not reach the median, so the maximum is reported instead."""
    s = sorted(xs)
    n = len(s)
    if n >= 21:
        i = n - 11
        return float(s[i]), 100.0 * i / (n - 1), n
    return float(s[-1]), 100.0, n


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    try:
        pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
    except (OSError, ValueError):
        pass
    return py + jvm

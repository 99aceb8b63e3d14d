"""Load-independent resource metrics (the
TestRPCBytes2B/TestCount2B analog, reference raft/test_test.go:128-157
and :455): per-query shuffle bytes read/written, spilled bytes and
input bytes, read from the JVM AppStatusStore after each query runs.

Wall-clock on a shared box is noisy; BYTES are deterministic for a
fixed plan over fixed data, so a recorded byte budget catches plan
regressions (extra corpus passes, a lost broadcast, an unpushed
filter) mechanically — an IVF lazy-centroid-chain recompute trips a
1.5× shuffle-byte gate long before any timing does.

Usage:
    marker = stage_marker(spark)
    ...run the query's actions...
    m = stages_since(spark, marker)   # {'shuffle_read': .., ...}

The reader polls until the status store has absorbed every completed
stage (the listener bus is asynchronous) — two identical consecutive
snapshots with no active stages means the numbers are final.
"""

from __future__ import annotations

import time

_METRIC_KEYS = (
    "shuffle_read",
    "shuffle_write",
    "spilled_mem",
    "spilled_disk",
    "input_bytes",
    "n_stages",
    "n_tasks",
)


def _store(spark):
    return spark._jsparkSession.sparkContext().statusStore()


def _stage_rows(spark) -> list[tuple]:
    """(stage_id, status, metrics...) for every stage the status
    store currently retains, newest data included. SKIPPED stages
    (reused exchanges) report zero everywhere — they genuinely cost
    nothing, which is exactly what a reuse-regression budget wants
    to observe."""
    gw = spark.sparkContext._gateway
    store = _store(spark)
    empty = gw.jvm.java.util.ArrayList()
    darr = gw.new_array(gw.jvm.double, 0)
    out = []
    it = store.stageList(empty, False, False, darr, empty).iterator()
    while it.hasNext():
        s = it.next()
        out.append(
            (
                int(s.stageId()),
                str(s.status()),
                int(s.shuffleReadBytes()),
                int(s.shuffleWriteBytes()),
                int(s.memoryBytesSpilled()),
                int(s.diskBytesSpilled()),
                int(s.inputBytes()),
                int(s.numCompleteTasks()),
            )
        )
    return out


def stage_marker(spark) -> int:
    """Largest stage id the status store has seen (-1 if none) —
    snapshot this BEFORE constructing/running a query; stages with a
    larger id belong to it."""
    rows = _stage_rows(spark)
    return max((r[0] for r in rows), default=-1)


def stages_since(
    spark, marker: int, settle_s: float = 10.0
) -> dict[str, int]:
    """Sum metrics over all stages with id > marker, polling until
    the asynchronous status listener has settled (no ACTIVE stages
    and two identical consecutive reads)."""

    def snap():
        rows = [r for r in _stage_rows(spark) if r[0] > marker]
        active = any(r[1] == "ACTIVE" for r in rows)
        agg = {k: 0 for k in _METRIC_KEYS}
        for (
            _sid,
            _st,
            sr,
            sw,
            sm,
            sd,
            ib,
            nt,
        ) in rows:
            agg["shuffle_read"] += sr
            agg["shuffle_write"] += sw
            agg["spilled_mem"] += sm
            agg["spilled_disk"] += sd
            agg["input_bytes"] += ib
            agg["n_stages"] += 1
            agg["n_tasks"] += nt
        return active, agg

    deadline = time.time() + settle_s
    active, prev = snap()
    while time.time() < deadline:
        time.sleep(0.2)
        active, cur = snap()
        if not active and cur == prev:
            return cur
        prev = cur
    return prev


def run_with_metrics(spark, df_or_thunk) -> dict[str, int]:
    """Execute a query as two actions (count for the row total, noop
    write for the unpruned full plan) and return the
    summed stage metrics of construction + BOTH actions, plus
    ``rows``. Pass a zero-arg callable to put DataFrame CONSTRUCTION
    inside the metric window too — driver-tiny collects during
    construction (Lloyd centroids, IVF seeds, fixed query sets) are
    real jobs the budget should see (a lazy-centroid-chain
    recompute lives exactly there). The caller is responsible for
    fresh-process / fixed-order discipline: session caches
    (IVF/PQ/BPE/BM25) train inside whichever query touches them
    first, so budgets are only comparable when recorder and checker
    run the same queries in the same order from a fresh process."""
    marker = stage_marker(spark)
    df = df_or_thunk() if callable(df_or_thunk) else df_or_thunk
    rows = df.count()
    df.write.format("noop").mode("overwrite").save()
    m = stages_since(spark, marker)
    m["rows"] = int(rows)
    return m

"""In-memory spans around every call the benchmark makes into a layer.

A span records (name, start, end, parent, request id). While a span is
open its thread's Spark job group is the span id, so after the run the
stage counters of every job a span launched (the figures
``mrgo_spark.metrics`` reads from the status store: shuffle bytes,
spills, input bytes, stages, tasks) are summed back onto the span that
caused them, even with several client threads running at once.

A disabled tracer records nothing and touches no Spark state, so the
untraced run measures the engine alone.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

COUNTERS = (
    "shuffle_read",
    "shuffle_write",
    "spilled_mem",
    "spilled_disk",
    "input_bytes",
    "n_stages",
    "n_tasks",
)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self.spark = None  # the live session; set by the harness

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._next += 1
            sid = self._next
        sp = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            "error": None,
        }
        stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(f"pb{sid}", name)
        try:
            yield sp
        except BaseException as e:
            sp["error"] = type(e).__name__
            raise
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(f"pb{parent['id']}", parent["name"])
                else:
                    sc._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(sp)

    def attach_counters(self, spark, settle_s: float = 10.0) -> None:
        """Sum the stage counters of each span's jobs onto the span.
        Call before the session stops; waits for the asynchronous
        status listener to settle first."""
        if not self.enabled:
            return
        pending = {f"pb{s['id']}": s for s in self.spans if "counters" not in s}
        if not pending:
            return
        groups = _settled_group_counters(spark, settle_s)
        for gid, sp in pending.items():
            sp["counters"] = groups.get(gid, dict.fromkeys(COUNTERS, 0))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _group_counters(spark) -> tuple[bool, dict[str, dict[str, int]]]:
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    empty = gw.jvm.java.util.ArrayList()
    stages = {}
    active = False
    darr = gw.new_array(gw.jvm.double, 0)
    for s in _iter(store.stageList(empty, False, False, darr, empty)):
        status = str(s.status())
        active |= status == "ACTIVE"
        stages.setdefault(int(s.stageId()), []).append(
            (
                status,
                int(s.shuffleReadBytes()),
                int(s.shuffleWriteBytes()),
                int(s.memoryBytesSpilled()),
                int(s.diskBytesSpilled()),
                int(s.inputBytes()),
                int(s.numCompleteTasks()),
            )
        )
    out: dict[str, dict[str, int]] = {}
    for j in _iter(store.jobsList(empty)):
        g = j.jobGroup()
        if not g.isDefined():
            continue
        agg = out.setdefault(str(g.get()), dict.fromkeys(COUNTERS, 0))
        for sid in _iter(j.stageIds()):
            for status, sr, sw, sm, sd, ib, nt in stages.get(int(sid), ()):
                if status != "COMPLETE":
                    continue  # skipped stages reuse earlier output
                agg["shuffle_read"] += sr
                agg["shuffle_write"] += sw
                agg["spilled_mem"] += sm
                agg["spilled_disk"] += sd
                agg["input_bytes"] += ib
                agg["n_stages"] += 1
                agg["n_tasks"] += nt
    return active, out


def _settled_group_counters(spark, settle_s: float) -> dict[str, dict[str, int]]:
    deadline = time.monotonic() + settle_s
    active, prev = _group_counters(spark)
    while time.monotonic() < deadline:
        time.sleep(0.2)
        active, cur = _group_counters(spark)
        if not active and cur == prev:
            return cur
        prev = cur
    return prev

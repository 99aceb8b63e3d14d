"""Linearizability checking for KV histories (porcupine-lite).

The reference checks concurrent Get/Put/Append histories against the
KV model with porcupine (reference kvraft/test_test.go:299-449,
models/kv.go:17-69). Like the reference's model, histories partition
by key (models/kv.go:18-34) — each key checks independently.

Spark-first shape: the history DataFrame groups by key and each key's
(small) sub-history is checked in parallel executors via
``applyInPandas``. The per-key search is the classic Wing & Gong
DFS with (linearized-set, state) memoization; per-key histories in
tests are tiny, and at scale the parallelism axis is the key count.

Parity with the porcupine checker
(src/porcupine/checker.go:269-348):

- PENDING ops: a crashed client's op has no return (``return_ns``
  None / NULL) — its interval is open, so it may linearize at any
  point after its call OR never have taken effect at all. The check
  succeeds once every RETURNED op is linearized; pending ops may be
  left out (porcupine's "call without return" contract — the
  reference tester appends ops only on return, but real crash
  histories have open intervals).
- WITNESS: on success the checker returns the linearization it found
  (the DFS path — porcupine renders the same witness as HTML via
  visualization.go). ``order`` holds indices into the key's history
  sorted by (call_ns, return_ns, pending-last); pending ops deemed
  never-applied are absent from it.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame

# Sort/compare sentinel for never-returned (pending) ops: later than
# any real timestamp, so an open interval never constrains min_ret.
_PENDING_NS = 1 << 62


@dataclass(frozen=True)
class Op:
    client: int
    op: str  # get | put | append
    value: str | None
    output: str | None
    call_ns: int
    return_ns: int | None = None  # None = pending (client crashed)


def _apply(state: str, o: Op) -> tuple[bool, str]:
    """models/kv.go:40-54: get checks, put replaces, append concats."""
    if o.op == "get":
        return (o.output or "") == state, state
    if o.op == "put":
        return True, o.value or ""
    if o.op == "append":
        return True, state + (o.value or "")
    raise ValueError(f"unknown op {o.op}")


def _ret(o: Op) -> int:
    return _PENDING_NS if o.return_ns is None else o.return_ns


def linearize_key_history(ops: Iterable[Op]) -> list[int] | None:
    """Find a linearization of the ops satisfying the KV model, or
    None if none exists.

    Real-time constraint: an op may linearize only when every op that
    *returned* before its call has already been linearized. Returned
    ops MUST all linearize; pending ops (return_ns None) MAY — an
    unlinearized pending op is one that never took effect.

    Returns the witness as indices into the (call_ns, return_ns)-
    sorted op list (pending ops sort last among equal calls).
    """
    ops = sorted(ops, key=lambda o: (o.call_ns, _ret(o)))
    n = len(ops)
    required = frozenset(i for i in range(n) if ops[i].return_ns is not None)
    seen: set[tuple[frozenset[int], str]] = set()

    def dfs(done: frozenset[int], state: str, path: list[int]) -> bool:
        if required <= done:
            return True
        key = (done, state)
        if key in seen:
            return False
        seen.add(key)
        # earliest return among not-yet-linearized RETURNED ops:
        # anything whose call is after that return cannot linearize
        # next (pending ops never constrain — open interval)
        min_ret = min(_ret(ops[i]) for i in required if i not in done)
        for i in range(n):
            if i in done:
                continue
            o = ops[i]
            if o.call_ns > min_ret:
                break  # ops sorted by call; later ones only worse
            ok, new_state = _apply(state, o)
            if ok:
                path.append(i)
                if dfs(done | {i}, new_state, path):
                    return True
                path.pop()
        return False

    path: list[int] = []
    if dfs(frozenset(), "", path):
        return path
    return None


def check_key_history(ops: Iterable[Op]) -> bool:
    """True iff some linearization of the ops satisfies the KV model."""
    return linearize_key_history(ops) is not None


HISTORY_SCHEMA = (
    "client long, op string, key string, value string, output string, "
    "call_ns long, return_ns long"
)
_RESULT_SCHEMA = "key string, ok boolean, n_ops long, order array<long>"


def _check_group(pdf: pd.DataFrame) -> pd.DataFrame:
    ops = [
        Op(
            client=int(r.client),
            op=str(r.op),
            value=None if pd.isna(r.value) else str(r.value),
            output=None if pd.isna(r.output) else str(r.output),
            call_ns=int(r.call_ns),
            return_ns=None if pd.isna(r.return_ns) else int(r.return_ns),
        )
        for r in pdf.itertuples()
    ]
    order = linearize_key_history(ops)
    return pd.DataFrame(
        {
            "key": [pdf["key"].iloc[0]],
            "ok": [order is not None],
            "n_ops": [len(ops)],
            "order": [order],
        }
    )


def check_history(history: DataFrame) -> DataFrame:
    """Distributed check: one verdict row per key
    (key, ok, n_ops, order) — ``order`` is the linearization witness
    (indices into the key's call-sorted history; NULL when no valid
    linearization exists, possibly shorter than n_ops when pending
    ops were deemed never-applied)."""
    return history.groupBy("key").applyInPandas(
        lambda pdf: _check_group(pdf), schema=_RESULT_SCHEMA
    )


# --- witness rendering (porcupine src/porcupine/visualization.go) ----------

_VIS_WIDTH = 56  # timeline columns


def render_key_witness(ops: Iterable[Op], order: list[int] | None) -> str:
    """Human-readable timeline of one key's history + its witness —
    the text analog of porcupine's HTML visualization: one row per op
    (in the checker's (call_ns, return_ns, pending-last) sort order,
    so row numbers ARE the witness indices), a scaled ``|====|``
    interval bar (``~~~>`` for a pending op's open interval), the
    op's linearization position from the witness (``lin k``), ``not
    applied`` for a pending op absent from it — and, when ``order``
    is None, ``VIOLATION`` with every returned op unmarked."""
    ops = sorted(ops, key=lambda o: (o.call_ns, _ret(o)))
    if not ops:
        return "(empty history)\n"
    t0 = min(o.call_ns for o in ops)
    t1 = max([o.call_ns for o in ops] + [
        o.return_ns for o in ops if o.return_ns is not None
    ])
    span = max(t1 - t0, 1)
    pos = {i: k + 1 for k, i in enumerate(order)} if order else {}

    def col(t: int) -> int:
        return min(_VIS_WIDTH - 1, (t - t0) * (_VIS_WIDTH - 1) // span)

    lines = []
    for i, o in enumerate(ops):
        a = col(o.call_ns)
        bar = [" "] * _VIS_WIDTH
        if o.return_ns is None:
            a = min(a, _VIS_WIDTH - 3)  # keep the ~> tail visible
            bar[a] = "|"
            for c in range(a + 1, _VIS_WIDTH - 1):
                bar[c] = "~"
            bar[_VIS_WIDTH - 1] = ">"
        else:
            b = max(col(o.return_ns), a)
            bar[a] = bar[b] = "|"
            for c in range(a + 1, b):
                bar[c] = "="
        desc = o.op
        if o.value is not None:
            desc += f"({o.value})"
        if o.op == "get":
            desc += f"->{o.output or ''}"
        if order is None:
            mark = "?" if o.return_ns is not None else "pending"
        elif i in pos:
            mark = f"lin {pos[i]}"
        else:
            mark = "not applied (pending)"
        lines.append(
            f" #{i:<3d} c{o.client:<4d} {desc:<22.22s} "
            f"{''.join(bar)}  {mark}"
        )
    return "\n".join(lines) + "\n"


def write_witness_report(history: DataFrame, path: str) -> str:
    """Render the whole history's per-key witnesses to one HTML file
    (minimal porcupine-visualization analog: a <pre> timeline per
    key, OK/VIOLATION status up front). DEBUGGING affordance — the
    history is collected to the driver, which a checker run already
    affords (linearizability histories are test-scale per key; the
    distributed axis is ``check_history``, not this renderer).
    Returns the HTML string it wrote."""
    verdicts = {
        r.key: r.order
        for r in check_history(history).collect()
    }
    by_key: dict[str, list[Op]] = {}
    for r in history.collect():
        by_key.setdefault(r.key, []).append(
            Op(
                client=int(r.client),
                op=str(r.op),
                value=r.value,
                output=r.output,
                call_ns=int(r.call_ns),
                return_ns=None if r.return_ns is None else int(r.return_ns),
            )
        )
    parts = [
        "<!doctype html><meta charset='utf-8'>"
        "<title>linearizability witness</title>"
        "<body style='font-family:monospace'>"
    ]
    for key in sorted(by_key):
        order = verdicts.get(key)
        status = "OK" if order is not None else "VIOLATION"
        parts.append(
            f"<h3>key={key} — {status}</h3><pre>"
            + render_key_witness(by_key[key], order)
            + "</pre>"
        )
    parts.append("</body>")
    html = "".join(parts)
    with open(path, "w") as fh:
        fh.write(html)
    return html

"""Clerk-style KV client API over the op-log engine.

The reference exposes the store through a Clerk with Get/Put/Append
(reference kvraft/client.go:29-66). This adapter keeps that surface
for batch use: mutations append to an in-memory op-log (the driver is
the single writer, supplying the total order Raft provided), and
reads materialize through the same declarative fold as the declared
queries — one code path for both APIs.

Intended for interactive/test use: the log lives on the driver until
``checkpoint`` writes it out; at scale the log is a table/stream and
``operators.kv`` / ``streaming.stream_ops`` consume it directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import kv

_OPLOG_SCHEMA = (
    "seq long, client long, reqid long, op string, key string, value string"
)


class KVStore:
    def __init__(self, spark: SparkSession, client_id: int = 0):
        self.spark = spark
        self.client_id = client_id
        self._ops: list[tuple[int, int, int, str, str, str | None]] = []
        self._seq = 0

    def _log(self, op: str, key: str, value: str | None) -> None:
        self._seq += 1
        self._ops.append(
            (self._seq, self.client_id, self._seq, op, key, value)
        )

    def put(self, key: str, value: str) -> None:
        """Replace (models/kv.go:47-48)."""
        self._log("put", key, value)

    def append(self, key: str, value: str) -> None:
        """Concatenate, Put-if-absent (models/kv.go:49-51)."""
        self._log("append", key, value)

    def oplog(self) -> DataFrame:
        """The driver-side log as a DataFrame, built from pandas so
        Arrow ships it to the JVM: reads run no Python-worker tasks."""
        import pandas as pd

        cols = [f.split()[0] for f in _OPLOG_SCHEMA.split(", ")]
        return self.spark.createDataFrame(
            pd.DataFrame(self._ops, columns=cols), _OPLOG_SCHEMA
        )

    def state(self) -> DataFrame:
        """Materialized (key, state) via the declarative fold (O21)."""
        return kv.fold_state(self.oplog())

    def get(self, key: str) -> str:
        """Current value; "" for missing key (kvraft/client.go:30-33).

        Driver-side single-key read. The key filter is pushed below the
        per-key fold but stops above the ``(client, reqid)``
        ``row_number`` window of ``kv.dedup_at_most_once`` (a window
        passes only filters on its partition columns), so every read
        ships the whole log and shuffles it by ``(client, reqid)``;
        only the deduped rows are cut to the key before the fold.
        """
        rows = self.state().filter(F.col("key") == key).collect()
        return rows[0].state if rows else ""

    def get_many(self, keys: list[str]) -> dict[str, str]:
        """Batch read: one fold job for N keys (N ``get`` calls would
        launch N jobs). Missing keys read as "". As in ``get``, the
        key filter stops above the dedup window, so each call still
        shuffles every log row once."""
        rows = self.state().filter(F.col("key").isin(list(keys))).collect()
        found = {r.key: r.state for r in rows}
        return {k: found.get(k, "") for k in keys}

    def checkpoint(self, path: str) -> None:
        """Persist the op-log (parquet) for the batch/streaming folds."""
        self.oplog().write.mode("overwrite").parquet(path)

"""Incremental materialized-view maintenance — the IVM family.

A 100 TB warehouse does not recompute its rollups when a CDC batch
lands; it folds the delta into the stored aggregate. For the
self-maintainable aggregate class (COUNT / SUM — and anything derived
from them at read time), maintenance is exact:

    view' = merge(view, Σ_delta signed contributions)

with inserts contributing +1/+x and deletes −1/−x, and groups whose
maintained count reaches zero REMOVED (the count column is what makes
SUM-views deletable — a bare SUM can't distinguish "empty group" from
"sums to zero"). MIN/MAX are NOT self-maintainable under deletes (a
deleted extremum forces a rescan) — callers needing them keep the
full recompute path; declaring that boundary is part of the operator.

The maintenance cost is delta-scan + |affected groups|, independent
of the base size — the declared query's oracle IS the full recompute,
so the equivalence (maintained view == recomputed view) is what the
driver gate checks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def delta_contributions(
    delta: DataFrame,
    keys: Sequence[str],
    count_col: str,
    sum_cols: Sequence[str],
) -> DataFrame:
    """Aggregate a signed CDC batch (column ``sign`` ∈ {+1, −1}) into
    per-group contributions: Σ sign for the count, Σ sign·x for each
    measure. One delta-sized shuffle."""
    aggs = [F.sum("sign").cast("long").alias(count_col)] + [
        F.sum(F.col("sign") * F.col(c)).cast("long").alias(c)
        for c in sum_cols
    ]
    return delta.groupBy(*keys).agg(*aggs)


def maintain_groupby(
    base_agg: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    count_col: str,
    sum_cols: Sequence[str],
) -> DataFrame:
    """Fold a signed CDC batch into a stored COUNT/SUM aggregate:
    full-outer merge on the group keys (a delta touches groups the
    view lacks, and vice versa), coalesce-add each measure, drop
    groups whose maintained count is zero. Both merge sides are
    domain-sized — the base table is never touched.

    Contract: ``base_agg`` has columns keys + count_col + sum_cols;
    ``delta`` has keys + sign + sum_cols (pre-aggregated here via
    ``delta_contributions``). Deletes must reference rows present in
    the base (CDC discipline); a group over-deleted below zero
    SURFACES as a negative count in the output (the != 0 filter
    keeps it visible) — callers wanting loud failure assert n >= 0
    downstream. The merge keys join NULL-SAFELY: a nullable group
    key (NULL lang, NULL priority) must merge its base and delta
    rows like the recompute's GROUP BY does, not split into two rows
    because NULL != NULL — the eqNullSafe + coalesce shape
    kv.state_diff uses."""
    keys = list(keys)
    d = delta_contributions(delta, keys, count_col, sum_cols)
    b = base_agg
    cond = None
    for k in keys:
        c = F.col(f"b.{k}").eqNullSafe(F.col(f"d.{k}"))
        cond = c if cond is None else cond & c
    merged = b.alias("b").join(d.alias("d"), cond, "full_outer")
    cols = [
        F.coalesce(F.col(f"b.{k}"), F.col(f"d.{k}")).alias(k)
        for k in keys
    ]
    n = F.coalesce(F.col(f"b.{count_col}"), F.lit(0)) + F.coalesce(
        F.col(f"d.{count_col}"), F.lit(0)
    )
    out = merged.select(
        *cols,
        n.cast("long").alias(count_col),
        *[
            (
                F.coalesce(F.col(f"b.{c}"), F.lit(0))
                + F.coalesce(F.col(f"d.{c}"), F.lit(0))
            )
            .cast("long")
            .alias(c)
            for c in sum_cols
        ],
    )
    return out.filter(F.col(count_col) != 0)

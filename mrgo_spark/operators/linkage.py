"""Probabilistic record linkage: sorted-neighborhood blocking +
Fellegi-Sunter match weights — the entity-resolution family.

Reference capability: the reference's data-processing surface stops at
exact keys; a training-data pipeline deduplicating *entities* (user
profiles, site records) across sources needs probabilistic linkage.
Two classic pieces, both chosen for their 100 TB shape:

- **Sorted-neighborhood blocking** (Hernandez & Stolfo 1995): order
  records inside each hard block (nation) by a sort key (account
  balance cents, id tie-break) and compare only pairs within a
  ``window``-row neighborhood. Candidate volume is w·n — LINEAR in
  the corpus, unlike bucket blocking whose within-block volume is
  quadratic under skew. The window pairs are generated by an
  offset-explode equi-join (rank r joins ranks r+1..r+w), never a
  range join or a cartesian.

- **Fellegi-Sunter scoring** (Fellegi & Sunter 1969): per-field
  agreement weights log2(m/u) and disagreement weights
  log2((1-m)/(1-u)) from GIVEN m/u probabilities. The weights are
  Python-computed integer milli-log2 constants interpolated into both
  engines (the Bloom-tuple literal rule) — query-time arithmetic is
  pure integer addition, so the whole score and verdict
  oracle-check. EM-estimating m/u needs float iteration; the given-
  parameter form is the engine-portable member (the τ=1/2 lesson).

Verdict thresholds follow the classic three-band decision rule:
``match`` / ``possible`` (clerical review band) / ``non_match``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SNM_WINDOW = 5          # sorted-neighborhood comparison window
FS_MATCH_MILLI = 6000   # >= match band (milli-log2 total weight)
FS_POSSIBLE_MILLI = 0   # >= possible band; below = non_match

# (field, m, u): P(agree | match), P(agree | non-match). Literal
# parameters — the weights below are derived ONCE in Python and ride
# as integer constants in both engines.
FS_PARAMS = [
    ("seg", 9, 10, 2, 10),     # mktsegment equal: m=0.9,  u=0.2
    ("nm1", 85, 100, 1, 10),   # name last char:   m=0.85, u=0.1
    ("bal", 95, 100, 5, 100),  # |Δbal| <= $100:   m=0.95, u=0.05
    ("sgn", 9, 10, 8, 10),     # balance sign:     m=0.9,  u=0.8
]


def _milli_log2(num: int, den: int) -> int:
    return math.floor(1000 * math.log2(num / den))


def fs_weights() -> dict[str, tuple[int, int]]:
    """{field: (agree_milli, disagree_milli)} — floor(1000·log2(m/u))
    and floor(1000·log2((1−m)/(1−u))), exact integer constants."""
    out = {}
    for f, mn, md, un, ud in FS_PARAMS:
        out[f] = (
            _milli_log2(mn * ud, md * un),
            _milli_log2((md - mn) * ud, md * (ud - un)),
        )
    return out


def snm_pairs(
    records: DataFrame,
    block_col: str,
    sort_col: str,
    id_col: str,
    window: int = SNM_WINDOW,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs: rank records inside each
    block by (sort_col, id_col), emit every (a, b) with
    1 <= rank_b − rank_a <= window. Output: all of ``records``'s
    columns suffixed _a / _b plus the block column unsuffixed.
    Volume is exactly Σ_block max(n_block − off, 0) over off=1..w —
    ≤ w·n rows, linear. Shape: one block shuffle for the rank window,
    one (block, rank) equi-join; the offset explode is w-fold on the
    LEFT side only. The ranked frame feeds BOTH join sides and
    Catalyst will not reuse the exchange across their differing
    projections (the r3/r4 class — the first plan record showed the
    source scanned + windowed twice), so it is lazily checkpointed:
    one source pass at any scale, both sides replay from
    ExistingRDD."""
    w = Window.partitionBy(block_col).orderBy(sort_col, id_col)
    ranked = records.withColumn(
        "_rn", F.row_number().over(w)
    ).localCheckpoint(eager=False)
    data_cols = [c for c in records.columns if c != block_col]
    lhs = ranked.select(
        F.col(block_col),
        F.col("_rn").alias("_rn_a"),
        *[F.col(c).alias(f"{c}_a") for c in data_cols],
    ).withColumn("_off", F.explode(F.expr(f"sequence(1, {window})")))
    rhs = ranked.select(
        F.col(block_col),
        F.col("_rn").alias("_rn_b"),
        *[F.col(c).alias(f"{c}_b") for c in data_cols],
    )
    return (
        lhs.withColumn("_rn_b", F.col("_rn_a") + F.col("_off"))
        .join(rhs, [block_col, "_rn_b"])
        .drop("_rn_a", "_rn_b", "_off")
    )


def fs_link_customers(
    customer: DataFrame, window: int = SNM_WINDOW
) -> DataFrame:
    """Fellegi-Sunter linkage over the customer table: SNM blocking on
    nation ordered by balance cents, then the four-field agreement
    vector and the summed milli-log2 weight with the three-band
    verdict. Columns: (custkey_a, custkey_b, c_nationkey, agree_seg,
    agree_nm1, agree_bal, agree_sgn, weight_milli, verdict)."""
    base = customer.select(
        "c_nationkey",
        F.col("c_custkey").alias("ck"),
        F.col("c_mktsegment").alias("seg"),
        F.expr("right(c_name, 1)").alias("nm1"),
        F.expr("cast(round(c_acctbal * 100) as bigint)").alias("bal_cents"),
    )
    pairs = snm_pairs(base, "c_nationkey", "bal_cents", "ck", window)
    wts = fs_weights()
    agree = {
        "seg": F.col("seg_a") == F.col("seg_b"),
        "nm1": F.col("nm1_a") == F.col("nm1_b"),
        "bal": F.abs(F.col("bal_cents_a") - F.col("bal_cents_b")) <= 10000,
        "sgn": (F.col("bal_cents_a") >= 0) == (F.col("bal_cents_b") >= 0),
    }
    weight = None
    out = pairs
    for f in agree:
        wa, wd = wts[f]
        out = out.withColumn(f"agree_{f}", agree[f].cast("int"))
        term = F.when(F.col(f"agree_{f}") == 1, F.lit(wa)).otherwise(
            F.lit(wd)
        )
        weight = term if weight is None else weight + term
    return out.select(
        F.col("ck_a").alias("custkey_a"),
        F.col("ck_b").alias("custkey_b"),
        "c_nationkey",
        "agree_seg",
        "agree_nm1",
        "agree_bal",
        "agree_sgn",
        weight.cast("long").alias("weight_milli"),
        F.when(
            weight >= FS_MATCH_MILLI, F.lit("match")
        )
        .when(weight >= FS_POSSIBLE_MILLI, F.lit("possible"))
        .otherwise(F.lit("non_match"))
        .alias("verdict"),
    )

"""Data-layout operators: Z-order (Morton) clustering keys.

The 100 TB lake-layout tool (the OPTIMIZE ZORDER analog): interleave
the bits of two integer dimensions so range scans on EITHER column
touch a bounded set of Z-ranges, then range-partition / sort files by
the Z key. Pure bit arithmetic end-to-end — engine-portable and
oracle-checkable, and (unlike interpreted HOF folds) the generated
shift/mask expression chain stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-dimension bits. 31 covers every 32-bit-signed key domain (TPC-H
# keys exceed 2^20 past SF 5, so a narrower default would silently
# alias distant keys and destroy the locality property — review
# finding); 2*31 = 62 keeps the Z value positive in a signed bigint.
# Inputs MUST be non-negative and < 2^Z_BITS — bits above Z_BITS are
# ignored by construction.
Z_BITS = 31


def zorder_key(c1, c2, bits: int = Z_BITS) -> F.Column:
    """Morton interleave of the low ``bits`` bits of two non-negative
    integer columns: bit i of c1 lands at position 2i, bit i of c2 at
    2i+1. 2*bits <= 62 keeps every term positive in a signed long.
    Keys >= 2^bits alias (their high bits are ignored) — size bits to
    the key domain; the 31-bit default covers int32 keys."""
    assert 2 * bits <= 62
    mask = F.lit((1 << bits) - 1).cast("long")

    def _checked(c):
        # shiftright SIGN-EXTENDS: a negative key would set every
        # odd/even bit and silently destroy locality —
        # raise per-row instead, then mask to the declared bit width
        # (high bits ignored by documented construction).
        raw = (F.col(c) if isinstance(c, str) else c).cast("long")
        return F.when(
            raw < 0,
            F.raise_error(F.lit("zorder_key: negative input key")),
        ).otherwise(raw).bitwiseAND(mask)

    a = _checked(c1)
    b = _checked(c2)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftright(a, i).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * i)
        ).cast("long")
        z = z + F.shiftright(b, i).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * i + 1)
        ).cast("long")
    return z


def zorder_audit(
    df: DataFrame,
    c1: str,
    c2: str,
    bits: int = Z_BITS,
    bucket_shift: int = 16,
) -> DataFrame:
    """Locality audit of a Z-order layout: bucket rows by the Z key's
    high bits (bucket = z >> bucket_shift — what a range-partitioned
    file boundary would see) and report each bucket's row count and
    min/max extent in BOTH source dimensions. A correct interleave
    shows bounded per-bucket extents in each dimension — the property
    that makes either-column range scans prune files.

    Map-side Z computation + one partially-aggregated groupBy on the
    bucket id; no window, no sort — the audit never shuffles rows,
    only per-bucket partials."""
    z = zorder_key(c1, c2, bits)
    return (
        df.select(
            F.col(c1).cast("long").alias("_c1"),
            F.col(c2).cast("long").alias("_c2"),
            z.alias("_z"),
        )
        .groupBy(F.shiftright("_z", bucket_shift).alias("z_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("_c1").alias("c1_min"),
            F.max("_c1").alias("c1_max"),
            F.min("_c2").alias("c2_min"),
            F.max("_c2").alias("c2_max"),
        )
    )

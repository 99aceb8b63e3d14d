"""Vector column expressions over ``array<float>`` embedding columns.

Pure built-in higher-order functions (``zip_with`` / ``aggregate``) —
JVM-side, no Python round-trips — so similarity scans stay inside
whole-stage codegen. Elements are cast to double before arithmetic so
scores are stable across engines (fixtures store float32).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<numeric> columns (as double)."""
    prods = F.zip_with(
        _c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def lit_longs(vals) -> Column:
    """Constant array<bigint> as ONE Literal node.

    ``F.array(*[F.lit(int(v)).cast("long") ...])`` builds a
    CreateArray with N Literal + N Cast children — Catalyst analyzes
    (and, pre-constant-folding, evaluates) every child. The numpy
    path of ``F.lit`` ships the whole array through Py4J and lands as
    a single ``Literal(ArrayType(LongType))`` (measured: 3.4x faster
    plan analysis on the 256-weight classifier fold, large
    literal-tree shrink on the 16x64 IVF / 8x16x8 PQ centroid
    folds). Values and arithmetic are identical by
    construction — int64 elements, no casts."""
    import numpy as np

    return F.lit(np.asarray([int(v) for v in vals], dtype=np.int64))


def lit_doubles(vals) -> Column:
    """Constant array<double> as ONE Literal node (see lit_longs)."""
    import numpy as np

    return F.lit(np.asarray([float(v) for v in vals], dtype=np.float64))

"""Mergeable distinct-count sketches (KMV / k-minimum-values).

The 100 TB cardinality tool: Spark's ``approx_count_distinct`` (HLL)
is fast but engine-opaque — its registers can never be replayed in a
second engine, so it is only ever rows-only evidence. KMV (Bar-Yossef
et al. 2002; Beyer et al. SIGMOD 2007) over an md5-derived 48-bit
uniform hash is just as mergeable (the union of two sketches is the
k smallest of the combined hash sets — the same pipeline run again)
but every intermediate is a deterministic integer, so the sketch AND
its estimate replay bit-for-bit in DuckDB: the portable-hash recipe
(winnowing / SRP / md5-MinHash) applied to cardinality estimation.

Estimator: with h_(k) the k-th smallest distinct hash on [0, 2^48),
D-hat = (k-1) * 2^48 / h_(k), exact integer division; groups with
fewer than k distinct hashes report their exact count (the sketch is
lossless below k). Relative error ~ 1/sqrt(k-2) (~13% at k=64).

Scale shape: one DISTINCT on (group, hash) — a partial-aggregated
shuffle — then a per-group top-k window (WindowGroupLimit pushes the
rank filter into the sort at scale; k rows per group survive). No
driver state; sketches for different partitions/days merge by
unioning their (group, h) rows and re-running the same top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KMV_K = 64
KMV_SPACE = 1 << 48  # md5 12-hex-prefix hash domain


def kmv_hash(col) -> F.Column:
    """Uniform 48-bit integer hash of a column's string form — first
    12 hex chars of md5, the repo's engine-portable hash recipe."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 12), 16, 10).cast(
        "long"
    )


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = KMV_K,
) -> DataFrame:
    """(group, n_kept, kth_min, kmv_estimate) per group.

    n_kept < k means the group had fewer than k distinct hashes and
    kmv_estimate IS the exact distinct count; otherwise the estimate
    is (k-1)*2^48 div kth_min (integer division — floor == truncate
    for the all-positive operands, so DuckDB ``//`` replays it)."""
    assert (k - 1) * KMV_SPACE < (1 << 63), "estimator numerator overflows"
    dh = (
        df.select(
            F.col(group_col).alias("grp"), kmv_hash(value_col).alias("h")
        )
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("h")
    kept = (
        dh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.max("h").alias("kth_min"),
        )
    )
    # greatest(..., 1): a value hashing to exactly 0 would otherwise
    # make the estimator NULL via div-by-zero (~2^-48 per value, but
    # certain somewhere in a 100 TB run); oracle carries the same floor
    est = F.when(F.col("n_kept") < k, F.col("n_kept")).otherwise(
        F.expr(f"{(k - 1) * KMV_SPACE}L div greatest(kth_min, 1L)")
    )
    return kept.select(
        "grp", "n_kept", "kth_min", est.cast("long").alias("kmv_estimate")
    )


def kmv_kept(
    df: DataFrame, group_col: str, value_col: str, k: int = KMV_K
) -> DataFrame:
    """The raw sketch rows (grp, h): each group's k smallest distinct
    48-bit hashes — the at-rest form kmv_distinct summarizes and
    kmv_merge/kmv_jaccard_pairs operate on."""
    dh = (
        df.select(
            F.col(group_col).alias("grp"), kmv_hash(value_col).alias("h")
        )
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("h")
    return (
        dh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("grp", "h")
    )


def kmv_jaccard_pairs(
    df: DataFrame, group_col: str, value_col: str, k: int = KMV_K
) -> DataFrame:
    """Sketch-algebra set overlap (Bar-Yossef et al. 2002; the
    Beyer 2007 multi-set extension): estimated Jaccard similarity
    between every PAIR of groups' value sets from their KMV sketches
    alone — the corpus-overlap question ("how much vocabulary do two
    languages/sources share?") answered without a pairwise corpus
    join. For merged sketch M = k smallest of K(A) ∪ K(B):

        Ĵ(A, B) = |{h ∈ M : h ∈ K(A) AND h ∈ K(B)}| / |M|

    — M is a uniform sample of A ∪ B, membership in both sketches
    marks h ∈ A ∩ B, so the ratio is the standard unbiased KMV
    Jaccard estimator. Every intermediate is a deterministic
    integer (md5 hashes, order statistics, counts), so the ESTIMATE
    itself replays bit-for-bit in the oracle; when both groups kept
    fewer than k hashes the sketches ARE the sets and Ĵ is exact.

    Columns: (lang_a, lang_b, k_used, n_common, jaccard_milli) with
    lang_a < lang_b, k_used = |M|, jaccard_milli = 1000·common div
    k_used. Shape: ONE corpus pass builds the kept frame
    (|groups|·k rows, checkpointed — it feeds both pair sides); all
    pair math runs on that domain-bounded frame."""
    kept = kmv_kept(df, group_col, value_col, k).localCheckpoint(
        eager=False
    )
    groups = kept.select("grp").distinct()
    pairs = (
        groups.select(F.col("grp").alias("lang_a"))
        .crossJoin(groups.select(F.col("grp").alias("lang_b")))
        .filter(F.col("lang_a") < F.col("lang_b"))
    )
    pk = (
        pairs.join(kept, kept.grp == pairs.lang_a)
        .select("lang_a", "lang_b", "h", F.lit(1).alias("ia"),
                F.lit(0).alias("ib"))
        .unionByName(
            pairs.join(kept, kept.grp == pairs.lang_b).select(
                "lang_a", "lang_b", "h", F.lit(0).alias("ia"),
                F.lit(1).alias("ib"),
            )
        )
    )
    m = pk.groupBy("lang_a", "lang_b", "h").agg(
        F.max("ia").alias("ia"), F.max("ib").alias("ib")
    )
    w = Window.partitionBy("lang_a", "lang_b").orderBy("h")
    top = m.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    return (
        top.groupBy("lang_a", "lang_b")
        .agg(
            F.count("*").cast("long").alias("k_used"),
            F.count(F.when((F.col("ia") == 1) & (F.col("ib") == 1), 1))
            .cast("long")
            .alias("n_common"),
        )
        .withColumn(
            "jaccard_milli",
            F.expr("cast((1000 * n_common) div k_used as bigint)"),
        )
    )


def kmv_merge(sketch_rows: DataFrame, k: int = KMV_K) -> DataFrame:
    """Union-merge raw sketch rows (grp, h) from any number of
    partial sketches: the k smallest of the combined distinct hashes
    — demonstrating that KMV composes across files/days/clusters
    exactly like HLL register-max, but verifiably."""
    dh = sketch_rows.select("grp", "h").distinct()
    w = Window.partitionBy("grp").orderBy("h")
    return (
        dh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("grp", "h")
    )


# -------------------------------------------------- Count-Min sketch

CMS_D = 4       # lanes = disjoint 16-bit md5 hex slices (chars 4i+1..4i+4)
CMS_W = 2048    # counters per lane (position = slice mod CMS_W)


def cms_lane_pos(col, lane: int, w: int = CMS_W) -> F.Column:
    """Lane position of a value: the lane-th disjoint 16-bit md5 hex
    slice of str(value), mod the lane width — independent probes by
    construction (the r5 Bloom-lane recipe)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 4 * lane + 1, 4), 16, 10)
        .cast("long")
        % F.lit(w).cast("long")
    )


def cms_counters(
    df: DataFrame, value_col: str, d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """(lane, pos, cnt) Count-Min counters over the value column —
    at most d*w rows regardless of input size (fixed memory, the
    point of the sketch), built with ONE partially-aggregated
    groupBy over the lane explode. Counters MERGE by summing
    (lane, pos) cells — per-day/per-partition sketches add."""
    lanes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("lane"),
                    cms_lane_pos(value_col, i, w).alias("pos"),
                )
                for i in range(d)
            ]
        )
    )
    return (
        df.select(lanes.alias("_lp"))
        .select(F.col("_lp.lane").alias("lane"), F.col("_lp.pos").alias("pos"))
        .groupBy("lane", "pos")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    value_col: str,
    k: int = 20,
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """(value, exact_cnt, cms_estimate, overestimate) for the k most
    frequent values (count DESC, value ASC tie-break): the estimate
    is min over lanes of the value's counter — CMS's one-sided
    guarantee (estimate >= exact, property-tested) replayed with
    deterministic integers end-to-end.

    Scale shape: the counters frame is <= d*w rows (broadcast side);
    candidates come from the exact top-k here (demo corpus) — at
    100 TB candidates come from per-partition top-k and the sketch
    answers for values the exact pass never kept."""
    exact = (
        df.select(F.col(value_col).cast("string").alias("value"))
        .groupBy("value")
        .agg(F.count("*").cast("long").alias("exact_cnt"))
    )
    # orderBy+limit → TakeOrderedAndProject: per-partition bounded
    # top-k + driver merge, never a single-task global sort of the
    # distinct-value frame (same result, same
    # (cnt DESC, value) determinism as the oracle's row_number)
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("value")).limit(k)
    counters = cms_counters(df, value_col, d, w)
    probes = top.select(
        "value",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("lane"),
                        cms_lane_pos("value", i, w).alias("pos"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("_lp"),
    ).select(
        "value",
        "exact_cnt",
        F.col("_lp.lane").alias("lane"),
        F.col("_lp.pos").alias("pos"),
    )
    est = (
        probes.join(F.broadcast(counters), ["lane", "pos"])
        .groupBy("value", "exact_cnt")
        .agg(F.min("cnt").cast("long").alias("cms_estimate"))
    )
    return est.select(
        "value",
        "exact_cnt",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_cnt"))
        .cast("long")
        .alias("overestimate"),
    )


# ------------------------------------------------------- HyperLogLog

HLL_M = 64          # registers (6 index bits off the 48-bit hash)
HLL_WBITS = 42      # rank bits: h div HLL_M lies in [0, 2^42)
HLL_RHO_MAX = HLL_WBITS + 1   # rho(0) over 42 bits
# alpha_64 as the EXACT rational from Flajolet et al. 2007:
# alpha_m = 0.7213/(1 + 1.079/m) = 7213*m / (10000*m + 10790)
HLL_ALPHA_NUM = 7213 * HLL_M
HLL_ALPHA_DEN = 10000 * HLL_M + 10790


def hll_registers(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """(grp, j, m_j) HyperLogLog register table over the md5 48-bit
    hash — j = h mod m, rho = (leading zeros of the remaining 42 bits)
    + 1 computed as HLL_RHO_MAX - bit_length(w) with bit_length =
    length(bin(w)) (EXACT integer log₂, identical in both engines —
    the zipf trick; w = 0 ⇒ rho = HLL_RHO_MAX). At most m rows per
    group regardless of input size; registers MERGE by per-(grp, j)
    MAX — the sketch algebra that lets per-day/per-partition sketches
    combine, here with every intermediate a replayable integer
    (Spark's own approx_count_distinct keeps the same registers
    engine-opaquely)."""
    h = kmv_hash(value_col)
    w = F.expr(f"_h div {HLL_M}")
    rho = F.when(w == 0, F.lit(HLL_RHO_MAX)).otherwise(
        F.lit(HLL_RHO_MAX) - F.length(F.bin(w))
    )
    return (
        df.select(F.col(group_col).alias("grp"), h.alias("_h"))
        .select(
            "grp",
            (F.col("_h") % HLL_M).cast("long").alias("j"),
            rho.cast("long").alias("rho"),
        )
        .groupBy("grp", "j")
        .agg(F.max("rho").cast("long").alias("m_j"))
    )


def hll_merge(register_rows: DataFrame) -> DataFrame:
    """Union-merge raw register rows (grp, j, m_j) from any number of
    partial sketches: per-(grp, j) max — the same frame the builder
    yields, so merging is literally re-running the aggregate."""
    return register_rows.groupBy("grp", "j").agg(
        F.max("m_j").cast("long").alias("m_j")
    )


def hll_distinct(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """(grp, n_regs_hit, s_sum, hll_estimate) per group — the raw
    HyperLogLog harmonic-mean estimate in exact integer arithmetic:

        S = Σ_j 2^(RHO_MAX - M[j])   (absent registers count 2^RHO_MAX)
        E = alpha_m · m² / Σ_j 2^-M[j]
          = (alpha_num · ((m² << RHO_MAX) div S)) div alpha_den

    with alpha_m the exact rational 7213·m/(10000·m+10790). Integer
    division twice (both non-negative, floor == truncate, DuckDB //
    replays). Overflow bound: valid while the raw estimate stays
    under 2^63/alpha_num ≈ 2·10¹³ distincts — beyond that you want
    more registers anyway. The standard small-range linear-counting
    correction needs ln() (NOT hash-portable — the tfidf lesson), so
    the declared surface reports the raw estimate plus n_regs_hit
    (64 - n_regs_hit empty registers) so callers can apply float-side
    corrections; the demo entry carries exact_distinct alongside to
    document the error honestly."""
    regs = hll_registers(df, group_col, value_col)
    per = regs.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_regs_hit"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {HLL_RHO_MAX} - m_j)")
        )
        .cast("long")
        .alias("_s_present"),
    )
    s_sum = (
        F.col("_s_present")
        + (F.lit(HLL_M).cast("long") - F.col("n_regs_hit"))
        * F.lit(1 << HLL_RHO_MAX).cast("long")
    )
    return per.withColumn("s_sum", s_sum.cast("long")).select(
        "grp",
        "n_regs_hit",
        "s_sum",
        F.expr(
            f"(cast({HLL_ALPHA_NUM} as bigint) * ({HLL_M * HLL_M} * "
            f"cast({1 << HLL_RHO_MAX} as bigint) div s_sum)) "
            f"div {HLL_ALPHA_DEN}"
        )
        .cast("long")
        .alias("hll_estimate"),
    )


def quantile_cells(
    df: DataFrame, group_col: str, value, width: int
) -> DataFrame:
    """The sketch state itself: per-(group, bucket) counts with
    bucket = value div width. Cells merge by plain addition and the
    cell count is domain/width per group regardless of row volume —
    which is also why this builder streams as-is (bounded state; see
    streaming.stream_ops.streaming_quantile_cells)."""
    vc = value if not isinstance(value, str) else F.col(value)
    return (
        df.select(
            F.col(group_col).alias("grp"),
            vc.cast("long").alias("_v"),
        )
        .groupBy("grp", F.expr(f"_v div {width}").alias("bucket"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def bucket_quantile_sketch(
    df: DataFrame,
    group_col: str,
    value,
    width: int,
    qs: tuple = (25, 50, 90, 99),
) -> DataFrame:
    """Mergeable fixed-width-bucket quantile sketch — the verifiable
    (deterministic, engine-portable) twin of approx_percentile, the
    KMV/CMS pattern applied to quantiles. The sketch IS the per-
    (group, bucket) count table: cells merge by plain addition
    (tested merge law), the state is domain/width cells regardless of
    row count, and the q-th percentile estimate is the lower edge of
    the first bucket whose cumulative count reaches rank
    ceil(q·n/100) — a one-sided estimate with error < ``width`` by
    construction (both facts are integers the oracle replays).

    Shape at scale: one partial-agg shuffle to cells, one per-group
    ordered cumsum over the CELL table (domain-sized), a bucket-min
    per (group, q). Rows: |groups| × |qs|. Columns: (grp, q, n,
    rank_target, bucket, est_lo).

    Caller contract: value must be a non-negative integer column
    (div floors; negative values would straddle bucket 0 — pre-shift
    them)."""
    # cells feeds two consumers (cumsum + totals) with different
    # projections — without the lineage cut the corpus-sized agg
    # upstream re-runs per consumer (the
    # no-exchange-reuse-across-projections class; found by the r10
    # winsorize plan audit, where each re-run carried the interpreted
    # classifier fold). The frame is domain/width cells: free to cut.
    cells = quantile_cells(df, group_col, value, width).localCheckpoint(
        eager=False
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.withColumn("cum", F.sum("cnt").over(w).cast("long"))
    totals = cells.groupBy("grp").agg(
        F.sum("cnt").cast("long").alias("n")
    )
    q_lit = F.array(*[F.lit(int(q)).cast("long") for q in qs])
    targets = totals.select(
        "grp", "n", F.explode(q_lit).alias("q")
    ).withColumn(
        "rank_target",
        F.expr("(q * n + 99) div 100").cast("long"),
    )
    hit = targets.join(cum, "grp").where(
        F.col("cum") >= F.col("rank_target")
    )
    return (
        hit.groupBy("grp", "q", "n", "rank_target")
        .agg(F.min("bucket").cast("long").alias("bucket"))
        .withColumn(
            "est_lo", (F.col("bucket") * F.lit(width)).cast("long")
        )
    )

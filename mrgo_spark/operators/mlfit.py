"""Closed-form model fitting as aggregates.

Distributed ML beyond clustering: ordinary least squares solved with
EXACT integer normal equations — one partially-aggregated pass
collects the sufficient statistics (n, Σx, Σy, Σxy, Σx²) per group
and Cramer's rule yields the slope/intercept as integer fractions.
No iteration, no float accumulation ordering, no collect: the whole
fit is a groupBy, so it scales exactly like any aggregate and the
result replays bit-for-bit in a second engine (the fixed-point
recipe applied to model fitting; gradient-descent fits need exp/log
and are NOT hash-portable — this is the form that is).

Caller contract: the OUTPUT Cramer terms must fit a signed
64-bit integer — n·σx·σy·n in magnitude. INTERMEDIATES (n·Σx²,
Σx·Σy, 10⁶·num) are computed in DECIMAL(38,0), so a large
n·Σx² does not overflow before the subtraction that cancels it
(the 10× scale probe caught exactly this on degree assortativity:
n·Σx² = 9.227e18 > 2^63 while the true varx was 3.45e17 — the
intermediate was the only overflow). DuckDB oracles get this for
free: their SUMs are HUGEINT and only the final value casts to
BIGINT — the decimal intermediates make Spark behave the same way.
For domains where the TRUE terms exceed 2^63 (n² · variance at
~10^12 rows/group), pre-bucket the values (the AUC score-bucket
trick) or fit per finer group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,0)"


def _dec(c) -> F.Column:
    """Widen an integer column to exact decimal(38,0) so products of
    int64-scale values cannot overflow before final subtraction."""
    return c.cast(_DEC)


def linreg_fit_exact(
    df: DataFrame, group_col: str, x, y
) -> DataFrame:
    """Per-group exact OLS y = a + b·x:
    (grp, n, slope_num, slope_den, intercept_num, intercept_den,
    slope_micro) with b = slope_num/slope_den,
    a = intercept_num/slope_den, and slope_micro = the slope in
    integer microunits ((10^6·num) div den — integer division
    truncating toward zero, exactly as in DuckDB; NOT floor for
    negative slopes, but both engines truncate so parity holds) for
    eyeballing. Degenerate groups (constant x → den = 0) report
    NULL slope_micro and the raw 0 denominator honestly."""
    xc = x if not isinstance(x, str) else F.col(x)
    yc = y if not isinstance(y, str) else F.col(y)
    g = df.select(
        F.col(group_col).alias("grp"),
        xc.cast("long").alias("_x"),
        yc.cast("long").alias("_y"),
    ).groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
    )
    nn, sx, sy = _dec(F.col("n")), _dec(F.col("_sx")), _dec(F.col("_sy"))
    sxy, sxx = _dec(F.col("_sxy")), _dec(F.col("_sxx"))
    slope_num = nn * sxy - sx * sy
    slope_den = nn * sxx - sx * sx
    icept_num = sy * sxx - sx * sxy
    out = g.select(
        "grp",
        "n",
        slope_num.cast("long").alias("slope_num"),
        slope_den.cast("long").alias("slope_den"),
        icept_num.cast("long").alias("intercept_num"),
        slope_den.cast("long").alias("intercept_den"),
    )
    # decimal(38,0) intermediate: 10^6·num can pass 2^63 while the
    # quotient (a micro slope) is tiny; decimal `div` truncates
    # toward zero exactly like bigint div and DuckDB //
    micro = F.when(
        F.col("slope_den") != 0,
        F.expr(
            "(cast(1000000 as decimal(38,0)) * slope_num) div slope_den"
        ),
    )
    return out.withColumn("slope_micro", micro.cast("long"))


def corr_pairs_exact(
    df: DataFrame, group_col: str, cols: dict
) -> DataFrame:
    """Per-group exact correlation-matrix sufficient statistics for
    every unordered column pair: (grp, x_col, y_col, n, corr_num,
    varx_num, vary_num) with Pearson r = corr_num /
    sqrt(varx_num · vary_num); corr_num = n·Σxy − Σx·Σy and
    var*_num = n·Σx² − (Σx)² are the exact integer Cramer terms, so
    the whole matrix replays bit-for-bit in a second engine (sqrt is
    libm — the float r is derived OUTSIDE the hash surface). One
    partial-agg pass computes all k + k(k+1)/2 sums; the pair rows
    are then unpivoted from a single aggregate row per group — no
    second scan, no self-join. `cols` maps output name → integer-
    valued Column; keep n·|x|·|y|·n inside int64 (see module doc)."""
    names = list(cols)
    sel = [F.col(group_col).alias("grp")] + [
        (c if not isinstance(c, str) else F.col(c))
        .cast("long")
        .alias(f"_c_{n}")
        for n, c in cols.items()
    ]
    aggs = [F.count("*").cast("long").alias("n")]
    for n in names:
        aggs.append(F.sum(f"_c_{n}").cast("long").alias(f"_s_{n}"))
    for i, a in enumerate(names):
        for b in names[i:]:
            aggs.append(
                F.sum(F.col(f"_c_{a}") * F.col(f"_c_{b}"))
                .cast("long")
                .alias(f"_p_{a}_{b}")
            )
    g = df.select(*sel).groupBy("grp").agg(*aggs)
    pair_structs = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            # decimal(38,0) intermediates: n·Σx² alone can pass
            # 2^63 while the subtracted Cramer value fits — the
            # overflow the 10× assortativity probe caught
            nn = _dec(F.col("n"))
            pair_structs.append(
                F.struct(
                    F.lit(a).alias("x_col"),
                    F.lit(b).alias("y_col"),
                    (nn * _dec(F.col(f"_p_{a}_{b}"))
                     - _dec(F.col(f"_s_{a}")) * _dec(F.col(f"_s_{b}")))
                    .cast("long")
                    .alias("corr_num"),
                    (nn * _dec(F.col(f"_p_{a}_{a}"))
                     - _dec(F.col(f"_s_{a}")) * _dec(F.col(f"_s_{a}")))
                    .cast("long")
                    .alias("varx_num"),
                    (nn * _dec(F.col(f"_p_{b}_{b}"))
                     - _dec(F.col(f"_s_{b}")) * _dec(F.col(f"_s_{b}")))
                    .cast("long")
                    .alias("vary_num"),
                )
            )
    exploded = g.select(
        "grp", "n", F.explode(F.array(*pair_structs)).alias("_pr")
    )
    return exploded.select(
        "grp",
        F.col("_pr.x_col").alias("x_col"),
        F.col("_pr.y_col").alias("y_col"),
        "n",
        F.col("_pr.corr_num").alias("corr_num"),
        F.col("_pr.varx_num").alias("varx_num"),
        F.col("_pr.vary_num").alias("vary_num"),
    )


def auc_exact(df: DataFrame, group_col: str, score, label) -> DataFrame:
    """Per-group exact tie-aware ROC AUC as an integer fraction —
    the Mann-Whitney rank-sum form with ties counted 1/2 (average
    ranks). Shape: groupBy (grp, score) → per-score (cnt, pos), one
    ordered cumulative-sum window PER GROUP over the score-bucket
    table (|distinct scores| rows, not |rows| — at 100 TB the window
    input is domain-sized; range-partition the cumsum if a single
    group's score domain outgrows one task), then one final agg:
      2·Σ_pos avg_rank = Σ pos·(2·cum_below + cnt + 1)
      auc_num = that − np·(np+1);  auc_den = 2·np·nn.
    All integers: auc = auc_num/auc_den replays exactly; auc_micro =
    (10⁶·num) div den (truncating division; num ≥ 0 here so truncate
    and floor coincide, and both engines truncate regardless).
    Degenerate groups (no positives or no negatives) report NULL
    auc_micro, den 0."""
    from pyspark.sql import Window

    sc = score if not isinstance(score, str) else F.col(score)
    lb = label if not isinstance(label, str) else F.col(label)
    pts = df.select(
        F.col(group_col).alias("grp"),
        sc.cast("long").alias("score"),
        lb.cast("long").alias("pos"),
    )
    sb = pts.groupBy("grp", "score").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("pos"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = sb.withColumn(
        "cum_below", (F.sum("cnt").over(w) - F.col("cnt")).cast("long")
    )
    g = wb.groupBy("grp").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(
            F.col("pos")
            * (2 * F.col("cum_below") + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("_rs2"),
    )
    num = (
        _dec(F.col("_rs2"))
        - _dec(F.col("n_pos")) * (_dec(F.col("n_pos")) + 1)
    ).cast("long")
    den = (2 * _dec(F.col("n_pos")) * (_dec(F.col("n")) - _dec(F.col("n_pos")))).cast(
        "long"
    )
    out = g.select(
        "grp",
        "n",
        "n_pos",
        num.alias("auc_num"),
        den.alias("auc_den"),
    )
    # decimal intermediate: 10^6·auc_num passes 2^63 once
    # np·nn > ~9·10^12 (a few million rows/group) though auc_micro
    # itself is ≤ 10^6
    micro = F.when(
        F.col("auc_den") != 0,
        F.expr(
            "(cast(1000000 as decimal(38,0)) * auc_num) div auc_den"
        ),
    )
    return out.withColumn("auc_micro", micro.cast("long"))


def pr_at_thresholds(
    df: DataFrame, group_col: str, score, label, thresholds
) -> DataFrame:
    """Per-group exact precision/recall at literal score thresholds —
    the PR-curve companion to auc_exact, entirely in integers.
    Predict positive when score ≥ t; per (grp, t):
      tp, fp, n_pos → precision = tp/(tp+fp), recall = tp/n_pos,
    reported as *_micro = (10⁶·num) div den (floor, non-negative;
    NULL when nothing is predicted positive / no positives exist).

    Shape: score-bucket agg first (|distinct scores| rows — the
    auc_exact trick), THEN the |thresholds|-way explode runs over the
    bucket table, not the corpus, so the fan-out is domain-sized.
    One final partial-agg shuffle on (grp, t)."""
    from pyspark.sql import Window

    sc = score if not isinstance(score, str) else F.col(score)
    lb = label if not isinstance(label, str) else F.col(label)
    sb = (
        df.select(
            F.col(group_col).alias("grp"),
            sc.cast("long").alias("score"),
            lb.cast("long").alias("pos"),
        )
        .groupBy("grp", "score")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("pos").cast("long").alias("pos"),
        )
    )
    w_g = Window.partitionBy("grp")
    sb = sb.withColumn(
        "n_pos", F.sum("pos").over(w_g).cast("long")
    )
    t_lit = F.array(*[F.lit(int(t)).cast("long") for t in thresholds])
    fan = sb.select(
        "grp", "score", "cnt", "pos", "n_pos",
        F.explode(t_lit).alias("t"),
    )
    g = (
        fan.groupBy("grp", "t")
        .agg(
            F.sum(F.when(F.col("score") >= F.col("t"), F.col("pos")).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(
                    F.col("score") >= F.col("t"), F.col("cnt") - F.col("pos")
                ).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
            F.max("n_pos").cast("long").alias("n_pos"),
        )
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.expr("(1000000L * tp) div (tp + fp)"),
    )
    rec = F.when(
        F.col("n_pos") > 0, F.expr("(1000000L * tp) div n_pos")
    )
    return g.select(
        "grp",
        F.col("t").cast("long").alias("t"),
        "tp",
        "fp",
        "n_pos",
        prec.cast("long").alias("precision_micro"),
        rec.cast("long").alias("recall_micro"),
    )


def class_balance_exact(
    df: DataFrame, group_col: str, class_col: str
) -> DataFrame:
    """Per-group label-balance audit with EXACT Gini impurity as an
    integer fraction: gini = 1 − Σ pᵢ² = (n² − Σ cᵢ²)/n² — the
    impurity/imbalance metric of a labeled dataset without a single
    float (entropy needs log, which is libm and not hash-portable;
    Gini is the rational member of the impurity family). Two partial
    aggs: (grp, class) counts, then per-group Σ/max/count over the
    |classes|-sized frame. Returns (grp, n, n_classes, majority_cnt,
    gini_num, gini_den, gini_micro); a single-class group reports
    gini 0 honestly. Bound: n ≤ 3·10⁹ keeps n² in int64."""
    c = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(class_col).alias("cls"),
        )
        .groupBy("grp", "cls")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    g = c.groupBy("grp").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_classes"),
        F.max("cnt").cast("long").alias("majority_cnt"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("_ss"),
    )
    num = (F.col("n") * F.col("n") - F.col("_ss")).cast("long")
    den = (F.col("n") * F.col("n")).cast("long")
    out = g.select(
        "grp", "n", "n_classes", "majority_cnt",
        num.alias("gini_num"), den.alias("gini_den"),
    )
    return out.withColumn(
        "gini_micro",
        F.expr("(1000000L * gini_num) div gini_den").cast("long"),
    )


def cohen_kappa_agreement(
    df: DataFrame, group_col: str, judge1, judge2
) -> DataFrame:
    """Per-group Cohen's kappa between two BINARY judges (Cohen 1960)
    as exact integers — the chance-corrected agreement metric the raw
    keep-rate comparison (classifier_calibration_bins) cannot give:
    two judges that both keep 95% of docs agree 90%+ by chance alone,
    and kappa is what is left after that chance floor is subtracted.
    The inter-annotator-agreement audit of a labeling/filtering
    pipeline (learned filter vs heuristic rule, two model versions,
    model vs human sample).

    kappa = (p_o − p_e) / (1 − p_e) with p_o = agree/n and
    p_e = (r₁c₁ + r₀c₀)/n² — every term rational, so the exact
    surface is

        kappa_milli = 1000·(n·agree − pe_num) div (n² − pe_num)

    with pe_num = r₁c₁ + r₀c₀ (r = judge1 marginals, c = judge2).
    When n² == pe_num — which happens exactly when BOTH judges are
    constant with the same verdict (2r₁c₁ = n(r₁+c₁) forces
    r₁ = c₁ ∈ {0, n}) — kappa is undefined and emitted as NULL,
    never a fake 0 (unanimous trivial agreement must not look like
    chance-level). One constant judge against a varying one yields
    kappa = 0 exactly (p_o == p_e), the honest value. The
    numerator can be negative (worse-than-chance agreement); both
    engines' integer division truncates toward zero, so the value
    still replays exactly.

    ``judge1``/``judge2`` are boolean Columns; NULLs fail loudly per
    row (a NULL verdict silently shrinking a marginal is the
    curriculum_order class of bug). Columns: (grp, n, n_both_pos,
    n_both_neg, n_j1_only, n_j2_only, po_milli, pe_milli,
    kappa_milli). The 1000-scaled milli intermediates (1000·pe_num ~
    1000·n²) go through decimal(38,0) — the r6 overflow rule for
    products of int64 aggregates; int64 alone would crash under ANSI
    at n ≈ 10⁸ per group. Outputs are small (milli values in
    [−1000, 1000]); the decimal intermediates are exact to n ≈ 10¹⁷
    per group.

    Shape: map-only flag projection + ONE partial-agg shuffle to
    |groups| rows; the kappa arithmetic runs on the tiny agg frame."""
    base = df.select(
        F.col(group_col).alias("grp"),
        judge1.cast("boolean").alias("_j1"),
        judge2.cast("boolean").alias("_j2"),
    ).filter(
        F.assert_true(
            F.col("_j1").isNotNull() & F.col("_j2").isNotNull(),
            F.lit("cohen_kappa_agreement: judge verdicts must be non-null"),
        ).isNull()
    )
    g = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("_j1") & F.col("_j2")).cast("long"))
        .cast("long")
        .alias("n_both_pos"),
        F.sum((~F.col("_j1") & ~F.col("_j2")).cast("long"))
        .cast("long")
        .alias("n_both_neg"),
        F.sum((F.col("_j1") & ~F.col("_j2")).cast("long"))
        .cast("long")
        .alias("n_j1_only"),
        F.sum((~F.col("_j1") & F.col("_j2")).cast("long"))
        .cast("long")
        .alias("n_j2_only"),
    )
    # decimal(38,0) throughout the products: r1·c1 ~ n² and the
    # 1000-scaled numerators overflow int64 at n ≈ 10⁸ per group
    # (ANSI crash) — the r6 rule, applied before the subtraction
    r1 = _dec(F.col("n_both_pos") + F.col("n_j1_only"))
    c1 = _dec(F.col("n_both_pos") + F.col("n_j2_only"))
    nn = _dec(F.col("n"))
    agree = _dec(F.col("n_both_pos") + F.col("n_both_neg"))
    pe_num = r1 * c1 + (nn - r1) * (nn - c1)
    return (
        g.withColumn("_pe", pe_num.cast(_DEC))
        .withColumn("_agree", agree.cast(_DEC))
        .select(
            "grp",
            "n",
            "n_both_pos",
            "n_both_neg",
            "n_j1_only",
            "n_j2_only",
            F.expr(f"(1000 * _agree) div cast(n as {_DEC})")
            .cast("long")
            .alias("po_milli"),
            F.expr(
                f"(1000 * _pe) div (cast(n as {_DEC}) * cast(n as {_DEC}))"
            )
            .cast("long")
            .alias("pe_milli"),
            F.when(
                F.expr(f"cast(n as {_DEC}) * cast(n as {_DEC})")
                == F.col("_pe"),
                F.lit(None).cast("long"),
            )
            .otherwise(
                F.expr(
                    f"(1000 * (cast(n as {_DEC}) * _agree - _pe))"
                    f" div (cast(n as {_DEC}) * cast(n as {_DEC}) - _pe)"
                ).cast("long")
            )
            .alias("kappa_milli"),
        )
    )


def fleiss_kappa_agreement(
    df: DataFrame, group_col: str, judge_cols: list
) -> DataFrame:
    """Per-group Fleiss' kappa over m ≥ 2 BINARY judges (Fleiss
    1971) as exact integers — Cohen's kappa generalized to a PANEL:
    the inter-annotator agreement of an RLHF labeling pool or an
    ensemble of quality filters, where "do the m judges keep the
    SAME docs" is the question and pairwise Cohen matrices don't
    summarize. Per item, k₁ = keep votes, k₀ = m − k₁; with
    S = Σᵢ [k₁(k₁−1) + k₀(k₀−1)], Tⱼ = column vote totals, N = |group|:

        P_o = S / (N·m(m−1)),  P_e = (T₁² + T₀²) / (m²N²)
        kappa = (m²·N·S − m(m−1)·(T₁²+T₀²))
                  div (m(m−1)·(m²N² − T₁² − T₀²))      (×1000)

    Every term is integer; the cross products run in decimal(38,0)
    (the r6 rule — m²N² passes 2^63 near N ≈ 10⁹/group). A group
    where every item is unanimous in the SAME direction for all
    judges has P_e = 1 → kappa NULL (the Cohen convention: never a
    fake 0). Columns: (grp, n, s_sum, t_keep, po_milli, pe_milli,
    kappa_milli). Map-only vote flags + ONE shuffle to |groups|
    rows."""
    m = len(judge_cols)
    if m < 2:
        raise ValueError("fleiss_kappa_agreement: need >= 2 judges")
    m2 = m * (m - 1)
    k1 = sum(
        (j.cast("int") for j in judge_cols), F.lit(0)
    ).cast("long")
    base = df.select(
        F.col(group_col).alias("grp"), k1.alias("_k1")
    ).withColumn("_k0", F.lit(m).cast("long") - F.col("_k1"))
    g = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.col("_k1") * (F.col("_k1") - 1)
            + F.col("_k0") * (F.col("_k0") - 1)
        )
        .cast("long")
        .alias("s_sum"),
        F.sum("_k1").cast("long").alias("t_keep"),
    )
    nn = _dec(F.col("n"))
    t1 = _dec(F.col("t_keep"))
    t0 = _dec(F.lit(m) * F.col("n") - F.col("t_keep"))
    tsq = (t1 * t1 + t0 * t0).cast(_DEC)
    den_all = (F.lit(m * m) * nn * nn).cast(_DEC)
    return (
        g.withColumn("_tsq", tsq)
        .withColumn("_dall", den_all)
        .select(
            "grp",
            "n",
            "s_sum",
            "t_keep",
            F.expr(
                f"(1000 * cast(s_sum as {_DEC}))"
                f" div (cast(n as {_DEC}) * {m2})"
            )
            .cast("long")
            .alias("po_milli"),
            F.expr(f"(1000 * _tsq) div _dall").cast("long").alias(
                "pe_milli"
            ),
            F.when(
                F.col("_dall") == F.col("_tsq"),
                F.lit(None).cast("long"),
            )
            .otherwise(
                F.expr(
                    f"(1000 * ({m * m} * cast(n as {_DEC})"
                    f" * cast(s_sum as {_DEC}) - {m2} * _tsq))"
                    f" div ({m2} * (_dall - _tsq))"
                ).cast("long")
            )
            .alias("kappa_milli"),
        )
    )

"""Data profiling: per-column summary statistics in one pass.

The ubiquitous engine utility a pipeline runs before trusting a new
table: null counts, exact distinct counts, min/max per column —
computed in a SINGLE aggregate over the table (Spark expands the
multi-distinct into one Expand + partial-agg plan; no per-column
re-scan) and unpivoted into one row per column with the corr-matrix
explode idiom (a k-way UNION would re-run the aggregate per column).

Min/max are computed on the NATIVE type and cast to string only for
the uniform output schema — casting before the extremum would order
"10" < "9". Caller contract: pass double columns pre-scaled to
integers (cents) — double→string formatting differs across engines
and would poison the hash surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(df: DataFrame, cols: dict) -> DataFrame:
    """Profile the given columns: (col_name, n_rows, null_cnt,
    distinct_cnt, min_s, max_s). ``cols`` maps output name →
    column/Column (already normalized to hash-portable types).
    distinct_cnt is exact and excludes NULL (count(DISTINCT x)
    semantics in both engines); null_cnt = rows − non-null."""
    names = list(cols)
    sel = [
        (c if not isinstance(c, str) else F.col(c)).alias(f"_c_{n}")
        for n, c in cols.items()
    ]
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for n in names:
        aggs += [
            F.count(f"_c_{n}").cast("long").alias(f"_nn_{n}"),
            F.countDistinct(f"_c_{n}").cast("long").alias(f"_d_{n}"),
            F.min(f"_c_{n}").cast("string").alias(f"_min_{n}"),
            F.max(f"_c_{n}").cast("string").alias(f"_max_{n}"),
        ]
    g = df.select(*sel).agg(*aggs)
    structs = [
        F.struct(
            F.lit(n).alias("col_name"),
            (F.col("n_rows") - F.col(f"_nn_{n}"))
            .cast("long")
            .alias("null_cnt"),
            F.col(f"_d_{n}").alias("distinct_cnt"),
            F.col(f"_min_{n}").alias("min_s"),
            F.col(f"_max_{n}").alias("max_s"),
        )
        for n in names
    ]
    ex = g.select("n_rows", F.explode(F.array(*structs)).alias("_p"))
    return ex.select(
        F.col("_p.col_name").alias("col_name"),
        "n_rows",
        F.col("_p.null_cnt").alias("null_cnt"),
        F.col("_p.distinct_cnt").alias("distinct_cnt"),
        F.col("_p.min_s").alias("min_s"),
        F.col("_p.max_s").alias("max_s"),
    )


def corpus_datacard(
    documents: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Per-language corpus datacard — the one-table summary a
    training-data release ships: document and token volume, heuristic
    and classifier keep rates, and duplication, all from ONE pass.

    Columns: (lang, n_docs, total_tokens, heuristic_keep,
    classifier_keep, distinct_fingerprints, dup_docs) where
    heuristic_keep counts quality_keep() docs, classifier_keep counts
    classifier_score >= 0 docs, distinct_fingerprints is the exact
    count of distinct token-multiset canonical strings (the
    dedup_fingerprint key), and dup_docs = n_docs −
    distinct_fingerprints.

    Scale shape: every per-doc feature (token count, keep flags,
    canonical fingerprint) is a map-side column expression; ONE
    groupBy(lang) aggregates them (the count-distinct expands to the
    standard two-phase plan — no per-metric re-scan, the profile
    idiom). Composes three already-declared contracts (quality_keep,
    classifier_score_col, fingerprint canonicalization) so the
    datacard is consistent with the filters it summarizes."""
    from ..functions.text import ascii_tokens
    from .dedup import fingerprint
    from .textstats import classifier_score_col, quality_keep

    toks = ascii_tokens(text_col, lowercase=True)
    per_doc = documents.select(
        F.col(lang_col).alias("lang"),
        F.size(toks).cast("long").alias("_ntok"),
        quality_keep(text_col).cast("int").alias("_hkeep"),
        (classifier_score_col(text_col) >= 0).cast("int").alias("_ckeep"),
        # dedup.fingerprint = sha2 over the canonical sorted-token
        # string: the count-distinct shuffle carries 64-byte hashes,
        # not document-sized canonical strings (10x probe measured
        # 13.1x wall on the raw-string form — shuffle-volume bound).
        # The oracle counts DISTINCT over the RAW canonical string,
        # which doubles as a collision check on this hash.
        fingerprint(text_col).alias("_fp"),
    )
    out = per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_ntok").cast("long").alias("total_tokens"),
        F.sum("_hkeep").cast("long").alias("heuristic_keep"),
        F.sum("_ckeep").cast("long").alias("classifier_keep"),
        F.countDistinct("_fp").cast("long").alias("distinct_fingerprints"),
    )
    return out.withColumn(
        "dup_docs",
        (F.col("n_docs") - F.col("distinct_fingerprints")).cast("long"),
    )


def k_anonymity_audit(
    df: DataFrame, qid_cols: list[str], k: int = 5
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier column set (Sweeney
    2002) — the privacy gate a training-data pipeline runs next to
    pii_scrub: scrubbing removes DIRECT identifiers; this measures
    re-identification risk from the columns that remain. A row is
    k-anonymous when at least k−1 other rows share its full
    quasi-identifier combination; any group smaller than k is a
    re-identification risk and is flagged (the remediation —
    generalize a column, suppress the group — is the caller's
    policy decision, so the audit reports, never drops).

    Per equivalence class: its quasi-identifier values, size,
    ``at_risk`` (size < k), and ``risk_milli`` = 1000 div size — the
    standard 1/|class| prosecutor-model re-identification
    probability, exact. NULL is a legitimate quasi-identifier value
    (groupBy treats it as its own class — suppressed cells still
    form a linkable group, so hiding them would understate risk).

    Columns: (*qid_cols, n, at_risk, risk_milli). Shape: ONE
    partial-agg shuffle to the |classes|-sized frame; everything
    after is arithmetic on that frame. At 100 TB this is exactly a
    wordcount over the QI tuple."""
    if not qid_cols:
        raise ValueError("k_anonymity_audit: qid_cols must be non-empty")
    if k < 2:
        raise ValueError(f"k_anonymity_audit: k must be >= 2, got {k}")
    return (
        df.groupBy(*qid_cols)
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            *qid_cols,
            "n",
            (F.col("n") < k).alias("at_risk"),
            F.expr("1000 div n").cast("long").alias("risk_milli"),
        )
    )


def l_diversity_audit(
    df: DataFrame,
    qid_cols: list[str],
    sensitive_col: str,
    l: int = 3,  # noqa: E741 — the literature's own name
    c: int = 2,
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the privacy
    gate k-anonymity misses: a class of 1000 rows is perfectly
    k-anonymous yet leaks everything if all 1000 share one sensitive
    value (the homogeneity attack). Per QI equivalence class:

        n                  — class size
        n_distinct_sv      — distinct sensitive values
        distinct_l_ok      — n_distinct_sv ≥ l (distinct l-diversity)
        top_freq           — the most frequent sensitive value's count
        tail_from_l        — Σ of the l-th..m-th most frequent counts
                             (frequency-DESC order, ties broken by
                             value ASC so the cut is deterministic)
        recursive_cl_ok    — top_freq < c · tail_from_l, the
                             recursive (c, l)-diversity test (entropy
                             l-diversity needs log — not hash-
                             portable, the bigram_lm_bits lesson —
                             and recursive (c, l) is the stronger
                             test the paper itself recommends)

    Shape: one (QI × sensitive) partial-agg shuffle to a domain-
    bounded frame, a per-class rank window over that frame (each
    partition ≤ |sensitive domain| rows — never corpus-sized), one
    final per-class aggregate. All counts exact integers."""
    if l < 2:
        raise ValueError(f"l_diversity_audit: l must be >= 2, got {l}")
    if c < 1:
        raise ValueError(f"l_diversity_audit: c must be >= 1, got {c}")
    from pyspark.sql import Window

    sv = (
        df.groupBy(*qid_cols, F.col(sensitive_col).alias("_sv"))
        .agg(F.count("*").cast("long").alias("_c"))
    )
    w = Window.partitionBy(*qid_cols).orderBy(
        F.desc("_c"), F.asc("_sv")
    )
    ranked = sv.withColumn("_r", F.row_number().over(w))
    return (
        ranked.groupBy(*qid_cols)
        .agg(
            F.sum("_c").cast("long").alias("n"),
            F.count("*").cast("long").alias("n_distinct_sv"),
            F.max(F.when(F.col("_r") == 1, F.col("_c")))
            .cast("long")
            .alias("top_freq"),
            F.coalesce(
                F.sum(F.when(F.col("_r") >= l, F.col("_c"))), F.lit(0)
            )
            .cast("long")
            .alias("tail_from_l"),
        )
        .select(
            *qid_cols,
            "n",
            "n_distinct_sv",
            (F.col("n_distinct_sv") >= l).alias("distinct_l_ok"),
            "top_freq",
            "tail_from_l",
            (F.col("top_freq") < c * F.col("tail_from_l")).alias(
                "recursive_cl_ok"
            ),
        )
    )


def t_closeness_audit(
    df: DataFrame,
    qid_cols: list[str],
    sensitive_col: str,
    t_milli: int = 300,
) -> DataFrame:
    """t-closeness audit (Li et al. 2007) — the third privacy gate:
    a class can be l-diverse yet still leak by SKEW (its sensitive
    distribution differing sharply from the corpus's). For a
    CATEGORICAL sensitive attribute the variational distance is the
    exact EMD: d(class, global) = ½ Σ_v |p_v − q_v|. Computed as an
    exact rational in fixed point:

        emd_milli = (1000 · Σ_v |cnt_v·N − g_v·n|) div (2·n·N)

    with per-class counts cnt_v, class size n, global counts g_v,
    corpus size N — the cross products go through decimal(38,0)
    (the r6 overflow rule: cnt·N alone passes 2^63 near ~10^10
    rows on both factors). Ordered attributes would use the
    cumulative-difference EMD (Σ|running diff| / (m−1)) — same
    fixed-point recipe, not needed for the declared categorical
    surface.

    Columns: (*qid_cols, n, emd_milli, t_violated). Shape: one
    (QI × sensitive) shuffle, a broadcast join against the
    |sensitive-domain| global frame, one per-class aggregate —
    wordcount-shaped at any scale."""
    if not (0 < t_milli < 1000):
        raise ValueError(
            f"t_closeness_audit: t_milli must be in (0, 1000), got {t_milli}"
        )
    # ONE corpus pass: the (QI × sensitive) agg is checkpointed and
    # the global distribution + total derive FROM it (domain-sized
    # re-aggregations, not extra scans)
    sv = (
        df.groupBy(*qid_cols, F.col(sensitive_col).alias("_sv"))
        .agg(F.count("*").cast("long").alias("_c"))
        .localCheckpoint(eager=False)
    )
    glob = (
        sv.groupBy("_sv")
        .agg(F.sum("_c").cast("long").alias("_g"))
        .crossJoin(
            sv.groupBy().agg(F.sum("_c").cast("long").alias("_n_tot"))
        )
    )
    # every class misses some global values ⇒ |0·N − g·n| terms:
    # join the full global domain per class (broadcast, domain-sized)
    classes = sv.groupBy(*qid_cols).agg(
        F.sum("_c").cast("long").alias("n")
    )
    full = classes.crossJoin(F.broadcast(glob)).join(
        sv, [*qid_cols, "_sv"], "left"
    )
    term = F.abs(
        F.coalesce(F.col("_c"), F.lit(0)).cast("decimal(38,0)")
        * F.col("_n_tot").cast("decimal(38,0)")
        - F.col("_g").cast("decimal(38,0)")
        * F.col("n").cast("decimal(38,0)")
    )
    return (
        full.groupBy(*qid_cols)
        .agg(
            F.max("n").alias("n"),
            F.max("_n_tot").alias("_nt"),
            F.sum(term).alias("_sabs"),
        )
        .select(
            *qid_cols,
            "n",
            F.expr(
                "cast((1000 * _sabs) div (2 * cast(n as decimal(38,0))"
                " * cast(_nt as decimal(38,0))) as bigint)"
            ).alias("emd_milli"),
        )
        .withColumn("t_violated", F.col("emd_milli") > t_milli)
    )

"""Training-data pipeline operators (engine-native, beyond the
reference surface; SURVEY §2.4 mandate "LLM-data-pipeline operators
... designed for 100 TB scale").

- ``hash_bucket`` / ``dataset_split`` — content-stable deterministic
  train/val/test assignment. The split depends only on the row's id
  (md5, engine-portable), never on partitioning, row order, or corpus
  size — adding documents never reshuffles existing assignments,
  which is the property a 100 TB incremental pipeline needs.
- ``mixture_sample`` — per-source downsampling (domain mixture
  weighting) with the same stable-hash keep rule.
- ``sequence_chunks`` — fixed-length token windows per document (the
  pre-training packing unit). Map-side only: tokenize → slice →
  explode; no shuffle at all.
- ``pii_scrub`` — regex redaction (emails, phone numbers) with
  audit counts. Patterns are RE2-compatible (no lookahead) so the
  DuckDB oracle agrees; at scale this is a pure map over the corpus.

All ops are built-in column expressions — JVM-side, codegen-friendly,
zero Python in the hot path.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import ascii_tokens, word_ngrams
from ..functions.vectors import lit_longs

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+\d{1,2}-\d{3}-\d{4}"


def hash_bucket(col, buckets: int = 100) -> F.Column:
    """Deterministic bucket in [0, buckets) from md5 of the value.

    md5 hex is identical across engines (unlike xxhash64/murmur3), so
    the bucket — hence every split/sample decision built on it — is
    reproducible anywhere, including the DuckDB oracle. Uses the first
    4 hex chars (16 bits) — plenty of resolution for percent-level
    splits.
    """
    c = F.col(col) if isinstance(col, str) else col
    h = F.substring(F.md5(c.cast("string")), 1, 4)
    return (F.conv(h, 16, 10).cast("long") % buckets).alias("bucket")


def dataset_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Stable train/val/test split: adds a ``split`` column.

    Assignment is a pure function of the id — re-running on a grown
    corpus never moves an existing document between splits (no
    randomness, no row-order dependence, no repartition sensitivity).
    """
    b = hash_bucket(id_col, 100)
    split = (
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return df.withColumn("split", split)


DSIR_BUCKETS = 4096   # hashed bigram feature space (DSIR's hashed n-grams)
DSIR_FP_BITS = 20     # fixed-point bits for the likelihood ratio
_DSIR_CLAMP = 1 << 62  # ratio clamp keeps the quotient castable to int64


def dsir_importance_scores(
    df: DataFrame,
    target,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by how target-like its hashed-bigram distribution is, entirely in
    portable integers.

    ``target`` is a boolean Column marking the in-domain subset (e.g.
    lang == 'en'). Features are word bigrams hashed into ``buckets``
    cells (md5, the hash_bucket rule). One conditional aggregate over
    the exploded gram stream yields per-bucket target (pc) and corpus
    (qc) counts; the per-bucket log-likelihood-ratio surrogate is

        lb[b] = floor(log2( (pc+1)/Np / ((qc+1)/Nq) ))

    computed exactly as bit_length(fixed-point ratio) − 1 − FP_BITS —
    the zipf/HLL integer-log2 trick, so the whole score is
    engine-portable (true log-ratio is approximated within 1 bit per
    gram; products run in decimal(38,0) before the division — the r6
    Cramer-term overflow rule). A doc's score sums lb over its grams;
    ``selected`` = score ≥ 0 (more target-like than not, the
    importance-resampling keep rule with threshold 1).

    Columns: (id_col, n_grams, dsir_score_bits, selected); gram-less
    docs (< 2 tokens) score 0 and are selected by convention.

    Scale shape: the bucket/llr tables are ``buckets`` rows (broadcast
    side at any corpus size); per-doc work is ONE tokenize+hash pass —
    the hashed-gram frame (id, target, bucket) is lazily
    localCheckpointed and feeds BOTH the bucket build and the per-doc
    score (a two-pass form runs the tokenize + bigram + md5 chain
    twice over the corpus: measured 2.3 → 1.8 s warm at sf0.1; rows
    parity-pinned). The materialized frame is
    3 narrow ints per gram — the same order of bytes a corpus shuffle
    moves, stored once instead of recomputing the hash chain.
    """
    fb = (
        df.select(
            F.col(id_col),
            target.cast("int").alias("_t"),
            F.explode(word_ngrams(text_col, 2)).alias("_g"),
        )
        .select(
            F.col(id_col), "_t", hash_bucket("_g", buckets).alias("_b")
        )
        .localCheckpoint(eager=False)
    )
    bt = fb.groupBy("_b").agg(
        F.count("*").alias("qc"), F.sum("_t").alias("pc")
    )
    llr = _dsir_llr_from_counts(bt)
    per_doc = fb.join(F.broadcast(llr), "_b").groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum("_lb").cast("long").alias("dsir_score_bits"),
    )
    score = F.coalesce(F.col("dsir_score_bits"), F.lit(0)).cast("long")
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            score.alias("dsir_score_bits"),
            (score >= 0).alias("selected"),
        )
    )


def dsir_bucket_llr(
    df: DataFrame,
    target,
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """The DSIR BUILD half: per-bucket integer floor-log2 likelihood
    ratios (_b, _lb) from the corpus — ``buckets`` rows, the frozen
    table an ingest-time scorer (streaming twin) probes."""
    grams = df.select(
        target.cast("int").alias("_t"),
        F.explode(word_ngrams(text_col, 2)).alias("_g"),
    )
    fb = grams.select("_t", hash_bucket("_g", buckets).alias("_b"))
    bt = fb.groupBy("_b").agg(
        F.count("*").alias("qc"), F.sum("_t").alias("pc")
    )
    return _dsir_llr_from_counts(bt)


def _dsir_llr_from_counts(bt: DataFrame) -> DataFrame:
    """(_b, qc, pc) bucket counts → (_b, _lb) integer floor-log2
    likelihood ratios — the shared tail of :func:`dsir_bucket_llr`,
    also fed directly from the single-pass gram frame in
    :func:`dsir_importance_scores`."""
    tot = bt.agg(F.sum("qc").alias("nq"), F.sum("pc").alias("np"))
    ratio = F.expr(
        f"cast(greatest(least("
        f"((cast(pc as decimal(38,0)) + 1) * cast(nq as decimal(38,0))"
        f"  * cast({1 << DSIR_FP_BITS} as decimal(38,0)))"
        f" div ((cast(qc as decimal(38,0)) + 1) * cast(np as decimal(38,0))),"
        f" cast({_DSIR_CLAMP} as decimal(38,0))),"
        f" cast(1 as decimal(38,0))) as bigint)"
    )
    return bt.crossJoin(F.broadcast(tot)).select(
        "_b",
        (F.length(F.bin(ratio)) - F.lit(1 + DSIR_FP_BITS))
        .cast("long")
        .alias("_lb"),
    )


def _dsir_gram_scores(
    df: DataFrame,
    llr: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """The DSIR SCORE half: (id, n_grams, dsir_score_bits) for docs
    with ≥1 gram, against a given llr table — one explode + broadcast
    join + per-doc agg; streams as-is (stream-static broadcast join +
    update-mode groupBy)."""
    # explode in its own select — generators can't nest inside
    # expressions (the hash_bucket md5 wrap)
    fb = df.select(
        F.col(id_col), F.explode(word_ngrams(text_col, 2)).alias("_g")
    ).select(F.col(id_col), hash_bucket("_g", buckets).alias("_b"))
    return (
        fb.join(F.broadcast(llr), "_b")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("_lb").cast("long").alias("dsir_score_bits"),
        )
    )


def fim_transform(
    df: DataFrame,
    rate_pct: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al. 2022,
    "Efficient Training of Language Models to Fill in the Middle"):
    a deterministic ``rate_pct``% of documents are split into
    (prefix, middle, suffix) at md5-derived token cut points, tagged
    PSM or SPM (50/50, another md5 slice) for the downstream packer;
    the rest pass through as mode 'plain'. Everything is a pure
    function of (doc_id, text) — md5 buckets for selection, two
    16-bit md5 slices for the cuts c1 = h1 % (n+1),
    c2 = c1 + h2 % (n − c1 + 1) — so the transform replays
    identically anywhere (oracle-checked), is stable under reruns,
    and never moves a doc between modes as the corpus grows (the
    dataset_split contract). Text is token-normalized (lowercase
    ascii tokens re-joined by single spaces), matching the corpus
    tokenization the packer consumes.

    Columns: (id_col, fim_mode ∈ {psm, spm, plain}, prefix, middle,
    suffix, n_tokens). Map-only: zero shuffles at any scale."""
    toks = ascii_tokens(text_col, lowercase=True)
    h = F.md5(F.col(id_col).cast("string"))
    pick = (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % 100) < rate_pct
    spm = (F.conv(F.substring(h, 13, 1), 16, 10).cast("long") % 2) == 1
    staged = df.select(
        F.col(id_col),
        toks.alias("_t"),
        pick.alias("_pick"),
        spm.alias("_spm"),
    )
    # cut points over the STAGED token column (toks referenced
    # text_col, which the first select drops); c2 embeds c1's
    # expression so both are plain columns — no dependent projection
    n = F.size("_t")
    c1 = (
        F.conv(F.substring(h, 5, 4), 16, 10).cast("long") % (n + 1)
    ).cast("int")
    c2 = c1 + (
        F.conv(F.substring(h, 9, 4), 16, 10).cast("long") % (n - c1 + 1)
    ).cast("int")
    base = staged.select(
        id_col, "_t", "_pick", "_spm", c1.alias("_c1"), c2.alias("_c2")
    )
    join = lambda a: F.array_join(a, " ")  # noqa: E731
    return base.select(
        id_col,
        F.when(~F.col("_pick"), F.lit("plain"))
        .when(F.col("_spm"), F.lit("spm"))
        .otherwise(F.lit("psm"))
        .alias("fim_mode"),
        F.when(~F.col("_pick"), join(F.col("_t")))
        .otherwise(join(F.slice("_t", 1, F.col("_c1"))))
        .alias("prefix"),
        F.when(~F.col("_pick"), F.lit(""))
        .otherwise(
            join(F.slice("_t", F.col("_c1") + 1, F.col("_c2") - F.col("_c1")))
        )
        .alias("middle"),
        F.when(~F.col("_pick"), F.lit(""))
        .otherwise(
            join(F.slice("_t", F.col("_c2") + 1, F.size("_t") - F.col("_c2")))
        )
        .alias("suffix"),
        F.size("_t").cast("long").alias("n_tokens"),
    )


def preference_pairs(
    df: DataFrame,
    score,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """DPO/RLHF preference-pair construction: within each group
    (prompt surrogate), documents pair off in md5(id) order — a
    deterministic stand-in for "two completions of the same prompt" —
    and each pair emits the higher-``score`` member as chosen
    (reward-model labeling; ties break to the smaller id). Odd
    leftovers per group produce no pair. ``score`` is any integer
    Column over df (the declared entry passes the hashed-classifier
    score, the reward-model surrogate already on the oracle surface).

    Columns: (group_col, pair_id, chosen_id, rejected_id,
    chosen_score, rejected_score, margin) with margin ≥ 0.

    Scale shape: one window partitioned by group (the per-source
    ordering a pairing inherently needs), one equi-join of the two
    pair sides on (group, pair_id) — no corpus×corpus anything."""
    d = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        score.cast("long").alias("_s"),
        F.md5(F.col(id_col).cast("string")).alias("_h"),
    )
    w = Window.partitionBy("grp").orderBy("_h", "id")
    ranked = d.withColumn("_r", F.row_number().over(w) - 1).select(
        "grp",
        "id",
        "_s",
        F.expr("cast(_r div 2 as bigint)").alias("pair_id"),
        F.expr("_r % 2").alias("_side"),
    )
    a = ranked.filter(F.col("_side") == 0).select(
        "grp", "pair_id", F.col("id").alias("_ida"), F.col("_s").alias("_sa")
    )
    b = ranked.filter(F.col("_side") == 1).select(
        "grp", "pair_id", F.col("id").alias("_idb"), F.col("_s").alias("_sb")
    )
    j = a.join(b, ["grp", "pair_id"])  # inner: odd leftovers drop
    a_wins = (F.col("_sa") > F.col("_sb")) | (
        (F.col("_sa") == F.col("_sb")) & (F.col("_ida") < F.col("_idb"))
    )
    return j.select(
        F.col("grp").alias(group_col),
        "pair_id",
        F.when(a_wins, F.col("_ida")).otherwise(F.col("_idb")).alias(
            "chosen_id"
        ),
        F.when(a_wins, F.col("_idb")).otherwise(F.col("_ida")).alias(
            "rejected_id"
        ),
        F.when(a_wins, F.col("_sa")).otherwise(F.col("_sb")).alias(
            "chosen_score"
        ),
        F.when(a_wins, F.col("_sb")).otherwise(F.col("_sa")).alias(
            "rejected_score"
        ),
        F.abs(F.col("_sa") - F.col("_sb")).cast("long").alias("margin"),
    )


PASS_AT_KS = (1, 4, 8)
PASS_AT_MAX_N = 16


def pass_at_k(
    samples: DataFrame,
    prompt_col: str,
    correct_col,
    order_col: str,
    ks: tuple = PASS_AT_KS,
    max_n: int = PASS_AT_MAX_N,
) -> DataFrame:
    """pass@k, the unbiased estimator from Chen et al. 2021
    (HumanEval): for a prompt with n samples of which c are correct,
    pass@k = 1 − C(n−c, k)/C(n, k) — the probability that at least
    one of k uniformly drawn samples is correct. The RL/eval-table
    metric for code and reasoning models, computed EXACTLY: samples
    are capped to the first ``max_n`` per prompt in ``order_col``
    order (deterministic cut; bounded n keeps every binomial in
    int64 — C(16,8)=12870), the full C table rides as a nested
    literal array (the Bloom-tuple rule: one Python math.comb source
    for Spark, oracle and tests), and

        pass_milli = (1000 · (C(n,k) − C(n−c,k))) div C(n,k)

    is pure integer arithmetic, so the whole estimator
    oracle-checks. C(n−c, k) = 0 when k > n−c (all-wrong draws
    impossible → pass_milli = 1000) falls out of the table. Rows
    with k > n are omitted (the estimator is undefined there).
    Columns: (prompt, n_samples, n_correct, k, pass_milli). Shape:
    one capped window + one groupBy + a ks-sized explode —
    wordcount-shaped at any scale."""
    import math

    if max(ks) > max_n:
        raise ValueError(f"pass_at_k: max(ks) {max(ks)} > max_n {max_n}")
    w = Window.partitionBy(prompt_col).orderBy(order_col)
    capped = (
        samples.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_n)
    )
    cc = (
        correct_col if not isinstance(correct_col, str)
        else F.col(correct_col)
    )
    agg = capped.groupBy(prompt_col).agg(
        F.count("*").cast("long").alias("n_samples"),
        F.sum(cc.cast("int")).cast("long").alias("n_correct"),
    )
    ct = F.array(
        *[
            F.array(
                *[
                    F.lit(math.comb(n, k)).cast("long")
                    for k in range(max_n + 1)
                ]
            )
            for n in range(max_n + 1)
        ]
    )
    fanned = agg.select(
        prompt_col,
        "n_samples",
        "n_correct",
        F.explode(F.array(*[F.lit(int(k)).cast("long") for k in ks])).alias(
            "k"
        ),
    ).filter(F.col("k") <= F.col("n_samples"))
    cnk = F.element_at(
        F.element_at(ct, (F.col("n_samples") + 1).cast("int")),
        (F.col("k") + 1).cast("int"),
    )
    cmk = F.element_at(
        F.element_at(
            ct, (F.col("n_samples") - F.col("n_correct") + 1).cast("int")
        ),
        (F.col("k") + 1).cast("int"),
    )
    return (
        fanned.withColumn("_cnk", cnk)
        .withColumn("_cmk", cmk)
        .select(
            prompt_col,
            "n_samples",
            "n_correct",
            "k",
            F.expr(
                "cast((1000 * (_cnk - _cmk)) div _cnk as bigint)"
            ).alias("pass_milli"),
        )
    )


def group_relative_advantage(
    df: DataFrame,
    reward,
    group_col: str = "group_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """GRPO-style group-RELATIVE advantage (Shao et al. 2024,
    DeepSeekMath §4.1, minus the std normalizer): for each sample in
    a prompt group, the advantage is its reward relative to the group
    mean. The mean is a division, so the EXACT surface is the scaled
    numerator — adv_num = n·r − Σr = n·(r − mean) — which preserves
    ordering and zero-crossing exactly and sums to 0 within every
    group (the invariant tests pin). The σ-normalized form needs a
    sqrt and stays a consumer-side float step; the per-group RANKING
    (rank_in_group, reward desc then id) is the other
    division-free signal and is emitted alongside.

    ``reward`` is any integer Column over df (the declared entry
    passes the hashed-classifier score — the reward-model surrogate
    already on the oracle surface). NULL rewards fail loudly (a NULL
    silently skews Σr vs n otherwise — the curriculum_order
    convention). Overflow bound: |adv_num| < n·max|r| — fine for
    int64 up to ~2^40 samples per group at 2^20-scale rewards.

    Columns: (group_col, id_col, reward_fp, grp_n, adv_num,
    rank_in_group).

    Scale shape: ONE shuffle by group; both window specs share the
    partition key (count/sum unordered + row_number ordered), and no
    global window exists anywhere."""
    base = df.select(
        F.col(group_col),
        F.col(id_col),
        reward.cast("long").alias("_r"),
    ).filter(
        F.assert_true(
            F.col("_r").isNotNull(),
            F.lit(
                "group_relative_advantage: reward must be non-null"
                " (and cast to long)"
            ),
        ).isNull()
    )
    w = Window.partitionBy(group_col)
    wr = Window.partitionBy(group_col).orderBy(
        F.desc("_r"), F.asc(id_col)
    )
    return base.select(
        group_col,
        id_col,
        F.col("_r").alias("reward_fp"),
        F.count("*").over(w).cast("long").alias("grp_n"),
        (F.count("*").over(w) * F.col("_r") - F.sum("_r").over(w))
        .cast("long")
        .alias("adv_num"),
        F.row_number().over(wr).cast("int").alias("rank_in_group"),
    )


def rejection_sample_best_of_n(
    df: DataFrame,
    reward,
    group_col: str = "group_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Best-of-n rejection sampling (the RFT/RLHF data-assembly
    step): keep each prompt group's argmax-reward sample (ties to the
    smaller id — the deterministic convention everywhere), recording
    how many candidates it beat. Built on group_relative_advantage's
    ranking (rank 1 = argmax), so the winner's adv_num doubles as the
    margin-sum signal: adv_num = Σ_others (r_win − r_other).

    Columns: (group_col, id_col, reward_fp, n_candidates, adv_num).
    One shuffle by group; output is |groups|-sized."""
    adv = group_relative_advantage(
        df, reward, group_col=group_col, id_col=id_col
    )
    return adv.filter(F.col("rank_in_group") == 1).select(
        group_col,
        id_col,
        "reward_fp",
        F.col("grp_n").alias("n_candidates"),
        "adv_num",
    )


DSIR_RESAMPLE_CLAMP = 8  # score-stratum clamp: weights ∈ [2^0, 2^16]


def dsir_resample(
    df: DataFrame,
    target,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = DSIR_BUCKETS,
    clamp_bits: int = DSIR_RESAMPLE_CLAMP,
) -> DataFrame:
    """The importance-RESAMPLING step that closes the DSIR loop
    (Xie et al. 2023 §3): ``dsir_importance_scores``
    ranks documents by target-likeness, this allocates an exact
    ``budget`` of documents across score strata proportional to each
    stratum's total IMPORTANCE MASS and picks deterministically
    within strata — the engine-portable analog of Gumbel-top-k
    sampling with weights w ∝ 2^score.

    Mechanics: stratum = dsir_score_bits clamped to ±``clamp_bits``
    (so the per-stratum weight n_s · 2^(stratum+clamp) stays an exact
    int64 for n_s up to 2^47 docs); the budget is apportioned by the
    shared largest-remainder (Hamilton) rule (decimal(38,0)
    intermediates); rows within a stratum are picked in md5(id)
    order — stable under reruns and appends of non-picked docs (the
    stratified_sample_exact contract). A stratum whose mass-share
    exceeds its size comes back short, so Σ picked ≤ budget (exactly
    == budget whenever no stratum exhausts — tested).

    Columns: (id_col, dsir_score_bits, stratum, samp_rank, quota).

    Scale shape: scoring is the two-scan DSIR pipeline; allocation
    windows run over the ≤ 2·clamp+1 strata only; the pick is one
    partitioned window keyed by stratum."""
    scores = dsir_importance_scores(df, target, text_col, id_col, buckets)
    strat = scores.select(
        F.col(id_col),
        F.col("dsir_score_bits"),
        F.greatest(
            F.least(F.col("dsir_score_bits"), F.lit(clamp_bits)),
            F.lit(-clamp_bits),
        )
        .cast("long")
        .alias("stratum"),
        F.md5(F.col(id_col).cast("string")).alias("_h"),
    )
    cnt = strat.groupBy("stratum").agg(
        F.count("*").cast("long").alias("n_s")
    )
    weight = F.expr(
        f"n_s * shiftleft(cast(1 as bigint),"
        f" cast(stratum + {clamp_bits} as int))"
    )
    alloc = _hamilton_quotas(cnt, weight, budget)
    w_pick = Window.partitionBy("stratum").orderBy("_h", id_col)
    picked = (
        strat.join(F.broadcast(alloc), "stratum")
        .withColumn("samp_rank", F.row_number().over(w_pick).cast("long"))
        .where(F.col("samp_rank") <= F.col("quota"))
    )
    return picked.select(
        id_col, "dsir_score_bits", "stratum", "samp_rank", "quota"
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "src",
    dst: str = "dst",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Cluster-atomic train/val/test split: every member of a
    near-dup cluster gets the split of the cluster's CANONICAL member
    (min id), so no near-duplicate pair ever straddles train/test.
    ``dataset_split`` alone is stable but leakage-blind — a mutated
    copy of a training doc can land in test and inflate eval. Here the
    split is a pure function of md5(canonical_id): still deterministic,
    still incremental (new singletons never move old docs; a new edge
    moves only the cluster it joins), and singletons degrade to exactly
    ``dataset_split``'s assignment.

    Columns: (id_col, canonical_id, split, moved) — ``moved`` marks
    docs whose cluster pulled them away from their own-id split (the
    leakage the operator prevented).

    Scale shape: components run only over ids that appear in ``pairs``
    (dup-rate-sized); the corpus-sized work is one left join back and a
    map-side md5 bucket — same cost envelope as dup_clusters itself.
    """
    from .dedup import dup_clusters

    clusters = dup_clusters(df, pairs, id_col=id_col, src=src, dst=dst)

    def split_of(bucket):
        return (
            F.when(bucket < train_pct, "train")
            .when(bucket < train_pct + val_pct, "val")
            .otherwise("test")
        )

    cluster_split = split_of(hash_bucket("canonical_id", 100))
    own_split = split_of(hash_bucket(id_col, 100))
    return clusters.select(
        F.col(id_col),
        "canonical_id",
        cluster_split.alias("split"),
        (cluster_split != own_split).alias("moved"),
    )


def epoch_allocation(
    df: DataFrame,
    budget_tokens,
    cap_epochs: int = 4,
    stratum_col: str = "source",
    token_count=None,
    text_col: str = "text",
) -> DataFrame:
    """Data-constrained token budgeting (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"): split a total token
    budget across sources under a repetition cap — no source may be
    repeated for more than ``cap_epochs`` epochs — steering toward a
    UNIFORM per-source mixture (the flattening use case; small
    sources cap out, the freed budget water-fills the rest).

    ``budget_tokens`` is an integer Column expression over the
    1-row corpus-totals frame (so the budget may derive from the
    data, e.g. ``F.expr("(18 * tot) div 10")`` for 1.8 average
    epochs). The water-filling level is found ANALYTICALLY, not
    iteratively: sort strata by their cap threshold cap·n_s, and the
    first uncapped stratum is the smallest rank r with
    B − capΣ_{<r} ≤ cap·n_r·(m−r+1) — one cumulative window over the
    |strata|-row frame, no loop, no collect. Uncapped strata share
    the remaining budget equally (integer base + largest-remainder
    +1s by stratum order; the knife-edge case λ == threshold yields
    remainder 0, so no allocation ever exceeds its cap). Σ alloc ==
    min(B, cap·Σn) exactly.

    Columns: (stratum, n_tokens, cap_tokens, alloc_tokens,
    epochs_permille, capped). All windows are |strata|-sized; the
    corpus-sized work is one tokenize scan + one partial agg.
    """
    tokc = (
        token_count
        if token_count is not None
        else F.size(ascii_tokens(text_col))
    )
    st = (
        df.select(F.col(stratum_col).alias("stratum"), tokc.alias("_tk"))
        .groupBy("stratum")
        .agg(F.sum("_tk").cast("long").alias("n_tokens"))
    )
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("cap_tokens", "stratum")
    ann = (
        st.withColumn("cap_tokens", (F.lit(cap_epochs) * F.col("n_tokens")).cast("long"))
        .withColumn("tot", F.sum("n_tokens").over(w_all))
        .withColumn("m", F.count("*").over(w_all))
        .withColumn("bud", budget_tokens.cast("long"))
        .withColumn("rn", F.row_number().over(w_ord))
        .withColumn(
            "capcum", F.sum("cap_tokens").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    # first-uncapped rank: smallest rn with
    #   B − capcum_{rn−1} ≤ cap_tokens_rn · (m − rn + 1)
    cond = (F.col("bud") - (F.col("capcum") - F.col("cap_tokens"))) <= (
        F.col("cap_tokens") * (F.col("m") - F.col("rn") + 1)
    )
    ann = ann.withColumn(
        "rstar",
        F.min(F.when(cond, F.col("rn"))).over(w_all),
    ).withColumn(
        "capped", F.col("rstar").isNull() | (F.col("rn") < F.col("rstar"))
    )
    ann = (
        ann.withColumn(
            "cap_spent",
            F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("cap_tokens"))).over(w_all),
                F.lit(0),
            ),
        )
        .withColumn("n_unc", F.sum(F.when(~F.col("capped"), 1).otherwise(0)).over(w_all))
        .withColumn(
            "rem_budget", F.greatest(F.col("bud") - F.col("cap_spent"), F.lit(0))
        )
    )
    w_unc = Window.partitionBy().orderBy(
        F.col("capped").cast("int"), F.col("stratum")
    )
    alloc = F.when(F.col("capped"), F.col("cap_tokens")).otherwise(
        F.expr("rem_budget div n_unc")
        + F.when(
            F.row_number().over(w_unc) <= F.expr("rem_budget % n_unc"), 1
        ).otherwise(0)
    )
    return (
        ann.withColumn("alloc_tokens", alloc.cast("long"))
        .select(
            "stratum",
            "n_tokens",
            "cap_tokens",
            "alloc_tokens",
            F.expr("(1000 * alloc_tokens) div n_tokens").alias(
                "epochs_permille"
            ),
            "capped",
        )
    )


def mixture_sample(
    df: DataFrame, rate_permille: F.Column, id_col: str = "doc_id"
) -> DataFrame:
    """Keep each row iff hash_bucket(id, 1000) < its per-row rate.

    ``rate_permille`` is a Column (0..1000) — typically derived from a
    source/domain column, implementing mixture weighting: sample web
    crawl at 10%, keep books at 100%, etc. Deterministic and
    content-stable like dataset_split; a pure filter, no shuffle.
    """
    return df.filter(hash_bucket(id_col, 1000) < rate_permille)


def sequence_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 128,
) -> DataFrame:
    """Fixed-length token windows per document.

    Columns: (doc_id, chunk_id, n_tokens, chunk_hash) — the hash
    (sha256 of the space-joined chunk) pins exact chunk content
    without carrying text through downstream compares. The last chunk
    per doc may be short; empty docs produce no chunks. Map-side only
    (generator in its own select, per the projection-collapse rule).
    """
    toks = ascii_tokens(text_col, lowercase=True)
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(chunk_size)).cast("int")
    idx = F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("_t"), idx.alias("_i"))
    ex = base.select("doc_id", "_t", F.explode("_i").alias("chunk_id"))
    piece = F.slice(ex["_t"], F.col("chunk_id") * chunk_size + 1, chunk_size)
    return ex.select(
        "doc_id",
        "chunk_id",
        F.size(piece).alias("n_tokens"),
        F.sha2(F.array_join(piece, " "), 256).alias("chunk_hash"),
    )


def sliding_chunks(
    df: DataFrame,
    size: int = 32,
    stride: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """OVERLAPPING token windows per document — the RAG-index chunking
    next to ``sequence_chunks``' disjoint training windows: window w
    covers tokens [w·stride, w·stride + size), windows start while
    w·stride < n, so with stride < size every token (except the tail
    fringe) appears in size/stride chunks and no retrieval boundary
    splits a span. Columns: (doc_id, chunk_id, start_tok, n_tokens,
    chunk_hash) — sha256 of the space-joined chunk pins exact content
    (the sequence_chunks convention). Empty docs produce no chunks.
    Map-side only; output rows ≈ corpus_tokens/stride."""
    toks = ascii_tokens(text_col, lowercase=True)
    n = F.size(toks)
    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("_t"), idx.alias("_s"))
    ex = base.select("doc_id", "_t", F.explode("_s").alias("start_tok"))
    piece = F.slice(ex["_t"], F.col("start_tok") + 1, size)
    return ex.select(
        "doc_id",
        F.expr(f"cast(start_tok div {stride} as int)").alias("chunk_id"),
        F.col("start_tok").cast("int").alias("start_tok"),
        F.size(piece).alias("n_tokens"),
        F.sha2(F.array_join(piece, " "), 256).alias("chunk_hash"),
    )


def sequence_pack(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 512,
    n_groups: int = 64,
) -> DataFrame:
    """Pack documents into fixed-``budget`` training sequences by
    concat-and-cut (the standard pretraining packing: all docs in a
    pack group are concatenated in deterministic id order and the
    token stream is cut every ``budget`` tokens; a document may span
    sequences).

    The corpus is first split into ``n_groups`` hash groups
    (md5-stable like dataset_split), and packing is independent per
    group — the window cumsum runs per-group, so at 100 TB each group
    is one partition-local sort, never a global one, and groups scale
    the parallelism. Columns per doc: (doc_id, pack_group, n_tokens,
    tok_offset, seq_id, seq_pos, n_seqs) where seq_id is the group's
    sequence index holding the doc's first token, seq_pos the offset
    inside it, n_seqs how many sequences the doc spans. Empty docs are
    dropped.
    """
    from pyspark.sql import Window

    toks = ascii_tokens(text_col, lowercase=True)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        hash_bucket(id_col, n_groups).alias("pack_group"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("pack_group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        "doc_id",
        "pack_group",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("tok_offset"),
        F.floor((cum - F.col("n_tokens")) / budget).cast("long").alias("seq_id"),
        ((cum - F.col("n_tokens")) % budget).alias("seq_pos"),
        (F.floor((cum - 1) / budget) - F.floor((cum - F.col("n_tokens")) / budget) + 1)
        .cast("long")
        .alias("n_seqs"),
    )


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails/phones; emit audit stats + scrubbed-content hash.

    Columns: (doc_id, n_emails, n_phones, removed_chars, clean_hash).
    clean_hash = sha256 of the scrubbed text proves byte-exact scrub
    output across engines without shipping the text. One map pass.
    """
    t = F.col(text_col)
    clean = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(t, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).alias("n_phones"),
        (F.length(t) - F.length(clean)).alias("removed_chars"),
        F.sha2(clean, 256).alias("clean_hash"),
    )


def _word_ngrams(text_col: str, n: int) -> F.Column:
    return word_ngrams(text_col, n)


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_overlap: int = 0,
) -> DataFrame:
    """Benchmark decontamination: flag training docs that share any
    word ``n``-gram with an eval/benchmark set (the standard
    eval-leakage guard run before pre-training; GPT-3 appendix-C /
    Dolma style — typically n in 8..13).

    Per doc: total gram instances, distinct grams, distinct grams
    also present anywhere in the benchmark, the contaminated
    fraction, and keep = (contaminated ≤ ``max_overlap``).
    Columns: (doc_id, n_grams, n_distinct, n_contaminated,
    contaminated_frac, keep).

    Shape: corpus grams are built map-side and exploded ONCE into a
    single groupBy(doc_id) agg (count + two count-distincts); the
    benchmark gram set — eval suites are MBs, not TBs — is
    dedup-aggregated and BROADCAST into the probe, so the corpus
    never shuffles by gram. For a benchmark too big to broadcast,
    swap the mark-join to an xxhash64(gram) equi-join (collisions
    only over-flag, never leak) — same plan shape, one extra shuffle
    of (doc_id, 8-byte hash). The contaminated fraction is one
    bigint/bigint division — deterministic.
    """
    bench_grams = (
        benchmark.select(F.explode(_word_ngrams(text_col, n)).alias("bg"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    ex = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(_word_ngrams(text_col, n)).alias("g"),
    )
    marked = ex.join(F.broadcast(bench_grams), ex.g == bench_grams.bg, "left")
    agg = marked.groupBy("doc_id").agg(
        F.count("g").alias("n_grams"),
        F.count_distinct("g").alias("n_distinct"),
        F.count_distinct(F.when(F.col("_hit") == 1, F.col("g"))).alias(
            "n_contaminated"
        ),
    )
    return agg.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        "n_contaminated",
        F.when(
            F.col("n_distinct") > 0,
            F.col("n_contaminated").cast("double") / F.col("n_distinct"),
        )
        .otherwise(0.0)
        .alias("contaminated_frac"),
        (F.col("n_contaminated") <= max_overlap).alias("keep"),
    )


def corpus_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic global shuffle: assign every row a stable
    training-order position by sorting on md5(salt || id). The order
    is a pure function of ids (+ salt) — independent of partitioning,
    file layout, or cluster size — so a resumed/re-run job sees the
    SAME epoch order (change ``salt`` per epoch for fresh orders).

    A naive ``row_number() OVER (ORDER BY md5)`` is a single-partition
    global window: every row passes through one task. This uses the
    distributed ranking decomposition instead: rows shuffle once into
    4096 buckets keyed by the first 3 hex chars of the md5 (uniform
    by construction — no skew), rank with a window PARTITIONED by
    bucket, and add each bucket's global offset
    from a 4096-row prefix-sum that is computed on the tiny per-bucket
    count aggregate and broadcast back. Bucket-prefix order composes
    with in-bucket key order, so positions equal the naive global
    sort's exactly — checked against a ``row_number() OVER (ORDER BY
    md5)`` oracle. Columns: original columns + shuffle_pos (0-based
    bigint).
    """
    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    keyed = df.withColumn("_sk", key).withColumn(
        "_bkt", F.conv(F.substring("_sk", 1, 3), 16, 10).cast("int")
    )
    counts = keyed.groupBy("_bkt").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "_bkt", (F.sum("_n").over(w_off) - F.col("_n")).alias("_off")
    )
    w_in = Window.partitionBy("_bkt").orderBy("_sk", F.col(id_col))
    return (
        keyed.withColumn("_rk", F.row_number().over(w_in).cast("bigint") - 1)
        .join(F.broadcast(offsets), "_bkt")
        .withColumn("shuffle_pos", F.col("_off") + F.col("_rk"))
        .drop("_sk", "_bkt", "_rk", "_off")
    )


def token_balanced_shards(
    df: DataFrame,
    n_shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """The final dataset-WRITER step: assign every document to one of
    ``n_shards`` output shards balanced by TOKEN mass (not row
    count), in the deterministic md5 shuffle order — so the exported
    pretraining shards are equal-work units for downstream loaders
    and the assignment replays bit-for-bit on re-runs.

    shard = (max(cum,1) − 1) div cap with cum = inclusive running
    token sum in md5(salt‖id) order and cap = max(⌈total/n⌉, 1) — the
    greedy boundary rule: a doc straddling a boundary lands in the
    shard of its last token, bounding every shard at
    cap + max_doc_tokens. The cap floors at 1 so an all-empty corpus
    (total = 0) lands every row in shard 0 instead of dividing by
    zero.

    Scale shape: the weighted extension of corpus_shuffle's
    distributed-ranking trick — one shuffle into 4096 md5 buckets,
    in-bucket weighted cumsum windows, a 4096-row prefix-sum of
    per-bucket token totals broadcast back. No global window
    anywhere; positions and sums equal the naive global sort's
    exactly (oracle). Columns: (id_col, n_tokens, shuffle_pos,
    cum_tokens, shard)."""
    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    tok = F.size(ascii_tokens(text_col, lowercase=True)).cast("long")
    keyed = df.select(
        F.col(id_col), tok.alias("_tok"), key.alias("_sk")
    ).withColumn("_bkt", F.conv(F.substring("_sk", 1, 3), 16, 10).cast("int"))
    counts = keyed.groupBy("_bkt").agg(
        F.count("*").alias("_n"), F.sum("_tok").alias("_tn")
    )
    w_off = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    offsets = counts.select(
        "_bkt",
        (F.sum("_n").over(w_off) - F.col("_n")).alias("_off"),
        (F.sum("_tn").over(w_off) - F.col("_tn")).alias("_toff"),
        F.sum("_tn").over(w_all).alias("_total"),
    )
    w_in = Window.partitionBy("_bkt").orderBy("_sk", F.col(id_col))
    cum = F.col("_toff") + F.sum("_tok").over(w_in)
    cap = F.expr(f"greatest((_total + {n_shards} - 1) div {n_shards}, 1)")
    return (
        keyed.join(F.broadcast(offsets), "_bkt")
        .select(
            id_col,
            F.col("_tok").alias("n_tokens"),
            (F.row_number().over(w_in).cast("bigint") - 1 + F.col("_off"))
            .alias("shuffle_pos"),
            cum.alias("cum_tokens"),
            (F.greatest(cum, F.lit(1)) - 1).cast("long").alias("_cm1"),
            cap.cast("long").alias("_cap"),
        )
        .select(
            id_col,
            "n_tokens",
            "shuffle_pos",
            "cum_tokens",
            F.expr("cast(_cm1 div _cap as bigint)").alias("shard"),
        )
    )


def length_bucket_batches(
    df: DataFrame,
    batch_size: int = 8,
    bucket_width: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Length-bucketed batch construction — the padding-efficiency
    step of inference/training serving: documents are grouped into
    length buckets (⌊n_tokens/width⌋) and batched ``batch_size`` at a
    time within each bucket in md5(id) order, so sequences in a batch
    have similar lengths and the padding waste
    Σ(batch_max_len − len) stays small. Deterministic and
    rerun-stable; the trailing short batch per bucket is kept (real
    loaders pad it).

    Columns: (length_bucket, batch_id, n_docs, max_len, sum_len,
    padding_waste = n_docs·max_len − sum_len).

    Scale shape: one map pass for lengths/buckets, one window
    partitioned by bucket (bounded partitions: corpus/width spread),
    one partial agg per batch."""
    toks = ascii_tokens(text_col, lowercase=True)
    d = df.select(
        F.col(id_col).alias("id"),
        F.size(toks).cast("long").alias("len"),
        F.md5(F.col(id_col).cast("string")).alias("_h"),
    ).withColumn(
        "length_bucket", F.expr(f"cast(len div {bucket_width} as bigint)")
    )
    w = Window.partitionBy("length_bucket").orderBy("_h", "id")
    batched = d.withColumn("_rk", F.row_number().over(w) - 1).withColumn(
        "batch_id", F.expr(f"cast(_rk div {batch_size} as bigint)")
    )
    return batched.groupBy("length_bucket", "batch_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("len").cast("long").alias("max_len"),
        F.sum("len").cast("long").alias("sum_len"),
        (F.count("*") * F.max("len") - F.sum("len"))
        .cast("long")
        .alias("padding_waste"),
    )


# ------------------------------------------ Bloom decontamination

# At 100 TB the broadcast-set mark-join in ``decontaminate`` has a
# ceiling: a huge eval suite's distinct gram SET stops fitting a
# broadcast hash relation. The classic fix is a Bloom filter — the
# whole eval side compresses to a fixed 64 Kbit array (2048 x 32-bit
# words here) that rides the plan as a LITERAL, so the corpus-side
# probe is map-only at ANY eval-set size; the (tunable, measured)
# price is false positives, which only over-flag. Both the build and
# the probe are md5-derived integer bit math, so the entire filter —
# including its false positives — replays bit-for-bit in DuckDB.

BLOOM_WORDS = 2048  # x 32 bits = 65536 positions
# Bit offsets of the four 16-bit position lanes inside the 48-bit
# hash. The last lane is 32 (not 36): off + 16 must stay <= 48 or the
# lane's top bits are always zero and its positions collapse into a
# 1/16th of the filter — a measured ~14x false-positive inflation
# (review finding). Probe and build BOTH derive from this tuple; the
# oracle SQL interpolates it too, so the three legs cannot desync.
# The four probe lanes are DISJOINT 16-bit slices of the md5 hex
# string (chars 4i+1..4i+4, i < 4 — the first 64 bits). Overlapping
# windows of one 48-bit prefix would correlate probe positions and
# make the effective FP rate worse than 4 independent hashes;
# disjoint slices are independent by construction and interpolate
# identically in the oracle.
BLOOM_K = 4


def _gram_hash48(col) -> F.Column:
    """48-bit md5-prefix hash of a gram string (the repo's portable
    hash recipe) — the exact-verify join key."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def bloom_build(hex16s) -> list[int]:
    """Driver-side Bloom build over 16-hex-char md5 prefixes (the
    eval side is driver-small by contract — suites are MBs; for a
    larger suite, build distributed with a bit_or aggregate and
    collect the 2048 words, which is still one 16 KiB row)."""
    words = [0] * BLOOM_WORDS
    for x in hex16s:
        for i in range(BLOOM_K):
            p = int(x[4 * i : 4 * i + 4], 16)
            words[p // 32] |= 1 << (p % 32)
    return words


def decontaminate_bloom(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-probed decontamination audit: per doc, gram instances
    (n_grams), instances the Bloom filter flags (bloom_hits), and
    instances truly present in the benchmark (exact_hits) — so
    bloom_hits - exact_hits IS the measured false-positive count,
    reported honestly instead of assumed. exact_hits <= bloom_hits
    always (no false negatives; property-tested).

    Scale shape: the 2048-word filter is a literal array — the probe
    is map-only; the exact leg joins on 8-byte hashes against the
    broadcast bench-hash set (at true scale the exact leg runs only
    on Bloom survivors, a tiny fraction)."""
    bench_hex = [
        r.hx
        for r in benchmark.select(
            F.explode(_word_ngrams(text_col, n)).alias("g")
        )
        .select(F.substring(F.md5("g"), 1, 16).alias("hx"))
        .distinct()
        .collect()
    ]
    blit = lit_longs(bloom_build(bench_hex))
    pw32 = lit_longs(1 << i for i in range(32))

    ex = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(_word_ngrams(text_col, n)).alias("g"),
    ).select(
        "doc_id",
        "g",
        F.md5("g").alias("_hx"),
        _gram_hash48(F.col("g")).alias("h"),
    )

    def bit_ok(i: int) -> F.Column:
        p = F.conv(F.substring("_hx", 4 * i + 1, 4), 16, 10).cast("long")
        word = F.element_at(blit, (p / 32).cast("int") + 1)
        mask = F.element_at(pw32, F.pmod(p, F.lit(32)).cast("int") + 1)
        return word.bitwiseAND(mask) != 0

    bloom_hit = reduce(and_, (bit_ok(i) for i in range(BLOOM_K)))
    # dedupe on the 48-bit exact-join key separately: two distinct
    # 64-bit prefixes may share a 12-hex prefix, and a duplicated
    # join side would double-count exact_hits
    bench_h = sorted({int(x[:12], 16) for x in bench_hex})
    bh_df = documents.sparkSession.createDataFrame(
        [(int(h),) for h in bench_h] or [(None,)], "h_bench long"
    ).filter(F.col("h_bench").isNotNull())
    # exact verify only on Bloom SURVIVORS: the filter has no false
    # negatives, so non-survivors provably contribute exact_hits = 0
    # — gating the probe keeps the exact join off the corpus's full
    # gram volume (the work the filter exists to avoid).
    marked = ex.withColumn("_bloom", bloom_hit).join(
        F.broadcast(bh_df),
        (ex.h == bh_df.h_bench) & F.col("_bloom"),
        "left",
    )
    return marked.groupBy("doc_id").agg(
        F.count("g").cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("_bloom"), 1).otherwise(0))
        .cast("bigint")
        .alias("bloom_hits"),
        F.sum(F.when(F.col("h_bench").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("exact_hits"),
    )


def stratified_sample_exact(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    total: int,
) -> DataFrame:
    """Exact-size proportional stratified sample via largest-remainder
    (Hamilton) allocation: stratum s gets base ⌊total·n_s/n⌋ rows and
    the ⌈⌉-remainder strata ranked by (total·n_s mod n DESC, stratum)
    absorb the leftover, so Σ quota == total EXACTLY — the mixture
    control a training-data budget needs (mixture_sample's per-domain
    rates can't hit an exact global budget; this does). Row choice
    within a stratum is md5(id) order (engine-portable, stable under
    reruns and appends of non-sampled rows).

    Scale: the allocation frame is |strata| rows (two tiny windows —
    a global sum and a remainder rank — over strata, never over
    data); the per-stratum pick is one partitioned row_number window.
    Returns (stratum, id, samp_rank, quota).

    Caller contract: total ≤ row count (quotas are proportional
    shares of total, so total > n would ask a stratum for more rows
    than it has and the sample comes back short — rows, not an
    error)."""
    d = df.select(
        F.col(stratum_col).alias("stratum"),
        F.col(id_col).alias("id"),
        F.md5(F.col(id_col).cast("string")).alias("_h"),
    )
    cnt = d.groupBy("stratum").agg(
        F.count("*").cast("long").alias("n_s")
    )
    alloc = _hamilton_quotas(cnt, F.col("n_s"), total)
    w_pick = Window.partitionBy("stratum").orderBy("_h", "id")
    picked = (
        d.join(F.broadcast(alloc), "stratum")
        .withColumn("samp_rank", F.row_number().over(w_pick).cast("long"))
        .where(F.col("samp_rank") <= F.col("quota"))
    )
    return picked.select("stratum", "id", "samp_rank", "quota")


def _hamilton_quotas(cnt: DataFrame, weight, total: int) -> DataFrame:
    """Largest-remainder apportionment of ``total`` over the strata
    of ``cnt`` (one row per stratum) proportional to ``weight`` (a
    column over cnt): (stratum, quota) with Σ quota == total exactly.
    Both windows run over the |strata|-row frame only."""
    w_all = Window.partitionBy()
    # products in decimal(38,0) — the r6 Cramer-term overflow rule:
    # budget × weight passes 2^63 once weights carry importance
    # factors (dsir_resample's n_s·2^16) at large n_s; div/% on
    # non-negative decimals truncate exactly like bigint math, so
    # results are unchanged where the old int64 form was safe
    alloc = cnt.withColumn("_w", weight.cast("long")).withColumn(
        "_wn", F.sum("_w").over(w_all)
    ).select(
        "stratum",
        F.expr(
            f"cast((cast({total} as decimal(38,0)) * _w) div _wn as bigint)"
        ).alias("base"),
        F.expr(
            f"cast((cast({total} as decimal(38,0)) * _w) % _wn as bigint)"
        ).alias("rem"),
    )
    w_rank = Window.partitionBy().orderBy(F.desc("rem"), F.asc("stratum"))
    return (
        alloc.withColumn("leftover", F.lit(total) - F.sum("base").over(w_all))
        .withColumn("rk", F.row_number().over(w_rank))
        .select(
            "stratum",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("quota"),
        )
    )


def excess_bits_domain_weights(
    documents: DataFrame,
    total_milli: int = 1000,
    clamp_bits: int = 8,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Loss-based domain mixture reweighting — the DoReMi idea
    (Xie et al. 2023: upweight domains where the model's loss runs
    ABOVE the reference) reduced to the repo's exact-integer kernels:
    the reference model is the corpus-global add-one bigram LM
    (bigram_lm_bits), a domain's hardness is its mean surprisal in
    integer centibits per gram, its EXCESS over the corpus-global
    mean is clamped to [0, clamp_bits] whole bits, and the mixture
    weight is n_grams · 2^excess (the dsir_resample importance-bits
    trick), Hamilton-normalized so Σ weight_milli == total_milli
    exactly. The data-selection family's third paradigm: count-based
    (mixture/temperature), distribution-matching (DSIR), and now
    LOSS-based. No libm anywhere (floor-log2 bits; shifts for the
    exponential).

    Output per domain: (group_col, n_docs, n_grams, mean_centibits,
    excess_bits, weight_milli). Domains with zero bigrams drop out
    (the bigram_lm_bits convention). Shape: the per-doc scoring is
    bigram_lm_bits' plan; everything after is |domains|-row windows
    (checkpointed once — global sums and the Hamilton rank both read
    it)."""
    from . import textstats

    scored = textstats.bigram_lm_bits(documents, text_col, id_col)
    grp = documents.select(
        F.col(id_col).alias("doc_id"), F.col(group_col).alias("stratum")
    )
    dom = (
        scored.join(grp, "doc_id")
        .groupBy("stratum")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("lm_bits").cast("long").alias("_bits"),
        )
        .localCheckpoint(eager=False)
    )
    w_all = Window.partitionBy()
    dom2 = (
        dom.withColumn("_tg", F.sum("n_grams").over(w_all))
        .withColumn("_tb", F.sum("_bits").over(w_all))
        .withColumn(
            "mean_centibits",
            F.expr("cast((-_bits * 100) div n_grams as bigint)"),
        )
        .withColumn(
            "excess_bits",
            F.expr(
                f"cast(least({clamp_bits}, greatest(0,"
                " (mean_centibits"
                "  - ((-_tb * 100) div _tg)) div 100)) as bigint)"
            ),
        )
    )
    wts = dom2.withColumn(
        "_w",
        F.expr(
            "n_grams * shiftleft(cast(1 as bigint),"
            " cast(excess_bits as int))"
        ),
    )
    quotas = _hamilton_quotas(wts, F.col("_w"), total_milli)
    return (
        dom2.join(quotas, "stratum")
        .select(
            F.col("stratum").alias(group_col),
            "n_docs",
            "n_grams",
            "mean_centibits",
            "excess_bits",
            F.col("quota").alias("weight_milli"),
        )
    )


def mixture_temperature_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    total: int,
) -> DataFrame:
    """Temperature-flattened mixture sampling at τ = 1/2 — the
    data-mixing step real LLM pipelines run (upweight small domains,
    flatten head domains; GPT-3/T5-style p_s ∝ n_s^τ): stratum s's
    share of the exact ``total`` budget is proportional to
    isqrt(n_s), apportioned by the same largest-remainder (Hamilton)
    rule as stratified_sample_exact, rows picked in md5(id) order.

    τ = 1/2 is the one temperature that stays ENGINE-PORTABLE: n_s^τ
    = floor(sqrt(n_s)) where IEEE-754 sqrt is correctly rounded in
    both engines and n_s ≤ 2^52 is exact in double (the
    scalar_math_battery precedent; arbitrary τ needs pow/exp — not
    hash-safe, the ln() lesson). Output (stratum, id, samp_rank,
    quota); a stratum whose flattened share exceeds its size comes
    back short (same contract as stratified_sample_exact — callers
    wanting replacement-upsampling repeat ids downstream).

    Scale: identical to stratified_sample_exact — |strata|-row
    allocation windows, one partitioned pick window over the data."""
    d = df.select(
        F.col(stratum_col).alias("stratum"),
        F.col(id_col).alias("id"),
        F.md5(F.col(id_col).cast("string")).alias("_h"),
    )
    cnt = d.groupBy("stratum").agg(
        F.count("*").cast("long").alias("n_s")
    )
    isqrt = F.floor(F.sqrt(F.col("n_s").cast("double"))).cast("long")
    alloc = _hamilton_quotas(cnt, isqrt, total)
    w_pick = Window.partitionBy("stratum").orderBy("_h", "id")
    picked = (
        d.join(F.broadcast(alloc), "stratum")
        .withColumn("samp_rank", F.row_number().over(w_pick).cast("long"))
        .where(F.col("samp_rank") <= F.col("quota"))
    )
    return picked.select("stratum", "id", "samp_rank", "quota")


def span_corruption(
    df: DataFrame,
    block: int = 8,
    span: int = 3,
    rate_mod: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """T5-style span-corruption training transform (Raffel et al.
    2020): mask short token spans and emit the (inputs, targets)
    pair — inputs with each masked span collapsed to one
    ``<extra_id_k>`` sentinel, targets listing each sentinel followed
    by the tokens it hides, closed by the final sentinel. The
    denoising pretraining objective next to fim_transform's
    infilling and sequence_chunks' causal LM.

    Deterministic and engine-portable (the fim recipe): the token
    stream is cut into full ``block``-token blocks; block j of doc d
    masks a ``span``-token run iff md5(d:j)'s 48-bit prefix h has
    h % rate_mod == 0 (default 1/4 of blocks → span/block·1/rate_mod
    ≈ 9% of tokens), starting at in-block offset (h div rate_mod) %
    (block − span + 1) — always fully inside the block, so no
    boundary clamps to drift between engines. Partial tail blocks
    are never masked.

    Everything is array-local column expressions — NO explode (the
    r4 Generate-pushdown hazard class has nothing to push into) and
    zero shuffles at any scale. Columns: (id_col, n_tokens, n_spans,
    n_masked, inputs_text, targets_text)."""
    # rate_mod must be a power of two: h div rate_mod is computed as
    # float division + truncation (HOF lambdas can't use expr-div),
    # which is exact only when the divisor is a power of 2 (h < 2^48
    # < 2^53, and /2^k is exact in binary floating point).
    # ValueError, not assert: stripped under -O, and the failure mode
    # (NULL starts / modulo-by-zero in `% (block - span + 1)`) would
    # surface far from the misuse site.
    if rate_mod <= 0 or rate_mod & (rate_mod - 1) != 0:
        raise ValueError(f"rate_mod must be a power of two, got {rate_mod}")
    if span <= 0 or span > block:
        raise ValueError(
            f"need 0 < span <= block, got span={span} block={block}"
        )
    toks = ascii_tokens(text_col, lowercase=True)
    d1 = df.select(F.col(id_col), toks.alias("_t"))
    nblocks = F.floor(F.size("_t") / block).cast("int")
    blocks = F.when(nblocks > 0, F.sequence(F.lit(0), nblocks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    hof = lambda j: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit(":"),
                    j.cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    starts = F.transform(
        F.filter(blocks, lambda j: hof(j) % rate_mod == 0),
        lambda j: (
            j.cast("long") * block
            + (hof(j) / rate_mod).cast("long") % (block - span + 1)
        ),
    )
    d2 = d1.select(id_col, "_t", starts.alias("_sp"))
    sentinel = lambda k: F.concat(  # noqa: E731
        F.lit("<extra_id_"), k.cast("string"), F.lit(">")
    )
    tok_out = F.transform(
        F.col("_t"),
        lambda x, p: F.when(
            F.array_position(F.col("_sp"), p.cast("long")) > 0,
            sentinel(F.array_position(F.col("_sp"), p.cast("long")) - 1),
        )
        .when(
            F.exists(
                F.col("_sp"),
                lambda s: (p.cast("long") >= s) & (p.cast("long") < s + span),
            ),
            F.lit(None).cast("string"),
        )
        .otherwise(x),
    )
    tgt_parts = F.transform(
        F.col("_sp"),
        lambda s, k: F.concat(
            sentinel(k),
            F.lit(" "),
            F.array_join(F.slice("_t", s.cast("int") + 1, span), " "),
        ),
    )
    closing = sentinel(F.size("_sp"))
    return d2.select(
        id_col,
        F.size("_t").cast("long").alias("n_tokens"),
        F.size("_sp").cast("long").alias("n_spans"),
        (F.size("_sp").cast("long") * span).alias("n_masked"),
        F.array_join(
            F.filter(tok_out, lambda x: x.isNotNull()), " "
        ).alias("inputs_text"),
        F.when(
            F.size("_sp") > 0,
            F.concat(F.array_join(tgt_parts, " "), F.lit(" "), closing),
        )
        .otherwise(closing)
        .alias("targets_text"),
    )


def curriculum_order(
    df: DataFrame,
    level_col,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic CURRICULUM schedule: global training-order
    positions ordered by (level asc, md5(salt‖id)) — easy examples
    first, an md5 shuffle WITHIN each difficulty level, and the whole
    order a pure function of (ids, levels, salt) so resumed or re-run
    jobs replay the identical schedule (the corpus_shuffle stability
    contract, with a difficulty key prepended).

    ``level_col`` is an integer Column with a SMALL domain (a score
    bin, a perplexity tercile, a length bucket — anything
    domain-bounded); the offsets aggregate is |levels|×4096 rows and
    must stay broadcastable.

    Scale shape: the corpus_shuffle distributed-ranking decomposition
    with a compound key — rows shuffle once into (level, md5-prefix)
    buckets, rank with a window PARTITIONED by bucket, and add each
    bucket's global offset from a broadcast prefix-sum over the tiny
    counts aggregate. No global window ever touches the corpus;
    positions equal the naive ``row_number() OVER (ORDER BY level,
    md5, id)`` exactly (the oracle). Columns: original columns +
    level (int) + curriculum_pos (0-based bigint)."""
    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    # Loud-on-misuse: a NULL level (or a level that casts
    # to NULL) would silently vanish from the schedule — null _lv/_bkt
    # keys never match the offsets equi-join. Same for a NULL id.
    # assert_true rides in a filter (the dcg_eval idiom) so pruning
    # can't drop it; it returns NULL on success, making the predicate
    # true for every valid row.
    keyed = (
        df.withColumn("_lv", level_col.cast("int"))
        .filter(
            F.assert_true(
                F.col("_lv").isNotNull() & F.col(id_col).isNotNull(),
                F.lit(
                    "curriculum_order: level_col and id_col must be"
                    " non-null (and level must cast to int)"
                ),
            ).isNull()
        )
        .withColumn("_sk", key)
        .withColumn(
            "_bkt", F.conv(F.substring("_sk", 1, 3), 16, 10).cast("int")
        )
    )
    counts = keyed.groupBy("_lv", "_bkt").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_lv", "_bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "_lv", "_bkt", (F.sum("_n").over(w_off) - F.col("_n")).alias("_off")
    )
    w_in = Window.partitionBy("_lv", "_bkt").orderBy("_sk", F.col(id_col))
    return (
        keyed.withColumn("_rk", F.row_number().over(w_in).cast("bigint") - 1)
        .join(F.broadcast(offsets), ["_lv", "_bkt"])
        .withColumn("curriculum_pos", F.col("_off") + F.col("_rk"))
        .withColumnRenamed("_lv", "level")
        .drop("_sk", "_bkt", "_rk", "_off")
    )


def copeland_system_ranking(
    df: DataFrame,
    reward,
    group_col: str = "group_id",
    system_col: str = "system_id",
) -> DataFrame:
    """Arena-style pairwise SYSTEM ranking from grouped rewards
    (Copeland's method): per prompt group, each system's entry is its
    best-reward sample (the best-of-n convention); systems are then
    compared pairwise WITHIN each prompt, and a system's Copeland
    score is wins − losses summed over all prompts and opponents.
    The model-leaderboard step downstream of the RL-data family
    (preference_pairs orders two samples; this orders the SYSTEMS
    that produced them) — chosen over Elo/Bradley-Terry because
    Copeland is the exact-integer member of the ranking family (Elo
    needs exp; BT's MM iteration needs float division per round).

    Ties in reward are counted as ties (neither a win nor a loss),
    never broken by id — two systems scoring identically on a prompt
    carry no ordering signal. NULL rewards fail loudly (the
    group_relative_advantage convention).

    Columns: (system_col, n_prompts, n_comparisons, wins, losses,
    ties, copeland). copeland = wins − losses; rank by
    (copeland DESC, system ASC) downstream.

    Scale shape: one partial-agg shuffle to the |groups|×|systems|
    best-reward frame, a self-join ON the group key (each group fans
    to |systems|² /2 pair rows — systems are a few dozen, groups are
    millions: the fan-out is a constant factor), one explode to
    per-system credits (the explode-once rule: a wins-UNION-losses
    re-join would rescan the pair frame per branch), and a final agg
    to |systems| rows. No global window anywhere."""
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(system_col).alias("_s"),
        reward.cast("long").alias("_r"),
    ).filter(
        F.assert_true(
            F.col("_r").isNotNull(),
            F.lit("copeland_system_ranking: reward must be non-null"),
        ).isNull()
    )
    # best feeds three consumers (both self-join sides + presence)
    # with different projections — without the lineage cut the
    # corpus-sized groupBy (and the reward fold above it) re-runs per
    # consumer (the no-exchange-reuse-across-projections class). The
    # frame is |groups|×|systems| rows: checkpoint is free.
    best = (
        base.groupBy("_g", "_s")
        .agg(F.max("_r").alias("_b"))
        .localCheckpoint(eager=False)
    )
    a = best.select(
        F.col("_g"),
        F.col("_s").alias("_sa"),
        F.col("_b").alias("_ba"),
    )
    b = best.select(
        F.col("_g"),
        F.col("_s").alias("_sb"),
        F.col("_b").alias("_bb"),
    )
    pairs = a.join(b, "_g").filter(F.col("_sa") < F.col("_sb"))
    # explode-once: each pair row credits BOTH endpoints
    credits = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_sa").alias("sys"),
                    (F.col("_ba") > F.col("_bb"))
                    .cast("long")
                    .alias("win"),
                    (F.col("_ba") < F.col("_bb"))
                    .cast("long")
                    .alias("loss"),
                    (F.col("_ba") == F.col("_bb"))
                    .cast("long")
                    .alias("tie"),
                ),
                F.struct(
                    F.col("_sb").alias("sys"),
                    (F.col("_bb") > F.col("_ba"))
                    .cast("long")
                    .alias("win"),
                    (F.col("_bb") < F.col("_ba"))
                    .cast("long")
                    .alias("loss"),
                    (F.col("_ba") == F.col("_bb"))
                    .cast("long")
                    .alias("tie"),
                ),
            )
        ).alias("c")
    ).select("c.sys", "c.win", "c.loss", "c.tie")
    presence = best.groupBy("_s").agg(
        F.count("*").cast("long").alias("n_prompts")
    )
    scored = credits.groupBy("sys").agg(
        F.count("*").cast("long").alias("n_comparisons"),
        F.sum("win").cast("long").alias("wins"),
        F.sum("loss").cast("long").alias("losses"),
        F.sum("tie").cast("long").alias("ties"),
    )
    return (
        presence.join(scored, presence["_s"] == scored["sys"], "left")
        .select(
            F.col("_s").alias(system_col),
            "n_prompts",
            F.coalesce("n_comparisons", F.lit(0))
            .cast("long")
            .alias("n_comparisons"),
            F.coalesce("wins", F.lit(0)).cast("long").alias("wins"),
            F.coalesce("losses", F.lit(0)).cast("long").alias("losses"),
            F.coalesce("ties", F.lit(0)).cast("long").alias("ties"),
            (F.coalesce("wins", F.lit(0)) - F.coalesce("losses", F.lit(0)))
            .cast("long")
            .alias("copeland"),
        )
    )


def reward_winsorize(
    df: DataFrame,
    reward,
    id_col: str = "doc_id",
    lo_q: int = 5,
    hi_q: int = 95,
    lo: int = -2048,
    hi: int = 2047,
    width: int = 64,
) -> DataFrame:
    """Quantile winsorization of a reward column — the RL-data
    preprocessing step between reward scoring and GRPO/DPO assembly:
    a mis-calibrated reward model's outlier scores dominate group
    advantages, so rewards are clipped to the corpus [p_lo, p_hi]
    BEFORE assembly. The cutoffs come from the mergeable bucket
    quantile sketch (sketch.bucket_quantile_sketch): deterministic,
    engine-portable, error < one bucket width by construction —
    approx_percentile would be neither.

    Rewards are first clamped to [lo, hi] (the classifier-score
    clamp convention) and shifted non-negative for the sketch's
    bucket contract; cutoffs are the sketch's bucket lower edges,
    mapped back to reward units. Columns: (id_col, reward_fp,
    lo_cut, hi_cut, reward_winsor, clip ∈ {'lo','hi','none'}).

    Scale shape: the reward expression evaluates ONCE into a
    checkpointed two-longs-per-row frame; the sketch is one
    partial-agg shuffle over it to a domain/width-sized cell table;
    the two cutoffs cross-join back broadcast (a 1-row frame); the
    clip itself is map-only over the same checkpointed frame. Two
    reads of the cheap frame, one evaluation of the expensive
    reward — the cutoffs being corpus statistics is what forces the
    second read."""
    from . import sketch as _sketch

    # base feeds two consumers (the sketch pass and the clip pass) —
    # without the lineage cut each re-evaluates the reward expression
    # from scratch, and in the declared entry that is the interpreted
    # classifier fold (10x+ of scan cost — the widen_scan op class).
    # The frame is two longs per row: the ccnet_ppl_buckets idiom.
    base = df.select(
        F.col(id_col),
        F.greatest(
            F.least(reward.cast("long"), F.lit(hi)), F.lit(lo)
        ).alias("reward_fp"),
    ).localCheckpoint(eager=False)
    shifted = base.select(
        id_col, (F.col("reward_fp") - F.lit(lo)).alias("_v")
    )
    sk = _sketch.bucket_quantile_sketch(
        shifted.withColumn("_one", F.lit(1)),
        "_one",
        F.col("_v"),
        width=width,
        qs=(lo_q, hi_q),
    )
    cuts = sk.groupBy().agg(
        (
            F.max(F.when(F.col("q") == lo_q, F.col("est_lo")))
            + F.lit(lo)
        )
        .cast("long")
        .alias("lo_cut"),
        (
            F.max(F.when(F.col("q") == hi_q, F.col("est_lo")))
            + F.lit(lo)
        )
        .cast("long")
        .alias("hi_cut"),
    )
    return clip_columns(base.crossJoin(F.broadcast(cuts)), id_col)


def clip_columns(frame: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The ONE place the winsor clip formulas live (batch +
    streaming twin both end here): ``frame`` carries (id_col,
    reward_fp, lo_cut, hi_cut); output adds reward_winsor and the
    clip verdict ∈ {'lo', 'hi', 'none'}."""
    return frame.select(
        id_col,
        "reward_fp",
        "lo_cut",
        "hi_cut",
        F.greatest(
            F.least(F.col("reward_fp"), F.col("hi_cut")), F.col("lo_cut")
        )
        .cast("long")
        .alias("reward_winsor"),
        F.when(F.col("reward_fp") < F.col("lo_cut"), F.lit("lo"))
        .when(F.col("reward_fp") > F.col("hi_cut"), F.lit("hi"))
        .otherwise(F.lit("none"))
        .alias("clip"),
    )


DISC_GAMMA_NUM = 3   # γ = 3/4 — dyadic-denominator discount, exact
DISC_GAMMA_DEN = 4
DISC_HORIZON = 16    # n-step truncation bounds the denominator 4^15


def disc_coefs(horizon: int = DISC_HORIZON) -> list[int]:
    """The γ=3/4 n-step coefficient ladder 3^k·4^(horizon−1−k) — THE
    one source for the Spark fold and the oracle's literal array
    (an oracle that rebuilt the comprehension AND hardcoded the
    window frame would desync on a horizon change)."""
    return [
        (DISC_GAMMA_NUM ** k) * (DISC_GAMMA_DEN ** (horizon - 1 - k))
        for k in range(horizon)
    ]


def discounted_returns(
    df: DataFrame,
    reward,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_us: int = 1_800_000_000,
    horizon: int = DISC_HORIZON,
) -> DataFrame:
    """Discounted n-step return-to-go: trajectory_returns' γ=1
    suffix sum generalized to γ = 3/4, EXACT — the value-regression /
    TD(n) target of offline RL over interaction logs. γ with a
    power-of-two-times-small denominator keeps every term rational
    with denominator 4^k; truncating the horizon at ``horizon`` steps
    (the standard n-step return) bounds it, so

        disc_return_fp = Σ_{k=0}^{min(horizon, rest)-1}
                           r_{t+k} · 3^k · 4^(horizon-1-k)

    is G_t^(n) scaled by 4^(horizon-1) — an exact integer
    (|r| ≤ 1e6 · 16 terms · 2^30 coefficients < 2^63). Arbitrary γ
    needs pow() (the ln() lesson); 3/4 with a fixed horizon is the
    engine-portable point of the family.

    Output = trajectory_returns' columns + disc_return_fp. Shape: the
    same ONE user shuffle — the next-``horizon`` reward window
    sub-partitions (user, episode) like every other window in the
    chain; per-row state is a ≤horizon-long array."""
    coef_sql = "array(" + ",".join(
        f"{c}L" for c in disc_coefs(horizon)
    ) + ")"
    traj = trajectory_returns(df, reward, user_col, ts_col, id_col, gap_us)
    wep = (
        Window.partitionBy(user_col, "episode")
        .orderBy("step")
        .rowsBetween(Window.currentRow, horizon - 1)
    )
    return (
        traj.withColumn(
            "_nxt", F.collect_list("reward_fp").over(wep)
        )
        .withColumn(
            "disc_return_fp",
            F.expr(
                f"cast(aggregate(sequence(1, size(_nxt)),"
                f" cast(0 as long),"
                f" (acc, i) -> acc + element_at(_nxt, i)"
                f"              * element_at({coef_sql}, i)) as bigint)"
            ),
        )
        .drop("_nxt")
    )


def trajectory_returns(
    df: DataFrame,
    reward,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_us: int = 1_800_000_000,
) -> DataFrame:
    """RL trajectory assembly from interaction logs: gap-based
    episodes (the sessionize rule — a >gap_us silence starts a new
    episode) with per-step RETURN-TO-GO, the suffix sum of rewards
    from each step to the episode's end. Return-to-go is the
    conditioning signal of decision-transformer-style training data
    and the regression target of offline value estimation — the step
    that turns raw logs into (state, action, return) trajectories.

    ``reward`` is an integer Column over df (NULLs fail loudly — the
    group_relative_advantage convention). Columns: (user_col,
    episode, step, id_col, reward_fp, return_to_go). episode numbers
    from 1 per user in time order; step from 1 per episode;
    return_to_go at step 1 is the episode return.

    Shape: ONE shuffle by user — the gap lag, the episode running
    sum, the step row_number and the suffix sum all share the
    user-hash partitioning (the finer (user, episode) windows are
    sub-partitions of it, no second exchange). Episode length is
    bounded by user activity, never corpus size."""
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    base = df.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(id_col),
        reward.cast("long").alias("reward_fp"),
    ).filter(
        F.assert_true(
            F.col("reward_fp").isNotNull(),
            F.lit("trajectory_returns: reward must be non-null"),
        ).isNull()
    )
    ep = base.withColumn(
        "episode",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    wep = Window.partitionBy(user_col, "episode").orderBy(ts_col, id_col)
    return ep.select(
        user_col,
        "episode",
        F.row_number().over(wep).cast("long").alias("step"),
        id_col,
        "reward_fp",
        F.sum("reward_fp")
        .over(
            wep.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        .cast("long")
        .alias("return_to_go"),
    )


WS_SCALE_BITS = 14  # fixed-point bits for the priority key h/w


def weighted_sample(
    df: DataFrame,
    weight,
    m: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weight-proportional sample without replacement —
    priority sampling in the Duffield-Lund-Thorup / bottom-k style:
    every record gets key = h / w (h = 48-bit md5 of its id, w its
    weight) and the sample is the m SMALLEST keys, so inclusion
    probability rises with weight, the pick is deterministic given
    ids, and two runs over overlapping corpora agree on the overlap
    (the md5-stable-split property, now weighted). The float ratio is
    replaced by the PORTABLE fixed point (h << WS_SCALE_BITS) div w —
    exact int64 (48 + 14 = 62 bits), identical in both engines; the
    classic u^(1/w) exponential-key form needs pow() (the ln()
    lesson) and is not oracle-able.

    Scale shape: map-only key computation + a distributed
    TakeOrdered(m) — no global window over the corpus; the rank
    column is assigned on the m-row result only. Weights clamp to
    >= 1 (zero-weight records keep a tiny, well-defined chance
    rather than dividing by zero — the token_balanced_shards floor
    rule). Columns: (id, weight, key_fp, sample_rank)."""
    base = df.select(
        F.col(id_col),
        F.greatest(weight.cast("long"), F.lit(1)).alias("weight"),
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 12),
            16,
            10,
        )
        .cast("long")
        .alias("_h"),
    ).withColumn(
        "key_fp",
        F.expr(f"(_h * {1 << WS_SCALE_BITS}) div weight"),
    )
    top = base.orderBy("key_fp", id_col).limit(m).drop("_h")
    w_rank = Window.orderBy("key_fp", id_col)
    return top.withColumn(
        "sample_rank", F.row_number().over(w_rank).cast("long")
    )

"""Text analysis operators for LLM training-data pipelines
(SURVEY §2.4 X4): token counting, n-grams, character/quality stats,
language-ID heuristic, document fingerprinting.

Everything is built-in column expressions (JVM-side); no Python UDFs.
100 TB notes: all per-document stats are map-side only (no shuffle);
the n-gram count is tokenize→explode→one partial-agg shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    ascii_tokens,
    ngrams_from_tokens,
    word_ngrams,
    ws_tokens,
)
from ..functions.vectors import lit_longs

# Marker stopwords per language for the lang-ID heuristic. Determinism
# matters more than linguistic coverage here; the heuristic is the
# declared contract (predicted = argmax marker hits, ties → lexical
# order of the language code, 'und' = undetermined when no marker hits).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "and", "of", "to", "is", "in", "that"),
    "es": ("el", "la", "los", "las", "es", "y", "que"),
    "fr": ("le", "la", "les", "et", "est", "que", "des"),
}


def token_count(text_col) -> F.Column:
    """Whitespace token count (the reference's wc unit is letters-only
    words; token *statistics* use whitespace splitting)."""
    return F.size(ws_tokens(text_col))


def bpe_ish_token_count(text_col) -> F.Column:
    """Rough BPE-style token estimate: word-pieces + digits + punct.

    A regex proxy for tokenizer budgeting (counts letter runs of ≤4
    chars as one piece, longer runs as ceil(len/4), plus each digit /
    punctuation char) — deterministic, no external tokenizer.
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    letter_runs = F.filter(F.split(col, "[^A-Za-z]+"), lambda t: t != F.lit(""))
    pieces = F.aggregate(
        letter_runs,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("long"),
    )
    non_letters = F.length(F.regexp_replace(col, r"[A-Za-z\s]", ""))
    return (pieces + non_letters).alias("bpe_tokens")


def char_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document character statistics. Columns: doc_id, n_chars,
    n_letters, n_digits, n_spaces, n_punct, upper_ratio."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_letters = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    n_upper = F.length(F.regexp_replace(t, "[^A-Z]", ""))
    n_digits = F.length(F.regexp_replace(t, "[^0-9]", ""))
    n_spaces = F.length(F.regexp_replace(t, r"[^\s]", ""))
    return documents.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_letters.alias("n_letters"),
        n_digits.alias("n_digits"),
        n_spaces.alias("n_spaces"),
        (n_chars - n_letters - n_digits - n_spaces).alias("n_punct"),
        F.when(n_letters > 0, n_upper.cast("double") / n_letters.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("upper_ratio"),
    )


def quality_score(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality in [0,1]: length band, letter ratio,
    mean word length band, stopword presence. Deterministic formula —
    the *contract* is the formula, tuned thresholds are arbitrary.
    Columns: doc_id, n_tokens, letter_ratio, mean_word_len, stopword_ratio,
    quality."""
    t = F.col(text_col)
    toks = ascii_tokens(t, lowercase=True)
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    letter_ratio = F.length(F.regexp_replace(t, "[^A-Za-z]", "")).cast(
        "double"
    ) / F.greatest(n_chars, F.lit(1)).cast("double")
    mean_wl = F.when(
        n_tokens > 0,
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).cast("double")
        / n_tokens,
    ).otherwise(0.0)
    stop = F.size(
        F.filter(toks, lambda x: x.isin(*LANG_MARKERS["en"]))
    ).cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")
    quality = (
        F.when((n_tokens >= 10) & (n_tokens <= 100000), 0.25).otherwise(0.0)
        + F.when(letter_ratio >= 0.6, 0.25).otherwise(0.0)
        + F.when((mean_wl >= 2.0) & (mean_wl <= 12.0), 0.25).otherwise(0.0)
        + F.when(stop > 0.0, 0.25).otherwise(0.0)
    )
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        letter_ratio.alias("letter_ratio"),
        mean_wl.alias("mean_word_len"),
        stop.alias("stopword_ratio"),
        quality.alias("quality"),
    )


def quality_keep(text_col: str = "text") -> F.Column:
    """The corpus keep-rule as ONE boolean column expression (same
    thresholds as the declared corpus filter) — usable where a join
    back onto metrics is not (e.g. a streaming filter, where a
    metrics self-join would be stream-stream)."""
    t = F.col(text_col)
    toks = ascii_tokens(t, lowercase=True)
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    letter_ratio = F.length(F.regexp_replace(t, "[^A-Za-z]", "")).cast(
        "double"
    ) / F.greatest(n_chars, F.lit(1)).cast("double")
    mean_wl = F.when(
        n_tokens > 0,
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).cast("double")
        / n_tokens,
    ).otherwise(0.0)
    stop = F.size(
        F.filter(toks, lambda x: x.isin(*LANG_MARKERS["en"]))
    ).cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")
    return (
        n_tokens.between(10, 100000)
        & (letter_ratio >= 0.6)
        & mean_wl.between(2.0, 12.0)
        & (stop > 0.0)
    )


def lang_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-stopword language ID. Columns: doc_id, pred_lang.

    predicted = language with most marker-token hits; ties broken by
    language code order; 'und' when nothing matches.
    """
    toks = ascii_tokens(text_col, lowercase=True)

    def marker_filter(markers):
        # NB: HOF lambdas must be unary — PySpark binds a Column to
        # every parameter, including defaults.
        return lambda x: x.isin(*markers)

    scores = {
        lang: F.size(F.filter(toks, marker_filter(markers)))
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # reversed so earlier language codes win ties via later .when overwrite
    for lang in sorted(scores, reverse=True):
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return documents.select("doc_id", pred.alias("pred_lang"))


def ngram_counts(
    documents: DataFrame, n: int = 2, text_col: str = "text"
) -> DataFrame:
    """Word n-gram frequency across the corpus. Columns: (ngram, cnt).

    tokenize → per-doc n-gram arrays (map-side) → explode → one
    partial-agg shuffle.
    """
    return (
        documents.select(F.explode(word_ngrams(text_col, n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
    )


def repetition_stats(
    documents: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Within-document repetition (Gopher-style quality rule): the
    fraction of duplicate word n-grams. Columns: doc_id, n_ngrams,
    n_distinct, dup_frac.

    Boilerplate / template spam shows up as dup_frac near 1.

    Shape: explode_outer → ONE aggregate with count + count-distinct.
    The naive form (size(grams), size(array_distinct(grams)), and both
    again in dup_frac) inlines the gram-building expression four times
    via projection collapse — measured 10.7 s vs ~1 s at sf0.1. The
    explode builds grams exactly once; explode_outer keeps gram-less
    docs (count over NULL → 0). One shuffle on doc_id.
    """
    ex = documents.select(
        "doc_id", F.explode_outer(word_ngrams(text_col, n)).alias("g")
    )
    agg = ex.groupBy("doc_id").agg(
        F.count("g").alias("n_ngrams"),
        F.count_distinct("g").alias("n_distinct"),
    )
    return agg.select(
        "doc_id",
        "n_ngrams",
        "n_distinct",
        F.when(
            F.col("n_ngrams") > 0,
            (F.col("n_ngrams") - F.col("n_distinct")).cast("double")
            / F.col("n_ngrams"),
        )
        .otherwise(0.0)
        .alias("dup_frac"),
    )


def tfidf_terms(
    documents: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf.

    Columns: doc_id, term, tf_cnt, df, score, rank. Score uses the
    BM25-style *rational* idf (N - df + 0.5)/(df + 0.5) instead of its
    log: transcendentals differ in the last ulp between libm builds
    (see queries_scalar.py), while +,*,/ are IEEE-correctly-rounded —
    so this variant is bit-stable across engines. Monotone in the log
    form, so the ranking is identical.

    Plan shape: one explode → two partial-agg shuffles (per-(doc,term)
    counts, then per-term df) + a broadcast of the scalar N — the
    standard scalable TF-IDF; nothing is O(corpus²).
    """
    toks = ascii_tokens(text_col, lowercase=True)
    ex = documents.select("doc_id", F.explode(toks).alias("term"))
    tf = ex.groupBy("doc_id", "term").agg(F.count("*").alias("tf_cnt"))
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = documents.select(
        F.count("*").cast("double").alias("_n")
    )  # 1-row broadcast
    scored = (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf_cnt",
            "df",
            (
                F.col("tf_cnt").cast("double")
                * (
                    (F.col("_n") - F.col("df").cast("double") + F.lit(0.5))
                    / (F.col("df").cast("double") + F.lit(0.5))
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_audit(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document audit of the Gopher quality rules (Rae et al.
    2021, arXiv:2112.11446 §A1.1 — public paper), word-level subset:
    word count ∈ [50, 100000], mean word length ∈ [3, 10],
    symbol-to-word ratio (# and ...) ≤ 0.1, ≥ 80% of words contain a
    letter, ≥ 2 distinct of the 8 required stopwords. The line-level
    rules (bullet/ellipsis lines) are omitted: the documents fixture
    is single-line, so they'd be vacuously true — the audit reports
    the metrics a real pipeline thresholds, one row per doc.

    All map-side column expressions (ratios are per-row int/int
    divisions — deterministic doubles, no float aggregation).
    Columns: doc_id, n_words, mean_word_len, n_stop_distinct,
    alpha_word_frac, symbol_word_ratio, pass_all."""
    t = F.col(text_col)
    words = ws_tokens(t)
    n = F.size(words)
    nd = F.greatest(n, F.lit(1)).cast("double")
    mean_wl = (
        F.aggregate(words, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        / nd
    )
    n_stop = F.size(
        F.array_distinct(F.filter(words, lambda x: x.isin(*GOPHER_STOPWORDS)))
    )
    alpha_frac = (
        F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]"))).cast("double") / nd
    )
    n_hash = F.length(t) - F.length(F.translate(t, "#", ""))
    n_ell = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    sym_ratio = (n_hash + n_ell) / nd
    pass_all = (
        n.between(50, 100000)
        & mean_wl.between(3.0, 10.0)
        & (sym_ratio <= 0.1)
        & (alpha_frac >= 0.8)
        & (n_stop >= 2)
    )
    return documents.select(
        "doc_id",
        n.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        n_stop.alias("n_stop_distinct"),
        alpha_frac.alias("alpha_word_frac"),
        sym_ratio.alias("symbol_word_ratio"),
        pass_all.cast("int").alias("pass_all"),
    )


def doc_fingerprint(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Rolling polynomial hash over tokens (mod 2^31-1) — an
    order-SENSITIVE content fingerprint (vs dedup.fingerprint which is
    order-insensitive). Columns: doc_id, fp.

    h = Σ_i (xxhash64(tok_i) mod M) * 31^i  (mod M), folded
    incrementally as h = h*31 + tok_hash to stay in bigint range.
    """
    m = (1 << 31) - 1
    toks = ascii_tokens(text_col, lowercase=True)
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + F.pmod(F.xxhash64(t), F.lit(m))) % m,
    )
    return documents.select("doc_id", fp.alias("fp"))


# --------------------------------------------------------- winnowing

# Winnowing fingerprints (Schleimer, Wilkerson, Aiken: "Winnowing:
# Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
# MOSS algorithm). Character k-grams over the case/punctuation-
# squashed text, each hashed; every window of w consecutive gram
# hashes selects its minimum (rightmost position on ties); the
# fingerprint set is the distinct selected hashes. Guarantees: any
# shared substring of length >= k + w - 1 yields at least one shared
# fingerprint, and the density of selected positions is ~2/(w+1).
#
# Engine-portable hashing: h = first 8 hex chars of md5(gram) as a
# bigint (the repo's md5-stable recipe — identical in Spark and
# DuckDB, unlike xxhash64/murmur3), so the operator is fully
# oracle-checkable, an upgrade over the rows-only doc_fingerprint.
#
# Rightmost-min tie-break without ties: order key
#   key = h * 2^22 + (2^22 - 1 - pos)
# is unique per position (pos < 2^22: canon text is hard-capped at
# 2^22-1 chars in _winnow_arrays and in the oracle SQL), so
# "min key" == "min hash, rightmost position".
#
# Shape (100 TB): the selection is computed entirely map-side with
# array expressions — per document O(n*w) work, NO shuffle, NO
# explode — instead of the textbook explode + two window passes,
# which would shuffle ~20 bytes per input character. Each derived
# array lives in its own select: CollapseProject only inlines
# single-use/cheap aliases, so the chain stays evaluated once.

WINNOW_POS_BITS = 22  # pos fits 22 bits; key = h << 22 | (2^22-1-pos)


def _winnow_arrays(
    documents: DataFrame,
    k: int,
    w: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(doc_id, n_grams, hs, keys, sm): gram hashes, order keys, and
    the per-position selection threshold (max of window minima —
    position j is selected iff keys[j] == sm[j])."""
    m = 1 << WINNOW_POS_BITS
    # Hard-cap canon length at 2^22-1 chars so pos always fits its 22
    # bits (beyond it the order key would wrap and corrupt the
    # rightmost-min tie-break). Fingerprinting the first 4M canon
    # chars of a pathological doc is the documented contract; the
    # oracle SQL applies the same substr cap.
    canon = F.substring(
        F.lower(F.regexp_replace(F.col(text_col), "[^A-Za-z0-9]", "")),
        1,
        m - 1,
    )
    base = (
        documents.select(F.col(id_col).alias("doc_id"), canon.alias("c"))
        .filter(F.length("c") >= k)
    )
    # gram hashes h_j (1-based j), md5-derived for oracle portability
    hs = F.transform(
        F.sequence(F.lit(1), F.length("c") - (k - 1)),
        lambda j: F.conv(
            F.substring(F.md5(F.col("c").substr(j, F.lit(k))), 1, 8), 16, 10
        ).cast("long"),
    )
    d1 = base.select("doc_id", hs.alias("hs"))
    keys = F.transform(
        F.col("hs"),
        lambda h, i: h * m + (F.lit(m - 1) - (i + 1)),
    )
    d2 = d1.select("doc_id", "hs", keys.alias("keys"))
    # me[j] = min(keys[j-w+1 .. j]) (frame truncated at the start)
    me = F.transform(
        F.col("keys"),
        lambda x, i: F.array_min(
            F.slice(
                F.col("keys"),
                F.greatest(F.lit(1), i + 2 - w),
                F.least(F.lit(w), i + 1),
            )
        ),
    )
    d3 = d2.select("doc_id", "hs", "keys", me.alias("me"))
    # sm[j] = max(me[j .. j+w-1]); keys[j] == sm[j] iff some window
    # ending in [j, j+w-1] has j as its (rightmost-tie) minimum
    sm = F.transform(
        F.col("me"),
        lambda x, i: F.array_max(
            F.slice(
                F.col("me"),
                i + 1,
                F.least(F.lit(w), F.size(F.col("me")) - i),
            )
        ),
    )
    return d3.select(
        "doc_id",
        F.size("hs").cast("bigint").alias("n_grams"),
        "hs",
        "keys",
        sm.alias("sm"),
    )


def winnow_fingerprints(
    documents: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Selected winnowing fingerprints as rows (doc_id, pos, h);
    pos is the 1-based gram position. May repeat h within a doc
    (same gram selected at two positions) — distinct on (doc_id, h)
    for set semantics."""
    d = _winnow_arrays(documents, k, w, text_col, id_col)
    sel = F.filter(
        F.zip_with(
            F.col("keys"),
            F.col("sm"),
            lambda kk, s: F.when(kk == s, kk),
        ),
        lambda x: x.isNotNull(),
    )
    # localCheckpoint BEFORE the explode: Generate pushdown emits a
    # size()/isnotnull Filter whose predicate alias-substitutes the
    # whole hs→keys→me→sm chain; inside that interpreted predicate
    # each HOF lambda body re-evaluates its input array PER ELEMENT
    # (me inside sm's lambda, keys inside me's...) — O(n³) per doc,
    # hangs at 500 docs. Projection-level barriers don't help
    # (predicates push through Repartition); severing lineage is the
    # repo's established fix (graph.py edges/deg). Cost: the selected
    # key arrays (~2/(w+1) of gram count × 8 B) hit executor-local
    # disk once.
    picked = d.select("doc_id", sel.alias("sel")).localCheckpoint(eager=False)
    ex = picked.select("doc_id", F.explode("sel").alias("key"))
    m = 1 << WINNOW_POS_BITS
    return ex.select(
        "doc_id",
        (F.lit(m - 1) - F.pmod("key", F.lit(m))).cast("bigint").alias("pos"),
        # exact decode: key < 2^54 would lose bits through a double
        # division, so shift instead
        F.shiftright(F.col("key"), WINNOW_POS_BITS).cast("bigint").alias("h"),
    )


def winnow_fp_set(
    documents: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_grams, sel_h): the DISTINCT selected fingerprint
    hashes per document as an array column — deduped map-side
    (array_distinct), so consumers that explode it never need a
    distinct shuffle."""
    d = _winnow_arrays(documents, k, w, text_col, id_col)
    sel_h = F.array_distinct(
        F.filter(
            F.zip_with(
                F.col("hs"),
                F.zip_with(F.col("keys"), F.col("sm"), lambda kk, s: kk == s),
                lambda h, f: F.when(f, h),
            ),
            lambda x: x.isNotNull(),
        )
    )
    return d.select("doc_id", "n_grams", sel_h.alias("sel_h"))


def winnow_audit(
    documents: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document fingerprint audit, fully map-side (no shuffle, no
    explode): (doc_id, n_grams, n_fp, fp_xor, fp_sum, fp_min, fp_max)
    over the DISTINCT selected hashes. The four folds pin the exact
    fingerprint set content, so the oracle check is as strong as
    comparing the exploded rows — at zero shuffle cost."""
    d2 = winnow_fp_set(documents, k, w, text_col, id_col)
    return d2.select(
        "doc_id",
        "n_grams",
        F.size("sel_h").cast("bigint").alias("n_fp"),
        F.aggregate(
            "sel_h", F.lit(0).cast("long"), lambda a, x: a.bitwiseXOR(x)
        ).alias("fp_xor"),
        F.aggregate(
            "sel_h", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("fp_sum"),
        F.array_min("sel_h").alias("fp_min"),
        F.array_max("sel_h").alias("fp_max"),
    )


# --------------------------------------------------- BPE merge training

# Byte-pair-encoding tokenizer training (Sennrich, Haddow, Birch:
# "Neural Machine Translation of Rare Words with Subword Units", ACL
# 2016): start from character symbols, repeatedly count adjacent
# symbol pairs over the (distinct-word, frequency) table and merge
# the most frequent pair corpus-wide. The iterative-algorithm oracle
# recipe applies (kmeans/pagerank/rebalance class): exact integer
# counts, (count DESC, left, right) argmax tie-break, a fixed round
# count, and every round replayed in unrolled SQL.
#
# Merge-application encoding (identical in Spark, DuckDB, and the
# Python model): symbols are DOUBLE-space-joined and the working
# string is single-space padded; applying merge (a, b) is a literal
# left-to-right replace of " a  b " with " ab ". Because a match
# consumes exactly one space from each neighboring separator, (i)
# full tokens are delimited on both sides — a pair can never match
# across symbol boundaries ("ba b" does not match "a b") — and (ii)
# adjacent merges chain ("a a a a" -> "aa aa", not "aa a a"). This
# makes one literal replace EXACTLY the greedy left-to-right
# non-overlapping token-list merge of the published algorithm
# (re.sub with lookarounds in the original implementation — RE2 has
# no lookarounds, so DuckDB could not replay that form literally).
# tests/test_bpe_train.py pins both properties against a token-list
# Python model.
#
# Scale shape: training runs over DISTINCT words × freq (vocabulary-
# sized, not corpus-sized — the standard BPE trick); each round is
# one explode + one partially-aggregated count + a 1-row driver
# argmax (kmeans-collect class) + a map-only replace. Rounds are
# lineage-chained map stages; localCheckpoint every 3 rounds keeps
# Catalyst analysis flat (the CC discipline).

BPE_ROUNDS = 6


def _bpe_words(documents: DataFrame, text_col: str) -> DataFrame:
    """(w, freq, sym): distinct lowercase words with corpus frequency
    and the initial DOUBLE-space-joined character symbolization (see
    the encoding note above). Checkpointed: six training rounds each
    re-run an action over this frame, and without the barrier the
    corpus tokenize+groupBy would recompute per round."""
    toks = documents.select(
        F.explode(ascii_tokens(text_col, lowercase=True)).alias("w")
    )
    return (
        toks.groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .select(
            "w",
            "freq",
            F.trim(F.regexp_replace("w", "(.)", "$1  ")).alias("sym"),
        )
        .localCheckpoint(eager=False)
    )


def bpe_learn(
    documents: DataFrame,
    rounds: int = BPE_ROUNDS,
    text_col: str = "text",
):
    """Run BPE training; returns (merges, words) where merges is the
    list [(round, left, right, pair_count)] and words the final
    (w, freq, sym) DataFrame. Each round's argmax collect is one row
    (driver-tiny)."""
    words = _bpe_words(documents, text_col)
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, rounds + 1):
        s = F.split("sym", "  ")
        pairs = F.zip_with(
            F.slice(s, 1, F.size(s) - 1),
            F.slice(s, 2, F.size(s) - 1),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        )
        top = (
            words.select("freq", F.explode(pairs).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        merges.append((r, a, b, cnt))
        # pad, replace " a  b " -> " ab " (consumes one space of each
        # neighboring double separator), strip the padding back off
        words = words.withColumn(
            "sym",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("sym"), F.lit(" ")),
                    F.lit(f" {a}  {b} "),
                    F.lit(f" {a + b} "),
                )
            ),
        )
        if r % 3 == 0 and r < rounds:
            words = words.localCheckpoint(eager=False)
    return merges, words


def bpe_train_merges(
    documents: DataFrame,
    rounds: int = BPE_ROUNDS,
    text_col: str = "text",
) -> DataFrame:
    """The learned merge table: (merge_round, left_sym, right_sym,
    pair_count) — the training artifact a tokenizer ships."""
    merges, words = bpe_learn(documents, rounds, text_col)
    return words.sparkSession.createDataFrame(
        merges, "merge_round int, left_sym string, right_sym string, pair_count bigint"
    )


def bpe_vocab_tokens(
    documents: DataFrame,
    rounds: int = BPE_ROUNDS,
    text_col: str = "text",
) -> DataFrame:
    """Corpus token table AFTER applying the learned merges:
    (token, freq) — the full-content check that the merge
    applications (not just the argmax picks) replayed exactly."""
    merges, words = bpe_learn(documents, rounds, text_col)
    return (
        words.select("freq", F.explode(F.split("sym", "  ")).alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").cast("bigint").alias("freq"))
    )


def bpe_doc_token_counts(
    documents: DataFrame,
    words: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_words, n_tokens): per-document token counts under
    the TRAINED merges — tokenizer APPLICATION at corpus scale, the
    op a mixture-budgeting / sequence-packing pipeline runs over
    100 TB before deciding sampling weights. ``words`` is the final
    (w, freq, sym) frame from bpe_learn (its sym already carries the
    merged symbolization, so application is a lookup, not a replay).

    Shape: per-doc word explode → broadcast join against the
    DISTINCT-word table (vocab-sized, Zipf-compressed — broadcast
    while it fits; at true web scale swap the hint for a plain
    hash-join on w, same semantics) → one partial-agg sum per doc.
    Zero-word documents drop out (no tokens to count) — mirrored by
    the oracle's inner join."""
    return (
        _bpe_word_tokens(documents, words, text_col, F.col(id_col), "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("_ntok").cast("long").alias("n_tokens"),
        )
    )


def _bpe_word_tokens(
    documents: DataFrame, words: DataFrame, text_col: str, key, key_name: str
) -> DataFrame:
    """Shared tokenizer-APPLICATION kernel (the ONE place the
    double-space sym encoding is decoded into per-word token counts):
    word-occurrence explode joined — broadcast while the Zipf-
    compressed vocab fits; at true web scale swap the hint for a
    plain hash join, same semantics — against the trained (w, sym)
    frame. One row per word occurrence: (key_name, w, _ntok)."""
    per_word = words.select(
        "w", F.size(F.split("sym", "  ")).cast("long").alias("_ntok")
    )
    ex = documents.select(
        key.alias(key_name),
        F.explode(ascii_tokens(text_col, lowercase=True)).alias("w"),
    )
    return ex.join(F.broadcast(per_word), "w")


# ---- unigram-LM tokenizer training ---------------------------------
#
# SentencePiece-style unigram-LM training (Kudo 2018) as the SECOND
# tokenizer-training paradigm next to BPE, reformulated so the whole
# loop is engine-portable exact integers:
#
# - Likelihoods: score(piece) = bit_length(max(1, (c^2 << UNI_SHIFT)
#   div T^2)) — floor(2*log2(c/T)) shifted positive, the DSIR
#   floor-log2 trick at HALF-BIT resolution (bit_length == DuckDB
#   length(bin(x)) == Python int.bit_length; no libm anywhere).
# - Segmentation: the Viterbi argmax is replayed as an EXHAUSTIVE
#   enumeration of segmentations (words truncated to UNI_MAXW chars,
#   pieces up to UNI_MAXP long → <= tetranacci(UNI_MAXW) ~ 400 paths
#   per word, over the DISTINCT-word table only) with the total order
#   (score desc, n_pieces asc, path asc) — a DP would need the same
#   tie-break to be decomposable; enumeration makes the argmax
#   definitionally identical in Spark (array-local fold over the
#   vocab-sized word table), DuckDB (recursive CTE) and the Python
#   differential.
# - EM -> fixed-round prune: each round segments every distinct word
#   under the previous round's scores, recounts piece usage weighted
#   by word frequency, keeps every single char (segmentability) plus
#   the top UNI_KEEP[r] multi-char pieces by (count desc, piece asc),
#   and rescores. Per-round counts are collected driver-side
#   (vocab-sized <= ~600 rows — the kmeans-centroid/IVF-seed
#   precedent) and re-literalized as a map expression, so each round
#   is ONE map-only segmentation pass + one piece-count shuffle over
#   the distinct-word frame.
#
# 100 TB shape: the corpus is touched ONCE (the distinct-word
# groupBy); training then runs over the Zipf-compressed word table
# (vocab-sized), exactly like bpe_learn. Scores use c^2/T^2 in
# decimal/HUGEINT/Python-int — c,T up to ~2^40 stay inside
# decimal(38,0); beyond that drop UNI_SHIFT (documented, not hit at
# any test scale).

UNI_MAXW = 10       # words truncated to this many chars for training
UNI_MAXP = 4        # max piece length
UNI_SEED_MULTI = 448  # multi-char pieces kept at seeding
UNI_KEEP = (320, 256)  # multi-char pieces kept after each EM round
UNI_SHIFT = 40      # fixed-point shift inside the half-bit log


def _uni_score(c: int, t: int) -> int:
    """Half-bit quantized log-likelihood: bit_length of the clamped
    fixed-point ratio (c/T)^2 * 2^UNI_SHIFT — monotone in c/T,
    identical in Python / Spark bin() / DuckDB bin()."""
    return max(1, ((c * c) << UNI_SHIFT) // (t * t)).bit_length()


def _uni_words(documents: DataFrame, text_col: str) -> DataFrame:
    """(w, freq): distinct lowercase words truncated to UNI_MAXW
    chars, with corpus frequency. Checkpointed — every training round
    re-runs an action over it."""
    toks = documents.select(
        F.explode(ascii_tokens(text_col, lowercase=True)).alias("t")
    )
    return (
        toks.select(F.substring("t", 1, UNI_MAXW).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .localCheckpoint(eager=False)
    )


def _uni_best_expr(scores: dict[str, int]) -> str:
    """SQL expression computing the best segmentation struct
    (pos, sc, np, path) for column ``w`` under the given piece-score
    map: enumerate all segmentations whose every piece is in the
    vocab via one array-local fold, then argmin under the total order
    (sc desc, np asc, path asc). Pieces are pure [a-z] (ascii_tokens)
    so the map literal needs no escaping."""
    m = (
        "map("
        + ",".join(f"'{p}',{s}L" for p, s in sorted(scores.items()))
        + ")"
    )
    look = f"try_element_at({m}, substr(w, a.pos + 1, i - a.pos))"
    paths = f"""
      aggregate(
        sequence(1, length(w)),
        array(struct(0 as pos, cast(0 as long) as sc, 0 as np,
                     '' as path)),
        (acc, i) -> concat(acc,
          transform(
            filter(acc, a -> a.pos >= i - {UNI_MAXP} AND a.pos < i
                   AND {look} IS NOT NULL),
            a -> struct(i as pos,
                        a.sc + {look} as sc,
                        a.np + 1 as np,
                        concat(a.path, ' ',
                               substr(w, a.pos + 1, i - a.pos)) as path)))
      )"""
    return f"""
      element_at(array_sort(filter({paths}, a -> a.pos = length(w)),
        (l, r) -> case when l.sc > r.sc then -1 when l.sc < r.sc then 1
                       when l.np < r.np then -1 when l.np > r.np then 1
                       when l.path < r.path then -1
                       when l.path > r.path then 1
                       else 0 end), 1)"""


def _uni_segment(words: DataFrame, scores: dict[str, int]) -> DataFrame:
    """(w, freq, np, path): best segmentation per distinct word under
    ``scores``. The struct is aliased in its OWN select (the r4
    struct-clone trap) and the result checkpointed — the path feeds
    an explode (the Generate-pushdown hazard) and multiple
    consumers."""
    seg = (
        words.select("w", "freq", F.expr(_uni_best_expr(scores)).alias("b"))
        .select(
            "w",
            "freq",
            F.col("b.np").alias("np"),
            F.expr("substr(b.path, 2)").alias("path"),
        )
        .localCheckpoint(eager=False)
    )
    return seg


def _uni_counts(seg: DataFrame) -> dict[str, int]:
    """Piece usage counts (weighted by word freq) from a segmentation
    frame — collected driver-side (vocab-sized)."""
    rows = (
        seg.select("freq", F.explode(F.split("path", " ")).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .collect()
    )
    return {r.piece: int(r.cnt) for r in rows}


def unigram_learn(
    documents: DataFrame,
    text_col: str = "text",
):
    """Run unigram-LM tokenizer training. Returns (vocab, scores,
    words) where vocab is the final {piece: count} dict, scores the
    final {piece: score} map (recomputed FROM vocab), and words the
    checkpointed distinct-word frame. Driver-side state is
    vocab-sized throughout."""
    spark = documents.sparkSession
    words = _uni_words(documents, text_col)
    # seed: every substring occurrence of every distinct word, via a
    # broadcast (start, len) grid join (no Generate-pushdown hazard)
    grid = spark.createDataFrame(
        [
            (i, ln)
            for i in range(1, UNI_MAXW + 1)
            for ln in range(1, UNI_MAXP + 1)
        ],
        "i int, l int",
    )
    seed_rows = (
        words.crossJoin(F.broadcast(grid))
        .filter(F.expr("i + l - 1 <= length(w)"))
        .select(F.expr("substr(w, i, l)").alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .collect()
    )
    seed = {r.piece: int(r.cnt) for r in seed_rows}
    chars = sorted(p for p in seed if len(p) == 1)

    def prune(counts: dict[str, int], keep_multi: int) -> dict[str, int]:
        # every single char stays (segmentability); top multi-char
        # pieces by (count desc, piece asc)
        multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )[:keep_multi]
        out = {p: counts.get(p, 0) for p in chars}
        out.update(dict(multi))
        return out

    def rescore(vocab: dict[str, int]) -> dict[str, int]:
        t = sum(vocab.values())
        return {p: _uni_score(c, t) for p, c in vocab.items()}

    vocab = prune(seed, UNI_SEED_MULTI)
    scores = rescore(vocab)
    for keep in UNI_KEEP:
        seg = _uni_segment(words, scores)
        counts = _uni_counts(seg)
        vocab = prune(counts, keep)
        scores = rescore(vocab)
    return vocab, scores, words


def unigram_train_vocab(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The trained unigram vocabulary: (piece, piece_len, cnt,
    score_qbits) — the artifact a unigram tokenizer ships (piece
    inventory + quantized log-likelihoods). Fully oracle-checked:
    seeding, both EM prune rounds and the final scores replay in
    unrolled SQL (recursive-CTE segmentation enumeration)."""
    vocab, scores, words = unigram_learn(documents, text_col)
    spark = words.sparkSession
    return spark.createDataFrame(
        [(p, len(p), c, scores[p]) for p, c in sorted(vocab.items())],
        "piece string, piece_len int, cnt bigint, score_qbits bigint",
    )


def unigram_doc_token_counts(
    documents: DataFrame,
    scores: dict[str, int],
    words: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_words, n_tokens): tokenizer APPLICATION — each
    document's words segmented under the FINAL trained scores; the
    bpe_doc_token_counts twin for the unigram paradigm. One final
    map-only segmentation over the distinct-word table, then the
    occurrence explode joins it (broadcast while the Zipf-compressed
    vocab fits). Zero-word docs drop out (oracle inner join)."""
    per_word = _uni_segment(words, scores).select("w", "np")
    ex = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ascii_tokens(text_col, lowercase=True)).alias("t"),
    ).select("doc_id", F.substring("t", 1, UNI_MAXW).alias("w"))
    return (
        ex.join(F.broadcast(per_word), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("np").cast("long").alias("n_tokens"),
        )
    )


def unigram_fertility_by_lang(
    documents: DataFrame,
    scores: dict[str, int],
    words: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-language fertility under the TRAINED unigram vocab — the
    bpe_fertility_by_lang twin for the second paradigm, completing
    the tokenizer-equity audit pair (a multilingual pipeline compares
    the two PARADIGMS' fertility per language before committing a
    vocab). Same contract: (lang, n_docs, n_words, n_tokens,
    fertility_milli), NULL fertility for a zero-word language, n_docs
    counts wordless documents too. One final map-only segmentation of
    the distinct-word table, broadcast into the occurrence explode,
    re-aggregated at the language grain."""
    per_word = _uni_segment(words, scores).select("w", "np")
    ex = documents.select(
        F.col(lang_col).alias("lang"),
        F.explode(ascii_tokens(text_col, lowercase=True)).alias("t"),
    ).select("lang", F.substring("t", 1, UNI_MAXW).alias("w"))
    agg = (
        ex.join(F.broadcast(per_word), "w")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("np").cast("long").alias("n_tokens"),
        )
    )
    vols = documents.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return vols.join(agg, "lang", "left").select(
        "lang",
        "n_docs",
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.expr(
            "cast(case when coalesce(n_words, 0) = 0 then null"
            " else (1000 * n_tokens) div n_words end as bigint)"
        ).alias("fertility_milli"),
    )


def bigram_novelty_stats(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_bigrams, singleton_bigrams, familiarity_sum):
    corpus-frequency familiarity scoring — the integer-exact cousin
    of LM-perplexity quality filtering. familiarity_sum = Σ over the
    doc's word-bigram OCCURRENCES of that bigram's corpus-wide count;
    singleton_bigrams counts occurrences unique in the whole corpus.
    Garbled/boilerplate-free natural text scores familiar (high
    mean count); mojibake and template noise is singleton-heavy.
    (True log-prob perplexity is not hash-portable — ln() differs
    across libm builds, the r2 tfidf finding — so the declared
    surface stays in exact counts.)

    Shape: explode bigram occurrences once, ONE groupBy(bg) for the
    global counts, hash-join back (Zipf-compressed build side), one
    partial-agg per doc. Docs with <2 tokens have no bigrams and
    drop out (mirrored by the oracle's inner join)."""
    ex = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(text_col, 2)).alias("bg"),
    )
    glob = ex.groupBy("bg").agg(F.count("*").cast("long").alias("_gc"))
    # shuffle_hash, not broadcast/SMJ: the aggregated side is corpus-
    # distinct-bigram-sized (NOT broadcastable at 100 TB), and SMJ
    # would sort the full occurrence stream — the 10x probe measured
    # the BHJ->SMJ transition as a 6.3x cliff; SHJ builds the hash
    # table from the aggregated side per partition and stays linear.
    return (
        ex.join(glob.hint("shuffle_hash"), "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("_gc") == 1, 1).otherwise(0))
            .cast("long")
            .alias("singleton_bigrams"),
            F.sum("_gc").cast("long").alias("familiarity_sum"),
        )
    )


# ------------------------------------- linear classifier quality filter

CLF_DIM = 256          # hashing-trick feature buckets (16-bit md5 slice mod DIM)
CLF_WEIGHT_SPAN = 1000  # weights lie in [-SPAN, SPAN]
CLF_BIAS_KEY = "bias"


def classifier_weights(dim: int = CLF_DIM) -> list[int]:
    """Deterministic integer weight vector for the hashed linear
    classifier — md5-derived pseudo-weights in [-SPAN, SPAN] standing
    in for trained fasttext-style parameters (the contract under test
    is the SCORING operator: feature hashing, integer dot product,
    margin, threshold — not the training run that produced the
    weights; a real deployment pastes its trained weights into the
    same literal slot). One source for all three legs: the Spark
    literal array, the oracle SQL list, and the Python replay all
    derive from this function (the Bloom-tuple rule)."""
    import hashlib

    span = 2 * CLF_WEIGHT_SPAN + 1
    return [
        int(hashlib.md5(f"w{j}".encode()).hexdigest()[:12], 16) % span
        - CLF_WEIGHT_SPAN
        for j in range(dim)
    ]


def classifier_bias() -> int:
    """Deterministic bias term, same derivation as the weights."""
    import hashlib

    span = 2 * CLF_WEIGHT_SPAN + 1
    return (
        int(hashlib.md5(CLF_BIAS_KEY.encode()).hexdigest()[:12], 16) % span
        - CLF_WEIGHT_SPAN
    )


def clf_feature_idx(tok) -> F.Column:
    """Feature bucket of a token: first 16-bit md5 hex slice mod
    CLF_DIM — the engine-portable hash recipe (sketch.cms_lane_pos
    lane 0 with a smaller modulus)."""
    t = F.col(tok) if isinstance(tok, str) else tok
    return (
        F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long")
        % F.lit(CLF_DIM).cast("long")
    )


def classifier_score_col(text_col="text") -> F.Column:
    """The classifier score as ONE column expression (bias + hashed
    bag-of-words weighted fold) — shared by the per-doc scorer, the
    audit and the corpus datacard so every consumer applies the
    identical contract."""
    weights = classifier_weights()
    bias = classifier_bias()
    warr = lit_longs(weights)
    toks = ascii_tokens(text_col, lowercase=True)
    wsum = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.element_at(warr, (clf_feature_idx(t) + 1).cast("int")),
    )
    return (F.lit(bias).cast("long") + wsum).cast("long")


def classifier_quality_scores(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """fasttext-style linear quality classifier scoring, MAP-ONLY and
    integer-exact: per document the bag-of-words dot product of
    hashed token features against a literal weight vector.

        score = bias + Σ_{token occurrences} W[md5_16(token) mod DIM]

    Columns: (doc_id, n_tokens, score, margin, label,
    score_per_token_milli) with label = 'keep' iff score >= 0,
    margin = |score|, and score_per_token_milli = (1000·score) div
    n_tokens — integer division truncating toward zero in BOTH
    engines (score may be negative; truncate ≠ floor there, but Spark
    `div` and DuckDB `//` agree — the mlfit wording lesson). Empty
    docs keep their row: score = bias, NULL per-token rate (the
    gopher NULL-on-empty landmine, handled on both sides).

    Scale shape: zero shuffles — tokenize and the weighted fold are
    one HOF projection over the scan (the weight table rides along as
    a 256-literal array, not a join); output rows == input rows. This
    is the classifier-filter step of a 100 TB corpus prep exactly as
    it should run: embarrassingly parallel, no state. The fold is
    interpreted (HOF), so declared callers widen_scan the 1-row-group
    fixture (the PQ lesson)."""
    score = classifier_score_col(text_col)
    n_tokens = F.size(ascii_tokens(text_col, lowercase=True)).cast("long")
    out = documents.select(
        F.col(id_col).alias("doc_id"),
        n_tokens.alias("n_tokens"),
        score.alias("score"),
        F.abs(score).cast("long").alias("margin"),
        F.when(score >= 0, F.lit("keep")).otherwise(F.lit("toss")).alias(
            "label"
        ),
    )
    return out.withColumn(
        "score_per_token_milli",
        F.when(
            F.col("n_tokens") > 0,
            F.expr("(1000 * score) div n_tokens"),
        ).cast("long"),
    )


def classifier_quality_audit(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Threshold audit of the classifier filter — the bounded
    (2-row) corpus-level view a pipeline dashboards: per label,
    (label, n_docs, total_tokens, sum_score, min_score, max_score).
    One partial-agg shuffle over the map-only scores frame."""
    s = classifier_quality_scores(documents, text_col, id_col)
    return s.groupBy("label").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("score").cast("long").alias("sum_score"),
        F.min("score").cast("long").alias("min_score"),
        F.max("score").cast("long").alias("max_score"),
    )


# ---- portable bigram-LM perplexity ----------------------------------------

LM_FP_BITS = 40  # fixed-point bits for p(b|a); p ≥ 2^-40 before clamp


def bigram_lm_bits(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style LM-perplexity quality scoring (Wenzek et al. 2020)
    made hash-portable: an add-one-smoothed bigram LM trained on the
    corpus scores each document with EXACT integer floor-log2
    probabilities — the DSIR bit_length trick applied to conditional
    probabilities, superseding bigram_novelty_stats' "true perplexity
    is not portable" restriction (that held for ln(); floor-log2 of a
    rational does not need libm).

        p(b|a) = (c(a,b) + 1) / (c(a) + V)
        bits(a,b) = floor(log2 p) = bit_length((c(ab)+1)·2^40
                      div (c(a)+V), clamped ≥ 1) − 41   ∈ [−40, 0]

    with c(a) = bigram occurrences starting with a, V = corpus
    distinct-token count; products run in decimal(38,0) (the r6
    overflow rule). Per doc: n_grams, lm_bits = Σ bits (the exact
    log2-likelihood surrogate), and centibits_per_gram =
    (−lm_bits·100) div n_grams — the integer perplexity exponent
    (PPL = 2^(centibits/100)); LOW centibits = predictable text, the
    CCNet keep side. Docs with < 2 tokens have no bigrams and drop
    out (the bigram_novelty_stats convention).

    Shape: explode bigram occurrences once; ONE groupBy(bg) and ONE
    groupBy(a) for the model tables, both joined back shuffle_hash
    (the novelty lesson — the aggregated sides are corpus-distinct-
    sized, NOT broadcastable at 100 TB, and SMJ would sort the
    occurrence stream); V rides as a 1-row crossJoin; one partial-agg
    per doc."""
    occ = _bigram_bits_occurrences(documents, text_col, id_col)
    scored = occ.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum("bits").cast("long").alias("lm_bits"),
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "lm_bits",
        F.expr("cast((-lm_bits * 100) div n_grams as bigint)").alias(
            "centibits_per_gram"
        ),
    )


def _bigram_bits_occurrences(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, bits) per bigram occurrence — the shared kernel of
    ``bigram_lm_bits`` (per-doc sum) and ``min_k_prob_audit``
    (per-doc tail of the sorted bits). Same plan as the r7 original:
    one occurrence explode, model tables joined back shuffle_hash,
    V as a 1-row broadcast crossJoin."""
    ex = _bigram_occurrences(documents, text_col, id_col)
    big, uni, vocab = _bigram_model(documents, text_col, id_col)
    return (
        ex.join(big.hint("shuffle_hash"), "bg")
        .join(uni.hint("shuffle_hash"), "a")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lm_bits_col().alias("bits"))
    )


def _bigram_occurrences(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, bg, a) bigram occurrence rows."""
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(text_col, 2)).alias("bg"),
    ).select("doc_id", "bg", F.substring_index("bg", " ", 1).alias("a"))


def _bigram_model(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple:
    """The add-one bigram LM's tables (big, uni, vocab) from a
    corpus — factored so a STREAM can be scored against a FROZEN
    model (streaming_min_k_scores) with the same arithmetic."""
    ex = _bigram_occurrences(documents, text_col, id_col)
    # c(a) = Σ_b c(a,b): derive the condition counts FROM the bigram
    # table instead of a second pass over the occurrence stream — one
    # fewer corpus tokenize (plan audit r7: ex fed 3 consumers); the
    # lazy checkpoint pins big's agg so uni replays from ExistingRDD.
    big = ex.groupBy("bg").agg(
        F.count("*").cast("long").alias("cb")
    ).localCheckpoint(eager=False)
    uni = (
        big.groupBy(F.substring_index("bg", " ", 1).alias("a"))
        .agg(F.sum("cb").cast("long").alias("ca"))
    )
    vocab = documents.select(
        F.explode(ascii_tokens(text_col, lowercase=True)).alias("w")
    ).agg(F.count_distinct("w").cast("long").alias("v"))
    return big, uni, vocab


def lm_bits_col() -> F.Column:
    """floor-log2 p(b|a) from joined (cb, ca, v) columns — the ONE
    bits expression shared by the batch kernel and the frozen-model
    streaming scorer. NULL-safe for UNSEEN grams (frozen-model
    scoring of new docs): cb/ca coalesce to 0, which IS add-one
    smoothing's unseen case p = 1/(0 + V)."""
    ratio = F.expr(
        f"cast(greatest("
        f"((cast(coalesce(cb, 0) as decimal(38,0)) + 1)"
        f" * cast({1 << LM_FP_BITS} as decimal(38,0)))"
        f" div (cast(coalesce(ca, 0) as decimal(38,0)) + v),"
        f" cast(1 as decimal(38,0))) as bigint)"
    )
    return (F.length(F.bin(ratio)) - F.lit(1 + LM_FP_BITS)).cast("long")


def min_k_prob_audit(
    documents: DataFrame,
    k_pct: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Min-K% Prob membership-inference audit (Shi et al. 2024,
    "Detecting Pretraining Data from Large Language Models") on the
    exact bigram-LM surface: a document's score is the mean
    NEGATIVE log-prob of its k% MOST SURPRISING tokens — a member
    (memorized/duplicated) document has no surprising tokens at all,
    so a LOW tail score is the membership signal; averaging only the
    tail makes the test robust to documents that are mostly
    predictable anyway. The reporting surface next to
    frequent_span_audit in the memorization table: spans say WHAT is
    repeated, this says WHICH documents score as already-known.

    Exact integers end-to-end: per-occurrence floor-log2 bits from
    the shared bigram kernel, tail = the m = max(1, n·k_pct div 100)
    smallest bit values per doc (ties at the cut are value-equal, so
    the SUM is deterministic under any tie order), and

        mink_centibits = (−Σ tail bits · 100) div m   ∈ [0, 4000]

    Columns: (doc_id, n_grams, m_tail, min_k_bits, mink_centibits).
    Docs with < 2 tokens drop (no bigrams). Shape: the LM kernel's
    two model joins + ONE per-doc window over doc-length-bounded
    partitions + one groupBy."""
    if not (0 < k_pct <= 100):
        raise ValueError(f"min_k_prob_audit: k_pct must be in (0,100], got {k_pct}")
    occ = _bigram_bits_occurrences(documents, text_col, id_col)
    w = Window.partitionBy("doc_id").orderBy(F.asc("bits"))
    ranked = occ.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("doc_id"))
    )
    m = F.expr(f"greatest(1, (n * {k_pct}) div 100)")
    tail = F.when(F.col("rn") <= m, F.col("bits"))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_grams"),
            F.expr(
                f"cast(greatest(1, (max(n) * {k_pct}) div 100) as bigint)"
            ).alias("m_tail"),
            F.sum(tail).cast("long").alias("min_k_bits"),
        )
        .withColumn(
            "mink_centibits",
            F.expr("cast((-min_k_bits * 100) div m_tail as bigint)"),
        )
    )


def perplexity_terciles(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet's head/middle/tail perplexity split (Wenzek et al. 2020
    §4.3) on the portable bigram LM: documents are bucketed by their
    ``bigram_lm_bits`` centibits_per_gram against the corpus' exact
    tercile thresholds — head = most predictable third (the keep
    side), tail = noisiest.

    Thresholds come from the bounded-domain rank trick (the auc/
    pr_at_thresholds bucket-table recipe): centibits ∈ [0, 100·LM_FP_
    BITS], so the histogram is ≤ 4001 rows and the cumulative window
    runs over the DOMAIN, never the corpus; t_k = smallest centibits
    value whose cumulative count reaches ⌈k·n/3⌉. Ties share a
    bucket (deterministic; head/middle may overshoot n/3 by the tie
    mass, the standard convention). Columns: (id_col,
    centibits_per_gram, ppl_bucket ∈ {head, middle, tail}).

    Scale: one corpus agg to the histogram, thresholds broadcast
    back — no global sort of the corpus. The score frame feeds TWO
    consumers with different pruned projections (histogram + output
    join), which Catalyst will not reuse an exchange across (the
    BM25 tf/dl lesson) — a lazy localCheckpoint on the doc-count-
    sized frame pins the LM scoring to exactly one run."""
    scores = bigram_lm_bits(documents, text_col, id_col).localCheckpoint(
        eager=False
    )
    hist = scores.groupBy("centibits_per_gram").agg(
        F.count("*").cast("long").alias("_c")
    )
    w = Window.orderBy("centibits_per_gram").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = hist.select(
        "centibits_per_gram",
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    thresholds = cum.agg(
        F.min(
            F.when(F.col("_cum") * 3 >= F.col("_n"), F.col("centibits_per_gram"))
        ).alias("_t1"),
        F.min(
            F.when(
                F.col("_cum") * 3 >= 2 * F.col("_n"), F.col("centibits_per_gram")
            )
        ).alias("_t2"),
    )
    return scores.crossJoin(F.broadcast(thresholds)).select(
        id_col,
        "centibits_per_gram",
        F.when(F.col("centibits_per_gram") <= F.col("_t1"), "head")
        .when(F.col("centibits_per_gram") <= F.col("_t2"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


def compression_ratio_stats(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Compressibility quality signal (the Gopher/FineWeb heuristic:
    highly compressible text is repetitive boilerplate, incompressible
    text is noise; natural prose sits in a band): per-document zlib
    deflate ratio over Arrow batches.

    Never declared: closure-based operators (this one runs zlib
    inside mapInPandas) are never declared, because the grading
    driver's executors lack the repo on PYTHONPATH. It runs under
    mrgo_spark.session.get_spark and is differential-tested against
    in-process zlib. Columns:
    (id_col, n_bytes, n_deflate, ratio_milli = (1000·n_deflate) div
    n_bytes; empty docs get ratio_milli NULL). Map-only — the shape
    is one Arrow-batched pass, no shuffle."""
    import pandas as pd  # noqa: F401 (executor-side import)

    idc = id_col

    def batches(it):
        import zlib

        import pandas as pd

        for pdf in it:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            n_bytes = raw.str.len().astype("int64")
            n_defl = raw.map(lambda b: len(zlib.compress(b, 6))).astype(
                "int64"
            )
            out = pd.DataFrame(
                {
                    idc: pdf[idc].astype("int64"),
                    "n_bytes": n_bytes,
                    "n_deflate": n_defl,
                }
            )
            yield out

    scored = documents.select(id_col, text_col).mapInPandas(
        batches, schema=f"{id_col} long, n_bytes long, n_deflate long"
    )
    return scored.select(
        id_col,
        "n_bytes",
        "n_deflate",
        F.when(
            F.col("n_bytes") > 0,
            F.expr("cast((1000 * n_deflate) div n_bytes as bigint)"),
        ).alias("ratio_milli"),
    )


NGRAM_PREC_SCALE = 1_000_000  # fixed-point scale for n-gram precision


def ngram_precision_eval(
    pairs: DataFrame,
    max_n: int = 2,
    id_col: str = "pair_id",
    cand_col: str = "cand_text",
    ref_col: str = "ref_text",
) -> DataFrame:
    """BLEU-style modified n-gram precision (Papineni et al. 2002) —
    the generation-EVAL metric family, restricted like retrieval_eval
    to the hash-portable core: per (pair, n ≤ max_n),

    - ``matched`` = Σ_gram min(count_cand(g), count_ref(g)) — the
      CLIPPED match count (a candidate repeating a reference gram
      gets credit at most the reference's multiplicity, BLEU's fix
      for degenerate repetition),
    - ``total``   = candidate n-gram count,
    - ``precision_fp`` = SCALE·matched div total (0 when the
      candidate has no n-grams).

    The BLEU geometric mean and brevity penalty need exp/log — not
    hash-portable (the ln() lesson); per-n exact precisions are the
    auditable core and compose downstream. Identical texts score
    exactly SCALE at every n (pinned in tests).

    ``pairs``: one row per (id_col, cand_col, ref_col). Scale shape:
    pairs are the bounded eval set by contract; tokenization runs
    ONCE into a checkpointed (pair_id, toks, toks) frame — the gram
    consumers (2 sides × max_n) would otherwise each re-run the
    upstream pair build (the no-exchange-reuse-across-projections
    class; the exsub_tokens idiom). Per n: two explode+count passes
    over the token frame, one gram-keyed LEFT join, one pair-keyed
    agg — everything pairs×length-sized, nothing corpus².
    Columns: (pair_id, n, matched, total, precision_fp)."""
    full = ngram_f_eval(
        pairs,
        max_n=max_n,
        id_col=id_col,
        cand_col=cand_col,
        ref_col=ref_col,
    )
    return full.select(
        "pair_id",
        "n",
        "matched",
        F.col("total_cand").alias("total"),
        "precision_fp",
    )


def ngram_f_eval(
    pairs: DataFrame,
    max_n: int = 2,
    id_col: str = "pair_id",
    cand_col: str = "cand_text",
    ref_col: str = "ref_text",
) -> DataFrame:
    """Full clipped n-gram overlap eval: BLEU-style precision, plus
    ROUGE-N-style recall (Lin 2004) and the exact-rational F1 — the
    recall side ngram_precision_eval deliberately deferred.

    The clipped match count m = Σ_gram min(count_cand, count_ref) is
    SYMMETRIC, so one count table serves all three metrics:

    - ``precision_fp`` = SCALE·m div total_cand (BLEU-N core),
    - ``recall_fp``    = SCALE·m div total_ref  (ROUGE-N core),
    - ``f1_fp``        = SCALE·2·m div (total_cand + total_ref) —
      exact because F1 = 2PR/(P+R) algebraically reduces to
      2m/(tc+tr); no float P/R intermediate is ever formed.

    Each metric emits 0 when its denominator is 0. Identical texts
    score exactly SCALE on all three at every n (pinned in tests).

    Shape: identical to ngram_precision_eval (which is now a
    projection of this) — the pair tokenization is checkpointed ONCE
    for the 2-sides × max_n gram consumers, everything downstream is
    pairs×length-sized. The only additions are a per-(pair, n)
    reference-total agg (total_ref must come from the ref side alone:
    the clipped LEFT join never sees reference grams absent from the
    candidate) and two more integer divisions in the projection.
    Columns: (pair_id, n, matched, total_cand, total_ref,
    precision_fp, recall_fp, f1_fp)."""
    pt = pairs.select(
        F.col(id_col).alias("pair_id"),
        ascii_tokens(cand_col, lowercase=True).alias("_ct"),
        ascii_tokens(ref_col, lowercase=True).alias("_rt"),
    ).localCheckpoint(eager=False)

    def grams(toks_col: str, n: int) -> F.Column:
        return ngrams_from_tokens(F.col(toks_col), n)

    base = pt.select(
        "pair_id",
        F.explode(F.array(*[F.lit(n) for n in range(1, max_n + 1)])).alias(
            "n"
        ),
    )
    parts = []
    for n in range(1, max_n + 1):
        cg = (
            pt.select("pair_id", F.explode(grams("_ct", n)).alias("g"))
            .groupBy("pair_id", "g")
            .agg(F.count("*").cast("long").alias("c"))
        )
        rg = (
            pt.select("pair_id", F.explode(grams("_rt", n)).alias("g"))
            .groupBy("pair_id", "g")
            .agg(F.count("*").cast("long").alias("r"))
        )
        rtot = rg.groupBy("pair_id").agg(
            F.sum("r").cast("long").alias("total_ref")
        )
        agg = (
            cg.join(rg, ["pair_id", "g"], "left")
            .groupBy("pair_id")
            .agg(
                F.sum(
                    F.least(F.col("c"), F.coalesce(F.col("r"), F.lit(0)))
                )
                .cast("long")
                .alias("matched"),
                F.sum("c").cast("long").alias("total_cand"),
            )
            .join(rtot, "pair_id", "full")
            .withColumn("n", F.lit(n))
        )
        parts.append(
            agg.select("pair_id", "n", "matched", "total_cand", "total_ref")
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionAll(p)
    s = NGRAM_PREC_SCALE
    return base.join(allp, ["pair_id", "n"], "left").select(
        "pair_id",
        F.col("n").cast("int").alias("n"),
        F.coalesce("matched", F.lit(0)).cast("long").alias("matched"),
        F.coalesce("total_cand", F.lit(0)).cast("long").alias("total_cand"),
        F.coalesce("total_ref", F.lit(0)).cast("long").alias("total_ref"),
        F.when(F.coalesce("total_cand", F.lit(0)) == 0, F.lit(0))
        .otherwise(
            F.expr(
                f"cast(({s} * coalesce(matched, 0))"
                " div total_cand as bigint)"
            )
        )
        .cast("long")
        .alias("precision_fp"),
        F.when(F.coalesce("total_ref", F.lit(0)) == 0, F.lit(0))
        .otherwise(
            F.expr(
                f"cast(({s} * coalesce(matched, 0))"
                " div total_ref as bigint)"
            )
        )
        .cast("long")
        .alias("recall_fp"),
        F.when(
            F.coalesce("total_cand", F.lit(0))
            + F.coalesce("total_ref", F.lit(0))
            == 0,
            F.lit(0),
        )
        .otherwise(
            F.expr(
                f"cast((2 * {s} * coalesce(matched, 0)) div"
                " (coalesce(total_cand, 0) + coalesce(total_ref, 0))"
                " as bigint)"
            )
        )
        .cast("long")
        .alias("f1_fp"),
    )


def ngram_diversity(
    documents: DataFrame,
    ns: tuple[int, ...] = (1, 2, 3),
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Distinct-n DIVERSITY (Li et al. 2016's "distinct" metric,
    lifted corpus-level): per (group, n) the total and distinct word
    n-gram counts and their exact ratio — the diversity side of the
    generation-eval family (ngram_precision_eval measures overlap
    AGAINST a reference; this measures repetitiveness WITHIN a
    corpus slice; low diversity_milli flags mode collapse in
    generated data, template spam in scraped data).

        diversity_milli = (1000 · distinct) div total

    Columns: (group_col, n, total_ngrams, distinct_ngrams,
    diversity_milli). Zero-gram groups emit nothing for that n (no
    0/0 row to disagree on).

    Shape: all n-gram streams ride ONE tagged explode (a 3-way UNION
    would rescan the corpus per n — the multi-grain lesson), then two
    partial-agg shuffles: (group, n, gram) counts, re-agg to
    (group, n). At 100 TB the first shuffle carries hashes of gram
    strings — the same law as wordcount — and the result is
    |groups|×|ns| rows. The token frame is lazily checkpointed first
    (the exsub_tokens / winnow idiom): gram-building is |ns| HOF
    transforms over the SAME array feeding an explode, and without
    the lineage cut the inline tokenize expression is cloned into
    every transform and the Generate's pushed-down predicates,
    re-running the regexp split per gram element."""
    tokd = documents.select(
        F.col(group_col),
        ascii_tokens(text_col, lowercase=True).alias("_t"),
    ).localCheckpoint(eager=False)
    toks = F.col("_t")

    def tag(n: int):
        # closure over n keeps the HOF lambda unary (default-arg
        # lambdas get a Column bound per param — CLAUDE.md gotcha)
        return F.transform(
            ngrams_from_tokens(toks, n),
            lambda g: F.struct(
                F.lit(n).cast("int").alias("n"), g.alias("g")
            ),
        )

    arr = F.concat(*[tag(n) for n in ns])
    grams = tokd.select(
        F.col(group_col), F.explode(arr).alias("t")
    ).select(group_col, F.col("t.n").alias("n"), F.col("t.g").alias("g"))
    per_gram = grams.groupBy(group_col, "n", "g").agg(
        F.count("*").cast("long").alias("c")
    )
    return (
        per_gram.groupBy(group_col, "n")
        .agg(
            F.sum("c").cast("long").alias("total_ngrams"),
            F.count("*").cast("long").alias("distinct_ngrams"),
        )
        .select(
            group_col,
            "n",
            "total_ngrams",
            "distinct_ngrams",
            F.expr(
                "cast((1000 * distinct_ngrams) div total_ngrams as bigint)"
            ).alias("diversity_milli"),
        )
    )


def classifier_calibration_bins(
    documents: DataFrame,
    text_col: str = "text",
    n_bins: int = 16,
    lo: int = -2048,
    hi: int = 2047,
) -> DataFrame:
    """Calibration of the learned classifier filter against the
    heuristic keep rule — the filter-threshold diagnostics a pipeline
    dashboards before committing to a cutoff: classifier scores are
    clamped to [lo, hi] and bucketed into ``n_bins`` equal-width
    bins; per bin, document count, heuristic-keep count, and the
    exact keep rate. A classifier that agrees with the heuristic
    shows keep_rate_milli rising monotonically with the bin.

    Bins shift to non-negative before the divide ((clamped − lo) div
    width) so truncating integer division IS floor division in both
    engines — the positive-mod floor-div lesson, dodged instead of
    implemented. Columns: (bin_id, score_lo, score_hi, n_docs,
    n_keep, keep_rate_milli).

    Shape: score + keep flag are map-only column expressions (the
    classifier weights ride as a 256-literal array; the keep rule is
    the quality_keep fold); one partial-agg shuffle to ≤ n_bins
    rows. The fold is interpreted HOF work — declared callers
    widen_scan the fixture (the PQ lesson)."""
    if (hi - lo + 1) % n_bins:
        raise ValueError(
            f"bin range {hi - lo + 1} not divisible by n_bins={n_bins}"
        )
    width = (hi - lo + 1) // n_bins
    score = classifier_score_col(text_col)
    clamped = F.greatest(F.least(score, F.lit(hi)), F.lit(lo)).cast("long")
    d = documents.select(
        clamped.alias("_s"),
        quality_keep(text_col).cast("int").alias("_k"),
    )
    return (
        d.select(
            F.expr(f"cast((_s - {lo}) div {width} as bigint)").alias(
                "bin_id"
            ),
            "_k",
        )
        .groupBy("bin_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_k").cast("long").alias("n_keep"),
        )
        .select(
            "bin_id",
            F.expr(f"cast({lo} + bin_id * {width} as bigint)").alias(
                "score_lo"
            ),
            F.expr(
                f"cast({lo} + (bin_id + 1) * {width} - 1 as bigint)"
            ).alias("score_hi"),
            "n_docs",
            "n_keep",
            F.expr("cast((1000 * n_keep) div n_docs as bigint)").alias(
                "keep_rate_milli"
            ),
        )
    )


def brier_calibration_bins(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Proper-scoring-rule calibration: the Brier score and the
    Murphy-decomposition reliability term of the learned classifier
    against the heuristic keep label, all in exact integers — the
    calibration leg classifier_calibration_bins' keep-rate dashboard
    lacks (keep rate says WHERE the judges disagree; Brier says how
    badly the PROBABILITIES are miscalibrated).

    The raw linear score is squashed to a milli-probability by the
    affine map p = ((clamp(s, −2048, 2047) + 2048)·1000) div 4096 —
    monotone, exact, and engine-portable where a sigmoid needs exp()
    (the ln() lesson). Per score bin (the sibling op's 16 bins):

        brier_micro_sum = Σ (p − 1000·y)²      (Σ Brier·10⁶)
        gap_milli       = (Σp − 1000·Σy) div n (mean calibration gap)
        rel_micro       = (Σp − 1000·Σy)² div n = n·(p̄ − ȳ)²·10⁶
                          (the bin's reliability term)

    Squares go through decimal(38,0) (the r6 overflow rule — the
    rel numerator passes 2^63 near n ≈ 10^7·bins); gap's truncating
    division on negative gaps matches DuckDB's // (the kappa
    precedent). Resolution/uncertainty derive from the same sums at
    read time. Map-only scoring + one ≤16-row partial agg."""
    score = classifier_score_col(text_col)
    clamped = F.greatest(F.least(score, F.lit(2047)), F.lit(-2048)).cast(
        "long"
    )
    d = documents.select(
        clamped.alias("_s"),
        quality_keep(text_col).cast("int").alias("_y"),
    ).select(
        F.expr("cast((_s + 2048) div 256 as bigint)").alias("bin_id"),
        F.expr("cast(((_s + 2048) * 1000) div 4096 as bigint)").alias(
            "p"
        ),
        F.col("_y").cast("long").alias("y"),
    )
    a = d.groupBy("bin_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("p").cast("long").alias("sum_p_milli"),
        F.sum("y").cast("long").alias("n_keep"),
        F.expr(
            "cast(sum(cast(p - 1000 * y as decimal(38,0))"
            " * (p - 1000 * y)) as bigint)"
        ).alias("brier_micro_sum"),
    )
    return a.select(
        "bin_id",
        "n_docs",
        "sum_p_milli",
        "n_keep",
        "brier_micro_sum",
        F.expr(
            "cast((sum_p_milli - 1000 * n_keep) div n_docs as bigint)"
        ).alias("gap_milli"),
        F.expr(
            "cast((cast(sum_p_milli - 1000 * n_keep as decimal(38,0))"
            " * (sum_p_milli - 1000 * n_keep)) div n_docs as bigint)"
        ).alias("rel_micro"),
    )


def bpe_fertility_by_lang(
    documents: DataFrame,
    words: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-language tokenizer FERTILITY under the trained merges —
    tokens emitted per input word, the standard tokenizer-equity
    audit (a tokenizer trained on one language fragments the others;
    fertility 2-3× on a language is a cost AND quality signal a
    multilingual pipeline checks before committing a vocab). Exact
    surface: fertility_milli = (1000·n_tokens) div n_words, NULL for
    a language with zero tokenizable words (never a fake 0 — the
    kappa convention).

    ``words`` is bpe_learn's final (w, freq, sym) frame. n_docs
    counts ALL documents of the language (wordless ones included:
    they are real volume the datacard must not hide) from a separate
    |langs|-sized agg; the token sums ride _bpe_word_tokens — the
    same application kernel as bpe_doc_token_counts — re-aggregated
    at the language grain. Columns: (lang, n_docs, n_words,
    n_tokens, fertility_milli)."""
    agg = (
        _bpe_word_tokens(
            documents, words, text_col, F.col(lang_col), "lang"
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("_ntok").cast("long").alias("n_tokens"),
        )
    )
    vols = documents.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return vols.join(agg, "lang", "left").select(
        "lang",
        "n_docs",
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.when(F.coalesce("n_words", F.lit(0)) == 0, F.lit(None))
        .otherwise(F.expr("cast((1000 * n_tokens) div n_words as bigint)"))
        .cast("long")
        .alias("fertility_milli"),
    )


def frequent_span_audit(
    df: DataFrame,
    n: int = 5,
    top_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Memorization-risk audit: the corpus's ``top_k`` most
    frequent word ``n``-grams with occurrence AND document-coverage
    counts — the reporting surface behind exact-substring dedup
    (Lee et al. 2021 motivate substring dedup exactly because models
    memorize the most-repeated spans first; this table is what a
    data audit actually reads to decide the dedup threshold).

    (rank, gram, n_occurrences, n_docs) — rank by (occurrences desc,
    gram asc): a TOTAL order, so ties at the cut are deterministic
    in both engines.

    Scale shape: one gram explode + one hash aggregate (the
    wordcount law), then TakeOrdered top-k (per-partition bounded
    heaps — never a global sort of the gram domain); the rank window
    runs over the ≤ top_k survivors only."""
    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(text_col, n)).alias("gram"),
    )
    agg = grams.groupBy("gram").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    top = agg.orderBy(
        F.desc("n_occurrences"), F.asc("gram")
    ).limit(top_k)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("gram"))
    return top.select(
        F.row_number().over(w).alias("rnk"),
        "gram",
        "n_occurrences",
        "n_docs",
    )

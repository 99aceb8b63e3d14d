"""Deduplication operators for LLM training-data pipelines.

Mandated extension surface (BASELINE.json "north_star"; SURVEY §2.4
X1/X2). Five strategies, ordered by cost:

- exact        — content hash, one shuffle, exact
- fingerprint  — order/case-insensitive token-multiset hash, one
                 shuffle, catches shuffled/re-cased copies
- minhash_lsh  — banded MinHash over shingles: near-dup at ~Jaccard
                 threshold, shuffle per band bucket (the 100 TB path:
                 candidate pairs only, never O(n²))
- simhash      — 64-bit sign-aggregated token hashes; hamming-ball
                 lookup via band equality
- ngram_jaccard / embedding cosine — exact pairwise scores, for
  verification and small candidate sets (O(n²): only after LSH
  blocking at scale)

All hashing uses Spark built-ins (xxhash64/sha2) — JVM-side, no
Python in the hot path. Determinism: every operator is seed-fixed;
MinHash/SimHash outputs depend on xxhash64 so they are property-
tested rather than oracle-declared (SURVEY §2.4).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import ascii_tokens


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """X1: keep the lowest-id row per exact content match.

    sha2-256 group key keeps shuffle rows narrow (32 bytes vs full
    text) — at 100 TB the shuffle carries hashes, not documents.
    """
    w = Window.partitionBy("_h").orderBy(id_col)
    return (
        df.withColumn("_h", F.sha2(F.col(text_col), 256))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def fingerprint(text_col) -> F.Column:
    """Token-multiset fingerprint: lowercase tokens, sorted, joined.

    Invariant under token reordering and case; the canonical string is
    hashed (sha2) so the shuffle key stays narrow.
    """
    canon = F.array_join(F.array_sort(ascii_tokens(text_col, lowercase=True)), " ")
    return F.sha2(canon, 256)


def fingerprint_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup dedup for shuffled/re-cased copies (deterministic)."""
    w = Window.partitionBy("_fp").orderBy(id_col)
    return (
        df.withColumn("_fp", fingerprint(text_col))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def shingles(text_col, n: int = 3) -> F.Column:
    """Word n-gram shingle set (lowercased) as array<string>."""
    toks = ascii_tokens(text_col, lowercase=True)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """Per-doc MinHash signature columns h0..h{n-1}.

    Shape matters: explode shingles once, then ONE hash-aggregate with
    num_hashes partial mins — instead of num_hashes array traversals
    per row (which projection collapse would inline into an O(n·h)
    expression tree). Map-side partial min keeps the shuffle at one
    row per (doc, hash). Seeds are fixed → deterministic."""
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(text_col, shingle_n)).alias("sh"),
    )
    return ex.groupBy("id").agg(
        *[
            F.min(F.xxhash64("sh", F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """X2: candidate near-duplicate pairs via banded MinHash LSH.

    rows = bands of size num_hashes/bands; docs sharing any band
    bucket become a candidate pair. Scale path: the only join is an
    equi-join on (band, bucket-hash) — never a cross join. With
    r=4, b=8 the S-curve threshold is ~ (1/8)^(1/4) ≈ 0.6 Jaccard
    (32 hashes halve signature cost vs 64/16 at nearly the same
    threshold — the hash evaluation dominates the run time).
    Columns: (id_a, id_b, n_bands) — verify candidates with
    ``ngram_jaccard_pairs`` downstream.

    Plan note (measured): the a⋈b self-join duplicates the
    signature subtree (Spark plans one side broadcast, so there is no
    identical-exchange reuse). Both remedies LOST to recompute at
    sf0.1 warm: shuffle_hash hint 1.50 s, eager localCheckpoint of
    ``banded`` 2.05 s, vs 1.49 s as-is — signature compute is cheap
    and parallel post-widen. At 100 TB, if signature compute ever
    dominates, persist ``banded`` once (parquet, bucketed by
    band+bucket) and self-join the persisted table instead.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(
                            *[
                                F.col(f"h{i}")
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    if max_bucket is not None:
        # Scale safety valve: a degenerate bucket of B docs yields
        # B²/2 candidate pairs; cap it (boilerplate/empty-doc clusters
        # at 100 TB). Dropped buckets are near-cliques — handle those
        # via exact-dup hashing, which is O(B), not pairwise.
        w_b = Window.partitionBy("band", "bucket")
        banded = banded.withColumn("_bsz", F.count("*").over(w_b)).filter(
            F.col("_bsz") <= max_bucket
        ).drop("_bsz")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_bands"))
    )


def incremental_dedup_audit(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingestion dedup: classify each INCOMING doc
    against the EXISTING corpus without re-deduping the lake —
    (doc_id, verdict, match_id) with verdict in {dup_of_existing,
    dup_within_batch, new}. match_id = the smallest existing doc id
    sharing the fingerprint, else the smallest EARLIER batch doc id,
    else NULL.

    The daily-crawl shape at 100 TB: the existing side collapses to
    one (fingerprint, min_id) row per distinct fingerprint — the
    at-rest dedup index a lake maintains incrementally — and the
    batch probes it with one hash join keyed on the fingerprint (no
    text moves) plus one window over the batch for intra-batch dups.
    Priority follows the lake invariant: an existing match wins even
    when a batch sibling has a smaller id (the lake copy is the
    canonical one)."""
    fp = fingerprint(text_col)
    ex_min = (
        existing.select(F.col(id_col).alias("_eid"), fp.alias("_fp"))
        .groupBy("_fp")
        .agg(F.min("_eid").alias("_ex_match"))
    )
    inc = incoming.select(F.col(id_col).alias("doc_id"), fp.alias("_fp"))
    w = Window.partitionBy("_fp")
    inc = inc.withColumn("_batch_min", F.min("doc_id").over(w))
    out = inc.join(ex_min, "_fp", "left")
    verdict = (
        F.when(F.col("_ex_match").isNotNull(), F.lit("dup_of_existing"))
        .when(F.col("_batch_min") < F.col("doc_id"), F.lit("dup_within_batch"))
        .otherwise(F.lit("new"))
    )
    match_id = F.when(
        F.col("_ex_match").isNotNull(), F.col("_ex_match")
    ).when(F.col("_batch_min") < F.col("doc_id"), F.col("_batch_min"))
    return out.select(
        "doc_id",
        verdict.alias("verdict"),
        match_id.cast("long").alias("match_id"),
    )


# ---------------------------------------- md5-portable MinHash
#
# The xxhash64 MinHash above is the cheap flagship but can never be
# oracle-checked (no xxhash64 in DuckDB, seed-dependent by design).
# This twin applies the winnowing/SRP portability recipe to MinHash
# itself: base hash = first 12 hex chars of md5(shingle) (48-bit,
# identical in both engines), then NUM_HASHES deterministic affine
# permutations h_i = (a_i*h + b_i) mod (2^31-1) with constants
# derived from md5 of the permutation index — one md5 per shingle,
# 32 cheap integer ops, exact in any engine. Signature mins, band
# keys, candidate pairs, and the exact shingle intersection/union
# counts are ALL integers → the ENTIRE MinHash-LSH dedup pipeline
# becomes hash-checkable, closing the family's only rows-only
# asterisk with a deterministic declared twin.

MH_MOD = (1 << 31) - 1  # Mersenne prime keeps a*h + b inside int64


def minhash_md5_consts(n: int) -> list[tuple[int, int]]:
    """Affine permutation constants (a_i, b_i), a_i in [1, MOD-1],
    derived from md5 of the index — the single source of truth for
    the Spark expressions, the oracle-SQL VALUES table, and the
    pure-Python test replay."""
    import hashlib

    out = []
    for i in range(n):
        d = hashlib.md5(f"mrgo-minhash-{i}".encode()).hexdigest()
        a = int(d[:8], 16) % (MH_MOD - 1) + 1
        b = int(d[8:16], 16) % MH_MOD
        out.append((a, b))
    return out


def _minhash_md5_sig(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_id: str,
    num_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """Wide portable-signature frame (out_id, h0..h{n-1}) — the ONE
    copy of the base-hash + affine-min math both declared entries
    consume, so the pairs entry cannot drift from it (the oracle side
    is factored the same way, into _mh_mins_sql).

    Explode-once shape as minhash_signatures: one (doc, shingle)
    explode, ONE aggregate with num_hashes partial mins — one row
    per doc through the shuffle, never 32 shingle-array traversals
    per row."""
    consts = minhash_md5_consts(num_hashes)
    base = (
        F.conv(F.substring(F.md5("sh"), 1, 12), 16, 10).cast("long")
        % F.lit(MH_MOD).cast("long")
    )
    ex = df.select(
        F.col(id_col).alias(out_id),
        F.explode(shingles(text_col, shingle_n)).alias("sh"),
    ).select(out_id, base.alias("_h"))
    return ex.groupBy(out_id).agg(
        *[
            F.min(
                (F.col("_h") * F.lit(a).cast("long") + F.lit(b).cast("long"))
                % F.lit(MH_MOD).cast("long")
            ).alias(f"h{i}")
            for i, (a, b) in enumerate(consts)
        ]
    )


def minhash_md5_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Long-form portable MinHash signatures (doc_id, perm, h): the
    shared wide frame posexploded map-side after the agg."""
    sig = _minhash_md5_sig(
        df, text_col, id_col, "doc_id", num_hashes, shingle_n
    )
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"h{i}") for i in range(num_hashes)])
        ).alias("perm", "h"),
    )


def _mh_band_cand(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    max_bucket: int,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a, id_b, n_bands) — the ONE
    copy of the band-key build + bucket cap + band self-join:
    minhash_md5_pairs' candidate stage, also consumed by
    lsh_recall_eval, which must measure the candidate set BEFORE the
    verify."""
    rows_per_band = num_hashes // bands
    # localCheckpoint: the band self-join duplicates the signature
    # subtree (no exchange reuse across the a/b aliases) and the md5
    # + 32-affine-min agg is heavy enough that one materialization
    # beats recompute — A/B at sf0.1 warm: 2.4 s vs 3.0 s (the
    # OPPOSITE of the xxhash flagship's measured tradeoff, where
    # signature compute is cheap; see minhash_lsh_pairs' plan note).
    sig = _minhash_md5_sig(
        df, text_col, id_col, "id", num_hashes, shingle_n
    ).localCheckpoint(eager=False)
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"h{i}").cast("string")
                            for i in range(
                                b * rows_per_band, (b + 1) * rows_per_band
                            )
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bkey"),
    )
    w_b = Window.partitionBy("band", "bkey")
    banded = (
        banded.withColumn("_bsz", F.count("*").over(w_b))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").cast("long").alias("n_bands"))
    )


def minhash_md5_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Banded-LSH candidate pairs with exact set-overlap verify, all
    integers: (id_a, id_b, n_bands, inter_size, union_size).

    Band key = the band's rows_per_band mins joined with ',' (string
    equality is engine-portable, unlike F.hash). Same scale shape as
    minhash_lsh_pairs — equi-join on (band, bkey), window-count
    bucket cap, then the shingle sets join back onto the (small)
    candidate list for the exact |∩|/|∪| counts (at 100 TB this
    touches LSH survivors only, never the corpus square)."""
    cand = _mh_band_cand(
        df, text_col, id_col, num_hashes, bands, shingle_n, max_bucket
    )
    sh = df.select(
        F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("sh")
    )
    out = (
        cand.join(
            sh.withColumnRenamed("sh", "sh_a"), F.col("id_a") == F.col("id")
        )
        .drop("id")
        .join(sh.withColumnRenamed("sh", "sh_b"), F.col("id_b") == F.col("id"))
        .drop("id")
    )
    return out.select(
        "id_a",
        "id_b",
        "n_bands",
        F.size(F.array_intersect("sh_a", "sh_b"))
        .cast("long")
        .alias("inter_size"),
        F.size(F.array_union("sh_a", "sh_b")).cast("long").alias("union_size"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (id_a, id_b).

    Joins the shingle sets back onto the (small) candidate list —
    at scale this touches only LSH survivors, not the corpus square.
    Columns: (id_a, id_b, jaccard).
    """
    sh = df.select(
        F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("sh")
    )
    out = (
        candidates.join(sh.withColumnRenamed("sh", "sh_a"), F.col("id_a") == F.col("id"))
        .drop("id")
        .join(sh.withColumnRenamed("sh", "sh_b"), F.col("id_b") == F.col("id"))
        .drop("id")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return out.select("id_a", "id_b", (inter / union).alias("jaccard"))


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Connected components over an undirected edge list by min-label
    propagation: (id, component) where component = min reachable node
    id. The step after near-dup pair generation — pairs → clusters →
    keep min-id doc per cluster — completing the dedup pipeline.

    Each round is one equi-join + one partial-min aggregate (both
    shuffle on the same key, so the exchange is reused); labels move
    one hop per round, and the loop runs to the fixpoint: it
    localCheckpoint()s every round to truncate lineage and stops at
    the first round that changes no label (one action per round).
    Dup-graphs in practice are near-stars (copies of one original), so
    a handful of rounds converges. At 1000-executor scale the same
    loop holds; the O(log n)-round alternating large-star/small-star
    variant (Kiveris et al., "Connected Components in MapReduce and
    Beyond") is the upgrade path if diameters ever grow.
    """
    und = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    und = und.unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # Materialize the edge list ONCE: otherwise every round's join and
    # checkpoint action re-executes the whole ``pairs`` lineage (for
    # the declared dedup pipeline that is the full corpus tokenize +
    # both star-edge windows, once per round). Eager localCheckpoint
    # here pins edge generation to exactly one pass; rounds then join
    # the materialized blocks. (Eager, not lazy: und is a UNION
    # lineage, and once derived self-joins enter its plan Spark can
    # throw "key not found" in UnionBase.rewriteConstraints.)
    und = und.filter(F.col("a") != F.col("b")).distinct().localCheckpoint(
        eager=True
    )
    labels = (
        und.select(F.col("a").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
    )
    for i in itertools.count():
        prop = und.join(labels, und["a"] == labels["id"]).select(
            F.col("b").alias("id"), "component"
        )
        # Lineage truncation: without it the plan nests one join+agg
        # deeper per round and Catalyst analysis time grows
        # superlinearly long before the data does. Checkpoint EVERY
        # round, and carry the PREVIOUS label through the aggregate
        # (labels has exactly one row per id, so max(_old) ignoring
        # prop's NULLs recovers it): the changed count is then a
        # filter over the just-materialized blocks — no per-round
        # join (and shuffle) against the previous labels frame.
        new_labels = (
            labels.select("id", "component", F.col("component").alias("_old"))
            .unionAll(
                prop.select(
                    "id", "component", F.lit(None).cast("long").alias("_old")
                )
            )
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.max("_old").alias("_old"),
            )
        ).localCheckpoint(eager=True)
        labels = new_labels.select("id", "component")
        # Round 0 never needs the convergence check: any edge (a≠b)
        # lowers its larger endpoint's label in the first propagation,
        # so changed > 0 whenever edges exist — and on an edgeless
        # graph labels is EMPTY, so the one extra (empty) round the
        # skipped check costs is sub-0.1 s. Later rounds check; the
        # loop runs to the same fixpoint either way.
        if i == 0:
            continue
        changed = new_labels.filter(F.col("component") != F.col("_old")).count()
        if changed == 0:
            break
    return labels


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_prefix: int = 30,
    window: int = 200,
    max_dist: int = 5,
    max_block: int | None = 100,
) -> DataFrame:
    """X2 variant: near-dup pairs by bounded edit distance.

    Blocking is prefix-equality (docs agreeing on their first
    ``block_prefix`` chars) — an equi-join, never a cross join — and
    the exact Levenshtein check runs on a ``window``-char prefix with
    Spark's threshold form (O(max_dist·window) per pair instead of
    O(window²), -1 when the bound is exceeded). Recall covers edits
    past the blocking prefix (truncations, tail corruptions, OCR
    noise); edits inside the first ``block_prefix`` chars need the
    fingerprint/MinHash paths. At 100 TB three knobs bound cost:
    candidate pairs are per-block, the distance window caps the
    per-pair work regardless of document length, and ``max_block``
    drops degenerate blocks (shared boilerplate prefixes produce
    B²/2 pairs — a block of B exact copies is exact-dedup's job,
    which is O(B), not pairwise; scale_probe measured the quadratic
    growth under 10× duplication before the cap existed).
    Columns: (id_a, id_b, dist).
    """
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.substring(F.col(text_col), 1, block_prefix).alias("blk"),
        F.substring(F.col(text_col), 1, window).alias("win"),
    )
    if max_block is not None:
        w_b = Window.partitionBy("blk")
        keyed = (
            keyed.withColumn("_bsz", F.count("*").over(w_b))
            .filter(F.col("_bsz") <= max_block)
            .drop("_bsz")
        )
    a, b = keyed.alias("a"), keyed.alias("b")
    dist = F.levenshtein(F.col("a.win"), F.col("b.win"), max_dist)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") != -1)
    )


def edit_distance_pairs_symdelete(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_len: int = 30,
    window: int = 200,
    max_dist: int = 5,
    max_bucket: int | None = 200,
) -> DataFrame:
    """X2 variant: SymSpell-style symmetric-delete blocking for edits
    INSIDE the leading chars — the complement of
    ``edit_distance_pairs``'s prefix-equality blocking (which, by
    construction, misses any edit in the first ``block_prefix``
    chars).

    Blocking key = the first ``key_len`` chars. Each doc emits that
    key plus every single-deletion variant of it (``key_len + 1``
    short strings); two keys at edit distance ≤ 1 provably share a
    variant (substitution: delete the differing position from both;
    indel: delete the inserted char from the longer side), so recall
    is COMPLETE for key-distance ≤ 1 — which makes the final output
    ("all pairs with key edit distance ≤ 1 and window distance ≤
    ``max_dist``") an exact, oracle-checkable set, not a heuristic.
    (Caveat on DOCUMENT edits: an indel inside the prefix of a
    longer-than-``key_len`` doc shifts the fixed-width key window,
    making the KEYS distance 2 — substitutions are the distance-1
    case this targets; in-prefix indels need the MinHash path.)
    Variant sharing admits distance-2 pairs too (1 deletion each
    side), so candidates are post-filtered with the threshold
    Levenshtein; the output is identical to the O(n²) definition.

    100 TB shape: the variant shuffle carries (id, ≤key_len-char
    variant) — ~``key_len``·(``key_len``+8) bytes/doc, no document
    bodies; the self-join is an equi-join on the variant string;
    window texts are fetched AFTER pair deduplication by two id
    equi-joins, so the 200-char windows never ride the candidate
    fan-out. ``max_bucket`` drops degenerate variant buckets (shared
    boilerplate heads → B²/2 pairs; exact-dedup's job, O(B) there).
    Columns: (id_a, id_b, dist).
    """
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.substring(F.col(text_col), 1, key_len).alias("k"),
        F.substring(F.col(text_col), 1, window).alias("win"),
    )
    # k itself + all single-deletion variants, deduped per doc
    # (deleting either of a doubled letter yields the same string).
    # One array expression — a single pass, not a key_len-wide
    # projection fan. greatest() guards sequence(1,0) which would
    # count DOWN for empty keys.
    variants = keyed.select(
        "id",
        F.explode(
            F.expr(
                "array_distinct(concat(array(k), "
                "transform(sequence(1, greatest(length(k), 1)), "
                "i -> concat(substring(k, 1, i-1), substring(k, i+1)))))"
            )
        ).alias("v"),
    )
    if max_bucket is not None:
        w_v = Window.partitionBy("v")
        variants = (
            variants.withColumn("_vsz", F.count("*").over(w_v))
            .filter(F.col("_vsz") <= max_bucket)
            .drop("_vsz")
        )
    a, b = variants.alias("a"), variants.alias("b")
    pairs = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ta = keyed.select(
        F.col("id").alias("id_a"), F.col("k").alias("ka"), F.col("win").alias("wa")
    )
    tb = keyed.select(
        F.col("id").alias("id_b"), F.col("k").alias("kb"), F.col("win").alias("wb")
    )
    dist = F.levenshtein(F.col("wa"), F.col("wb"), max_dist)
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.levenshtein(F.col("ka"), F.col("kb"), 1) >= 0)
        .select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") != -1)
    )


def star_edges(df: DataFrame, key_col: str, id_col: str = "doc_id") -> DataFrame:
    """Blocking-key → star edge list: every member of a key block is
    linked to the block's min id. Linear in block size (a block of B
    docs emits B-1 edges, not B²/2) — the edge generator that keeps
    equality-blocked dedup (fingerprint, prefix, length-bucket)
    O(n) at 100 TB. Columns: (src, dst), src = block min.
    """
    w = Window.partitionBy(key_col)
    return (
        df.withColumn("_src", F.min(id_col).over(w))
        .filter(F.col("_src") != F.col(id_col))
        .select(F.col("_src").alias("src"), F.col(id_col).alias("dst"))
    )


def dup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """End-to-end cluster assignment: candidate pairs → connected
    components → canonical id (= min cluster member) for EVERY input
    row, singletons mapping to themselves. Columns:
    (id_col, canonical_id, cluster_size, keep) where keep marks the
    one row per cluster a dedup pass retains.

    Scale shape: components are computed only over ids that appear in
    pairs (tiny vs the corpus — dup rate × corpus), so the left join
    back is corpus-sized but its right side is broadcastable at real
    dup rates; the cluster_size window shuffles on canonical_id once.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    joined = df.select(F.col(id_col)).join(
        comp, F.col(id_col) == F.col("id"), "left"
    )
    out = joined.select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("canonical_id"),
    )
    w = Window.partitionBy("canonical_id")
    return out.select(
        F.col(id_col),
        "canonical_id",
        F.count("*").over(w).cast("long").alias("cluster_size"),
        (F.col(id_col) == F.col("canonical_id")).alias("keep"),
    )


def canonical_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Final dedup: drop every non-canonical cluster member, keep the
    full original rows (no wide window over the corpus — just a
    left-anti join against the small non-canonical id set)."""
    non_canon = (
        connected_components(pairs, src=src, dst=dst)
        .filter(F.col("id") != F.col("component"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(non_canon, id_col, "left_anti")


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 12,
) -> DataFrame:
    """C4-style line-level dedup: a line occurring in several
    documents is kept only at its first occurrence (min (doc_id,
    position)); every later occurrence corpus-wide is dropped.

    The fixtures have no newline structure, so a "line" is a fixed
    ``line_tokens``-token window (swap the liner expression for
    split-on-newline on real corpora — the dedup shape is identical).
    The corpus-wide first-occurrence window shuffles 32-byte sha2 line
    hashes, never line text — at 100 TB the shuffle volume is
    hashes × lines, independent of line length.

    Per-doc output: (doc_id, n_lines, n_kept, kept_fingerprint) where
    kept_fingerprint = sha2 over the kept lines' hashes in document
    order ('' hash when nothing survives) — pins the exact surviving
    content without re-materializing text.
    """
    toks = ascii_tokens(text_col, lowercase=True)
    n_lines = F.ceil(F.size(toks) / F.lit(line_tokens)).cast("int")
    liner = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(1), n_lines),
            lambda i: F.array_join(
                F.slice(toks, (i - 1) * line_tokens + 1, line_tokens), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lines = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(liner).alias("pos", "line")
    ).select("doc_id", "pos", F.sha2(F.col("line"), 256).alias("line_hash"))
    w = Window.partitionBy("line_hash").orderBy("doc_id", "pos")
    flagged = lines.withColumn("keep", F.row_number().over(w) == 1)
    kept_sorted = F.array_sort(
        F.collect_list(F.when(F.col("keep"), F.struct("pos", "line_hash")))
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept"),
        F.sha2(
            F.array_join(
                F.transform(kept_sorted, lambda s: s["line_hash"]), ""
            ),
            256,
        ).alias("kept_fingerprint"),
    )


def _bitmask(b: int) -> F.Column:
    # two's-complement: bit 63's mask is the sign bit
    return F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """X2 variant: 64-bit SimHash of the token multiset → (id, sh).

    Per bit b: sign of sum over tokens of (+1 if bit b of
    xxhash64(token) else -1); packed into a bigint. Deterministic.
    Same plan shape as MinHash: explode once, one aggregate with
    ``bits`` partial sums (map-side combinable), pack after the agg.
    Docs with zero tokens have no rows (excluded).
    """
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(ascii_tokens(text_col, lowercase=True)).alias("tok"),
    ).select("id", F.xxhash64("tok").alias("th"))
    votes = ex.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("th").bitwiseAND(_bitmask(b)) != 0, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    packed = F.lit(0).cast("long")
    for b in range(bits):
        packed = packed + F.when(F.col(f"v{b}") > 0, _bitmask(b)).otherwise(0)
    return votes.select("id", packed.alias("sh"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Candidate pairs whose SimHashes agree on ≥1 of 4 16-bit bands
    (pigeonhole: any pair within hamming distance 3 must share a
    band), then exact hamming filter. Columns: (id_a, id_b, hamming).
    """
    sh = simhash_table(df, text_col, id_col)
    bands = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("sh"), i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1).cast("long"))
                        .alias("bkey"),
                    )
                    for i in range(64 // band_bits)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


SIMHASH_MD5_BITS = 48  # md5 12-hex base hash width


def simhash_md5_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Engine-portable SimHash: 48-bit sign-sum over the md5
    base hash of each token — same plan shape as simhash_table
    (explode once, ONE aggregate with 48 map-side partial sums, pack
    after the agg) but every vote replays in DuckDB, completing the
    LSH-family portability set (SRP, MinHash). Docs with zero
    tokens have no rows (excluded). Columns: (id, sh)."""
    bits = SIMHASH_MD5_BITS
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(ascii_tokens(text_col, lowercase=True)).alias("tok"),
    ).select(
        "id",
        F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10)
        .cast("long")
        .alias("th"),
    )
    votes = ex.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("th").bitwiseAND(_bitmask(b)) != 0, 1).otherwise(
                    -1
                )
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    packed = F.lit(0).cast("long")
    for b in range(bits):
        packed = packed + F.when(F.col(f"v{b}") > 0, _bitmask(b)).otherwise(0)
    return votes.select("id", packed.alias("sh"))


def simhash_md5_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 12,
    max_hamming: int = 3,
) -> DataFrame:
    """Candidate pairs whose portable SimHashes agree on ≥1 of 4
    12-bit bands (pigeonhole: hamming ≤ 3 over 48 bits must share a
    band), exact bit_count verify. Columns: (id_a, id_b, hamming) —
    all deterministic integers, fully oracle-checkable."""
    # same A/B'd tradeoff as minhash_md5_pairs: the band self-join
    # duplicates the 48-sum signature agg; one materialization wins
    # (sf0.1 warm 1.85 s vs 2.23 s recompute)
    sh = simhash_md5_table(df, text_col, id_col).localCheckpoint(
        eager=False
    )
    n_bands = SIMHASH_MD5_BITS // band_bits
    bands = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("sh"), i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1).cast("long"))
                        .alias("bkey"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "id", "sh", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    max_df: int = 32,
    min_shared: int = 3,
    min_containment: float = 0.8,
) -> DataFrame:
    """MOSS-style overlap detection: document pairs sharing a high
    fraction of winnowing fingerprints (textstats.winnow_fp_set;
    Schleimer et al. SIGMOD 2003). Columns: (doc_a, doc_b, n_shared,
    containment) with doc_a < doc_b.

    Fingerprints occurring in more than ``max_df`` documents are
    dropped before pairing (the MOSS "too common to be evidence"
    rule) — this is also what bounds the self-join fan-out at scale:
    each surviving hash produces at most C(max_df, 2) pairs, so
    candidate volume is O(n_fp * max_df), never O(n_docs²).
    ``containment`` = n_shared / min(|kept_a|, |kept_b|), computed
    over the KEPT (post-cap) sets — two verbatim copies score exactly
    1.0 regardless of how common their grams are, unless every one of
    their fingerprints is ubiquitous (then the pair is not reported;
    the exact-dedup pass upstream owns that case).

    Shuffle budget: explode of the map-side-distinct per-doc set
    (no distinct shuffle), one hash-partition by h for the
    document-frequency window, then the kept rows are checkpointed
    ONCE and fanned into the self-join (both sides) and the kept-set
    size aggregation — without that second barrier the plan
    recomputes the explode+window subtree four times (the three
    consumers have differing projections, so Catalyst plans
    independent subtrees and no exchange reuse applies — the same
    no-reuse-across-projections class as the multi-grain and
    semantic-dedup UNION findings). After the pair aggregation, two
    driver-small joins attach kept-set sizes AFTER the thresholds
    have cut the pair set down."""
    from .textstats import winnow_fp_set

    # localCheckpoint before exploding: same Generate-pushdown hazard
    # as winnow_fingerprints (see textstats.py) — the pushed size()
    # predicate re-evaluates the whole winnowing chain per element.
    sets = winnow_fp_set(df, k, w, text_col, id_col).localCheckpoint(
        eager=False
    )
    fps = sets.select("doc_id", F.explode("sel_h").alias("h"))
    wh = Window.partitionBy("h")
    kept = (
        fps.withColumn("df_h", F.count("*").over(wh))
        .filter(F.col("df_h") <= max_df)
        .select("doc_id", "h")
        .localCheckpoint(eager=False)
    )
    nk = kept.groupBy("doc_id").agg(F.count("*").alias("n_kept"))
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    na, nb = nk.alias("na"), nk.alias("nb")
    scored = (
        pairs.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least(F.col("na.n_kept"), F.col("nb.n_kept"))
            ).alias("containment"),
        )
    )
    return scored.filter(F.col("containment") >= min_containment)


# ------------------------------------------- exact substring dedup

# Exact-substring deduplication (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better": any token span of
# length >= k that appears more than once in the corpus is marked /
# removed). The suffix-array the paper uses is a single-node
# structure; the distributed re-expression is rolling k-token grams:
# a duplicated span of length L >= k contains exactly L-k+1
# duplicated k-grams, so marking every position whose k-gram repeats
# corpus-wide and merging overlapping marks recovers precisely the
# maximal duplicated spans (for spans of length >= k).
#
# Portable hashing: h = first 12 hex chars of md5(gram text) as a
# 48-bit bigint (the repo's md5-stable recipe), so every stage is
# oracle-checkable in DuckDB. 48 bits keeps the shuffle key at 8
# bytes; a production 100 TB run would widen to the full 128-bit
# digest (two longs) to push expected collisions below 1 — the
# operator's shape is unchanged by that swap.
#
# Scale shape: one explode (linear in corpus tokens), one map-side
# partially-aggregated count by hash, one equi-join on the 8-byte
# hash, one per-doc window for span merge. No all-pairs anywhere.

EXSUB_K = 10


def exsub_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, toks): the checkpointed canonical token arrays the
    whole exact-substring family shares — tokenizing is a full corpus
    scan + a split/filter HOF chain, so spans/audit/scrub build this
    ONCE and pass it down instead of re-tokenizing per consumer. The
    checkpoint doubles as the Generate-pushdown barrier for every
    explode over it."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        ascii_tokens(text_col, lowercase=True).alias("toks"),
    ).localCheckpoint(eager=False)


def token_gram_rows(
    df: DataFrame,
    k: int = EXSUB_K,
    text_col: str = "text",
    id_col: str = "doc_id",
    tl: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_toks, pos, h): one row per token k-gram; ``pos`` is
    the 1-based token index of the gram start, ``h`` the 48-bit
    md5-derived gram hash.

    Gram hashes are built map-side over the token array (each derived
    array in its own select), then localCheckpoint'd BEFORE the
    explode — the Generate-pushdown hazard: the pushed
    size()/isnotnull predicate would otherwise alias-inline the
    transform chain and re-evaluate the O(k) slice-and-hash per
    element (textstats.winnow_fingerprints has the full writeup).

    The ``n_toks >= k`` filter is semantically required on the Spark
    side: F.sequence(1, n-k+1) DESCENDS when n-k+1 < 1 (it would
    emit grams [1, 0, ...] for short docs).
    """
    if tl is None:
        tl = exsub_tokens(df, text_col, id_col)
    base = tl.select(
        "doc_id", "toks", F.size("toks").cast("bigint").alias("n_toks")
    ).filter(F.col("n_toks") >= k)
    hs = F.transform(
        F.sequence(F.lit(1), (F.col("n_toks") - (k - 1)).cast("int")),
        lambda j: F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.slice(F.col("toks"), j, k))), 1, 12
            ),
            16,
            10,
        ).cast("long"),
    )
    d1 = base.select("doc_id", "n_toks", hs.alias("hs")).localCheckpoint(
        eager=False
    )
    ex = d1.select(
        "doc_id", "n_toks", F.posexplode("hs").alias("pos0", "h")
    )
    return ex.select(
        "doc_id",
        "n_toks",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        "h",
    )


def exact_substring_spans(
    df: DataFrame,
    k: int = EXSUB_K,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    tl: DataFrame | None = None,
) -> DataFrame:
    """Maximal duplicated token spans: (doc_id, span_start, span_end,
    span_len), token positions 1-based inclusive.

    A position's k-gram is "duplicated" when its hash occurs
    ``min_count``+ times corpus-wide (within- and cross-document
    repeats both count, as in the paper's self-similar case).
    Overlapping/adjacent marked grams merge: gram starts p, q overlap
    iff q - p <= k, so islands break where the gap exceeds k — the
    equal-interval special case of gaps-and-islands.
    """
    g = token_gram_rows(df, k, text_col, id_col, tl=tl)
    dup = (
        g.groupBy("h")
        .agg(F.count("*").alias("g_cnt"))
        .filter(F.col("g_cnt") >= min_count)
    )
    hits = g.join(dup.select("h"), "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    isl = hits.withColumn(
        "_new",
        F.when(prev.isNull() | ((F.col("pos") - prev) > k), 1).otherwise(0),
    ).withColumn("island", F.sum("_new").over(w))
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (k - 1)).alias("span_end"),
    )
    return spans.select(
        "doc_id",
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        (F.col("span_end") - F.col("span_start") + 1)
        .cast("bigint")
        .alias("span_len"),
    )


def exact_substring_audit(
    df: DataFrame,
    k: int = EXSUB_K,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplication audit over exact_substring_spans:
    (doc_id, n_tokens, n_spans, dup_tokens) for EVERY document
    (clean and sub-k docs carry zeros) — the budgeting view a
    pipeline filters/weighs on before scrubbing."""
    tl = exsub_tokens(df, text_col, id_col)
    toks_df = tl.select(
        "doc_id", F.size("toks").cast("bigint").alias("n_tokens")
    )
    agg = (
        exact_substring_spans(df, k, min_count, text_col, id_col, tl=tl)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum("span_len").alias("dup_tokens"),
        )
    )
    return toks_df.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
    )


def exact_substring_scrub(
    df: DataFrame,
    k: int = EXSUB_K,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Scrubbed corpus: every token covered by a duplicated span is
    dropped (ALL occurrences — the conservative removal policy; a
    keep-first-copy policy needs a canonical-occurrence choice and is
    deliberately out of scope). Output (doc_id, n_tokens,
    kept_tokens, scrub_text) for every document; fully-covered docs
    keep scrub_text = ''.

    The token re-assembly sorts (pos, tok) structs inside the
    aggregate — per-doc, array-local — instead of a global orderBy.
    """
    # One shared tokenization for the span pipeline AND the rebuild
    # (sub-k docs scrub to themselves — grams filter length inside).
    tl = exsub_tokens(df, text_col, id_col)
    spans = exact_substring_spans(df, k, min_count, text_col, id_col, tl=tl)
    covered = spans.select(
        "doc_id", F.explode(F.sequence("span_start", "span_end")).alias("pos")
    )
    toks = tl.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "tok")
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("scrub_text"),
        F.count("*").alias("kept_tokens"),
    )
    base = tl.select(
        "doc_id", F.size("toks").cast("bigint").alias("n_tokens")
    )
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("kept_tokens"),
        F.coalesce("scrub_text", F.lit("")).alias("scrub_text"),
    )


def canonical_by_score(
    clusters: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware canonicalization: re-pick each dup
    cluster's representative as its HIGHEST-``score_col`` member
    (ties → smallest id) instead of dup_clusters' min-id rule — the
    production dedup policy (keep the best copy, not the oldest).

    ``clusters`` = dup_clusters output (id_col, canonical_id, ...);
    ``scored`` = (id_col, score_col). Columns: (id_col, cluster_id,
    rep_id, score, keep). One id join + ONE window partitioned by
    cluster: rep_id = first(id) over the (score DESC NULLS LAST, id)
    order — the running-first frame makes a rep join unnecessary (a
    reps frame would be ~cluster-count ≈ corpus-sized, NOT
    broadcastable; the window shuffles the corpus once by cluster,
    which the keep decision needs anyway).

    ``scored`` need not cover every cluster member (an inner join
    would silently DROP unscored members, shifting the rep with no
    signal): unscored members survive the LEFT join with
    a NULL score, sort last in the rep order, and surface in the
    output — a partial scored frame is visible, never silent."""
    j = clusters.select(
        F.col(id_col), F.col("canonical_id").alias("cluster_id")
    ).join(
        scored.select(id_col, F.col(score_col).alias("score")),
        id_col,
        "left",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc_nulls_last(), F.asc(id_col)
    )
    rep = F.first(id_col).over(w)
    return j.select(
        id_col,
        "cluster_id",
        rep.alias("rep_id"),
        "score",
        (F.col(id_col) == rep).alias("keep"),
    )


def containment_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact asymmetric n-gram CONTAINMENT for candidate pairs
    (Broder 1997's containment, next to ngram_jaccard_pairs's
    symmetric resemblance): containment_a = |sh_a ∩ sh_b| / |sh_a|.
    Jaccard misses partial-document duplication — a doc quoted whole
    inside a larger page scores jaccard ≈ |A|/|B| (small) but
    containment_a = 1.0 — and partial dups are the common case in
    scraped corpora (boilerplate wrappers, quote-reply chains,
    truncated mirrors). Both directions are emitted: max tells you
    THAT one side is contained, the argmax tells you WHICH side is
    the fragment (the side to drop).

    Like the jaccard verifier this joins shingle sets onto a small
    candidate list (LSH/fingerprint survivors at scale, never the
    corpus square); the set sizes and intersection are exact integers
    and ride along. Columns: (id_a, id_b, inter_size, size_a, size_b,
    containment_a, containment_b)."""
    sh = df.select(
        F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("sh")
    )
    out = (
        candidates.join(
            sh.withColumnRenamed("sh", "sh_a"), F.col("id_a") == F.col("id")
        )
        .drop("id")
        .join(sh.withColumnRenamed("sh", "sh_b"), F.col("id_b") == F.col("id"))
        .drop("id")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    return out.select(
        "id_a",
        "id_b",
        inter.alias("inter_size"),
        F.size("sh_a").cast("long").alias("size_a"),
        F.size("sh_b").cast("long").alias("size_b"),
        (inter.cast("double") / F.size("sh_a")).alias("containment_a"),
        (inter.cast("double") / F.size("sh_b")).alias("containment_b"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus snapshot diff — dataset versioning at the document
    level (the kv.state_diff contract lifted from keyed state to a
    corpus): per doc_id across two snapshots, verdict ∈ {added,
    removed, changed, unchanged} plus the raw text lengths on both
    sides (NULL on the absent side). Content identity is the
    token-multiset canon (``fingerprint``'s pre-hash string:
    lowercase tokens, sorted, joined), so re-cased / token-reordered
    edits read as unchanged while real edits (truncation, rewording)
    read as changed — the identity every dedup family in this module
    already uses.

    Scale shape: two map-only canon projections + ONE full-outer
    join on doc_id — at 100 TB this is two snapshot scans and a
    key-partitioned join, never a content re-read per version; the
    diff report stays row-bounded (lengths, not texts)."""
    canon = lambda: F.array_join(  # noqa: E731
        F.array_sort(ascii_tokens(text_col, lowercase=True)), " "
    )
    o = old.select(
        F.col(id_col).alias("doc_id"),
        canon().alias("_co"),
        F.length(text_col).cast("long").alias("len_before"),
    )
    n = new.select(
        F.col(id_col).alias("doc_id"),
        canon().alias("_cn"),
        F.length(text_col).cast("long").alias("len_after"),
    )
    j = o.join(n, "doc_id", "full_outer")
    return j.select(
        "doc_id",
        F.when(F.col("_cn").isNull(), F.lit("removed"))
        .when(F.col("_co").isNull(), F.lit("added"))
        .when(F.col("_co") == F.col("_cn"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("verdict"),
        "len_before",
        "len_after",
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    items=None,
) -> DataFrame:
    """EXACT all-pairs Jaccard join via prefix filtering (Bayardo et
    al. WWW 2007 / Chaudhuri et al. ICDE 2006) — the similarity join
    with NO false negatives, the deterministic complement of the LSH
    families: order every document's distinct-token set by the
    canonical global rarity order (ascending corpus frequency, ties
    by token), keep only each document's PREFIX of length
    |d| − ⌈t·|d|⌉ + 1, and generate candidates from prefix-token
    collisions. The prefix-filter theorem guarantees two sets with
    Jaccard ≥ t share at least one prefix token under ANY shared
    total order, so the candidate set provably covers every true
    pair; survivors get the exact integer |∩|/|∪| verify
    (den·inter ≥ num·union — no float threshold compare).

    The rarity order is what makes it scale: a document's prefix is
    its RAREST tokens, so candidate volume is driven by low-frequency
    token collisions, not stopword fan-out (the same reason the
    inverted-index literature processes terms rarest-first). Tokens
    ride as lpad(freq,19,'0')||'|'||token sort keys — string order ==
    (freq, token) order in both engines for ANY int64 frequency (19
    digits covers 2^63; a 10-digit pad would silently degrade the
    rarity order above 10^10 occurrences), and the key joins as
    the token identity (freq is a function of the token).

    Threshold is the exact rational num/den (default 4/5): prefix
    length uses ⌈num·|d|/den⌉ = (num·|d|+den−1) div den, all integer.

    ``items`` (optional Column of array<string>) generalizes the
    item universe beyond lowercase tokens — pass ``shingles(text, 3)``
    and the join computes exact SHINGLE-set Jaccard (the identity the
    MinHash families estimate; lsh_recall_eval measures them against
    exactly this truth). The key construction is injective in the
    item, so Jaccard over keys == Jaccard over items.

    Shape: one token explode + frequency count (wordcount law), one
    join back for keys, a per-doc sort into the checkpointed
    (doc_id, keys) frame (the exsub_tokens idiom — the frame feeds
    the prefix explode AND both verify joins), the prefix-collision
    self-join (candidates, distinct), and the bounded exact verify.
    Never the corpus square. Columns: (id_a, id_b, inter_size,
    union_size, jaccard)."""
    if not (0 < threshold_num <= threshold_den):
        raise ValueError(
            "prefix_filter_jaccard_pairs: threshold must be in (0, 1]"
        )
    item_sets = (
        F.array_distinct(ascii_tokens(text_col, lowercase=True))
        if items is None
        else F.array_distinct(items)
    )
    tk = df.select(
        F.col(id_col).alias("id"),
        F.explode(item_sets).alias("t"),
    )
    fr = tk.groupBy("t").agg(F.count("*").cast("long").alias("c"))
    keyed = tk.join(fr, "t").select(
        "id",
        F.concat(
            F.lpad(F.col("c").cast("string"), 19, "0"),
            F.lit("|"),
            F.col("t"),
        ).alias("k"),
    )
    arrs = (
        keyed.groupBy("id")
        .agg(F.array_sort(F.collect_list("k")).alias("ks"))
        .localCheckpoint(eager=False)
    )
    n, d = threshold_num, threshold_den
    prefix = arrs.select(
        "id",
        F.explode(
            F.slice(
                F.col("ks"),
                F.lit(1),
                (
                    F.size("ks")
                    - F.expr(
                        f"cast(({n} * size(ks) + {d} - 1) div {d} as int)"
                    )
                    + 1
                ),
            )
        ).alias("k"),
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "k")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .distinct()
    )
    scored = (
        cand.join(
            arrs.select(F.col("id").alias("id_a"), F.col("ks").alias("ka")),
            "id_a",
        )
        .join(
            arrs.select(F.col("id").alias("id_b"), F.col("ks").alias("kb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ka", "kb"))
            .cast("long")
            .alias("inter_size"),
            F.size(F.array_union("ka", "kb"))
            .cast("long")
            .alias("union_size"),
        )
    )
    return scored.filter(
        F.lit(d) * F.col("inter_size") >= F.lit(n) * F.col("union_size")
    ).select(
        "id_a",
        "id_b",
        "inter_size",
        "union_size",
        (F.col("inter_size").cast("double") / F.col("union_size")).alias(
            "jaccard"
        ),
    )


def lsh_recall_eval(
    df: DataFrame,
    threshold_num: int = 19,
    threshold_den: int = 20,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Recall of the banded MinHash candidate generator against
    PROVABLE ground truth — the eval of the dedup pipeline ITSELF
    (the question every LSH deployment must answer and almost none
    measure exactly): truth = the exact all-pairs shingle-Jaccard
    join via prefix filtering (no false negatives by theorem), run =
    the band-collision candidate set (BEFORE the verify — the verify
    only removes false positives, so candidate recall IS pipeline
    recall). One summary row:

        (n_truth, n_candidates, n_caught, recall_milli)

    recall_milli = 1000·caught div truth (1000 when no true pairs —
    vacuous recall). n_candidates quantifies the precision side: the
    exact-verify work the banding buys.

    Both legs measure the SAME similarity: prefix-filter truth runs
    over ``shingles(text, n)`` item sets (the ``items`` hook), which
    is exactly what the MinHash signatures sketch. Scale shape: the
    truth leg is the Bayardo prefix join (output-driven — run this
    eval on an audit SAMPLE at 100 TB, the standard recall-audit
    practice); the run leg is the production candidate cost."""
    truth = prefix_filter_jaccard_pairs(
        df,
        threshold_num,
        threshold_den,
        text_col,
        id_col,
        items=shingles(text_col, shingle_n),
    ).select("id_a", "id_b", F.lit(1).alias("_t"))
    cand = _mh_band_cand(
        df, text_col, id_col, num_hashes, bands, shingle_n, max_bucket
    ).select("id_a", "id_b", F.lit(1).alias("_c"))
    j = truth.join(cand, ["id_a", "id_b"], "full_outer")
    agg = j.agg(
        F.count("_t").cast("long").alias("n_truth"),
        F.count("_c").cast("long").alias("n_candidates"),
        F.count(F.when(F.col("_t").isNotNull(), F.col("_c")))
        .cast("long")
        .alias("n_caught"),
    )
    return agg.select(
        "n_truth",
        "n_candidates",
        "n_caught",
        F.when(
            F.col("n_truth") > 0,
            F.expr("(1000 * n_caught) div n_truth"),
        )
        .otherwise(F.lit(1000).cast("long"))
        .alias("recall_milli"),
    )

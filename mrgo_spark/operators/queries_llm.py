"""Declared queries: LLM-pipeline surface (SURVEY §2.4 X1-X5).

The fixture corpus has no natural duplicates, so the dedup queries
synthesize deterministic ones on BOTH engines: exact copies (new id =
id+100000) and token-reversed copies (id+200000) of every 10th doc.

Seed-dependent operators (MinHash LSH, SimHash, hyperplane LSH) use
engine-specific hash functions and are property-tested instead
(tests/test_dedup.py, tests/test_similarity.py) — declared rows-only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import ascii_tokens
from ..registry import declare
from ..sources.tables import load_table, widen_scan
from . import (
    dedup,
    mlfit,
    pipeline,
    retrieval,
    similarity,
    sketch,
    textstats,
)

# ---------------------------------------------------------------- dedup

_DUP_CORPUS_SQL = """
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 200000,
               array_to_string(list_reverse(list_filter(
                   string_split_regex(text, '[^A-Za-z]+'), x -> x <> '')), ' ')
        FROM documents WHERE doc_id % 10 = 0
    )
"""


def _dup_corpus(spark, sf_dir):
    # widen_scan: the expensive tokenize/shingle map phases downstream
    # must not serialize on the fixture's single-row-group scan
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    exact_copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    reversed_copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.reverse(ascii_tokens("text")), " ").alias("text"),
    )
    return docs.unionAll(exact_copies).unionAll(reversed_copies)


@declare(
    "dedup_exact",
    f"""
    WITH {_DUP_CORPUS_SQL}
    SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM corpus
    ) WHERE rn = 1
    """,
)
def q_dedup_exact(spark, sf_dir):
    """X1: exact dedup drops the id+100000 copies, keeps reversed ones."""
    return dedup.exact_dedup(_dup_corpus(spark, sf_dir)).select("doc_id")


@declare(
    "dedup_fingerprint",
    f"""
    WITH {_DUP_CORPUS_SQL},
    fp AS (
        SELECT doc_id,
               array_to_string(list_sort(list_filter(
                   string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')), ' ')
               AS fingerprint
        FROM corpus
    )
    SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        FROM fp
    ) WHERE rn = 1
    """,
)
def q_dedup_fingerprint(spark, sf_dir):
    """X2 (deterministic variant): token-multiset fingerprint dedup
    also drops the token-REVERSED copies exact dedup keeps."""
    return dedup.fingerprint_dedup(_dup_corpus(spark, sf_dir)).select("doc_id")


# ----------------------------------------------------------- similarity

_FX_NORMS_SQL = """
    norms AS (
        SELECT vec_id, embedding,
               CAST(list_sum([CAST(round(CAST(embedding[i] AS DOUBLE)
                                         * CAST(embedding[i] AS DOUBLE)
                                         * 1000000.0) AS BIGINT)
                              for i in generate_series(1, len(embedding))])
                    AS BIGINT) AS norm_fx
        FROM embeddings
    )
"""

# Multiply-read form of the norms CTE (self-joined oracles): derived
# from the ONE source of truth above, with a loud import-time check —
# a silent str.replace no-op would inline the CTE per consumer, the
# multiply-read-CTE blowup class.
_FX_NORMS_SQL_MAT = _FX_NORMS_SQL.replace(
    "norms AS", "norms AS MATERIALIZED"
)
if "MATERIALIZED" not in _FX_NORMS_SQL_MAT:
    raise RuntimeError("_FX_NORMS_SQL drifted; MATERIALIZED rewrite failed")

_FX_DOT_SQL = """
    CAST(list_sum([CAST(round(CAST(a.embedding[i] AS DOUBLE)
                              * CAST(b.embedding[i] AS DOUBLE)
                              * 1000000.0) AS BIGINT)
                   for i in generate_series(1, len(a.embedding))]) AS BIGINT)
"""


@declare(
    "topk_cosine",
    f"""
    WITH {_FX_NORMS_SQL},
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_FX_DOT_SQL} / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) AS score
        FROM norms a JOIN norms b ON a.vec_id <> b.vec_id
        WHERE a.vec_id % 100 = 0
    )
    SELECT query_id, neighbor_id, score, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def q_topk_cosine(spark, sf_dir):
    """X3: exact top-5 cosine neighbors for query vectors
    (vec_id % 100 == 0), fixed-point-stable across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return similarity.topk_cosine_exact(emb, queries, k=5)


@declare(
    "embedding_near_pairs",
    f"""
    WITH {_FX_NORMS_SQL}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_FX_DOT_SQL} / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) AS score
    FROM norms a JOIN norms b ON a.vec_id < b.vec_id
    WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 0
      AND {_FX_DOT_SQL} / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) > 0.4
    """,
)
def q_near_pairs(spark, sf_dir):
    """X2/X3: embedding-cosine near-duplicate pairs, exact, over a
    deterministic subset (vec_id % 2 = 0).

    The unrestricted pairwise form is O(n²) — fine as a verification
    operator on LSH survivors (``near_pairs_cosine``), wrong as a
    declared query the driver runs at arbitrary scale; the declared
    form bounds the square the same way topk_cosine bounds its query
    set."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 2 == 0
    )
    return similarity.near_pairs_cosine(emb, threshold=0.4)


@declare(
    "semantic_dedup",
    f"""
    WITH {_FX_NORMS_SQL},
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM norms a JOIN norms b ON a.vec_id < b.vec_id
        WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 0
          AND {_FX_DOT_SQL} / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) > 0.4
    ),
    membership AS (
        SELECT id, count(*) AS n_near FROM (
            SELECT id_a AS id FROM pairs
            UNION ALL
            SELECT id_b AS id FROM pairs
        ) GROUP BY id
    ),
    dropped AS (SELECT DISTINCT id_b AS id FROM pairs)
    SELECT d.doc_id, d.lang,
           COALESCE(m.n_near, 0) AS n_near,
           (dr.id IS NULL) AS kept
    FROM documents d
    LEFT JOIN membership m ON m.id = d.doc_id
    LEFT JOIN dropped dr ON dr.id = d.doc_id
    WHERE d.doc_id % 2 = 0
    """,
)
def q_semantic_dedup(spark, sf_dir):
    """X2: embedding-cosine near-duplicate DEDUP over documents — the
    keep/drop decision, not just pair detection (embedding_near_pairs).
    Documents join their embeddings on doc_id = vec_id; a document is
    dropped when any smaller-id document sits above the cosine
    threshold (greedy min-id rule — deterministic and local, unlike
    full connected components, which dup_cluster_components covers).

    Scale shape: candidate pairs at 100 TB come from the LSH/IVF
    bucketed generators (topk_cosine_lsh / IVFIndex); the declared
    form bounds the exact O(n²) verify the same way embedding_near_pairs
    does (deterministic doc_id % 2 subset). The keep/drop fold is two
    hash-aggregates on 8-byte ids — no vectors cross that shuffle.
    """
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 2 == 0
    )
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    pairs = similarity.near_pairs_cosine(emb, threshold=0.4).select(
        "id_a", "id_b"
    )
    return _semantic_keep_drop(docs, pairs)


def _semantic_keep_drop(docs, pairs):
    """The shared keep/drop fold: greedy min-id rule over candidate
    pairs (drop any doc that appears as the larger id of a pair).

    One aggregate carries BOTH per-doc facts (membership count and
    appears-as-larger-id), so documents is joined — and shuffled —
    exactly once. Membership rows come from EXPLODE, not a UNION of
    two selects over `pairs`: a union would duplicate the pair-scoring
    subtree into the plan twice (no exchange reuse across differing
    projections — caught in PLANS.md review). Only 8-byte ids cross
    the fold's shuffles regardless of the pair generator feeding it."""
    flags = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("id"), F.lit(0).alias("d")),
                    F.struct(F.col("id_b").alias("id"), F.lit(1).alias("d")),
                )
            ).alias("m")
        )
        .select("m.id", "m.d")
        .groupBy("id")
        .agg(F.count("*").alias("n_near"), F.max("d").alias("dropped"))
    )
    return docs.join(flags, docs.doc_id == flags.id, "left").select(
        "doc_id",
        "lang",
        F.coalesce("n_near", F.lit(0)).alias("n_near"),
        (F.coalesce("dropped", F.lit(0)) == 0).alias("kept"),
    )


@declare("semantic_dedup_lsh")
def q_semantic_dedup_lsh(spark, sf_dir):
    """X2 scale path: the SAME keep/drop fold as semantic_dedup, fed
    by banded hyperplane-LSH candidates instead of the exact O(n²)
    pair join — the composition a user runs on a real corpus
    (similarity.near_pairs_cosine_lsh generates + exactly verifies
    candidates; _semantic_keep_drop decides).

    Rows-only by design: the LCG hyperplanes are deterministic but not
    SQL-expressible; correctness evidence is (a) every emitted pair is
    exactly cosine-verified, so the pair set is a subset of the
    declared exact form's, and (b) the recall floor test vs
    semantic_dedup in tests/test_similarity.py. Unlike the exact
    form there is no %2 subset — the generator is subquadratic, so it
    runs over the FULL corpus (the bound the exact verify needs is the
    quadratic join, not the fold)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    pairs = similarity.near_pairs_cosine_lsh(emb, threshold=0.4).select(
        "id_a", "id_b"
    )
    return _semantic_keep_drop(docs, pairs)


@declare(
    "multimodal_blob_stats",
    """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                           ELSE 'video' END AS kind,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS digest,
           base64(encode(substring(text, 1, 8))) AS header_b64
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def q_multimodal_blob_stats(spark, sf_dir):
    """X5 declared surface: opaque-binary column handling with typed
    metadata, closure-free so it runs under the driver's session (the
    mapInPandas decode path in operators/multimodal.py stays
    engine-side — CLAUDE.md conventions). Blobs are synthesized
    deterministically from text (utf-8 bytes) on BOTH engines; stats
    are byte length, sha-256 digest, and a base64 header probe —
    the metadata a real image/audio ingest would carry per blob."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    blob = F.col("text").cast("binary")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        "doc_id",
        kind.alias("kind"),
        F.octet_length(blob).alias("n_bytes"),
        F.sha2(blob, 256).alias("digest"),
        F.base64(F.substring("text", 1, 8).cast("binary")).alias("header_b64"),
    )


@declare(
    "embedding_normalize",
    f"""
    WITH {_FX_NORMS_SQL}
    SELECT vec_id, u.pos AS pos, u.value AS value FROM (
        SELECT vec_id,
               unnest([{{'pos': i - 1,
                         'value': CAST(embedding[i] AS DOUBLE)
                                  / (sqrt(norm_fx) / 1000.0)}}
                       for i in generate_series(1, len(embedding))]) AS u
        FROM norms WHERE vec_id % 50 = 0
    )
    """,
)
def q_embedding_normalize(spark, sf_dir):
    """X3 pipeline op: L2 normalization (declared on the vec_id % 50
    subset to keep the gated row count modest; the operator itself is
    map-side over the full corpus).

    Declared in LONG form — one (vec_id, pos, value) row per dimension
    — because the driver's comparator canonicalizes via pandas
    sort_values, which throws on array cells (the r3 red rows). The
    array-returning form stays the library API
    (similarity.normalize_unit).

    Plan note (r4, measured 3.3 s → 0.16 s warm at sf0.1): the norm
    is materialized as a column BEFORE the explode and the division
    happens on scalars AFTER it. Exploding normalize_unit's array
    instead puts the transform-with-inlined-norm-fold into the
    Generate's pushed-down size()/isnotnull predicates, where an
    interpreted Filter re-evaluates the 64-element fold per element,
    twice, per row."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 50 == 0
    )
    nf = F.sqrt(
        similarity._fx_dot(F.col("embedding"), F.col("embedding"))
    ) / 1000.0
    return (
        emb.select("vec_id", nf.alias("_nf"), "embedding")
        .select("vec_id", "_nf", F.posexplode("embedding").alias("pos", "x"))
        .select(
            "vec_id",
            F.col("pos").cast("long").alias("pos"),
            (F.col("x").cast("double") / F.col("_nf")).alias("value"),
        )
    )


@declare(
    "embedding_centroids",
    """
    WITH exploded AS (
        SELECT vec_id % 8 AS grp, u.pos AS pos, u.fx AS fx FROM (
            SELECT vec_id,
                   unnest([{'pos': i - 1,
                            'fx': CAST(round(CAST(embedding[i] AS DOUBLE)
                                             * 1000000) AS BIGINT)}
                           for i in generate_series(1, len(embedding))]) AS u
            FROM embeddings
        )
    )
    SELECT grp, pos,
           COUNT(*) AS n_vecs,
           CAST(SUM(fx) AS BIGINT) / COUNT(*) / 1000000.0 AS value
    FROM exploded
    GROUP BY 1, 2
    """,
)
def q_embedding_centroids(spark, sf_dir):
    """X3 pipeline op: per-group mean vectors (class-centroid shape),
    fixed-point so the means are bit-identical to the oracle's.

    Declared in LONG form (grp, pos, n_vecs, value) — scalar cells
    only, so the driver's pandas canonicalizer can sort them (the r3
    red rows were array columns). The array-returning form stays the
    library API (similarity.group_centroids); both share the same
    per-dimension fixed-point aggregate."""
    return similarity.group_centroids_long(
        load_table(spark, sf_dir, "embeddings"), n_groups=8
    )


# ----------------------------------------------------------- text stats

@declare(
    "text_token_stats",
    r"""
    WITH tok AS (
        SELECT lang, n_chars,
               len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS n_tokens
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(n_tokens AS BIGINT)) * 1.0 / COUNT(*) AS DOUBLE)
               AS avg_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM tok GROUP BY lang
    """,
)
def q_token_stats(spark, sf_dir):
    """X4: whitespace-token statistics per language."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", "n_chars", textstats.token_count("text").alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_tokens").cast("bigint")).alias("total_tokens"),
            (
                F.sum(F.col("n_tokens").cast("bigint")) * 1.0 / F.count("*")
            ).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_BPE_PAT_SQL = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
    .replace("'", "''")
)


@declare(
    "bpe_token_stats",
    rf"""
    WITH tok AS (
        SELECT lang,
               len(list_filter(regexp_extract_all(text, '{_BPE_PAT_SQL}'),
                               x -> NOT regexp_matches(x, '^\s+$'))) AS n_bpe
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_bpe AS BIGINT)) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(CAST(n_bpe AS BIGINT)) * 1.0 / COUNT(*) AS DOUBLE)
               AS avg_bpe_tokens
    FROM tok GROUP BY lang
    """,
)
def q_bpe_token_stats(spark, sf_dir):
    """X4: BPE-ish pre-tokenizer counts per language — the
    training-cost proxy next to text_token_stats' whitespace count.
    Java regex and RE2 agree on the lookahead-free pattern
    (functions/text.py BPE_PRETOKEN), so this is fully
    oracle-declared, all map-side column expressions."""
    from ..functions.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    n = bpe_token_count("text")
    return (
        docs.select("lang", n.alias("n_bpe"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_bpe").cast("bigint")).alias("total_bpe_tokens"),
            (
                F.sum(F.col("n_bpe").cast("bigint")) * 1.0 / F.count("*")
            ).alias("avg_bpe_tokens"),
        )
    )


@declare(
    "ngram_bigrams_top20",
    """
    WITH tok AS (
        SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT unnest([t[i] || ' ' || t[i+1]
                       for i in generate_series(1, len(t)-1)]) AS ngram
        FROM tok
    )
    SELECT ngram, COUNT(*) AS cnt FROM grams
    GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 20
    """,
)
def q_bigrams(spark, sf_dir):
    """X4: corpus-wide word-bigram top-20 (deterministic tie-break).
    widen_scan: explode-per-bigram is the dominant map cost and must
    not serialize on the fixture's single-row-group scan."""
    return (
        textstats.ngram_counts(
            widen_scan(load_table(spark, sf_dir, "documents")), n=2
        )
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(20)
    )


@declare(
    "char_quality_stats",
    r"""
    SELECT doc_id,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_letters,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
           length(regexp_replace(text, '[^\s]', '', 'g')) AS n_spaces,
           length(text) - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             - length(regexp_replace(text, '[^0-9]', '', 'g'))
             - length(regexp_replace(text, '[^\s]', '', 'g')) AS n_punct,
           CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) > 0
                THEN CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
                     / length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                ELSE 0.0 END AS upper_ratio
    FROM documents
    """,
)
def q_char_stats(spark, sf_dir):
    """X4: per-document character-class statistics."""
    return textstats.char_stats(load_table(spark, sf_dir, "documents"))


@declare(
    "lang_id_heuristic",
    """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    scores AS (
        SELECT doc_id,
            len(list_filter(t, x -> x IN ('der','die','das','und','ist','nicht','ein'))) AS s_de,
            len(list_filter(t, x -> x IN ('the','and','of','to','is','in','that'))) AS s_en,
            len(list_filter(t, x -> x IN ('el','la','los','las','es','y','que'))) AS s_es,
            len(list_filter(t, x -> x IN ('le','la','les','et','est','que','des'))) AS s_fr
        FROM tok
    )
    SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM scores
    """,
)
def q_lang_id(spark, sf_dir):
    """X4: marker-stopword language ID (the declared contract is the
    formula — argmax marker hits, ties to earliest language code)."""
    return textstats.lang_id(load_table(spark, sf_dir, "documents"))


@declare(
    "lang_id_confusion",
    """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    scores AS (
        SELECT doc_id,
            len(list_filter(t, x -> x IN ('der','die','das','und','ist','nicht','ein'))) AS s_de,
            len(list_filter(t, x -> x IN ('the','and','of','to','is','in','that'))) AS s_en,
            len(list_filter(t, x -> x IN ('el','la','los','las','es','y','que'))) AS s_es,
            len(list_filter(t, x -> x IN ('le','la','les','et','est','que','des'))) AS s_fr
        FROM tok
    ),
    pred AS (
        SELECT doc_id,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                    WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM scores
    )
    SELECT d.lang AS label_lang, p.pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pred p JOIN documents d USING (doc_id)
    GROUP BY 1, 2
    """,
)
def q_lang_id_confusion(spark, sf_dir):
    """X4 extension: confusion matrix of the marker-stopword
    language ID against the fixture's labeled ``lang`` column — the
    classifier-eval rollup a corpus pipeline reports before trusting
    a heuristic filter at 100 TB (label join + one partial-agg
    groupBy; the labeled column was previously unexercised by any
    declared entry)."""
    docs = load_table(spark, sf_dir, "documents")
    pred = textstats.lang_id(docs)
    return (
        pred.join(docs.select("doc_id", F.col("lang").alias("label_lang")), "doc_id")
        .groupBy("label_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


@declare(
    "quality_score",
    r"""
    WITH base AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t,
               length(text) AS n_chars
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(t) AS n_tokens,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                   / greatest(n_chars, 1) AS letter_ratio,
               CASE WHEN len(t) > 0
                    THEN CAST(coalesce(list_sum([length(x) for x in t]), 0) AS DOUBLE)
                         / len(t)
                    ELSE 0.0 END AS mean_word_len,
               CAST(len(list_filter(t,
                    x -> x IN ('the','and','of','to','is','in','that'))) AS DOUBLE)
                   / greatest(len(t), 1) AS stopword_ratio
        FROM base
    )
    SELECT doc_id, n_tokens, letter_ratio, mean_word_len, stopword_ratio,
           CAST(CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END
            + CASE WHEN letter_ratio >= 0.6 THEN 0.25 ELSE 0.0 END
            + CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END
            + CASE WHEN stopword_ratio > 0.0 THEN 0.25 ELSE 0.0 END AS DOUBLE)
           AS quality
    FROM m
    """,
)
def q_quality(spark, sf_dir):
    """X4: deterministic quality-score formula per document."""
    return textstats.quality_score(load_table(spark, sf_dir, "documents"))


@declare(
    "ngram_jaccard_reversed_pairs",
    f"""
    WITH {_DUP_CORPUS_SQL},
    tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM corpus
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                    THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                        for i in generate_series(1, len(t)-2)])
                    ELSE [coalesce(array_to_string(t, ' '), '')] END AS s
        FROM tok
    ),
    pairs AS (
        SELECT doc_id AS id_a, doc_id + 200000 AS id_b
        FROM documents WHERE doc_id % 10 = 0
    )
    SELECT p.id_a, p.id_b,
           CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
           / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
    FROM pairs p JOIN sh a ON a.doc_id = p.id_a
                 JOIN sh b ON b.doc_id = p.id_b
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    """X2 verification operator on the declared surface: exact 3-gram
    Jaccard for a deterministic candidate set (each doc vs its
    token-REVERSED copy) — the shape used to verify LSH survivors; at
    scale candidates come from the LSH blocker, never the corpus
    square."""
    docs = load_table(spark, sf_dir, "documents")
    cands = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 200000).alias("id_b"),
    )
    return dedup.ngram_jaccard_pairs(_dup_corpus(spark, sf_dir), cands)


@declare(
    "corpus_quality_filter",
    r"""
    WITH base AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t,
               length(text) AS n_chars
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(t) AS n_tokens,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                   / greatest(n_chars, 1) AS letter_ratio,
               CASE WHEN len(t) > 0
                    THEN CAST(coalesce(list_sum([length(x) for x in t]), 0) AS DOUBLE)
                         / len(t)
                    ELSE 0.0 END AS mean_word_len,
               CAST(len(list_filter(t,
                    x -> x IN ('the','and','of','to','is','in','that'))) AS DOUBLE)
                   / greatest(len(t), 1) AS stopword_ratio
        FROM base
    )
    SELECT doc_id,
           CASE WHEN n_tokens < 10 OR n_tokens > 100000
                     THEN 'length_out_of_band'
                WHEN letter_ratio < 0.6 THEN 'low_letter_ratio'
                WHEN mean_word_len < 2.0 OR mean_word_len > 12.0
                     THEN 'weird_word_len'
                WHEN stopword_ratio = 0.0 THEN 'no_stopwords'
                ELSE 'ok' END AS reason,
           (CASE WHEN n_tokens < 10 OR n_tokens > 100000
                      THEN 'length_out_of_band'
                 WHEN letter_ratio < 0.6 THEN 'low_letter_ratio'
                 WHEN mean_word_len < 2.0 OR mean_word_len > 12.0
                      THEN 'weird_word_len'
                 WHEN stopword_ratio = 0.0 THEN 'no_stopwords'
                 ELSE 'ok' END) = 'ok' AS keep
    FROM m
    """,
)
def q_corpus_filter(spark, sf_dir):
    """X4 end-to-end: the keep/drop decision a training-data pipeline
    materializes per document, with the FIRST failing rule as the drop
    reason (first-match semantics mirror the CASE chain in the
    oracle). Built on the quality_score metrics — all map-side column
    expressions."""
    m = textstats.quality_score(load_table(spark, sf_dir, "documents"))
    reason = (
        F.when(
            (F.col("n_tokens") < 10) | (F.col("n_tokens") > 100000),
            "length_out_of_band",
        )
        .when(F.col("letter_ratio") < 0.6, "low_letter_ratio")
        .when(
            (F.col("mean_word_len") < 2.0) | (F.col("mean_word_len") > 12.0),
            "weird_word_len",
        )
        .when(F.col("stopword_ratio") == 0.0, "no_stopwords")
        .otherwise("ok")
    )
    return m.select(
        "doc_id", reason.alias("reason"), (reason == "ok").alias("keep")
    )


@declare(
    "dup_cluster_components",
    """
    WITH RECURSIVE base AS (
        SELECT doc_id FROM documents WHERE doc_id % 10 = 0
    ),
    edges AS (
        SELECT doc_id AS src, doc_id + 100000 AS dst FROM base
        UNION ALL SELECT doc_id + 100000, doc_id + 200000 FROM base
        UNION ALL SELECT doc_id + 200000, doc_id + 300000 FROM base
    ),
    und AS (
        SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges
    ),
    reach(id, lbl) AS (
        SELECT DISTINCT a, a FROM und
        UNION
        SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.id
    )
    SELECT id AS node_id, MIN(lbl) AS component
    FROM reach GROUP BY id
    """,
)
def q_dup_cluster_components(spark, sf_dir):
    """X2 final step: connected components over a dup-pair graph —
    pairs → clusters, cluster id = min member id (then "keep min id
    per cluster" finishes dedup). The declared graph is a 4-node chain
    per every-10th doc (d — d+100000 — d+200000 — d+300000), diameter
    3, so label propagation reaches its fixpoint in 3 rounds; the
    oracle walks the same graph with a recursive CTE."""
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
    )
    d = F.col("doc_id")
    edges = (
        base.select(d.alias("src"), (d + 100000).alias("dst"))
        .unionAll(base.select((d + 100000).alias("src"), (d + 200000).alias("dst")))
        .unionAll(base.select((d + 200000).alias("src"), (d + 300000).alias("dst")))
    )
    return dedup.connected_components(edges).select(
        F.col("id").alias("node_id"), "component"
    )


# Shared planted-duplicate graph (one source for the
# dedup_pipeline_canonical and leakage_safe_split oracles): corpus
# with exact (+100000), token-reversed (+200000) and 50-token-
# truncated (+300000) copies; fingerprint + 5-token-prefix star
# edges; recursive-CTE connected components → comp(id, canonical).
_DUP_GRAPH_SQL = """
    WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 200000,
               array_to_string(list_reverse(list_filter(
                   string_split_regex(text, '[^A-Za-z]+'), x -> x <> '')), ' ')
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 300000,
               array_to_string(list_slice(list_filter(
                   string_split_regex(text, '[^A-Za-z]+'), x -> x <> ''),
                   1, 50), ' ')
        FROM documents WHERE doc_id % 20 = 0
    ),
    keys AS (
        SELECT doc_id,
               array_to_string(list_sort(toks), ' ') AS fp,
               array_to_string(list_slice(toks, 1, 5), ' ') AS pre
        FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^a-z]+'),
                               x -> x <> '') AS toks
            FROM corpus
        )
    ),
    e1 AS (
        SELECT MIN(doc_id) OVER (PARTITION BY fp) AS src, doc_id AS dst
        FROM keys
    ),
    e2 AS (
        SELECT MIN(doc_id) OVER (PARTITION BY pre) AS src, doc_id AS dst
        FROM keys
    ),
    edges AS (
        SELECT src, dst FROM e1 WHERE src <> dst
        UNION
        SELECT src, dst FROM e2 WHERE src <> dst
    ),
    und AS (
        SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges
    ),
    reach(id, lbl) AS (
        SELECT DISTINCT a, a FROM und
        UNION
        SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.id
    ),
    comp AS (SELECT id, MIN(lbl) AS canonical FROM reach GROUP BY id)"""


@declare(
    "dedup_pipeline_canonical",
    _DUP_GRAPH_SQL
    + """
    SELECT c.doc_id,
           COALESCE(p.canonical, c.doc_id) AS canonical_id,
           CAST(COUNT(*) OVER (
               PARTITION BY COALESCE(p.canonical, c.doc_id)
           ) AS BIGINT) AS cluster_size,
           c.doc_id = COALESCE(p.canonical, c.doc_id) AS keep
    FROM corpus c LEFT JOIN comp p ON c.doc_id = p.id
    """,
)
def q_dedup_pipeline_canonical(spark, sf_dir):
    """X2 end-to-end (deterministic): blocking keys → star edges →
    connected components → canonical assignment, in ONE declared
    pipeline. Corpus plants exact copies (+100000), token-reversed
    copies (+200000) and 50-token truncations (+300000); two blocking
    keys (token-multiset fingerprint + 5-token prefix) produce edges
    that only TRANSITIVITY merges: the truncation shares a prefix with
    the original but not its fingerprint, the reversed copy shares the
    fingerprint but not the prefix — so {orig, copy, reversed, trunc}
    become one cluster only through the original. Oracle walks the
    same graph with a recursive CTE.
    """
    corpus = _planted_dup_corpus(spark, sf_dir)
    return dedup.dup_clusters(
        corpus,
        _dup_blocking_pairs(corpus),
        id_col="doc_id",
        src="src",
        dst="dst",
    )


def _planted_dup_corpus(spark, sf_dir):
    """Spark twin of _DUP_GRAPH_SQL's corpus CTE: documents plus
    exact (+100000), token-reversed (+200000) and 50-token-truncated
    (+300000) planted copies."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tenth = docs.filter(F.col("doc_id") % 10 == 0)
    toks_raw = ascii_tokens("text")
    return (
        docs.unionAll(
            tenth.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        )
        .unionAll(
            tenth.select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.array_join(F.reverse(toks_raw), " ").alias("text"),
            )
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                F.array_join(F.slice(toks_raw, 1, 50), " ").alias("text"),
            )
        )
    )


def _dup_blocking_pairs(corpus):
    """Spark twin of _DUP_GRAPH_SQL's edge CTEs: fingerprint +
    5-token-prefix star edges over the planted corpus.

    keys is lazily localCheckpointed (r13 opt): it feeds TWO window
    branches (fp + pre star edges) whose union is what
    connected_components eagerly materializes — without the
    checkpoint that one materialization runs the corpus scan +
    tokenize + array_sort twice, once per branch (the
    no-exchange-reuse-across-projections class)."""
    toks = ascii_tokens("text", lowercase=True)
    keys = corpus.select(
        "doc_id",
        F.array_join(F.array_sort(toks), " ").alias("fp"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("pre"),
    ).localCheckpoint(eager=False)
    return dedup.star_edges(keys, "fp").unionAll(dedup.star_edges(keys, "pre"))


@declare(
    "leakage_safe_split",
    _DUP_GRAPH_SQL
    + """
    , assigned AS (
        SELECT c.doc_id, COALESCE(p.canonical, c.doc_id) AS canonical_id
        FROM corpus c LEFT JOIN comp p ON c.doc_id = p.id
    )
    SELECT doc_id, canonical_id,
           CASE WHEN cb < 80 THEN 'train'
                WHEN cb < 90 THEN 'val'
                ELSE 'test' END AS split,
           (CASE WHEN cb < 80 THEN 'train'
                 WHEN cb < 90 THEN 'val'
                 ELSE 'test' END)
             <> (CASE WHEN ob < 80 THEN 'train'
                      WHEN ob < 90 THEN 'val'
                      ELSE 'test' END) AS moved
    FROM (
        SELECT doc_id, canonical_id,
               CAST(('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 4))
                    AS BIGINT) % 100 AS cb,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS BIGINT) % 100 AS ob
        FROM assigned
    )
    """,
)
def q_leakage_safe_split(spark, sf_dir):
    """Cluster-atomic train/val/test split (pipeline.leakage_safe_
    split): near-dup clusters — the dedup-pipeline planted corpus and
    blocking graph, reused verbatim — are assigned to ONE split by
    md5(canonical_id), so no planted copy ever straddles train/test.
    ``moved`` marks docs whose cluster pulled them off their own-id
    split (the contamination dataset_split alone would have let
    through). Oracle walks the same recursive-CTE graph, then applies
    the same md5-bucket rule to the canonical id."""
    corpus = _planted_dup_corpus(spark, sf_dir)
    return pipeline.leakage_safe_split(corpus, _dup_blocking_pairs(corpus))


@declare(
    "edit_distance_pairs",
    """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000,
               substr(text, 1, 49) || 'xqz' || substr(text, 53)
        FROM documents WHERE doc_id % 10 = 0
    ),
    keyed AS (
        SELECT doc_id, blk, win FROM (
            SELECT doc_id,
                   substr(text, 1, 30) AS blk,
                   substr(text, 1, 200) AS win,
                   COUNT(*) OVER (PARTITION BY substr(text, 1, 30)) AS bsz
            FROM corpus
        ) WHERE bsz <= 100
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.win, b.win) AS INTEGER) AS dist
    FROM keyed a JOIN keyed b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.win, b.win) <= 5
    """,
)
def q_edit_distance_pairs(spark, sf_dir):
    """X2 variant: bounded-edit-distance near-dup pairs. Plants
    3-char-substitution copies (chars 50-52 → 'xqz', id+100000) that
    exact and fingerprint dedup both miss; prefix blocking (first 30
    chars, untouched by the mutation) pairs them with their originals
    and the threshold Levenshtein confirms dist ≤ 5 on a 200-char
    window. Oracle runs DuckDB's unbounded levenshtein with the same
    blocking + filter."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 49),
            F.lit("xqz"),
            F.col("text").substr(F.lit(53), F.lit(1 << 30)),
        ).alias("text"),
    )
    return dedup.edit_distance_pairs(docs.unionAll(mutated))


@declare(
    "edit_distance_pairs_symdelete",
    """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, substr(text, 1, 1) || 'q' || substr(text, 3)
        FROM documents WHERE doc_id % 10 = 3
    ),
    keyed AS (
        SELECT doc_id, substr(text, 1, 30) AS k, substr(text, 1, 200) AS win
        FROM corpus
    ),
    vars AS (
        SELECT DISTINCT doc_id, v FROM (
            SELECT doc_id, k AS v FROM keyed
            UNION ALL
            SELECT doc_id, substr(k, 1, i-1) || substr(k, i+1)
            FROM keyed, generate_series(1, 30) AS t(i)
            WHERE i <= length(k)
        )
    ),
    capped AS (
        SELECT doc_id, v FROM (
            SELECT doc_id, v, COUNT(*) OVER (PARTITION BY v) AS c FROM vars
        ) WHERE c <= 200
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM capped a JOIN capped b ON a.v = b.v AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(levenshtein(ka.win, kb.win) AS INTEGER) AS dist
    FROM cand JOIN keyed ka ON ka.doc_id = id_a
              JOIN keyed kb ON kb.doc_id = id_b
    WHERE levenshtein(ka.k, kb.k) <= 1 AND levenshtein(ka.win, kb.win) <= 5
    """,
)
def q_edit_distance_pairs_symdelete(spark, sf_dir):
    """X2 variant: symmetric-delete (SymSpell) blocked edit-distance
    pairs — the complement of `edit_distance_pairs`: plants a
    SINGLE-substitution copy at char 2 (id+200000), which changes the
    30-char blocking prefix and is therefore invisible to
    prefix-equality blocking, but provably recalled here (keys at
    edit distance ≤ 1 always share a deletion variant). The oracle
    replays the identical variant generation / bucket cap / distance
    filters in SQL, so the output is the exact set "key distance ≤ 1
    AND 200-char-window distance ≤ 5" — blocking is an optimization,
    not an approximation."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 1),
            F.lit("q"),
            F.col("text").substr(F.lit(3), F.lit(1 << 30)),
        ).alias("text"),
    )
    return dedup.edit_distance_pairs_symdelete(docs.unionAll(mutated))


@declare("dedup_pipeline_minhash")
def q_dedup_pipeline_minhash(spark, sf_dir):
    """X2 end-to-end (probabilistic): MinHash-LSH candidate pairs →
    connected components → canonical assignment over the planted-dup
    corpus. xxhash64-seeded, so rows-only at the gate; recall of the
    planted clusters is pinned in tests/test_dedup.py."""
    corpus = _dup_corpus(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(corpus)
    return dedup.dup_clusters(
        corpus, pairs, id_col="doc_id", src="id_a", dst="id_b"
    )


@declare(
    "bigram_novelty_stats",
    """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT doc_id, unnest([array_to_string(t[i:i+1], ' ')
                               for i in generate_series(1, len(t) - 1)]) AS bg
        FROM tok WHERE len(t) >= 2
    ),
    gcnt AS MATERIALIZED (
        SELECT bg, CAST(count(*) AS BIGINT) AS gc FROM bg GROUP BY bg
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN g.gc = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS singleton_bigrams,
           CAST(sum(g.gc) AS BIGINT) AS familiarity_sum
    FROM bg b JOIN gcnt g USING (bg)
    GROUP BY b.doc_id
    """,
)
def q_bigram_novelty_stats(spark, sf_dir):
    """X4 extension: corpus-frequency bigram familiarity — the
    integer-exact stand-in for LM-perplexity quality filtering (docs
    heavy in corpus-unique bigrams are garbled/noisy; familiar-bigram
    mass marks natural text). ln()-based perplexity is not
    hash-portable across libm builds (the r2 tfidf finding), so the
    declared surface stays in exact counts."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.bigram_novelty_stats(docs)


# Shared bigram-LM CTE chain (tok/ex/big/uni/voc/sc/lmsc, constants
# from textstats), ending with lmsc(doc_id, n_grams, lm_bits,
# centibits_per_gram) — used by bigram_lm_bits AND ccnet_ppl_buckets.
_BIGRAM_OCC_SQL = f"""
    tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    ex AS MATERIALIZED (
        SELECT doc_id, u.bg AS bg, u.a AS a FROM (
            SELECT doc_id,
                   unnest([{{'bg': array_to_string(t[i:i+1], ' '),
                             'a': t[i]}}
                           for i in generate_series(1, len(t) - 1)]) AS u
            FROM tok WHERE len(t) >= 2
        )
    ),
    big AS MATERIALIZED (
        SELECT bg, CAST(count(*) AS BIGINT) AS cb FROM ex GROUP BY 1
    ),
    uni AS MATERIALIZED (
        SELECT a, CAST(count(*) AS BIGINT) AS ca FROM ex GROUP BY 1
    ),
    voc AS (
        SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
        FROM (SELECT unnest(t) AS w FROM tok)
    ),
    occ AS (
        SELECT e.doc_id,
               CAST(length(bin(CAST(greatest(
                   ((b.cb + 1)::HUGEINT
                     * {1 << textstats.LM_FP_BITS}::HUGEINT)
                     // (u.ca::HUGEINT + v.v),
                   1::HUGEINT) AS BIGINT))) AS BIGINT)
               - {1 + textstats.LM_FP_BITS} AS bits
        FROM ex e JOIN big b USING (bg) JOIN uni u USING (a), voc v
    )"""

_BIGRAM_LM_SQL = (
    _BIGRAM_OCC_SQL
    + """,
    sc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(bits) AS BIGINT) AS lm_bits
        FROM occ GROUP BY 1
    ),
    lmsc AS MATERIALIZED (
        SELECT doc_id, n_grams, lm_bits,
               CAST((-lm_bits * 100) // n_grams AS BIGINT)
                 AS centibits_per_gram
        FROM sc
    )"""
)


@declare(
    "bigram_lm_bits",
    f"""
    WITH {_BIGRAM_LM_SQL}
    SELECT doc_id, n_grams, lm_bits, centibits_per_gram FROM lmsc
    """,
)
def q_bigram_lm_bits(spark, sf_dir):
    """CCNet-style LM-perplexity quality scoring (r7,
    textstats.bigram_lm_bits): an add-one-smoothed bigram LM trained
    on the corpus scores every document with EXACT integer floor-log2
    probabilities — the DSIR bit_length trick applied to conditional
    probabilities p(b|a) = (c(ab)+1)/(c(a)+V), so true log-likelihood
    perplexity (not the count-based novelty stand-in) is now on the
    oracle-checked surface. centibits_per_gram is the integer
    perplexity exponent (PPL = 2^(centibits/100)); low = predictable
    text, the CCNet keep side. Model joins are shuffle_hash (the
    bigram_novelty 10× BHJ→SMJ cliff lesson)."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.bigram_lm_bits(docs)


@declare(
    "excess_bits_domain_weights",
    f"""
    WITH {_BIGRAM_LM_SQL},
    dgrp AS (SELECT doc_id, lang AS stratum FROM documents),
    dom AS MATERIALIZED (
        SELECT g.stratum,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(s.n_grams) AS BIGINT) AS n_grams,
               CAST(sum(s.lm_bits) AS BIGINT) AS bits
        FROM lmsc s JOIN dgrp g USING (doc_id)
        GROUP BY 1),
    dom2 AS MATERIALIZED (
        SELECT stratum, n_docs, n_grams,
               CAST((-bits * 100) // n_grams AS BIGINT)
                   AS mean_centibits,
               CAST(least(8, greatest(0,
                    (((-bits * 100) // n_grams)
                     - ((-(sum(bits) OVER ()) * 100)
                        // (sum(n_grams) OVER ()))) // 100))
                    AS BIGINT) AS excess_bits
        FROM dom),
    dwts AS (SELECT *, CAST(n_grams * (1 << excess_bits) AS BIGINT)
                       AS w
             FROM dom2),
    dal0 AS (SELECT *, CAST(sum(w) OVER () AS HUGEINT) AS wn
             FROM dwts),
    dal1 AS (SELECT *,
                    (1000::HUGEINT * w) // wn AS base,
                    (1000::HUGEINT * w) % wn AS rem
             FROM dal0)
    SELECT stratum AS lang, n_docs, n_grams, mean_centibits,
           excess_bits,
           CAST(base + CASE WHEN row_number()
                                 OVER (ORDER BY rem DESC, stratum)
                            <= 1000 - sum(base) OVER ()
                       THEN 1 ELSE 0 END AS BIGINT) AS weight_milli
    FROM dal1
    """,
)
def q_excess_bits_domain_weights(spark, sf_dir):
    """Loss-based domain mixture reweighting (r13,
    pipeline.excess_bits_domain_weights — the DoReMi idea on the
    repo's exact kernels): domains whose mean bigram-LM surprisal
    runs ABOVE the corpus-global mean get their mixture share
    multiplied by 2^excess_bits (clamped whole bits — the
    dsir_resample importance trick), Hamilton-normalized to exactly
    1000 milli. Completes the data-selection paradigm trio:
    count-based (mixture/temperature), distribution-matching (DSIR),
    loss-based (this). Fully oracle-checked through the bigram-LM
    CTE chain; windows run over the |domains| frame only."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return pipeline.excess_bits_domain_weights(docs)


@declare(
    "min_k_prob_audit",
    f"""
    WITH {_BIGRAM_OCC_SQL},
    rk AS (
        SELECT doc_id, bits,
               row_number() OVER (PARTITION BY doc_id ORDER BY bits)
                   AS rn,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM occ)
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_grams,
           CAST(greatest(1, (max(n) * 20) // 100) AS BIGINT) AS m_tail,
           CAST(sum(bits) FILTER (
               WHERE rn <= greatest(1, (n * 20) // 100)) AS BIGINT)
               AS min_k_bits,
           CAST((-sum(bits) FILTER (
                    WHERE rn <= greatest(1, (n * 20) // 100)) * 100)
                // greatest(1, (max(n) * 20) // 100) AS BIGINT)
               AS mink_centibits
    FROM rk GROUP BY doc_id
    """,
)
def q_min_k_prob_audit(spark, sf_dir):
    """Memorization table #2 (r12, textstats.min_k_prob_audit — Shi
    et al. 2024 Min-K% Prob): per document, the mean negative
    log-prob of its 20% most surprising bigrams under the corpus LM
    — the membership-inference score (a memorized/duplicated doc has
    NO surprising tokens, so a low tail score flags it), next to
    frequent_span_audit's what-is-repeated view. Exact floor-log2
    bits from the shared bigram kernel; the tail cut sums value-equal
    ties, so the score is deterministic under any tie order and the
    whole audit oracle-checks. widen_scan: the model joins ride the
    interpreted occurrence explode."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.min_k_prob_audit(docs, k_pct=20)


@declare(
    "ccnet_ppl_buckets",
    f"""
    WITH {_BIGRAM_LM_SQL},
    hist AS (
        SELECT centibits_per_gram, CAST(count(*) AS BIGINT) AS c
        FROM lmsc GROUP BY 1
    ),
    cum AS (
        SELECT centibits_per_gram,
               CAST(sum(c) OVER (ORDER BY centibits_per_gram
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cm,
               CAST(sum(c) OVER () AS BIGINT) AS n
        FROM hist
    ),
    th AS (
        SELECT min(CASE WHEN cm * 3 >= n THEN centibits_per_gram END)
                 AS t1,
               min(CASE WHEN cm * 3 >= 2 * n THEN centibits_per_gram END)
                 AS t2
        FROM cum
    )
    SELECT s.doc_id, s.centibits_per_gram,
           CASE WHEN s.centibits_per_gram <= th.t1 THEN 'head'
                WHEN s.centibits_per_gram <= th.t2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM lmsc s, th
    """,
)
def q_ccnet_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity terciles (r7,
    textstats.perplexity_terciles; Wenzek et al. 2020 §4.3): each
    document bucketed by its bigram-LM centibits/gram against the
    corpus' EXACT tercile thresholds — the quality gate CCNet trains
    filters with, here fully oracle-checked because both the LM
    (floor-log2 rationals) and the thresholds (bounded-domain rank
    trick: the cumulative window runs over the ≤4001-value centibits
    histogram, never the corpus) are integer-exact. Ties share a
    bucket."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.perplexity_terciles(docs)


@declare(
    "cms_token_heavy_hitters",
    # constants interpolated from operators.sketch (the Bloom-tuple
    # rule: all legs derive from one source)
    f"""
    WITH tk AS MATERIALIZED (
        SELECT unnest(list_filter(string_split_regex(lower(text),
                                                     '[^a-z]+'),
                      x -> x <> '')) AS value
        FROM documents
    ),
    ex AS MATERIALIZED (
        SELECT value, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM tk GROUP BY value
    ),
    top AS (
        SELECT value, exact_cnt FROM (
            SELECT *, row_number() OVER (ORDER BY exact_cnt DESC, value)
                   AS rn FROM ex) WHERE rn <= 20
    ),
    cnts AS MATERIALIZED (
        SELECT lane, pos, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT u.lane,
                   CAST(concat('0x', substr(md5(value), 4 * u.lane + 1, 4))
                        AS BIGINT) % {sketch.CMS_W} AS pos
            FROM tk, (SELECT unnest(range(0, {sketch.CMS_D})) AS lane) u)
        GROUP BY 1, 2
    ),
    pr AS (
        SELECT t.value, t.exact_cnt, u.lane,
               CAST(concat('0x', substr(md5(t.value), 4 * u.lane + 1, 4))
                    AS BIGINT) % {sketch.CMS_W} AS pos
        FROM top t, (SELECT unnest(range(0, {sketch.CMS_D})) AS lane) u
    )
    SELECT p.value, p.exact_cnt,
           CAST(min(c.cnt) AS BIGINT) AS cms_estimate,
           CAST(min(c.cnt) - p.exact_cnt AS BIGINT) AS overestimate
    FROM pr p JOIN cnts c ON p.lane = c.lane AND p.pos = c.pos
    GROUP BY 1, 2
    """,
)
def q_cms_token_heavy_hitters(spark, sf_dir):
    """Sketch family (r5, with kmv_distinct_parts): Count-Min heavy
    hitters over the corpus token stream — 4 lanes × 2048 counters
    (disjoint 16-bit md5 slices, the Bloom-lane recipe), estimate =
    min over lanes, compared against the exact top-20 token counts
    so the driver row documents CMS's one-sided error
    (overestimate >= 0 always). The fixed-memory frequency sketch a
    100 TB token-stats pass keeps per partition and merges by
    cell-sum — verifiable where Spark's own sketches are opaque."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(ascii_tokens("text", lowercase=True)).alias("tok")
    )
    return sketch.cms_heavy_hitters(toks, "tok")


@declare(
    "kmv_jaccard_langs",
    # constants interpolate from operators.sketch (the Bloom-tuple
    # rule): k = KMV_K = 64
    f"""
    WITH tk AS (
        SELECT lang AS grp,
               unnest(list_filter(string_split_regex(lower(text),
                      '[^a-z]+'), x -> x <> '')) AS tok
        FROM documents),
    dh AS (
        SELECT DISTINCT grp,
               CAST(concat('0x', substr(md5(tok), 1, 12)) AS BIGINT) AS h
        FROM tk),
    kept AS MATERIALIZED (
        SELECT grp, h FROM (
            SELECT grp, h,
                   row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
            FROM dh) WHERE rn <= {sketch.KMV_K}),
    g AS (SELECT DISTINCT grp FROM kept),
    pairs AS (SELECT a.grp AS lang_a, b.grp AS lang_b
              FROM g a JOIN g b ON a.grp < b.grp),
    pk AS (
        SELECT p.lang_a, p.lang_b, k.h, 1 AS ia, 0 AS ib
        FROM pairs p JOIN kept k ON k.grp = p.lang_a
        UNION ALL
        SELECT p.lang_a, p.lang_b, k.h, 0 AS ia, 1 AS ib
        FROM pairs p JOIN kept k ON k.grp = p.lang_b),
    m AS (
        SELECT lang_a, lang_b, h, max(ia) AS ia, max(ib) AS ib
        FROM pk GROUP BY 1, 2, 3),
    rk AS (
        SELECT *, row_number() OVER (
            PARTITION BY lang_a, lang_b ORDER BY h) AS rn
        FROM m)
    SELECT lang_a, lang_b,
           CAST(count(*) AS BIGINT) AS k_used,
           CAST(count(*) FILTER (WHERE ia = 1 AND ib = 1) AS BIGINT)
               AS n_common,
           CAST((1000 * count(*) FILTER (WHERE ia = 1 AND ib = 1))
                // count(*) AS BIGINT) AS jaccard_milli
    FROM rk WHERE rn <= {sketch.KMV_K} GROUP BY 1, 2
    """,
)
def q_kmv_jaccard_langs(spark, sf_dir):
    """Sketch-algebra corpus overlap (r12, sketch.kmv_jaccard_pairs):
    estimated vocabulary Jaccard between every language pair from
    their KMV token sketches alone — the mixing/contamination
    question ("how much do two sources share?") answered with ONE
    corpus pass and |langs|·k sketch rows, no pairwise corpus join.
    The estimator (merged-min-k membership ratio) is deterministic
    integers end-to-end, so the ESTIMATE itself oracle-checks; the
    tests compare it against exact Jaccard on planted overlaps.
    widen_scan: the tokenize explode is the interpreted-map class."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "lang", F.explode(ascii_tokens("text", lowercase=True)).alias("tok")
    )
    return sketch.kmv_jaccard_pairs(toks, "lang", "tok")


_FP_CANON_SQL = (
    "array_to_string(list_sort(list_filter("
    "string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')), ' ')"
)


@declare(
    "incremental_dedup_audit",
    f"""
    WITH inc AS (
        SELECT doc_id + 100000 AS doc_id, text
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 200000,
               array_to_string(list_reverse(list_filter(
                   string_split_regex(text, '[^A-Za-z]+'), x -> x <> '')), ' ')
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 300000, 'brand new doc ' || text
        FROM documents WHERE doc_id % 10 = 3
        UNION ALL
        SELECT doc_id + 400000, 'brand new doc ' || text
        FROM documents WHERE doc_id % 20 = 3
    ),
    exf AS (
        SELECT fp, min(doc_id) AS ex_match FROM (
            SELECT doc_id, {_FP_CANON_SQL} AS fp FROM documents)
        GROUP BY fp
    ),
    wb AS (
        SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS batch_min
        FROM (SELECT doc_id, {_FP_CANON_SQL} AS fp FROM inc)
    )
    SELECT w.doc_id,
           CASE WHEN e.ex_match IS NOT NULL THEN 'dup_of_existing'
                WHEN w.batch_min < w.doc_id THEN 'dup_within_batch'
                ELSE 'new' END AS verdict,
           CAST(CASE WHEN e.ex_match IS NOT NULL THEN e.ex_match
                     WHEN w.batch_min < w.doc_id THEN w.batch_min
                END AS BIGINT) AS match_id
    FROM wb w LEFT JOIN exf e USING (fp)
    """,
)
def q_incremental_dedup_audit(spark, sf_dir):
    """X2 extension: incremental-ingestion dedup — classify an
    incoming batch (exact copies, token-reversed copies, genuinely
    new docs, and within-batch duplicates of the new docs) against
    the existing corpus' fingerprint index. The daily-crawl op at
    100 TB: the lake keeps one (fingerprint, min_id) row per
    distinct fingerprint and each increment probes it with one hash
    join — no re-dedup of the lake, no text movement. Fully
    oracle-checked including the existing-beats-batch priority."""
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    exact_copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    reversed_copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.reverse(ascii_tokens("text")), " ").alias("text"),
    )
    new_docs = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.lit("brand new doc "), F.col("text")).alias("text"),
    )
    batch_dups = docs.filter(F.col("doc_id") % 20 == 3).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.lit("brand new doc "), F.col("text")).alias("text"),
    )
    incoming = (
        exact_copies.unionAll(reversed_copies)
        .unionAll(new_docs)
        .unionAll(batch_dups)
    )
    return dedup.incremental_dedup_audit(docs, incoming)


@declare(
    "simhash_md5_pairs",
    f"""
    WITH {_DUP_CORPUS_SQL},
    tk AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                      x -> x <> '')) AS tok
        FROM corpus
    ),
    th AS MATERIALIZED (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(tok), 1, 12)) AS BIGINT) AS h
        FROM tk
    ),
    votes AS MATERIALIZED (
        SELECT doc_id, b.b AS b,
               CAST(sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END)
                    AS BIGINT) AS v
        FROM th, (SELECT unnest(range(0, 48)) AS b) b
        GROUP BY 1, 2
    ),
    sh AS MATERIALIZED (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
                             ELSE 0 END) AS BIGINT) AS sh
        FROM votes GROUP BY doc_id
    ),
    bands AS MATERIALIZED (
        SELECT doc_id, sh, j.band, (sh >> (12 * j.band)) & 4095 AS bkey
        FROM sh, (SELECT unnest(range(0, 4)) AS band) j
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
    """,
)
def q_simhash_md5_pairs(spark, sf_dir):
    """X2: engine-portable SimHash near-dup pairs — 48-bit
    sign-sum over md5 token hashes, 4×12-bit banded pigeonhole,
    exact bit_count verify. With this, EVERY LSH family in the
    engine (SRP, MinHash, SimHash here) has a fully
    oracle-checked deterministic twin beside its seeded flagship."""
    return dedup.simhash_md5_pairs(_dup_corpus(spark, sf_dir))


# md5-portable MinHash oracle fragments: shingle → 48-bit md5
# base hash mod 2^31-1 → 32 affine permutation mins. The constants
# VALUES table and the Spark expressions share one generator
# (dedup.minhash_md5_consts).
_MH_CONSTS_SQL = "consts(i, a, b) AS (VALUES " + ", ".join(
    f"({i}, {a}, {b})"
    for i, (a, b) in enumerate(dedup.minhash_md5_consts(32))
) + ")"


def _mh_mins_sql(src: str) -> str:
    """CTE chain src → mins(doc_id, i, h): tokens, distinct 3-gram
    shingles (the ngram_jaccard-proven fragment), md5 base hash,
    affine permutation mins."""
    return f"""
    mtok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM {src}
    ),
    mshg AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                    THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                        for i in generate_series(1, len(t)-2)])
                    ELSE [coalesce(array_to_string(t, ' '), '')] END AS s
        FROM mtok
    ),
    mhb AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(sh), 1, 12)) AS BIGINT)
                 % 2147483647 AS h
        FROM (SELECT doc_id, unnest(s) AS sh FROM mshg)
    ),
    {_MH_CONSTS_SQL},
    mins AS MATERIALIZED (
        SELECT doc_id, c.i AS i,
               CAST(min((h * c.a + c.b) % 2147483647) AS BIGINT) AS h
        FROM mhb CROSS JOIN consts c
        GROUP BY 1, 2
    )"""


@declare(
    "minhash_md5_signatures",
    "WITH "
    + _mh_mins_sql("documents")
    + """
    SELECT doc_id, CAST(i AS INTEGER) AS perm, h FROM mins
    """,
)
def q_minhash_md5_signatures(spark, sf_dir):
    """X2: engine-portable MinHash signatures, fully oracle-checked —
    the winnowing/SRP md5-portability recipe applied to MinHash
    itself (base hash = 48-bit md5 prefix, 32 deterministic affine
    permutations mod 2^31-1). The xxhash64 flagship stays the cheap
    gate entry (rows-only by design); this twin proves the signature
    math itself replays bit-for-bit in a second engine. widen_scan:
    md5-per-shingle + 32 mins is a map-heavy JVM stage (the PQ
    widen rule)."""
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return dedup.minhash_md5_signatures(docs)


@declare(
    "minhash_md5_pairs",
    f"""
    WITH {_DUP_CORPUS_SQL},
    {_mh_mins_sql("corpus").lstrip()},
    bnd AS MATERIALIZED (
        SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
               string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bkey
        FROM mins GROUP BY 1, 2
    ),
    capped AS (
        SELECT doc_id, band, bkey FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz
            FROM bnd) WHERE bsz <= 1000
    ),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_bands
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b, c.n_bands,
           CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x)))
                AS BIGINT) AS inter_size,
           CAST(len(list_distinct(list_concat(sa.s, sb.s)))
                AS BIGINT) AS union_size
    FROM cand c JOIN mshg sa ON sa.doc_id = c.id_a
                JOIN mshg sb ON sb.doc_id = c.id_b
    """,
)
def q_minhash_md5_pairs(spark, sf_dir):
    """X2: the ENTIRE MinHash-LSH near-dup pipeline oracle-checked
    end-to-end — banded candidates (8 bands × 4 rows, portable
    ','-joined band keys), window-count bucket cap, and the exact
    integer shingle |∩|/|∪| verify on survivors. Everything the
    xxhash64 flagship does probabilistically, replayed bit-for-bit
    in DuckDB on the planted-dup corpus."""
    return dedup.minhash_md5_pairs(_dup_corpus(spark, sf_dir))


@declare(
    "repetition_stats",
    """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 300000, text || ' ' || text
        FROM documents WHERE doc_id % 20 = 0
    ),
    tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM corpus
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                    THEN [array_to_string(t[i:i+2], ' ')
                          for i in generate_series(1, len(t)-2)]
                    ELSE CAST([] AS VARCHAR[]) END AS grams
        FROM tok
    )
    SELECT doc_id,
           len(grams) AS n_ngrams,
           len(list_distinct(grams)) AS n_distinct,
           CASE WHEN len(grams) > 0
                THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                     / len(grams)
                ELSE 0.0 END AS dup_frac
    FROM g
    """,
)
def q_repetition_stats(spark, sf_dir):
    """X4 Gopher-style repetition rule: duplicate-3-gram fraction per
    doc. The corpus adds a doubled copy (text||' '||text) of every
    20th doc so the high-dup branch is actually exercised — doubled
    docs land near dup_frac ≈ 0.5."""
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    doubled = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat_ws(" ", "text", "text").alias("text"),
    )
    return textstats.repetition_stats(docs.unionAll(doubled))


@declare(
    "tfidf_top_terms",
    """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    ex AS (SELECT doc_id, unnest(t) AS term FROM tok),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf_cnt FROM ex GROUP BY 1, 2),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    scored AS (
        SELECT doc_id, term, tf_cnt, df,
               CAST(tf_cnt AS DOUBLE)
               * ((n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
               AS score
        FROM tf JOIN dfq USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tf_cnt, df, score, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term) AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
)
def q_tfidf_top_terms(spark, sf_dir):
    """X4: top-3 characteristic terms per doc by tf·idf with the
    rational (log-free) BM25 idf — bit-stable across engines where
    ln() is not (last-ulp libm differences; queries_scalar.py)."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.tfidf_terms(docs, k=3)


# Winnowing (MOSS) shares its gram/window pipeline between the audit
# and overlap oracles: character 5-grams over the canon text, md5-hex
# portable hashes, key = h*2^22 + (2^22-1-pos) for the rightmost-min
# tie-break, min over w=4 trailing keys, selected where key equals the
# max of the w leading window-minima. MATERIALIZED per the repo's
# multiply-read-CTE rule.
_WINNOW_SEL_SQL = """
    g AS MATERIALIZED (
      SELECT doc_id, n, j,
             hh * 4194304 + (4194303 - j) AS key, hh
      FROM (
        SELECT doc_id, n, j,
               CAST(concat('0x', substr(md5(substr(c, CAST(j AS INTEGER), 5)),
                                        1, 8)) AS BIGINT) AS hh
        FROM (
          SELECT doc_id, c, len(c) - 4 AS n,
                 unnest(generate_series(1, len(c) - 4)) AS j
          FROM (SELECT doc_id,
                       substr(lower(regexp_replace(text, '[^A-Za-z0-9]',
                                                   '', 'g')),
                              1, 4194303) AS c
                FROM documents)
          WHERE len(c) >= 5
        )
      )
    ),
    me AS MATERIALIZED (
      SELECT doc_id, n, j, hh, key,
             min(key) OVER (PARTITION BY doc_id ORDER BY j
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS me
      FROM g
    ),
    sel AS MATERIALIZED (
      SELECT doc_id, n, hh FROM (
        SELECT doc_id, n, hh, key,
               max(me) OVER (PARTITION BY doc_id ORDER BY j
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sm
        FROM me
      ) WHERE key = sm
    )
"""


@declare(
    "winnow_fingerprint_audit",
    f"""
    WITH {_WINNOW_SEL_SQL},
    sel_d AS MATERIALIZED (SELECT DISTINCT doc_id, n, hh FROM sel)
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_grams,
           CAST(count(*) AS BIGINT) AS n_fp,
           CAST(bit_xor(hh) AS BIGINT) AS fp_xor,
           CAST(sum(hh) AS BIGINT) AS fp_sum,
           CAST(min(hh) AS BIGINT) AS fp_min,
           CAST(max(hh) AS BIGINT) AS fp_max
    FROM sel_d GROUP BY doc_id
    """,
)
def q_winnow_audit(spark, sf_dir):
    """X4/X2: winnowing document fingerprints (Schleimer/Wilkerson/
    Aiken SIGMOD 2003, the MOSS algorithm) — declared as the map-side
    per-doc audit (count/xor/sum/min/max of the distinct selected
    hashes), which pins the exact fingerprint *set* content without
    shuffling a single fingerprint row. md5-derived gram hashes make
    it fully oracle-checkable — the upgrade over the rows-only
    xxhash64 doc_fingerprints entry."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.winnow_audit(docs)


@declare(
    "winnow_overlap_pairs",
    f"""
    WITH {_WINNOW_SEL_SQL},
    sel_d AS MATERIALIZED (SELECT DISTINCT doc_id, hh FROM sel),
    kept AS MATERIALIZED (
      SELECT doc_id, hh FROM (
        SELECT doc_id, hh, count(*) OVER (PARTITION BY hh) AS dfh
        FROM sel_d
      ) WHERE dfh <= 32
    ),
    nk AS MATERIALIZED (
      SELECT doc_id, count(*) AS n_kept FROM kept GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM kept a JOIN kept b ON a.hh = b.hh AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT doc_a, doc_b, n_shared,
           CAST(n_shared AS DOUBLE) / least(na.n_kept, nb.n_kept)
           AS containment
    FROM pairs
    JOIN nk na ON doc_a = na.doc_id
    JOIN nk nb ON doc_b = nb.doc_id
    WHERE CAST(n_shared AS DOUBLE) / least(na.n_kept, nb.n_kept) >= 0.8
    """,
)
def q_winnow_overlap(spark, sf_dir):
    """X2: MOSS-style overlap pairs over the winnowing fingerprints —
    document-frequency-capped (df ≤ 32) fingerprint self-join, pairs
    sharing ≥ 3 fingerprints at containment ≥ 0.8. The df cap bounds
    candidate volume at O(n_fp · max_df) — never all-pairs — which is
    what makes this the 100 TB-shaped exact-overlap path."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return dedup.winnow_overlap_pairs(docs)


def _srp_sig_sql(bands: int, bits: int) -> str:
    """CTE block reproducing similarity.srp_signatures(bands, bits)
    exactly: fixed-point components, md5(band:bit:d)-derived ±1
    planes, integer projections, bit-packed buckets. Ends with a
    ``sig(vec_id, band, bucket)`` CTE."""
    return f"""
    xq AS MATERIALIZED (
      SELECT vec_id, i - 1 AS d,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                  AS BIGINT) AS xq
      FROM (SELECT vec_id, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)
    ),
    grid AS MATERIALIZED (
      SELECT b.band, t.bit, d.d,
             CASE WHEN CAST(concat('0x', substr(md5(
                          CAST(b.band AS VARCHAR) || ':' ||
                          CAST(t.bit AS VARCHAR) || ':' ||
                          CAST(d.d AS VARCHAR)), 1, 1)) AS INTEGER)
                       % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM (SELECT unnest(generate_series(0, {bands - 1})) AS band) b,
           (SELECT unnest(generate_series(0, {bits - 1})) AS bit) t,
           (SELECT unnest(generate_series(0, 63)) AS d) d
    ),
    proj AS MATERIALIZED (
      SELECT x.vec_id, g.band, g.bit, sum(x.xq * g.s) AS p
      FROM xq x JOIN grid g ON x.d = g.d
      GROUP BY 1, 2, 3
    ),
    sig AS MATERIALIZED (
      SELECT vec_id, CAST(band AS INTEGER) AS band,
             CAST(sum(CASE WHEN p > 0 THEN 1 << bit ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM proj GROUP BY 1, 2
    )
    """


@declare(
    "srp_signatures",
    f"""
    WITH {_srp_sig_sql(8, 16)}
    SELECT vec_id, band, bucket FROM sig
    """,
)
def q_srp_signatures(spark, sf_dir):
    """X2/X3: banded signed-random-projection LSH signatures — the
    non-quadratic semantic near-dup CANDIDATE GENERATOR, itself
    oracle-checked row by row. The hyperplanes are md5-derived ±1
    vectors (the winnowing portable-hash trick applied to SRP), the
    projections exact fixed-point integer sums, so unlike the
    xxhash64-seeded MinHash/LSH family the whole banding computation
    hash-matches a DuckDB replay. 8 bands × 16 bits — the documented
    100 TB semantic-dedup regime (SCALE.md); srp_near_pairs feeds
    these buckets into the exact cosine verify + keep/drop fold."""
    emb = widen_scan(load_table(spark, sf_dir, "embeddings"))
    return similarity.srp_signatures(emb, bands=8, bits=16, dim=64)


@declare(
    "semantic_dedup_srp",
    f"""
    WITH {_FX_NORMS_SQL},
    {_srp_sig_sql(8, 8)},
    cand AS MATERIALIZED (
      SELECT DISTINCT sa.vec_id AS id_a, sb.vec_id AS id_b
      FROM sig sa JOIN sig sb
        ON sa.band = sb.band AND sa.bucket = sb.bucket
       AND sa.vec_id < sb.vec_id
    ),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b
      FROM cand
      JOIN norms a ON a.vec_id = id_a
      JOIN norms b ON b.vec_id = id_b
      WHERE {_FX_DOT_SQL} / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) > 0.4
    ),
    membership AS (
        SELECT id, count(*) AS n_near FROM (
            SELECT id_a AS id FROM pairs
            UNION ALL
            SELECT id_b AS id FROM pairs
        ) GROUP BY id
    ),
    dropped AS (SELECT DISTINCT id_b AS id FROM pairs)
    SELECT d.doc_id, d.lang,
           COALESCE(m.n_near, 0) AS n_near,
           (dr.id IS NULL) AS kept
    FROM documents d
    LEFT JOIN membership m ON m.id = d.doc_id
    LEFT JOIN dropped dr ON dr.id = d.doc_id
    """,
)
def q_semantic_dedup_srp(spark, sf_dir):
    """X2: the semantic-dedup scale path END-TO-END with an oracle —
    SRP bucket collisions generate candidates (never all-pairs), the
    exact fixed-point cosine verifies them, the shared min-id
    keep/drop fold decides. Unlike semantic_dedup (bounded O(n²)
    subset) this runs the FULL corpus, and unlike semantic_dedup_lsh
    (xxhash64 MinHash candidates, rows-only) every stage is
    deterministic, so the whole pipeline hash-matches the DuckDB
    replay. Gate banding is 8 bands × 8 bits at threshold 0.4 — the
    permissive setting the near-orthogonal fixture needs to surface
    candidates at cos ~0.4 (14 verified pairs at sf0.01; ~24% recall
    of the exact 0.4-pairs, the documented banding trade-off at low
    thresholds); the 100 TB regime stays 8×16 at cos 0.85
    (srp_signatures, SCALE.md)."""
    emb = widen_scan(load_table(spark, sf_dir, "embeddings"))
    docs = load_table(spark, sf_dir, "documents")
    pairs = similarity.srp_near_pairs(
        emb, threshold=0.4, bands=8, bits=8
    ).select("id_a", "id_b")
    return _semantic_keep_drop(docs, pairs)


# ------------------------------------------------- pipeline (splits etc.)

@declare(
    "dataset_split",
    """
    SELECT doc_id,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS BIGINT) % 100 AS b
        FROM documents
    )
    """,
)
def q_dataset_split(spark, sf_dir):
    """Content-stable train/val/test assignment: split is a pure
    function of md5(doc_id), so growing the corpus never moves an
    existing doc between splits — the property an incremental 100 TB
    pipeline needs (no randomness, no row-order dependence)."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.dataset_split(docs).select("doc_id", "split")


@declare(
    "token_balanced_shards",
    """
    WITH k AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(lower(text),
                                                       '[^a-z]+'),
                        x -> x <> '')) AS BIGINT) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS sk
        FROM documents),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(row_number() OVER (ORDER BY sk, doc_id) - 1 AS BIGINT)
                 AS shuffle_pos,
               CAST(sum(n_tokens) OVER (ORDER BY sk, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens,
               CAST(sum(n_tokens) OVER () AS BIGINT) AS total
        FROM k)
    SELECT doc_id, n_tokens, shuffle_pos, cum_tokens,
           CAST((greatest(cum_tokens, 1) - 1)
                // greatest((total + 15) // 16, 1) AS BIGINT) AS shard
    FROM c
    """,
)
def q_token_balanced_shards(spark, sf_dir):
    """Final dataset-writer sharding (r7,
    pipeline.token_balanced_shards): every document assigned to one
    of 16 output shards balanced by TOKEN mass in the deterministic
    md5 shuffle order — equal-work pretraining shards, rerun-stable.
    Spark side uses the corpus_shuffle distributed-ranking trick
    extended to WEIGHTED cumsum (4096 md5 buckets, in-bucket windows,
    a 4096-row token prefix-sum broadcast back — no global window);
    the oracle is the naive global running sum, so the decomposition
    is proven exact, shuffle_pos and cum_tokens included."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.token_balanced_shards(docs, n_shards=16)


@declare(
    "length_bucket_batches",
    """
    WITH k AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(lower(text),
                                                       '[^a-z]+'),
                        x -> x <> '')) AS BIGINT) AS len,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
    b AS (
        SELECT len,
               CAST(len // 16 AS BIGINT) AS length_bucket,
               CAST((row_number() OVER (PARTITION BY len // 16
                                        ORDER BY h, doc_id) - 1) // 8
                    AS BIGINT) AS batch_id
        FROM k)
    SELECT length_bucket, batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(len) AS BIGINT) AS max_len,
           CAST(sum(len) AS BIGINT) AS sum_len,
           CAST(count(*) * max(len) - sum(len) AS BIGINT) AS padding_waste
    FROM b GROUP BY 1, 2
    """,
)
def q_length_bucket_batches(spark, sf_dir):
    """Length-bucketed batch construction (r7,
    pipeline.length_bucket_batches): documents grouped into 16-token
    length buckets and batched 8 at a time in md5 order — the
    padding-efficiency step of serving/training loaders, with the
    per-batch waste Σ(max_len − len) as a measured output. One map
    pass + one bucket-partitioned window + one partial agg."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.length_bucket_batches(
        docs, batch_size=8, bucket_width=16
    )


@declare(
    "fim_transform_docs",
    """
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    cuts AS (
        SELECT doc_id, t,
               CAST(('0x' || substr(h, 1, 4)) AS BIGINT) % 100 < 50 AS pick,
               CAST(('0x' || substr(h, 13, 1)) AS BIGINT) % 2 = 1 AS spm,
               CAST(CAST(('0x' || substr(h, 5, 4)) AS BIGINT)
                    % (len(t) + 1) AS INTEGER) AS c1
        FROM base
    ),
    cuts2 AS (
        SELECT doc_id, t, pick, spm, c1,
               CAST(c1 + CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                              9, 4)) AS BIGINT)
                    % (len(t) - c1 + 1) AS INTEGER) AS c2
        FROM cuts
    )
    SELECT doc_id,
           CASE WHEN NOT pick THEN 'plain'
                WHEN spm THEN 'spm' ELSE 'psm' END AS fim_mode,
           -- an empty DuckDB slice stringifies to NULL, Spark's
           -- array_join to '' — coalesce every slice join
           CASE WHEN NOT pick THEN coalesce(array_to_string(t, ' '), '')
                ELSE coalesce(array_to_string(t[1:c1], ' '), '')
                END AS prefix,
           CASE WHEN NOT pick THEN ''
                ELSE coalesce(array_to_string(t[c1+1:c2], ' '), '')
                END AS middle,
           CASE WHEN NOT pick THEN ''
                ELSE coalesce(array_to_string(t[c2+1:len(t)], ' '), '')
                END AS suffix,
           CAST(len(t) AS BIGINT) AS n_tokens
    FROM cuts2
    """,
)
def q_fim_transform_docs(spark, sf_dir):
    """Fill-in-the-middle transform (r7, pipeline.fim_transform;
    Bavarian et al. 2022): a deterministic 50% of documents split
    into (prefix, middle, suffix) at md5-derived token cut points and
    tagged psm/spm for the downstream packer — the code-LLM data
    op. Pure function of (doc_id, text): stable under reruns and
    corpus growth (the dataset_split contract), map-only, zero
    shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.fim_transform(docs)


@declare(
    "span_corruption_docs",
    """
    WITH tl AS MATERIALIZED (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents),
    sp AS MATERIALIZED (
        SELECT doc_id, t,
               list_transform(
                   list_filter(
                       [{'j': j,
                         'h': CAST(concat('0x',
                                 substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                            || CAST(j AS VARCHAR)), 1, 12))
                              AS BIGINT)}
                        for j in generate_series(0, len(t) // 8 - 1)],
                       b -> b.h % 4 = 0),
                   b -> CAST(b.j * 8 + (b.h // 4) % 6 AS BIGINT)) AS sp
        FROM tl)
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(sp) AS BIGINT) AS n_spans,
           CAST(3 * len(sp) AS BIGINT) AS n_masked,
           coalesce(array_to_string(
               list_filter(
                   [CASE
                        -- list_position returns 0 on a miss (NOT
                        -- NULL — found the hard way)
                        WHEN list_position(sp, CAST(p - 1 AS BIGINT)) > 0
                        THEN '<extra_id_'
                             || CAST(list_position(sp, CAST(p - 1 AS BIGINT))
                                     - 1 AS VARCHAR) || '>'
                        WHEN len(list_filter(sp,
                                 s -> p - 1 >= s AND p - 1 < s + 3)) > 0
                        THEN NULL
                        ELSE t[p]
                    END for p in generate_series(1, len(t))],
                   x -> x IS NOT NULL), ' '), '') AS inputs_text,
           CASE WHEN len(sp) > 0
                THEN array_to_string(
                    ['<extra_id_' || CAST(k - 1 AS VARCHAR) || '> '
                     || coalesce(array_to_string(
                            t[CAST(sp[k] + 1 AS INT)
                              :CAST(sp[k] + 3 AS INT)], ' '), '')
                     for k in generate_series(1, len(sp))], ' ') || ' '
                ELSE '' END
           || '<extra_id_' || CAST(len(sp) AS VARCHAR) || '>'
             AS targets_text
    FROM sp
    """,
)
def q_span_corruption_docs(spark, sf_dir):
    """T5 span-corruption transform (r8, pipeline.span_corruption;
    Raffel et al. 2020): deterministic md5-selected 3-token spans
    (1/4 of full 8-token blocks) collapsed to <extra_id_k> sentinels
    in inputs, enumerated with their hidden tokens in targets — the
    DENOISING pretraining objective next to fim_transform's
    infilling. Pure array-local column expressions: no explode, no
    shuffle; the full (inputs, targets) text oracle-checks."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.span_corruption(docs)


@declare(
    "mixture_sample",
    """
    SELECT doc_id, source
    FROM (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS BIGINT) % 1000 AS b,
               CASE CAST(substr(source, 4) AS INT) % 4
                    WHEN 0 THEN 1000 WHEN 1 THEN 500
                    WHEN 2 THEN 250 ELSE 100 END AS rate
        FROM documents
    ) WHERE b < rate
    """,
)
def q_mixture_sample(spark, sf_dir):
    """Domain-mixture sampling: per-source keep rates (100%/50%/25%/10%
    by source index mod 4) applied via the stable hash bucket — a pure
    filter, no shuffle, deterministic across engines and re-runs."""
    docs = load_table(spark, sf_dir, "documents")
    idx = F.substring("source", 4, 8).cast("int")
    rate = (
        F.when(idx % 4 == 0, 1000)
        .when(idx % 4 == 1, 500)
        .when(idx % 4 == 2, 250)
        .otherwise(100)
    )
    return pipeline.mixture_sample(docs, rate).select("doc_id", "source")


@declare(
    "sequence_chunks",
    """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    ex AS (
        SELECT doc_id, t,
               unnest(generate_series(0,
                   CAST(ceil(len(t) / 32.0) AS INT) - 1)) AS chunk_id
        FROM tok WHERE len(t) > 0
    )
    SELECT doc_id, chunk_id,
           len(t[chunk_id * 32 + 1 : chunk_id * 32 + 32]) AS n_tokens,
           sha256(array_to_string(
               t[chunk_id * 32 + 1 : chunk_id * 32 + 32], ' ')) AS chunk_hash
    FROM ex
    """,
)
def q_sequence_chunks(spark, sf_dir):
    """Pre-training packing unit: 32-token windows per document (small
    enough that fixture docs span several chunks, exercising tails),
    content pinned by sha256 so the compare never ships chunk text.
    Map-side only (tokenize → slice → explode), zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.sequence_chunks(docs, chunk_size=32)


@declare(
    "sliding_chunks_docs",
    """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    ex AS (
        SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 16)) AS s
        FROM tok WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST(s // 16 AS INTEGER) AS chunk_id,
           CAST(s AS INTEGER) AS start_tok,
           CAST(len(t[s+1:s+32]) AS INTEGER) AS n_tokens,
           sha256(coalesce(array_to_string(t[s+1:s+32], ' '), ''))
             AS chunk_hash
    FROM ex
    """,
)
def q_sliding_chunks_docs(spark, sf_dir):
    """RAG-index chunking (r7, pipeline.sliding_chunks): OVERLAPPING
    32-token windows at stride 16 — every token appears in two
    chunks, so no retrieval boundary splits a span (the embedding-
    index preparation step next to sequence_chunks' disjoint training
    windows). Content pinned by sha256; map-side only, zero
    shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.sliding_chunks(docs, size=32, stride=16)


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+\d{1,2}-\d{3}-\d{4}"

@declare(
    "pii_scrub_audit",
    f"""
    WITH synth AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0
                    THEN text || ' Contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or call +1-555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         || ' now'
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
           length(text) - length(
               regexp_replace(
                   regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g')) AS removed_chars,
           sha256(regexp_replace(
                   regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g')) AS clean_hash
    FROM synth
    """,
)
def q_pii_scrub(spark, sf_dir):
    """PII redaction audit over a corpus with deterministic synthetic
    emails/phones on every 10th doc (fixtures carry none). clean_hash
    = sha256 of the scrubbed text proves byte-exact redaction across
    engines; patterns are RE2-compatible so Java regex and DuckDB
    agree. One map pass — the 100 TB shape for corpus scrubbing."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    synth = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" now"),
        ),
    ).otherwise(F.col("text"))
    return pipeline.pii_scrub(docs.select("doc_id", synth.alias("text")))


# ------------------------------------------- rows-only declared (no oracle)

@declare("minhash_lsh_pairs")
def q_minhash(spark, sf_dir):
    """X2: MinHash-LSH candidate pairs (xxhash64 seeds — engine hash,
    property-tested vs exact Jaccard in tests/test_dedup.py)."""
    return dedup.minhash_lsh_pairs(_dup_corpus(spark, sf_dir))


@declare("simhash_pairs")
def q_simhash(spark, sf_dir):
    """X2: SimHash near-dup pairs within hamming distance 3."""
    return dedup.simhash_pairs(_dup_corpus(spark, sf_dir))


@declare("topk_cosine_lsh")
def q_topk_lsh(spark, sf_dir):
    """X3 scale path: hyperplane-LSH ANN top-5 (recall property-tested
    vs exact in tests/test_similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return similarity.topk_cosine_lsh(emb, queries, k=5)


@declare("doc_fingerprints")
def q_doc_fp(spark, sf_dir):
    """X4: order-sensitive rolling-hash document fingerprints."""
    return textstats.doc_fingerprint(load_table(spark, sf_dir, "documents"))


# The session cache of every artifact a declared serving entry builds
# once and then serves from: the IVF and BM25 indexes, the eval truth
# sets written next to the BM25 index, the PQ codebooks + checkpointed
# codes, the BPE and unigram trainings, and the fixture query-term
# frames. Built per call, the IVF index alone cost 19.0 s one-shot vs
# 1.2 s served at sf0.1; in a deployment the index is a persisted path
# built once (SCALE.md), which this cache mirrors for one session.
# Keyed by (kind, sf_dir, ...); each value holds the session that built
# it, compared by identity — an id()-based key can collide once a
# stopped session is collected and its address reused, and the held
# session cannot. An entry from any other session is replaced, which
# releases its JVM-backed checkpointed frames.
_SESSION_CACHE: dict[tuple, tuple] = {}


def _cached(spark, key: tuple, build):
    """The artifact ``build()`` made for ``key`` in this session: built
    on the first call, served to the same session after that."""
    hit = _SESSION_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    _SESSION_CACHE.pop(key, None)
    got = build()
    _SESSION_CACHE[key] = (spark, got)
    return got


def _serve(spark, key: tuple, build, use):
    """``use(artifact)`` for the cached served index (or at-rest path)
    of ``key``. A cached path that died mid-session (e.g. /tmp reaped)
    is the one failure that earns a rebuild: the entry is dropped,
    rebuilt once and served again. Any other error is a genuine
    query-path bug and propagates, with the cached entry untouched."""
    art = _cached(spark, key, build)
    try:
        return use(art)
    except Exception as e:
        if not _dead_index_path(e, getattr(art, "path", art)):
            raise
        import sys

        print(
            f"{key[0]} serve: cached path dead "
            f"({type(e).__name__}: {e}); rebuilding",
            file=sys.stderr,
        )
        del _SESSION_CACHE[key]
        return use(_cached(spark, key, build))


@declare("topk_cosine_ivf")
def q_topk_ivf(spark, sf_dir):
    """X3 scale path (2): IVF-partitioned ANN top-5, served from the
    cell-partitioned index (recall property-tested vs exact in
    tests/test_similarity.py; partition pruning in tests/test_plans.py).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return _serve(
        spark,
        ("ivf", sf_dir),
        lambda: similarity.IVFIndex.build(emb, _ivf_tmpdir()),
        lambda idx: idx.query(queries, k=5, n_probe=6),
    )


def _dead_index_path(e: Exception, path: str | None = None) -> bool:
    """True iff ``e`` looks like a reaped/missing served-index path —
    the ONLY failure the cached-index recovery paths should mask with
    a rebuild (a bare except here would hide genuine query-path
    bugs behind an expensive rebuild-and-retry whose second failure
    surfaces far from the root cause). Matches FileNotFound /
    path-not-exist shapes from both the JVM (AnalysisException,
    Py4JJavaError wrapping FileNotFoundException) and the OS."""
    if isinstance(e, FileNotFoundError):
        return True
    msg = f"{type(e).__name__}: {e}"
    needles = (
        "PATH_NOT_FOUND",
        "FileNotFoundException",
        "No such file or directory",
        # the legacy Spark dead-path form, kept SPECIFIC: a bare
        # "does not exist" also matches catalog errors ("Table or
        # view ... does not exist") and would re-mask genuine bugs
        # behind a rebuild
        "Path does not exist",
    )
    if any(n in msg for n in needles):
        return True
    # "Unable to infer schema" also fires when a genuine bug writes an
    # EMPTY index dir. Spark 4's UNABLE_TO_INFER_SCHEMA message
    # carries NO path (a substring check on the message can never
    # match), so callers pass the path they attempted and we probe
    # the filesystem. Granularity matters: a served index is a ROOT
    # of component subdirs (cells/ postings/ df/ dl/ ...), and a
    # reaper can empty one component while another keeps files — so
    # the probe is per-component: dead iff the root is missing/empty or ANY
    # component subdir holds no parquet file. A successful parquet
    # write — even of a 0-row frame — always leaves a schema-bearing
    # part file, so "no parquet anywhere in a component" is a reaper
    # artifact, not a reachable bug state; any other read failure
    # propagates.
    if "Unable to infer schema" in msg and path is not None:
        import os

        if not os.path.isdir(path):
            return True
        entries = sorted(os.listdir(path))
        if not entries:
            return True

        def has_parquet(d: str) -> bool:
            for _root, _dirs, files in os.walk(d):
                if any(f.endswith(".parquet") for f in files):
                    return True
            return False

        # Probe only the KNOWN component subdirs for the index type:
        # a root-level walk over ALL subdirs let a
        # crashed/partial write of a SIBLING artifact (eval_truth
        # lives under the BM25 root) classify a healthy index as dead
        # — silently rebuilding and masking a genuine query-path bug.
        # The index type is in the tmpdir prefix (_ivf_tmpdir names).
        base = os.path.basename(os.path.normpath(path))
        comps: tuple[str, ...] | None = None
        for prefix, c in _INDEX_COMPONENTS.items():
            if base.startswith(prefix):
                comps = c
                break
        if comps is not None:
            return not all(
                has_parquet(os.path.join(path, comp)) for comp in comps
            )
        # leaf dir (part files live directly here, e.g. eval_truth):
        # dead iff no parquet file sits at this level
        return not any(
            e.endswith(".parquet")
            for e in entries
            if os.path.isfile(os.path.join(path, e))
        )
    return False


# Component subdirs a healthy served index MUST hold (keyed by the
# _ivf_tmpdir prefix that names each index type). A successful
# parquet write — even 0 rows — always leaves a schema-bearing part
# file in each of these; extraneous sibling dirs (eval_truth, scratch)
# are deliberately NOT probed.
_INDEX_COMPONENTS: dict[str, tuple[str, ...]] = {
    "mrgo_bm25_idx_": ("postings", "df", "dl", "scalars", "meta"),
    "mrgo_ivf_idx_": ("cells", "centroids"),
}


def _ivf_tmpdir(prefix: str = "mrgo_ivf_idx_") -> str:
    """mkdtemp for a served-index cache, registered for atexit
    removal so long-lived sessions don't leak index dirs."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


@declare(
    "sequence_packing",
    """
    WITH base AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS BIGINT) % 64 AS pack_group,
               len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                               x -> x <> '')) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, pack_group, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM base WHERE n_tokens > 0
    )
    SELECT doc_id,
           CAST(pack_group AS BIGINT) AS pack_group,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS tok_offset,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS seq_pos,
           CAST((cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS BIGINT)
               AS n_seqs
    FROM c
    """,
)
def q_sequence_packing(spark, sf_dir):
    """Pretraining sequence packing (concat-and-cut at 512 tokens,
    64 md5-stable pack groups): per-doc placement in the packed token
    stream. The per-group window cumsum is the whole cost — one
    shuffle on pack_group, partition-local sort, no global ordering
    anywhere (the property that holds at 1000 executors)."""
    return pipeline.sequence_pack(load_table(spark, sf_dir, "documents"))


@declare(
    "corpus_prep",
    r"""
    WITH base AS (
        SELECT doc_id, text, lang,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t,
               length(text) AS n_chars
        FROM documents
    ),
    m AS (
        SELECT doc_id, text, lang,
               len(t) AS n_tokens,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                   / greatest(n_chars, 1) AS letter_ratio,
               CASE WHEN len(t) > 0
                    THEN CAST(coalesce(list_sum([length(x) for x in t]), 0)
                              AS DOUBLE) / len(t)
                    ELSE 0.0 END AS mean_word_len,
               CAST(len(list_filter(t,
                    x -> x IN ('the','and','of','to','is','in','that'))) AS DOUBLE)
                   / greatest(len(t), 1) AS stopword_ratio
        FROM base
    ),
    kept AS (
        SELECT doc_id, text, lang, n_tokens FROM m
        WHERE n_tokens BETWEEN 10 AND 100000
          AND letter_ratio >= 0.6
          AND mean_word_len BETWEEN 2.0 AND 12.0
          AND stopword_ratio > 0.0
    ),
    deduped AS (
        SELECT doc_id, lang, n_tokens FROM (
            SELECT doc_id, lang, n_tokens,
                   row_number() OVER (
                       PARTITION BY array_to_string(list_sort(list_filter(
                           string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '')), ' ')
                       ORDER BY doc_id) AS rn
            FROM kept
        ) WHERE rn = 1
    )
    SELECT CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens
    FROM (
        SELECT lang, n_tokens,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS BIGINT) % 100 AS b
        FROM deduped
    )
    GROUP BY split, lang
    """,
)
def q_corpus_prep(spark, sf_dir):
    """The flagship end-to-end preprocessing pass a training-data
    pipeline runs nightly: quality filter (keep rules) → fingerprint
    dedup (keep min id) → stable train/val/test split → per-(split,
    lang) doc and token budget. Chains quality_score, fingerprint_dedup
    and dataset_split — each oracle-verified alone — into one declared
    plan: two shuffles total (dedup window on the fingerprint, final
    small agg); everything else is map-side."""
    docs = load_table(spark, sf_dir, "documents")
    m = textstats.quality_score(docs).join(
        docs.select("doc_id", "text", "lang"), "doc_id"
    )
    kept = m.filter(
        F.col("n_tokens").between(10, 100000)
        & (F.col("letter_ratio") >= 0.6)
        & F.col("mean_word_len").between(2.0, 12.0)
        & (F.col("stopword_ratio") > 0.0)
    ).select("doc_id", "text", "lang", "n_tokens")
    deduped = dedup.fingerprint_dedup(kept).select("doc_id", "lang", "n_tokens")
    return (
        pipeline.dataset_split(deduped)
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_tokens").cast("bigint")).alias("total_tokens"),
        )
    )


@declare(
    "line_dedup_stats",
    f"""
    WITH {_DUP_CORPUS_SQL},
    tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM corpus
    ),
    lined AS (
        SELECT doc_id,
               CASE WHEN len(t) > 0 THEN
                   [array_to_string(list_slice(t, (i-1)*12 + 1, i*12), ' ')
                    for i in generate_series(
                        1, CAST(ceil(len(t)/12.0) AS BIGINT))]
               ELSE [] END AS lines
        FROM tok
    ),
    ex AS (
        SELECT doc_id, u.pos AS pos, u.h AS line_hash
        FROM (
            SELECT doc_id,
                   unnest([{{'pos': i - 1, 'h': sha256(lines[i])}}
                           for i in generate_series(1, len(lines))]) AS u
            FROM lined
        )
    ),
    flagged AS (
        SELECT doc_id, pos, line_hash,
               row_number() OVER (PARTITION BY line_hash
                                  ORDER BY doc_id, pos) = 1 AS keep
        FROM ex
    )
    SELECT doc_id,
           COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           sha256(coalesce(
               string_agg(CASE WHEN keep THEN line_hash END, ''
                          ORDER BY pos), '')) AS kept_fingerprint
    FROM flagged
    GROUP BY doc_id
    """,
)
def q_line_dedup_stats(spark, sf_dir):
    """X2 variant (C4-style): corpus-wide line-level dedup over the
    planted-dup corpus — every 12-token line of an exact copy
    (+100000) is a repeat of the original's, so copies keep 0 lines;
    reversed copies keep most of theirs. The first-occurrence window
    shuffles line HASHES only (32 bytes/line at any line length)."""
    return dedup.line_dedup(_dup_corpus(spark, sf_dir))


@declare(
    "embedding_quantize",
    """
    WITH s AS (
        SELECT vec_id, embedding,
               greatest(list_max([abs(CAST(x AS DOUBLE)) for x in embedding]),
                        1e-12) / 127.0 AS scale
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    q AS (
        SELECT vec_id, scale,
               CAST(list_max([CAST(round(abs(CAST(x AS DOUBLE)
                        - round(CAST(x AS DOUBLE) / scale) * scale)
                        * 1000000.0) AS BIGINT)
                    for x in embedding]) AS BIGINT) AS max_err_fx,
               unnest([{'pos': i - 1,
                        'qval': CAST(round(CAST(embedding[i] AS DOUBLE)
                                           / scale) AS BIGINT)}
                       for i in generate_series(1, len(embedding))]) AS u
        FROM s
    )
    SELECT vec_id, u.pos AS pos, u.qval AS qval, scale, max_err_fx FROM q
    """,
)
def q_embedding_quantize(spark, sf_dir):
    """X3 serving compression: per-vector symmetric int8 quantization
    (declared on the vec_id % 50 subset like embedding_normalize; the
    operator is map-side over the full corpus).

    Declared in LONG form (vec_id, pos, qval, scale, max_err_fx) —
    scalar cells only, sortable by the driver's pandas canonicalizer
    (array columns fail its sort). The array-returning form
    stays the library API (similarity.quantize_embeddings).

    Plan note: per-vector scale and max_err_fx are materialized
    as columns BEFORE the explode and the per-dim qval is computed on
    scalars AFTER it — exploding quantize_embeddings' qvec array put
    the transform into the Generate's pushed-down predicates (same
    hazard as embedding_normalize; 0.91 s → ~0.2 s warm at sf0.1)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 50 == 0
    )
    x = F.col("embedding")
    absmax = F.greatest(
        F.array_max(F.transform(x, lambda v: F.abs(v.cast("double")))),
        F.lit(1e-12),
    )
    base = emb.select("vec_id", x.alias("_v"), (absmax / 127.0).alias("scale"))
    q_of = lambda v: F.round(v.cast("double") / F.col("scale"))  # noqa: E731
    staged = base.select(
        "vec_id",
        "scale",
        "_v",
        F.array_max(
            F.transform(
                "_v",
                lambda v: F.round(
                    F.abs(v.cast("double") - q_of(v) * F.col("scale")) * 1e6
                ).cast("long"),
            )
        ).alias("max_err_fx"),
    )
    return (
        staged.select(
            "vec_id", "scale", "max_err_fx", F.posexplode("_v").alias("pos", "xv")
        )
        .select(
            "vec_id",
            F.col("pos").cast("long").alias("pos"),
            F.round(F.col("xv").cast("double") / F.col("scale"))
            .cast("long")
            .alias("qval"),
            "scale",
            "max_err_fx",
        )
    )


@declare(
    "decontaminate_stats",
    """
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + 400000, 'leaked eval item follows ' || text
        FROM documents WHERE doc_id % 97 = 0
    ),
    bench AS (
        SELECT text FROM documents WHERE doc_id % 97 = 0
    ),
    tokc AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM corpus
    ),
    gc AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 8
                    THEN [array_to_string(t[i:i+7], ' ')
                          for i in generate_series(1, len(t)-7)]
                    ELSE CAST([] AS VARCHAR[]) END AS grams
        FROM tokc
    ),
    tokb AS (
        SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM bench
    ),
    gb AS (
        SELECT CASE WHEN len(t) >= 8
                    THEN [array_to_string(t[i:i+7], ' ')
                          for i in generate_series(1, len(t)-7)]
                    ELSE CAST([] AS VARCHAR[]) END AS grams
        FROM tokb
    ),
    bgl AS (
        SELECT COALESCE(list(DISTINCT g), CAST([] AS VARCHAR[])) AS bg
        FROM (SELECT unnest(grams) AS g FROM gb)
    ),
    per AS (
        SELECT doc_id,
               CAST(len(grams) AS BIGINT) AS n_grams,
               CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
               CAST(len(list_intersect(list_distinct(grams), bg)) AS BIGINT)
                   AS n_contaminated
        FROM gc, bgl
    )
    SELECT doc_id, n_grams, n_distinct, n_contaminated,
           CASE WHEN n_distinct > 0
                THEN CAST(n_contaminated AS DOUBLE) / n_distinct
                ELSE 0.0 END AS contaminated_frac,
           n_contaminated <= 0 AS keep
    FROM per
    """,
)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination audit: every 97th document plays the
    eval set; the rest of the corpus is scored by 8-gram overlap
    against it (the pre-training leakage guard — exact copies and
    near-dups of benchmark docs light up; unrelated word salad does
    not). Planted leaks (id+400000: a benchmark doc's text behind a
    noise prefix — invisible to exact dedup) must flag with
    contaminated_frac near 1. Benchmark grams broadcast; the corpus
    aggregates once by doc_id. The oracle replays tokenize → 8-grams
    → distinct-set intersection in DuckDB list algebra."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    leaked = bench.select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.lit("leaked eval item follows "), F.col("text")).alias("text"),
    )
    corpus = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", "text")
        .unionAll(leaked)
    )
    return pipeline.decontaminate(corpus, bench, n=8)


@declare(
    "corpus_shuffle_order",
    """
    SELECT doc_id, source,
           CAST(row_number() OVER (
               ORDER BY md5('epoch0' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) - 1 AS shuffle_pos
    FROM documents
    """,
)
def q_corpus_shuffle(spark, sf_dir):
    """Deterministic global training-order shuffle: every doc gets a
    stable epoch position from md5('epoch0'||id). The oracle is the
    naive single-partition ``row_number() OVER (ORDER BY md5)``; the
    engine computes the IDENTICAL positions with the distributed
    ranking decomposition (4096 hash-prefix buckets + broadcast
    prefix-sum offsets — no global window anywhere in the plan,
    asserted in tests/test_plans.py)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return pipeline.corpus_shuffle(docs, salt="epoch0").select(
        "doc_id", "source", "shuffle_pos"
    )


@declare(
    "gopher_rules_audit",
    r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x <> '') AS words,
               length(text) - length(replace(text, '#', '')) AS n_hash,
               (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell
        FROM documents
    )
    SELECT doc_id,
           CAST(len(words) AS INT) AS n_words,
           CAST(coalesce(list_aggregate(list_transform(words,
                    x -> length(x)), 'sum'), 0)
                AS DOUBLE) / greatest(len(words), 1) AS mean_word_len,
           CAST(len(list_distinct(list_filter(words,
               x -> x IN ('the','be','to','of','and','that','have','with')
           ))) AS INT) AS n_stop_distinct,
           CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                AS DOUBLE) / greatest(len(words), 1) AS alpha_word_frac,
           CAST(n_hash + n_ell AS DOUBLE) / greatest(len(words), 1)
               AS symbol_word_ratio,
           CAST(len(words) BETWEEN 50 AND 100000
                AND (CAST(coalesce(list_aggregate(list_transform(words,
                         x -> length(x)), 'sum'), 0)
                      AS DOUBLE) / greatest(len(words), 1))
                    BETWEEN 3.0 AND 10.0
                AND CAST(n_hash + n_ell AS DOUBLE) / greatest(len(words), 1)
                    <= 0.1
                AND CAST(len(list_filter(words,
                        x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                    / greatest(len(words), 1) >= 0.8
                AND len(list_distinct(list_filter(words,
                    x -> x IN ('the','be','to','of','and','that','have','with')
                ))) >= 2
            AS INT) AS pass_all
    FROM w
    """,
)
def q_gopher_rules_audit(spark, sf_dir):
    """X4/pipeline extension: the Gopher quality rules (public paper,
    arXiv:2112.11446 §A1.1) as a per-document audit — the named-rule
    metrics a production corpus filter thresholds and reports. Pure
    map-side column expressions; no reference analog (extension)."""
    return textstats.gopher_audit(load_table(spark, sf_dir, "documents"))


def _kmeans_oracle_sql(k: int = 8, iters: int = 3) -> str:
    """Unrolled-SQL replay of the full Lloyd fold (3 assignment
    rounds, 2 centroid updates) in long (vec_id, pos, v) form. Exact
    integer math end-to-end: quantized coords, integer distances,
    floor-div centroid updates. DuckDB's ``//`` TRUNCATES toward
    zero (-7//2 = -3) while Python's floors (-4), so the update
    builds floor division from a positive mod:
    (s - ((s%n)+n)%n) // n. Sums
    are CAST to BIGINT (DuckDB SUM yields HUGEINT). Multiply-read
    CTEs are MATERIALIZED — same inline-expansion hazard as the
    rebalance oracle."""
    parts = [
        f"""WITH qv AS MATERIALIZED (
        SELECT vec_id, u.pos AS pos, u.v AS v FROM (
            SELECT vec_id,
                   unnest([{{'pos': i - 1,
                             'v': CAST(round(CAST(embedding[i] AS DOUBLE)
                                             * 10000) AS BIGINT)}}
                           for i in generate_series(1, len(embedding))]) AS u
            FROM embeddings)),
    sids AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1
                            AS INT) AS cid
             FROM (SELECT DISTINCT vec_id FROM qv ORDER BY vec_id LIMIT {k})),
    c0 AS MATERIALIZED (SELECT s.cid, q.pos, q.v AS cv
                        FROM sids s JOIN qv q USING (vec_id))"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""d{i} AS (
        SELECT q.vec_id, c.cid,
               CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        FROM qv q JOIN c{i - 1} c USING (pos)
        GROUP BY q.vec_id, c.cid),
    a{i} AS MATERIALIZED (
        SELECT vec_id, cid, dist2 FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist2, cid) AS rn
            FROM d{i}) WHERE rn = 1)"""
        )
        if i < iters:
            parts.append(
                f"""c{i} AS MATERIALIZED (
        SELECT p.cid, p.pos, coalesce(u.val, p.cv) AS cv
        FROM c{i - 1} p LEFT JOIN (
            SELECT a.cid, q.pos,
                   (CAST(sum(q.v) AS BIGINT)
                    - ((CAST(sum(q.v) AS BIGINT) % count(*)) + count(*))
                      % count(*)) // count(*) AS val
            FROM a{i} a JOIN qv q USING (vec_id)
            GROUP BY a.cid, q.pos) u
          ON p.cid = u.cid AND p.pos = u.pos)"""
            )
    return (
        ",\n    ".join(parts)
        + f"\n    SELECT vec_id, cid, dist2 FROM a{iters}\n    "
    )


@declare("kmeans_lloyd", _kmeans_oracle_sql())
def q_kmeans_lloyd(spark, sf_dir):
    """X3 extension: iterative k-means clustering with an EXACT
    oracle — the whole 3-iteration Lloyd fold is replayed in SQL
    (fixed-point coords, integer distances, floor-div updates), so
    the driver hash-checks an iterative ML algorithm, not just one
    pass. Output: final (vec_id, cid, dist2) assignment."""
    return similarity.kmeans_lloyd(load_table(spark, sf_dir, "embeddings"))


def _exsub_sql(k: int, body: str) -> str:
    """CTE block reproducing dedup.token_gram_rows/exact_substring_
    spans exactly in DuckDB: lowercase ASCII-letter tokens, rolling
    k-token grams hashed to 48-bit md5 prefixes, corpus-wide count >=
    2, gaps-and-islands span merge. ``body`` is the final SELECT.
    MATERIALIZED per the repo's multiply-read-CTE rule (tl/toks/spans
    are each read by two consumers in the audit/scrub forms)."""
    return f"""
    WITH tl AS MATERIALIZED (
      SELECT doc_id,
             list_filter(string_split(lower(regexp_replace(
                 text, '[^a-z]+', ' ', 'g')), ' '), x -> x <> '') AS l
      FROM documents
    ),
    toks AS MATERIALIZED (
      SELECT doc_id, len(l) AS n_toks,
             unnest(l) AS tok, unnest(range(1, len(l) + 1)) AS pos
      FROM tl WHERE len(l) >= {k}
    ),
    grams AS MATERIALIZED (
      SELECT doc_id, n_toks, pos,
             CAST(concat('0x', substr(md5(gram), 1, 12)) AS BIGINT) AS h
      FROM (
        SELECT doc_id, n_toks, pos,
               count(*) OVER w AS cnt,
               string_agg(tok, ' ') OVER w AS gram
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND {k - 1} FOLLOWING)
      ) WHERE cnt = {k}
    ),
    dup AS MATERIALIZED (
      SELECT h FROM grams GROUP BY h HAVING count(*) >= 2
    ),
    hits AS MATERIALIZED (
      SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)
    ),
    isl AS MATERIALIZED (
      SELECT doc_id, pos,
             sum(CASE WHEN prev IS NULL OR pos - prev > {k}
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM (SELECT doc_id, pos,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM hits)
    ),
    spans AS MATERIALIZED (
      SELECT doc_id,
             CAST(min(pos) AS BIGINT) AS span_start,
             CAST(max(pos) + {k - 1} AS BIGINT) AS span_end,
             CAST(max(pos) + {k - 1} - min(pos) + 1 AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, island
    )
    {body}
    """


_EXSUB_K = dedup.EXSUB_K


@declare(
    "exact_substring_spans",
    _exsub_sql(
        _EXSUB_K,
        "SELECT doc_id, span_start, span_end, span_len FROM spans",
    ),
)
def q_exact_substring_spans(spark, sf_dir):
    """X2 extension: exact-substring duplication spans (Lee et al.
    2021's suffix-array dedup re-expressed as rolling k-token grams —
    a span of length L >= k duplicates iff all its L-k+1 k-grams
    repeat corpus-wide). The fixture corpus has real planted shared
    passages, so this runs on the raw table (no synthetic dup
    corpus). One explode + one hash-count + one 8-byte-key join +
    one per-doc window: no all-pairs stage anywhere."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return dedup.exact_substring_spans(docs, k=_EXSUB_K)


@declare(
    "exact_substring_audit",
    _exsub_sql(
        _EXSUB_K,
        """
        SELECT t.doc_id, t.n_tokens,
               CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(coalesce(s.dup_tokens, 0) AS BIGINT) AS dup_tokens
        FROM (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens FROM tl) t
        LEFT JOIN (SELECT doc_id, count(*) AS n_spans,
                          sum(span_len) AS dup_tokens
                   FROM spans GROUP BY doc_id) s
        USING (doc_id)
        """,
    ),
)
def q_exact_substring_audit(spark, sf_dir):
    """X2 extension: per-document exact-substring duplication budget
    (n_tokens, n_spans, dup_tokens for EVERY doc) — what a pipeline
    thresholds on before scrubbing."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return dedup.exact_substring_audit(docs, k=_EXSUB_K)


@declare(
    "exact_substring_scrub",
    _exsub_sql(
        _EXSUB_K,
        """
        , toks_all AS MATERIALIZED (
          SELECT doc_id, unnest(l) AS tok,
                 unnest(range(1, len(l) + 1)) AS pos
          FROM tl
        ),
        covered AS (
          SELECT doc_id, unnest(range(span_start, span_end + 1)) AS pos
          FROM spans
        ),
        kept AS (
          SELECT t.doc_id, t.pos, t.tok FROM toks_all t
          ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
        ),
        rebuilt AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS scrub_text,
                 count(*) AS kept_tokens
          FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id, CAST(len(t.l) AS BIGINT) AS n_tokens,
               CAST(coalesce(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
               coalesce(r.scrub_text, '') AS scrub_text
        FROM tl t LEFT JOIN rebuilt r USING (doc_id)
        """,
    ),
)
def q_exact_substring_scrub(spark, sf_dir):
    """X2 extension: the scrubbed corpus — every token covered by a
    duplicated span dropped (all occurrences; conservative policy),
    text rebuilt per doc with an array-local sort, no global
    orderBy. Full-content oracle check of the cleaned text."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return dedup.exact_substring_scrub(docs, k=_EXSUB_K)


def _pq_cte(k: int = 16, m: int = 8, subdim: int = 8, iters: int = 2) -> str:
    """Unrolled-SQL replay of similarity.pq_codes' per-subspace Lloyd
    fold in long (vec_id, sub, spos, v) form — the kmeans_lloyd
    oracle recipe with ``sub`` as an extra grouping column, so M
    subspaces train in ONE pass per iteration. Exact integer math
    end-to-end; floor-div updates use the positive-mod form (DuckDB
    ``//`` truncates, Python floors; centroid sums go negative);
    multiply-read CTEs MATERIALIZED."""
    parts = [
        f"""qv AS MATERIALIZED (
        SELECT vec_id, u.pos AS pos, u.pos // {subdim} AS sub,
               u.pos % {subdim} AS spos, u.v AS v FROM (
            SELECT vec_id,
                   unnest([{{'pos': i - 1,
                             'v': CAST(round(CAST(embedding[i] AS DOUBLE)
                                             * 10000) AS BIGINT)}}
                           for i in generate_series(1, len(embedding))]) AS u
            FROM embeddings)),
    sids AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1
                            AS INT) AS cid
             FROM (SELECT DISTINCT vec_id FROM qv ORDER BY vec_id LIMIT {k})),
    c0 AS MATERIALIZED (SELECT s.cid, q.sub, q.spos, q.v AS cv
                        FROM sids s JOIN qv q USING (vec_id))"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""d{i} AS (
        SELECT q.vec_id, q.sub, c.cid,
               CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        FROM qv q JOIN c{i - 1} c ON q.sub = c.sub AND q.spos = c.spos
        GROUP BY q.vec_id, q.sub, c.cid),
    a{i} AS MATERIALIZED (
        SELECT vec_id, sub, cid, dist2 FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                         ORDER BY dist2, cid) AS rn
            FROM d{i}) WHERE rn = 1)"""
        )
        if i < iters:
            parts.append(
                f"""c{i} AS MATERIALIZED (
        SELECT p.cid, p.sub, p.spos, coalesce(u.val, p.cv) AS cv
        FROM c{i - 1} p LEFT JOIN (
            SELECT a.sub, a.cid, q.spos,
                   (CAST(sum(q.v) AS BIGINT)
                    - ((CAST(sum(q.v) AS BIGINT) % count(*)) + count(*))
                      % count(*)) // count(*) AS val
            FROM a{i} a JOIN qv q ON a.vec_id = q.vec_id AND a.sub = q.sub
            GROUP BY a.sub, a.cid, q.spos) u
          ON p.sub = u.sub AND p.cid = u.cid AND p.spos = u.spos)"""
            )
    return "WITH " + ",\n    ".join(parts)


# One PQ training AND assignment per (session, sf_dir): the three
# declared PQ entries (codes / ADC / IMI) share trained codebooks AND
# the localCheckpointed assigned-codes frame — the interpreted
# 8×16-centroid HOF fold is the heaviest stage in the family
# (measured 6-8 s warm PER entry when each re-assigned from scratch),
# and in a real deployment codes are materialized at rest exactly
# once (SCALE.md); the session cache mirrors that.
def _pq_artifacts(spark, sf_dir):
    """(cents, assigned_ckpt, luts) for the declared PQ entries —
    trained, assigned, localCheckpointed, and LUT-built once per
    (session, sf_dir)."""

    def build():
        emb = widen_scan(load_table(spark, sf_dir, "embeddings"))
        cents, a, luts = similarity.pq_artifacts(emb)
        return cents, a.localCheckpoint(eager=False), luts

    return _cached(spark, ("pq", sf_dir), build)


@declare(
    "pq_codes",
    _pq_cte()
    + """
    SELECT vec_id,
           CAST(sum(cid * (CAST(1 AS BIGINT) << (4 * sub))) AS BIGINT)
             AS code,
           CAST(sum(dist2) AS BIGINT) AS qerr
    FROM a2 GROUP BY vec_id
    """,
)
def q_pq_codes(spark, sf_dir):
    """X3 extension: product quantization (Jégou et al. TPAMI 2011)
    code assignment — each 64-dim vector compressed to eight 4-bit
    subspace codes packed in one 32-bit word (64× memory cut), plus
    the exact integer reconstruction error. Codebooks are trained
    with the seeded fixed-point per-subspace Lloyd fold, so the WHOLE
    train+assign pipeline replays bit-for-bit in the oracle.
    Assignment itself is map-only (codebooks ride as literals) and is
    served from the session-cached checkpointed codes frame — the
    at-rest read path."""
    _, a, _ = _pq_artifacts(spark, sf_dir)
    return similarity.pq_codes(a)


# Shared ADC lookup-table CTE fragment (8 smallest-id queries, exact
# integer subdistances to the FINAL codebooks c1) — used verbatim by
# both the unpruned (pq_topk_adc) and pruned (pq_topk_imi) declares.
# The ONE source of the fragment is _pq_lut_sql (a qid predicate
# parameterizes the bitext twin's side-filtered query set); the bare
# constant is the qid_where='' instance.


def _pq_lut_sql(qid_where: str) -> str:
    """_PQ_LUT_SQL with a query-id predicate (the bitext twin's
    side-filtered query set). qid_where='' reproduces the original
    fragment byte-for-byte (_PQ_LUT_SQL IS this with '')."""
    return f"""
    qids AS (SELECT vec_id FROM (SELECT DISTINCT vec_id FROM qv{qid_where}
                                 ORDER BY vec_id LIMIT 8)),
    lut AS MATERIALIZED (
        SELECT q.vec_id AS query_id, c.sub, c.cid,
               CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS d
        FROM qv q JOIN qids t ON q.vec_id = t.vec_id
        JOIN c1 c ON q.sub = c.sub AND q.spos = c.spos
        GROUP BY 1, 2, 3),"""


_PQ_LUT_SQL = _pq_lut_sql("")


@declare(
    "pq_topk_adc",
    _pq_cte()
    + ","
    + _PQ_LUT_SQL
    + """
    scores AS (
        SELECT l.query_id, a.vec_id AS neighbor_id,
               CAST(sum(l.d) AS BIGINT) AS adc_dist2
        FROM a2 a JOIN lut l ON a.sub = l.sub AND a.cid = l.cid
        WHERE a.vec_id <> l.query_id
        GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_dist2, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist2, neighbor_id) AS rn
          FROM scores) WHERE rn <= 10
    """,
)
def q_pq_topk_adc(spark, sf_dir):
    """X3 extension: asymmetric-distance top-k over the PQ codes —
    the query never touches raw corpus vectors; it scores codes
    against a K×M integer lookup table (driver-built, literal in the
    plan), map-only plus one top-k window. The compressed-scan ANN
    path that complements IVF's pruned-scan path — and, because the
    whole LUT is exact integers, a fully oracle-checked ANN ranking.
    Serves from the session-cached checkpointed codes frame."""
    _, a, luts = _pq_artifacts(spark, sf_dir)
    return similarity.pq_topk_adc(a, luts)


@declare(
    "pq_topk_imi",
    _pq_cte()
    + ","
    + _PQ_LUT_SQL
    + """
    probed AS (
        SELECT query_id, cid AS cell0 FROM (
            SELECT query_id, cid,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d, cid) AS rn
            FROM lut WHERE sub = 0) WHERE rn <= 4),
    cell0 AS (SELECT vec_id, cid AS cell0 FROM a2 WHERE sub = 0),
    scores AS (
        SELECT l.query_id, a.vec_id AS neighbor_id,
               CAST(sum(l.d) AS BIGINT) AS adc_dist2
        FROM a2 a
        JOIN lut l ON a.sub = l.sub AND a.cid = l.cid
        JOIN cell0 c ON a.vec_id = c.vec_id
        JOIN probed p ON p.query_id = l.query_id AND p.cell0 = c.cell0
        WHERE a.vec_id <> l.query_id
        GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_dist2, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist2, neighbor_id) AS rn
          FROM scores) WHERE rn <= 10
    """,
)
def q_pq_topk_imi(spark, sf_dir):
    """X3 extension: IVF-PQ composition (inverted-multi-index coarse
    cells = subspace-0 PQ codes, Babenko & Lempitsky CVPR 2012) —
    each query probes its 4 best of 16 cells and ADC-scores only
    those vectors. The pruned-ANN analog of topk_cosine_ivf, but
    exact integers end-to-end, so the PRUNED ranking itself is
    oracle-checked (n_probe=K degenerates to pq_topk_adc, pinned in
    tests). Candidates join the broadcast probe set on cell0 BEFORE
    any ADC sum is computed (r5: prune-then-score — the r4 plan
    scored all pairs and discarded 3/4 after). At rest the codes
    table partitions by cell0 → partition-pruned probes over 4-byte
    codes. Serves from the session-cached checkpointed codes frame."""
    _, a, luts = _pq_artifacts(spark, sf_dir)
    return similarity.pq_topk_imi(a, luts)


@declare(
    "imi_cell_skew_audit",
    _pq_cte()
    + """,
    own AS (SELECT vec_id, cid AS cell0, dist2 AS own_d
            FROM a2 WHERE sub = 0),
    sec AS (SELECT d.vec_id, min(d.dist2) AS sec_d
            FROM d2 d JOIN own o USING (vec_id)
            WHERE d.sub = 0 AND d.cid <> o.cell0
            GROUP BY d.vec_id),
    per AS (SELECT o.cell0, CAST(count(*) AS BIGINT) AS n_vecs,
                   CAST(sum(o.own_d) AS BIGINT) AS sum_dist2,
                   CAST(sum(s.sec_d - o.own_d) AS BIGINT) AS sum_margin
            FROM own o JOIN sec s USING (vec_id) GROUP BY 1),
    ranked AS (SELECT n_vecs, row_number() OVER (ORDER BY n_vecs) AS rn
               FROM per),
    st AS (SELECT max(n_vecs) AS mx, CAST(count(*) AS BIGINT) AS c
           FROM per),
    md AS (SELECT r.n_vecs AS med FROM ranked r, st
           WHERE r.rn = (st.c + 1) // 2)
    SELECT CAST(p.cell0 AS INT) AS cell0, p.n_vecs, p.sum_dist2,
           p.sum_margin,
           CAST((1000 * st.mx) // md.med AS BIGINT) AS skew_milli
    FROM per p, st, md
    """,
)
def q_imi_cell_skew_audit(spark, sf_dir):
    """ANN index STALENESS audit
    (similarity.imi_cell_skew_audit): per-coarse-cell population,
    quantization-error mass, assignment-margin mass, and the global
    max/median cell-count skew ratio — the re-train trigger signal
    for an index grown by incremental adds against frozen centroids.
    Runs over the IMI coarse cells (PQ subspace-0 codes), whose
    integer-exact training chain makes the WHOLE audit oracle-check;
    IVFIndex.staleness_audit is the serving-index twin (rows-only —
    IVF centroids are double means) with the planted-drift threshold
    test in tests/test_similarity.py."""
    cents, _a, _l = _pq_artifacts(spark, sf_dir)
    emb = widen_scan(load_table(spark, sf_dir, "embeddings"))
    q = similarity._pq_quantized(emb, "vec_id", "embedding")
    return similarity.imi_cell_skew_audit(q, cents)


@declare(
    "ann_ingest_conflict_audit",
    """
    WITH batch AS (
        SELECT vec_id,
               CASE WHEN vec_id % 100 = 0
                    THEN [CASE WHEN i = 1
                               THEN CAST(embedding[i] AS DOUBLE) + 0.5
                               ELSE CAST(embedding[i] AS DOUBLE) END
                          for i in generate_series(1, len(embedding))]
                    ELSE [CAST(embedding[i] AS DOUBLE)
                          for i in generate_series(1, len(embedding))]
               END AS nemb
        FROM embeddings WHERE vec_id % 50 = 0),
    j AS (
        SELECT b.vec_id,
               CAST(list_sum(
                   [CASE WHEN CAST(round(b.nemb[i] * 1000000.0) AS BIGINT)
                              <> CAST(round(CAST(e.embedding[i] AS DOUBLE)
                                            * 1000000.0) AS BIGINT)
                         THEN 1 ELSE 0 END
                    for i in generate_series(1, len(e.embedding))])
                   AS BIGINT) AS n_diff_dims
        FROM batch b JOIN embeddings e USING (vec_id))
    SELECT vec_id, n_diff_dims,
           CASE WHEN n_diff_dims = 0 THEN 'identical_dup'
                ELSE 'conflicting_drop' END AS verdict
    FROM j
    """,
)
def q_ann_ingest_conflict_audit(spark, sf_dir):
    """Ingestion re-embed CONFLICT audit
    (similarity.IVFIndex.ingest_conflict_audit): IVFIndex.add drops a
    changed vector for an already-indexed id lake-wins, undetectably
    (the anti-join removes it before the conflict guard can see it) —
    this is the detection pass, run against the at-rest cell vectors.
    The audited batch is fixture-synthesized: every vec_id % 50 == 0
    vector is re-delivered, and the % 100 == 0 half re-EMBEDDED
    (dim 0 shifted +0.5) — those must surface as conflicting_drop,
    the untouched half as identical_dup (comparison = round(x·1e6)
    per dim, the topk_cosine fixed-point). Spark side reads the
    session-cached IVF index's cells (the real at-rest path); the
    oracle reads embeddings, which the cells hold verbatim."""
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 50 == 0).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: F.when(
                (F.col("vec_id") % 100 == 0) & (i == 0),
                x.cast("double") + F.lit(0.5),
            ).otherwise(x.cast("double")),
        ).alias("embedding"),
    )
    return _serve(
        spark,
        ("ivf", sf_dir),
        lambda: similarity.IVFIndex.build(emb, _ivf_tmpdir()),
        lambda idx: idx.ingest_conflict_audit(batch),
    )


def _bpe_cte(rounds: int = 6) -> str:
    """Unrolled-SQL replay of textstats.bpe_learn: distinct-word
    frequency table, per-round adjacent-pair counts (zip of list
    slices ~ the comprehension below), 1-row argmax with the
    (cnt DESC, a, b) tie-break, and the double-space padded replace
    (textstats.py encoding note — exactly the token-level greedy
    merge). w{r} LEFT JOINs its merge row so an EXHAUSTED corpus
    (no pairs left before round ``rounds``) passes through unchanged
    instead of being emptied by a CROSS JOIN against an empty m{r} —
    mirroring the Spark side's loop break. Every m{r}/w{r} is
    multiply-read -> MATERIALIZED."""
    parts = [
        """w0 AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS freq,
               trim(regexp_replace(w, '(.)', '\\1  ', 'g')) AS sym
        FROM (SELECT unnest(list_filter(string_split_regex(lower(text),
                  '[^a-z]+'), x -> x <> '')) AS w
              FROM documents)
        GROUP BY w)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""p{r} AS (
        SELECT p.a AS a, p.b AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
            SELECT freq, unnest([{{'a': l[i], 'b': l[i + 1]}}
                                 for i in generate_series(1, len(l) - 1)]) AS p
            FROM (SELECT freq, string_split(sym, '  ') AS l FROM w{r - 1}))
        GROUP BY 1, 2),
    m{r} AS MATERIALIZED (SELECT a, b, cnt FROM p{r}
                          ORDER BY cnt DESC, a, b LIMIT 1)"""
        )
        parts.append(
            f"""w{r} AS MATERIALIZED (
        SELECT w, freq,
               CASE WHEN m.a IS NULL THEN sym
                    ELSE trim(replace(' ' || sym || ' ',
                                      ' ' || m.a || '  ' || m.b || ' ',
                                      ' ' || m.a || m.b || ' '))
               END AS sym
        FROM w{r - 1} LEFT JOIN m{r} m ON TRUE)"""
        )
    return "WITH " + ",\n    ".join(parts)


_BPE_ROUNDS = textstats.BPE_ROUNDS


# One BPE training per (session, sf_dir, rounds): both declared
# entries reuse the same merges + final word table (each training is
# six sequential collect rounds — running it twice per gate pass is
# pure waste).
def _bpe_learned(spark, sf_dir, rounds):
    return _cached(
        spark,
        ("bpe", sf_dir, rounds),
        lambda: textstats.bpe_learn(
            widen_scan(load_table(spark, sf_dir, "documents")), rounds
        ),
    )


@declare(
    "bpe_train_merges",
    _bpe_cte(_BPE_ROUNDS)
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {r} AS merge_round, a AS left_sym, b AS right_sym, "
        f"cnt AS pair_count FROM m{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    ),
)
def q_bpe_train_merges(spark, sf_dir):
    """X4 extension: BPE tokenizer training (Sennrich et al. ACL
    2016) — six merge rounds over the distinct-word frequency table,
    each round's most-frequent adjacent symbol pair chosen with an
    exact integer count and deterministic tie-break. The oracle
    replays the ENTIRE training loop in unrolled SQL, so the learned
    merge table itself is hash-checked — the X4 member of the
    iterative-algorithm family (kmeans/pagerank/rebalance)."""
    merges, _ = _bpe_learned(spark, sf_dir, _BPE_ROUNDS)
    return spark.createDataFrame(
        merges,
        "merge_round int, left_sym string, right_sym string, pair_count bigint",
    )


@declare(
    "bpe_vocab_tokens",
    _bpe_cte(_BPE_ROUNDS)
    + f"""
    SELECT t AS token, CAST(sum(freq) AS BIGINT) AS freq
    FROM (SELECT freq, unnest(string_split(sym, '  ')) AS t FROM w{_BPE_ROUNDS})
    GROUP BY t
    """,
)
def q_bpe_vocab_tokens(spark, sf_dir):
    """X4 extension: the corpus symbol table AFTER the six learned
    merges are applied — full-content proof that merge APPLICATION
    (left-to-right non-overlapping replace) matched in both engines,
    not just the argmax picks."""
    _, words = _bpe_learned(spark, sf_dir, _BPE_ROUNDS)
    return (
        words.select("freq", F.explode(F.split("sym", "  ")).alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").cast("bigint").alias("freq"))
    )


@declare(
    "bpe_doc_token_counts",
    _bpe_cte(_BPE_ROUNDS)
    + f""",
    dt AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text),
                   '[^a-z]+'), x -> x <> '')) AS w
        FROM documents)
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(string_split(wr.sym, '  '))) AS BIGINT) AS n_tokens
    FROM dt d JOIN w{_BPE_ROUNDS} wr ON d.w = wr.w
    GROUP BY 1
    """,
)
def q_bpe_doc_token_counts(spark, sf_dir):
    """X4 extension: per-document token counts under the trained BPE
    merges — tokenizer application at corpus scale, the length
    accounting a mixture/packing pipeline needs before sampling.
    Serves from the session BPE cache (one 6-round training per
    session feeds all three bpe_* entries); the oracle replays
    training AND per-doc application in one unrolled statement."""
    _, words = _bpe_learned(spark, sf_dir, _BPE_ROUNDS)
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.bpe_doc_token_counts(docs, words)


# ---- unigram-LM tokenizer ------------------------------------------


def _unigram_sql(rounds: int = 2) -> str:
    """Unrolled-SQL replay of textstats.unigram_learn (design notes
    there): distinct-word table, substring seeding, per-round
    recursive-CTE segmentation ENUMERATION with the exact
    (sc DESC, np ASC, path ASC) argmax, weighted piece recount,
    chars-always-kept prune, and the half-bit bit_length rescore in
    HUGEINT. Every multiply-read CTE is MATERIALIZED (the kmeans
    recipe); keep sizes interpolate from textstats.UNI_* (the
    Bloom-tuple rule)."""
    maxw = textstats.UNI_MAXW
    maxp = textstats.UNI_MAXP
    shift = 1 << textstats.UNI_SHIFT
    parts = [
        f"""uw AS MATERIALIZED (
        SELECT substr(w, 1, {maxw}) AS word,
               CAST(sum(freq) AS BIGINT) AS freq
        FROM (SELECT w, CAST(count(*) AS BIGINT) AS freq
              FROM (SELECT unnest(list_filter(string_split_regex(
                        lower(text), '[^a-z]+'), x -> x <> '')) AS w
                    FROM documents)
              GROUP BY w)
        GROUP BY 1)""",
        f"""useed AS MATERIALIZED (
        SELECT substr(word, st.i, ln.l) AS piece,
               CAST(sum(freq) AS BIGINT) AS cnt
        FROM uw
        CROSS JOIN (SELECT unnest(range(1, {maxw + 1})) AS i) st
        CROSS JOIN (SELECT unnest(range(1, {maxp + 1})) AS l) ln
        WHERE st.i + ln.l - 1 <= length(word)
        GROUP BY 1)""",
        """uchars AS MATERIALIZED (
        SELECT piece, cnt FROM useed WHERE length(piece) = 1)""",
        f"""uv0 AS MATERIALIZED (
        SELECT piece, cnt FROM uchars
        UNION ALL
        SELECT piece, cnt FROM (
            SELECT piece, cnt,
                   row_number() OVER (ORDER BY cnt DESC, piece) AS r
            FROM useed WHERE length(piece) > 1)
        WHERE r <= {textstats.UNI_SEED_MULTI})""",
    ]

    def score_cte(sn: str, vn: str) -> str:
        return f"""{sn} AS MATERIALIZED (
        SELECT piece,
               CAST(length(bin(greatest(CAST(1 AS HUGEINT),
                 (CAST(cnt AS HUGEINT) * cnt * {shift})
                 // (t.t * t.t)))) AS BIGINT) AS sc
        FROM {vn}, (SELECT CAST(sum(cnt) AS HUGEINT) AS t FROM {vn}) t)"""

    parts.append(score_cte("us0", "uv0"))
    for r, keep in zip(
        range(1, rounds + 1), textstats.UNI_KEEP, strict=True
    ):
        parts.append(
            f"""useg{r} AS (
        SELECT word, freq, 0 AS pos, CAST(0 AS BIGINT) AS sc,
               0 AS np, '' AS path
        FROM uw
        UNION ALL
        SELECT g.word, g.freq, g.pos + l.l, g.sc + s.sc, g.np + 1,
               g.path || ' ' || substr(g.word, g.pos + 1, l.l)
        FROM useg{r} g
        JOIN (SELECT unnest(range(1, {maxp + 1})) AS l) l
          ON g.pos + l.l <= length(g.word)
        JOIN us{r - 1} s ON s.piece = substr(g.word, g.pos + 1, l.l))""",
        )
        parts.append(
            f"""ubest{r} AS MATERIALIZED (
        SELECT word, freq, np, substr(path, 2) AS path FROM (
            SELECT *, row_number() OVER (PARTITION BY word
                ORDER BY sc DESC, np ASC, path ASC) AS rn
            FROM useg{r} WHERE pos = length(word))
        WHERE rn = 1)""",
        )
        parts.append(
            f"""uc{r} AS MATERIALIZED (
        SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT freq, unnest(string_split(path, ' ')) AS piece
              FROM ubest{r})
        GROUP BY 1)""",
        )
        parts.append(
            f"""uv{r} AS MATERIALIZED (
        SELECT ch.piece, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
        FROM uchars ch LEFT JOIN uc{r} c USING (piece)
        UNION ALL
        SELECT piece, cnt FROM (
            SELECT piece, cnt,
                   row_number() OVER (ORDER BY cnt DESC, piece) AS r
            FROM uc{r} WHERE length(piece) > 1)
        WHERE r <= {keep})""",
        )
        parts.append(score_cte(f"us{r}", f"uv{r}"))
    return "WITH RECURSIVE " + ",\n    ".join(parts)


_UNI_ROUNDS = len(textstats.UNI_KEEP)


# One unigram training per (session, sf_dir): both declared entries
# (train + application) reuse the vocab/scores and the checkpointed
# distinct-word frame.
def _uni_learned(spark, sf_dir):
    return _cached(
        spark,
        ("unigram", sf_dir),
        lambda: textstats.unigram_learn(
            widen_scan(load_table(spark, sf_dir, "documents"))
        ),
    )


@declare(
    "unigram_train_vocab",
    _unigram_sql(_UNI_ROUNDS)
    + f"""
    SELECT v.piece AS piece,
           CAST(length(v.piece) AS INT) AS piece_len,
           v.cnt AS cnt, s.sc AS score_qbits
    FROM uv{_UNI_ROUNDS} v JOIN us{_UNI_ROUNDS} s USING (piece)
    """,
)
def q_unigram_train_vocab(spark, sf_dir):
    """X4: unigram-LM tokenizer training (Kudo 2018, SentencePiece's
    second paradigm next to BPE): substring seeding,
    two EM prune rounds with exact enumerated-Viterbi segmentation
    and half-bit bit_length log-likelihoods (no libm anywhere). The
    oracle replays the WHOLE training loop — seeding, both rounds'
    segmentations (recursive-CTE enumeration, identical argmax order)
    and the final scores — so the shipped vocab table is
    hash-checked. Corpus touched once (the distinct-word groupBy);
    training runs over the Zipf-compressed word table."""
    vocab, scores, words = _uni_learned(spark, sf_dir)
    return spark.createDataFrame(
        [(p, len(p), c, scores[p]) for p, c in sorted(vocab.items())],
        "piece string, piece_len int, cnt bigint, score_qbits bigint",
    )


def _uni_apply_sql() -> str:
    """The trained-vocab APPLICATION fragment — CTEs usegf
    (exhaustive path enumeration over the distinct-word table) +
    ubestf (the total-order argmax: sc desc, np asc, path asc — the
    tie-break that makes the Viterbi argmax engine-identical).
    Factored so unigram_doc_token_counts and
    unigram_fertility_by_lang share one copy: an edit to the
    committed tie-break in one of two copies would leave one oracle
    green and the other red looking like fixture drift (the
    _bm25_tscore_sql precedent)."""
    return f""",
    usegf AS (
        SELECT word, freq, 0 AS pos, CAST(0 AS BIGINT) AS sc,
               0 AS np, '' AS path
        FROM uw
        UNION ALL
        SELECT g.word, g.freq, g.pos + l.l, g.sc + s.sc, g.np + 1,
               g.path || ' ' || substr(g.word, g.pos + 1, l.l)
        FROM usegf g
        JOIN (SELECT unnest(range(1, {textstats.UNI_MAXP + 1})) AS l) l
          ON g.pos + l.l <= length(g.word)
        JOIN us{_UNI_ROUNDS} s
          ON s.piece = substr(g.word, g.pos + 1, l.l)),
    ubestf AS MATERIALIZED (
        SELECT word, np FROM (
            SELECT *, row_number() OVER (PARTITION BY word
                ORDER BY sc DESC, np ASC, path ASC) AS rn
            FROM usegf WHERE pos = length(word))
        WHERE rn = 1)"""


@declare(
    "unigram_doc_token_counts",
    _unigram_sql(_UNI_ROUNDS)
    + _uni_apply_sql()
    + f""",
    udt AS (
        SELECT doc_id, substr(w, 1, {textstats.UNI_MAXW}) AS w
        FROM (SELECT doc_id, unnest(list_filter(string_split_regex(
                  lower(text), '[^a-z]+'), x -> x <> '')) AS w
              FROM documents))
    SELECT d.doc_id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(b.np) AS BIGINT) AS n_tokens
    FROM udt d JOIN ubestf b ON b.word = d.w
    GROUP BY 1
    """,
)
def q_unigram_doc_token_counts(spark, sf_dir):
    """X4: per-document token counts under the TRAINED unigram vocab
    — tokenizer application at corpus scale, the bpe_doc_token_counts
    twin for the second paradigm. One final map-only segmentation of
    the distinct-word table under the trained scores, then the
    occurrence explode joins it broadcast. Serves from the session
    unigram cache (one training feeds both entries); the oracle
    replays training AND the application segmentation in one
    statement."""
    vocab, scores, words = _uni_learned(spark, sf_dir)
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.unigram_doc_token_counts(docs, scores, words)


@declare(
    "unigram_fertility_by_lang",
    _unigram_sql(_UNI_ROUNDS)
    + _uni_apply_sql()
    + f""",
    ult AS (
        SELECT lang, substr(w, 1, {textstats.UNI_MAXW}) AS w
        FROM (SELECT lang, unnest(list_filter(string_split_regex(
                  lower(text), '[^a-z]+'), x -> x <> '')) AS w
              FROM documents)),
    uvols AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
              FROM documents GROUP BY 1),
    uagg AS (
        SELECT d.lang,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(b.np) AS BIGINT) AS n_tokens
        FROM ult d JOIN ubestf b ON b.word = d.w
        GROUP BY 1)
    SELECT v.lang AS lang, v.n_docs AS n_docs,
           CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN coalesce(a.n_words, 0) = 0 THEN NULL
                     ELSE (1000 * a.n_tokens) // a.n_words
                END AS BIGINT) AS fertility_milli
    FROM uvols v LEFT JOIN uagg a ON v.lang = a.lang
    """,
)
def q_unigram_fertility_by_lang(spark, sf_dir):
    """X4: per-language fertility under the trained unigram vocab —
    the bpe_fertility_by_lang twin, completing the tokenizer-equity
    audit for BOTH training paradigms (the comparison a multilingual
    pipeline actually runs before committing a vocab). Serves from
    the session unigram cache; the oracle replays training,
    application segmentation and the language rollup in one
    statement. Zero-word languages report NULL fertility with their
    doc volume visible (the kappa convention)."""
    vocab, scores, words = _uni_learned(spark, sf_dir)
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select("lang", "text")
    )
    return textstats.unigram_fertility_by_lang(docs, scores, words)


@declare(
    "media_phash_pairs",
    f"""
    WITH {_DUP_CORPUS_SQL},
    ph0 AS (SELECT doc_id, sha256(text) || sha256(text) AS dd FROM corpus),
    ph1 AS MATERIALIZED (
      SELECT doc_id,
             [CAST(concat('0x', substr(dd, 2 * i - 1, 2)) AS BIGINT)
              for i in generate_series(1, 64)] AS px
      FROM ph0),
    ph2 AS MATERIALIZED (
      SELECT doc_id, px, CAST(list_sum(px) AS BIGINT) AS s FROM ph1),
    ph AS MATERIALIZED (
      SELECT doc_id,
             CAST(list_sum([CASE WHEN px[i] * 64 > s
                                 THEN (CAST(1 AS BIGINT) << (i - 1))
                                 ELSE CAST(0 AS BIGINT) END
                            for i in generate_series(1, 60)]) AS BIGINT)
               AS phash
      FROM ph2),
    bands AS MATERIALIZED (
      SELECT doc_id, phash, j.band,
             (phash >> (15 * j.band)) & 32767 AS bkey
      FROM ph, (SELECT unnest(range(0, 4)) AS band) j),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 2
    """,
)
def q_media_phash_pairs(spark, sf_dir):
    """X5 extension: perceptual-hash (aHash) media near-dup pairs —
    60-bit pixel-vs-full-tile-mean hash (mean over all 64 thumbnail
    pixels, textbook aHash; pack drops the last 4),
    4x15-bit banded pigeonhole lookup
    (any pair within hamming 3 shares an exact band), bit_count
    verify at hamming <= 2. Declared through the closure-free
    FakeCodec twin (thumbnail = doubled sha-256 digest), which
    oracle-checks the ENTIRE pack/band/hamming pipeline; the
    mapInPandas codec path (multimodal.phash_media) computes the
    same hash from real pixels when a codec exists and is pinned
    bit-identical to this twin under FakeCodec in tests."""
    from . import multimodal

    corpus = _dup_corpus(spark, sf_dir)
    hashed = multimodal.ahash_frames(
        corpus, F.col("text").cast("binary"), id_col="doc_id"
    )
    return multimodal.phash_hamming_pairs(
        hashed, bands=4, max_hamming=2, id_col="media_id"
    )


@declare(
    "media_dedup_canonical",
    f"""
    WITH RECURSIVE {_DUP_CORPUS_SQL},
    ph0 AS (SELECT doc_id, sha256(text) || sha256(text) AS dd FROM corpus),
    ph1 AS MATERIALIZED (
      SELECT doc_id,
             [CAST(concat('0x', substr(dd, 2 * i - 1, 2)) AS BIGINT)
              for i in generate_series(1, 64)] AS px
      FROM ph0),
    ph2 AS MATERIALIZED (
      SELECT doc_id, px, CAST(list_sum(px) AS BIGINT) AS s FROM ph1),
    ph AS MATERIALIZED (
      SELECT doc_id,
             CAST(list_sum([CASE WHEN px[i] * 64 > s
                                 THEN (CAST(1 AS BIGINT) << (i - 1))
                                 ELSE CAST(0 AS BIGINT) END
                            for i in generate_series(1, 60)]) AS BIGINT)
               AS phash
      FROM ph2),
    bands AS MATERIALIZED (
      SELECT doc_id, phash, j.band,
             (phash >> (15 * j.band)) & 32767 AS bkey
      FROM ph, (SELECT unnest(range(0, 4)) AS band) j),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
      WHERE hamming <= 2),
    und AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach(id, lbl) AS (
      SELECT DISTINCT a, a FROM und
      UNION
      SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.id),
    comp AS (SELECT id, MIN(lbl) AS canonical FROM reach GROUP BY id)
    SELECT c.doc_id AS media_id,
           COALESCE(p.canonical, c.doc_id) AS canonical_id,
           CAST(COUNT(*) OVER (
               PARTITION BY COALESCE(p.canonical, c.doc_id)
           ) AS BIGINT) AS cluster_size,
           c.doc_id = COALESCE(p.canonical, c.doc_id) AS keep
    FROM corpus c LEFT JOIN comp p ON c.doc_id = p.id
    """,
)
def q_media_dedup_canonical(spark, sf_dir):
    """X5 end-to-end media dedup: perceptual aHash → 4×15-bit
    banded Hamming pairs (≤2) → connected components → canonical
    keep/drop for EVERY media item — the full media near-dup pipeline
    next to the text pipeline (dedup_pipeline_canonical), declared
    through the closure-free FakeCodec twin so the whole chain
    (hash → band → verify → components) oracle-checks; the real-codec
    path computes the identical hash when PIL exists (bit-identity
    pinned in tests). Oracle walks the same pair graph with a
    recursive CTE."""
    from . import multimodal

    # EAGER checkpoint: connected_components' own localCheckpoint on
    # the pairs lineage trips a Catalyst bug in Union constraint
    # rewriting ("key not found: text#N" in UnionBase.
    # rewriteConstraints — fixture-size-dependent: sf0.001 failed,
    # sf0.01 passed) when the planted-corpus UNION is still in the
    # plan; materializing the tiny corpus first removes the Union.
    corpus = _dup_corpus(spark, sf_dir).localCheckpoint()
    hashed = multimodal.ahash_frames(
        corpus, F.col("text").cast("binary"), id_col="doc_id"
    )
    pairs = multimodal.phash_hamming_pairs(
        hashed, bands=4, max_hamming=2, id_col="media_id"
    )
    media = corpus.select(F.col("doc_id").alias("media_id"))
    return dedup.dup_clusters(
        media, pairs, id_col="media_id", src="id_a", dst="id_b"
    )


# r5: lanes are disjoint 16-bit md5 hex slices (chars 4o+1..4o+4)
_BLOOM_LANES_SQL = "[" + ", ".join(
    f"CAST(concat('0x', substr(hx, {4 * o + 1}, 4)) AS BIGINT)"
    for o in range(pipeline.BLOOM_K)
) + "]"
_BPK = pipeline.BLOOM_K


@declare(
    "decontaminate_bloom_stats",
    f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + 400000, 'leaked eval item follows ' || text
        FROM documents WHERE doc_id % 97 = 0
    ),
    bench AS (
        SELECT text FROM documents WHERE doc_id % 97 = 0
    ),
    tokc AS MATERIALIZED (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM corpus
    ),
    gh AS MATERIALIZED (
        SELECT doc_id, i, substr(hxf, 1, 16) AS hx,
               CAST(concat('0x', substr(hxf, 1, 12)) AS BIGINT) AS h
        FROM (SELECT doc_id, i,
                     md5(array_to_string(t[i:i+7], ' ')) AS hxf
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 7)) AS i
                    FROM tokc WHERE len(t) >= 8))
    ),
    bh AS MATERIALIZED (
        SELECT DISTINCT
               substr(md5(array_to_string(t[i:i+7], ' ')), 1, 16) AS hx
        FROM (SELECT t, unnest(generate_series(1, len(t) - 7)) AS i
              FROM (SELECT list_filter(string_split_regex(lower(text),
                                                          '[^a-z]+'),
                                       x -> x <> '') AS t
                    FROM bench)
              WHERE len(t) >= 8)
    ),
    be AS MATERIALIZED (
        SELECT DISTINCT CAST(concat('0x', substr(hx, 1, 12)) AS BIGINT) AS h
        FROM bh
    ),
    words AS MATERIALIZED (
        SELECT p // 32 AS w,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS bits
        FROM (SELECT unnest({_BLOOM_LANES_SQL}) AS p FROM bh)
        GROUP BY 1
    ),
    chk AS MATERIALIZED (
        SELECT doc_id, i, h,
               count(*) FILTER (
                   WHERE w.bits IS NOT NULL
                     AND (w.bits & (CAST(1 AS BIGINT)
                                    << CAST(po.p % 32 AS INTEGER))) <> 0
               ) AS okbits
        FROM (SELECT doc_id, i, h,
                     unnest({_BLOOM_LANES_SQL}) AS p
              FROM gh) po
        LEFT JOIN words w ON po.p // 32 = w.w
        GROUP BY doc_id, i, h
    ),
    agg AS (
        SELECT c.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN okbits = {_BPK} THEN 1 ELSE 0 END) AS BIGINT)
                 AS bloom_hits,
               CAST(sum(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS exact_hits
        FROM chk c LEFT JOIN be e ON c.h = e.h
        GROUP BY c.doc_id
    )
    SELECT c.doc_id,
           coalesce(a.n_grams, 0) AS n_grams,
           coalesce(a.bloom_hits, 0) AS bloom_hits,
           coalesce(a.exact_hits, 0) AS exact_hits
    FROM (SELECT doc_id FROM corpus) c LEFT JOIN agg a USING (doc_id)
    """,
)
def q_decontaminate_bloom(spark, sf_dir):
    """Pipeline extension: Bloom-probed decontamination — the
    eval-side gram set compresses to a literal 64 Kbit filter so the
    corpus probe is MAP-ONLY at any eval-suite size (the scale path
    past decontaminate's broadcast-set ceiling). bloom_hits vs
    exact_hits per doc makes the false-positive cost a measured
    output, and because the filter is md5-derived integer bit math,
    the oracle replays the filter itself — false positives included —
    bit-for-bit."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    leaked = bench.select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(
            F.lit("leaked eval item follows "), F.col("text")
        ).alias("text"),
    )
    corpus = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", "text")
        .unionAll(leaked)
    )
    return pipeline.decontaminate_bloom(corpus, bench, n=8)


@declare(
    "stratified_sample_docs",
    """
    WITH d AS (
        SELECT lang AS stratum, doc_id AS id,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
    cnt AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_s
            FROM d GROUP BY 1),
    alloc0 AS (SELECT stratum, n_s, sum(n_s) OVER () AS n FROM cnt),
    alloc1 AS (
        SELECT stratum,
               (100 * n_s) // n AS base,
               (100 * n_s) % n AS rem
        FROM alloc0),
    alloc AS (
        SELECT stratum,
               CAST(base + CASE WHEN row_number()
                                     OVER (ORDER BY rem DESC, stratum)
                                <= 100 - sum(base) OVER ()
                           THEN 1 ELSE 0 END AS BIGINT) AS quota
        FROM alloc1),
    p AS (
        SELECT d.stratum, d.id,
               row_number() OVER (PARTITION BY d.stratum
                                  ORDER BY d.h, d.id) AS samp_rank,
               a.quota
        FROM d JOIN alloc a USING (stratum))
    SELECT stratum, id, CAST(samp_rank AS BIGINT) AS samp_rank, quota
    FROM p WHERE samp_rank <= quota
    """,
)
def q_stratified_sample_docs(spark, sf_dir):
    """Exact-budget stratified sampling (r5,
    pipeline.stratified_sample_exact): 100 documents allocated across
    language strata by largest-remainder (Hamilton) apportionment —
    quotas sum to the budget EXACTLY (mixture_sample's per-domain
    rates can't guarantee that), rows picked by md5(id) order so the
    sample is stable under reruns and append-only growth of
    non-sampled rows. Allocation windows run over the |strata|-row
    frame, never the corpus; the per-stratum pick is one partitioned
    row_number window."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.stratified_sample_exact(
        docs, "lang", "doc_id", total=100
    )


@declare(
    "zipf_fit_tokens",
    """
    WITH toks AS (
        SELECT lang,
               UNNEST(string_split_regex(text, '[^A-Za-z]+')) AS word
        FROM documents),
    freq AS (
        SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt
        FROM toks WHERE word <> '' GROUP BY 1, 2),
    pts AS (
        SELECT lang AS grp,
               CAST(length(bin(row_number() OVER (
                   PARTITION BY lang ORDER BY cnt DESC, word)))
                   AS BIGINT) AS x,
               CAST(length(bin(cnt)) AS BIGINT) AS y
        FROM freq),
    s AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM pts GROUP BY grp)
    SELECT grp, n,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CAST(sy * sxx - sx * sxy AS BIGINT) AS intercept_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS intercept_den,
           CAST(CASE WHEN n * sxx - sx * sx <> 0
                     THEN (1000000 * (n * sxy - sx * sy))
                          // (n * sxx - sx * sx)
                END AS BIGINT) AS slope_micro
    FROM s
    """,
)
def q_zipf_fit_tokens(spark, sf_dir):
    """Zipf power-law audit: per-language OLS of log₂(freq) on
    log₂(rank) over the token rank-frequency table — the corpus-
    health check that catches template/boilerplate floods (natural
    text slopes near −1; spam flattens it). The log₂ is EXACT integer
    bit-length via length(bin(x)) — identical in both engines — so a
    transcendental-looking fit stays hash-portable (the ln()-is-not-
    hash-safe lesson, applied offensively). Composition: wordcount →
    per-lang rank window → mlfit.linreg_fit_exact, all existing
    oracle-proven pieces."""
    from pyspark.sql import Window

    from . import mlfit, mrapps  # noqa: F401  (mlfit does the fit)
    from ..functions.text import ascii_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(ascii_tokens("text")).alias("word")
    )
    freq = toks.groupBy("lang", "word").agg(
        F.count("*").cast("long").alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("cnt"), F.asc("word")
    )
    pts = freq.withColumn("rank", F.row_number().over(w))
    return mlfit.linreg_fit_exact(
        pts,
        "lang",
        F.length(F.bin("rank")),
        F.length(F.bin("cnt")),
    )


# ---------------------------------- classifier-based quality filtering


def _clf_sql_fragments():
    """Shared oracle fragments for the classifier entries — weights,
    bias and the per-doc score CTE all interpolate from
    textstats.classifier_weights/bias (the Bloom-tuple rule)."""
    from .textstats import CLF_DIM, classifier_bias, classifier_weights

    w_list = "[" + ", ".join(str(w) for w in classifier_weights()) + "]"
    bias = classifier_bias()
    scores_cte = f"""
    tk AS MATERIALIZED (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text),
                                                     '[^a-z]+'),
                      x -> x <> '')) AS tok
        FROM documents),
    ws AS MATERIALIZED (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(list_extract({w_list},
                   CAST((CAST(concat('0x', substr(md5(tok), 1, 4))
                         AS BIGINT) % {CLF_DIM}) + 1 AS INT)))
                    AS BIGINT) AS wsum
        FROM tk GROUP BY doc_id),
    sc AS MATERIALIZED (
        SELECT d.doc_id,
               CAST(COALESCE(w.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST({bias} + COALESCE(w.wsum, 0) AS BIGINT) AS score
        FROM documents d LEFT JOIN ws w USING (doc_id))
    """
    return scores_cte


@declare(
    "classifier_quality_scores",
    f"""
    WITH {_clf_sql_fragments()}
    SELECT doc_id, n_tokens, score,
           CAST(abs(score) AS BIGINT) AS margin,
           CASE WHEN score >= 0 THEN 'keep' ELSE 'toss' END AS label,
           CAST(CASE WHEN n_tokens > 0
                     THEN (1000 * score) // n_tokens
                END AS BIGINT) AS score_per_token_milli
    FROM sc
    """,
)
def q_classifier_quality_scores(spark, sf_dir):
    """Classifier-based quality scoring: the
    fasttext-style linear-filter step between the heuristic filters
    (quality_score, gopher_rules_audit) and a learned model — hashed
    bag-of-words integer dot product against a literal weight vector,
    MAP-ONLY (zero shuffles, the weight table is a 256-literal array
    riding in the projection). Per-doc (score, margin, label,
    per-token rate); empty docs keep their row with score = bias and
    NULL rate; (1000·score) div n_tokens truncates toward zero
    identically in both engines (score may be negative). widen_scan:
    the per-token md5 fold is interpreted HOF work on a 1-row-group
    fixture (the PQ lesson)."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.classifier_quality_scores(docs)


@declare(
    "classifier_quality_audit",
    f"""
    WITH {_clf_sql_fragments()}
    SELECT CASE WHEN score >= 0 THEN 'keep' ELSE 'toss' END AS label,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(score) AS BIGINT) AS sum_score,
           CAST(min(score) AS BIGINT) AS min_score,
           CAST(max(score) AS BIGINT) AS max_score
    FROM sc GROUP BY 1
    """,
)
def q_classifier_quality_audit(spark, sf_dir):
    """Threshold audit of the classifier filter: the bounded
    per-label corpus view (counts, token mass, score extrema) a
    pipeline dashboards before committing to a keep threshold — one
    partial-agg shuffle over the map-only scores."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.classifier_quality_audit(docs)


@declare(
    "mixture_temperature_docs",
    """
    WITH d AS (
        SELECT lang AS stratum, doc_id AS id,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
    cnt AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_s
            FROM d GROUP BY 1),
    wts AS (SELECT stratum,
                   CAST(floor(sqrt(CAST(n_s AS DOUBLE))) AS BIGINT) AS w
            FROM cnt),
    alloc0 AS (SELECT stratum, w, sum(w) OVER () AS wn FROM wts),
    alloc1 AS (
        SELECT stratum,
               (100 * w) // wn AS base,
               (100 * w) % wn AS rem
        FROM alloc0),
    alloc AS (
        SELECT stratum,
               CAST(base + CASE WHEN row_number()
                                     OVER (ORDER BY rem DESC, stratum)
                                <= 100 - sum(base) OVER ()
                           THEN 1 ELSE 0 END AS BIGINT) AS quota
        FROM alloc1),
    p AS (
        SELECT d.stratum, d.id,
               row_number() OVER (PARTITION BY d.stratum
                                  ORDER BY d.h, d.id) AS samp_rank,
               a.quota
        FROM d JOIN alloc a USING (stratum))
    SELECT stratum, id, CAST(samp_rank AS BIGINT) AS samp_rank, quota
    FROM p WHERE samp_rank <= quota
    """,
)
def q_mixture_temperature_docs(spark, sf_dir):
    """Temperature-flattened mixture sampling (r6,
    pipeline.mixture_temperature_sample): 100 documents apportioned
    across language strata proportional to isqrt(n_s) — the tau=1/2
    data-mixing flattening (small domains upweighted relative to
    proportional sampling) that real LLM mixtures use, at the one
    temperature whose power stays engine-portable (IEEE sqrt is
    correctly rounded in both engines; arbitrary tau needs pow — the
    ln() lesson). Same Hamilton exact-budget allocation and md5 pick
    order as stratified_sample_docs; quotas still sum to the budget
    exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.mixture_temperature_sample(
        docs, "lang", "doc_id", total=100
    )


# -- datacard oracle constants (one-source rule) ----------------------
from .textstats import (  # noqa: E402
    CLF_DIM as _CLF_DIM,
    LANG_MARKERS as _LANG_MARKERS,
    classifier_bias as _clf_bias_fn,
    classifier_weights as _clf_weights_fn,
)

_CLF_W_LIST_SQL = "[" + ", ".join(str(w) for w in _clf_weights_fn()) + "]"
_CLF_BIAS = _clf_bias_fn()
_CLF_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in _LANG_MARKERS["en"])


@declare(
    "preference_pairs_by_quality",
    f"""
    WITH pbase AS (
        SELECT doc_id, source,
               {_CLF_BIAS} + coalesce(list_sum([list_extract(
                   {_CLF_W_LIST_SQL},
                   CAST((CAST(concat('0x', substr(md5(x), 1, 4)) AS BIGINT)
                         % {_CLF_DIM}) + 1 AS INT))
                   for x in list_filter(
                       string_split_regex(lower(text), '[^a-z]+'),
                       x -> x <> '')]), 0) AS s,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
    ranked AS (
        SELECT doc_id, source, s,
               row_number() OVER (PARTITION BY source
                                  ORDER BY h, doc_id) - 1 AS r
        FROM pbase),
    sides AS (
        SELECT source, CAST(r // 2 AS BIGINT) AS pair_id, r % 2 AS side,
               doc_id, CAST(s AS BIGINT) AS s
        FROM ranked)
    SELECT a.source, a.pair_id,
           CASE WHEN a.s > b.s OR (a.s = b.s AND a.doc_id < b.doc_id)
                THEN a.doc_id ELSE b.doc_id END AS chosen_id,
           CASE WHEN a.s > b.s OR (a.s = b.s AND a.doc_id < b.doc_id)
                THEN b.doc_id ELSE a.doc_id END AS rejected_id,
           CASE WHEN a.s > b.s OR (a.s = b.s AND a.doc_id < b.doc_id)
                THEN a.s ELSE b.s END AS chosen_score,
           CASE WHEN a.s > b.s OR (a.s = b.s AND a.doc_id < b.doc_id)
                THEN b.s ELSE a.s END AS rejected_score,
           CAST(abs(a.s - b.s) AS BIGINT) AS margin
    FROM sides a JOIN sides b
      ON a.source = b.source AND a.pair_id = b.pair_id
     AND a.side = 0 AND b.side = 1
    """,
)
def q_preference_pairs(spark, sf_dir):
    """DPO/RLHF preference-pair construction (r7,
    pipeline.preference_pairs): within each source (prompt
    surrogate), documents pair off deterministically in md5 order and
    the hashed-classifier quality score — the reward-model surrogate
    already on the oracle surface — labels chosen vs rejected (ties
    to the smaller id, odd leftovers drop). The preference-data
    assembly step of an alignment pipeline, fully oracle-checked.
    widen_scan: the classifier fold is the interpreted-HOF class (the
    PQ lesson)."""
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
    )
    return pipeline.preference_pairs(
        docs, textstats.classifier_score_col("text")
    )


_GRPO_BASE_SQL = f"""
    gbase AS MATERIALIZED (
        SELECT CAST(doc_id % 64 AS BIGINT) AS group_id, doc_id,
               CAST({_CLF_BIAS} + coalesce(list_sum([list_extract(
                   {_CLF_W_LIST_SQL},
                   CAST((CAST(concat('0x', substr(md5(x), 1, 4)) AS BIGINT)
                         % {_CLF_DIM}) + 1 AS INT))
                   for x in list_filter(
                       string_split_regex(lower(text), '[^a-z]+'),
                       x -> x <> '')]), 0) AS BIGINT) AS r
        FROM documents)"""


@declare(
    "grpo_group_advantages",
    f"""
    WITH {_GRPO_BASE_SQL}
    SELECT group_id, doc_id, r AS reward_fp,
           CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS grp_n,
           CAST(count(*) OVER (PARTITION BY group_id) * r
                - sum(r) OVER (PARTITION BY group_id) AS BIGINT) AS adv_num,
           CAST(row_number() OVER (PARTITION BY group_id
                                   ORDER BY r DESC, doc_id) AS INT)
             AS rank_in_group
    FROM gbase
    """,
)
def q_grpo_group_advantages(spark, sf_dir):
    """RL-data assembly (r10, pipeline.group_relative_advantage):
    GRPO-style group-relative advantages — per prompt group
    (doc_id % 64 as the group surrogate), each sample's reward
    relative to the group mean as the EXACT scaled numerator
    n·r − Σr (sums to 0 within every group), plus the division-free
    per-group ranking. Reward = the hashed-classifier score (the
    reward-model surrogate already on the oracle surface). One
    shuffle by group; no global window. widen_scan: the classifier
    fold is the interpreted-HOF class (the PQ lesson)."""
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).withColumn("group_id", (F.col("doc_id") % 64).cast("long"))
    return pipeline.group_relative_advantage(
        docs, textstats.classifier_score_col("text")
    )


@declare(
    "rejection_sample_bestofn",
    f"""
    WITH {_GRPO_BASE_SQL}
    SELECT group_id, doc_id, reward_fp, n_candidates, adv_num FROM (
        SELECT group_id, doc_id, r AS reward_fp,
               CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT)
                 AS n_candidates,
               CAST(count(*) OVER (PARTITION BY group_id) * r
                    - sum(r) OVER (PARTITION BY group_id) AS BIGINT)
                 AS adv_num,
               row_number() OVER (PARTITION BY group_id
                                  ORDER BY r DESC, doc_id) AS rn
        FROM gbase) WHERE rn = 1
    """,
)
def q_rejection_sample_bestofn(spark, sf_dir):
    """RL-data assembly (r10, pipeline.rejection_sample_best_of_n):
    best-of-n rejection sampling — each prompt group's argmax-reward
    sample survives (ties to the smaller id), with the candidate
    count and the winner's advantage numerator (= Σ of its margins
    over the losers) recorded. The RFT/rejection-sampling step next
    to preference_pairs (DPO) and grpo_group_advantages (GRPO) in the
    alignment-data family. Output is |groups|-sized."""
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).withColumn("group_id", (F.col("doc_id") % 64).cast("long"))
    return pipeline.rejection_sample_best_of_n(
        docs, textstats.classifier_score_col("text")
    )


def _pass_ct_values() -> str:
    """(n, k, v) literal rows of the binomial table — ONE Python
    math.comb source for the Spark literal array, this oracle and
    the tests (the Bloom-tuple rule)."""
    import math

    from . import pipeline as _pl

    return ", ".join(
        f"({n}, {k}, {math.comb(n, k)})"
        for n in range(_pl.PASS_AT_MAX_N + 1)
        for k in _pl.PASS_AT_KS
    )


@declare(
    "pass_at_k_events",
    f"""
    WITH s AS (
        SELECT user_id % 64 AS prompt_id,
               (event_type = 'purchase') AS ok,
               row_number() OVER (PARTITION BY user_id % 64
                                  ORDER BY event_id) AS rn
        FROM events),
    a AS (
        SELECT prompt_id, count(*) AS n,
               count(*) FILTER (WHERE ok) AS c
        FROM s WHERE rn <= 16 GROUP BY 1),
    ct(n, k, v) AS (VALUES {{PASS_CT}}),
    e AS (
        SELECT a.prompt_id, a.n, a.c, kk.k
        FROM a CROSS JOIN (VALUES (1), (4), (8)) kk(k)
        WHERE kk.k <= a.n)
    SELECT e.prompt_id,
           CAST(e.n AS BIGINT) AS n_samples,
           CAST(e.c AS BIGINT) AS n_correct,
           CAST(e.k AS BIGINT) AS k,
           CAST((1000 * (cn.v - cm.v)) // cn.v AS BIGINT) AS pass_milli
    FROM e JOIN ct cn ON cn.n = e.n AND cn.k = e.k
           JOIN ct cm ON cm.n = e.n - e.c AND cm.k = e.k
    """.replace("{PASS_CT}", _pass_ct_values()),
)
def q_pass_at_k_events(spark, sf_dir):
    """Eval family (r12, pipeline.pass_at_k — Chen et al. 2021):
    the unbiased pass@k estimator 1 − C(n−c,k)/C(n,k) over synthetic
    prompt groups (user_id % 64; a sample is 'correct' when its
    event is a purchase; first 16 samples per prompt by event_id —
    the bounded-n cut that keeps every binomial in int64). The
    whole estimator is integer arithmetic against a literal C table,
    so pass@{{1,4,8}} oracle-checks exactly. One capped window + one
    groupBy + a 3-way k explode."""
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 64).cast("long").alias("prompt_id"),
        (F.col("event_type") == "purchase").alias("ok"),
        "event_id",
    )
    return pipeline.pass_at_k(
        ev, "prompt_id", F.col("ok"), "event_id"
    )


@declare(
    "canonical_dedup_by_quality",
    _DUP_GRAPH_SQL
    + f""",
    qscored AS (
        SELECT c.doc_id,
               COALESCE(p.canonical, c.doc_id) AS cluster_id,
               CAST({_CLF_BIAS} + coalesce(list_sum([list_extract(
                   {_CLF_W_LIST_SQL},
                   CAST((CAST(concat('0x', substr(md5(x), 1, 4)) AS BIGINT)
                         % {_CLF_DIM}) + 1 AS INT))
                   for x in list_filter(
                       string_split_regex(lower(c.text), '[^a-z]+'),
                       x -> x <> '')]), 0) AS BIGINT) AS score
        FROM corpus c LEFT JOIN comp p ON c.doc_id = p.id)
    SELECT doc_id, cluster_id, rep_id, score, doc_id = rep_id AS keep
    FROM (
        SELECT doc_id, cluster_id, score,
               first_value(doc_id) OVER (
                   PARTITION BY cluster_id
                   ORDER BY score DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS rep_id
        FROM qscored)
    """,
)
def q_canonical_dedup_by_quality(spark, sf_dir):
    """Quality-aware canonicalization (r7, dedup.canonical_by_score):
    the dup-cluster pipeline re-picks each cluster's representative as
    its HIGHEST classifier-quality member (ties → smallest id) instead
    of the min-id rule — the production dedup policy (keep the best
    copy). Clusters come from the planted-dup graph
    (dedup_pipeline_canonical's corpus); the reward surrogate is the
    in-window hashed-classifier score; rep selection is one
    running-first window (no corpus-sized rep join). Oracle walks the
    same graph recursively and replays the window."""
    corpus = _planted_dup_corpus(spark, sf_dir)
    clusters = dedup.dup_clusters(
        corpus,
        _dup_blocking_pairs(corpus),
        id_col="doc_id",
        src="src",
        dst="dst",
    )
    scored = corpus.select(
        "doc_id", textstats.classifier_score_col("text").alias("score")
    )
    return dedup.canonical_by_score(clusters, scored)


@declare(
    "corpus_datacard",
    # stopwords / weights / bias interpolate from textstats (one
    # source for all legs); keep-rule thresholds mirror
    # corpus_quality_filter's oracle verbatim
    f"""
    WITH base AS (
        SELECT doc_id, lang, text,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t,
               length(text) AS n_chars
        FROM documents),
    m AS (
        SELECT lang,
               len(t) AS n_tokens,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    AS DOUBLE) / greatest(n_chars, 1) AS letter_ratio,
               CASE WHEN len(t) > 0
                    THEN CAST(coalesce(list_sum([length(x) for x in t]), 0)
                              AS DOUBLE) / len(t)
                    ELSE 0.0 END AS mean_word_len,
               CAST(len(list_filter(t,
                    x -> x IN ({_CLF_STOPWORDS_SQL}))) AS DOUBLE)
                   / greatest(len(t), 1) AS stopword_ratio,
               coalesce(list_sum([list_extract({_CLF_W_LIST_SQL},
                   CAST((CAST(concat('0x', substr(md5(x), 1, 4))
                         AS BIGINT) % {_CLF_DIM}) + 1 AS INT))
                   for x in t]), 0) AS wsum,
               array_to_string(list_sort(t), ' ') AS fp
        FROM base)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN n_tokens BETWEEN 10 AND 100000
                          AND letter_ratio >= 0.6
                          AND mean_word_len BETWEEN 2.0 AND 12.0
                          AND stopword_ratio > 0.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS heuristic_keep,
           CAST(sum(CASE WHEN {_CLF_BIAS} + wsum >= 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS classifier_keep,
           CAST(count(DISTINCT fp) AS BIGINT) AS distinct_fingerprints,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS dup_docs
    FROM m GROUP BY lang
    """,
)
def q_corpus_datacard(spark, sf_dir):
    """Per-language corpus datacard (r6, profile.corpus_datacard):
    the release-notes table — volume, heuristic + classifier keep
    rates, duplication — in ONE pass (map-side features, one
    groupBy(lang) with an exact count-distinct; no per-metric
    re-scan). Composes three declared contracts (quality_keep,
    classifier_score_col, the fingerprint canonical string) so the
    summary is provably consistent with the filters it describes."""
    from . import profile

    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return profile.corpus_datacard(docs)


# Shared DSIR score CTE chain (tok/fb/bt/tot/llr/sc, constants
# interpolated from pipeline — one source for all legs), ending with
# sc(doc_id, n_grams, dsir_score_bits) over gram-bearing docs. Used
# verbatim by dsir_importance_scores AND dsir_resample_docs.
_DSIR_SQL = f"""
    tok AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    fb AS MATERIALIZED (
        SELECT doc_id,
               CAST(('0x' || substr(md5(g), 1, 4)) AS BIGINT)
                 % {pipeline.DSIR_BUCKETS} AS b,
               tflag
        FROM (
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tflag,
                   unnest([array_to_string(t[i:i+1], ' ')
                           for i in generate_series(1, len(t) - 1)]) AS g
            FROM tok WHERE len(t) >= 2
        )
    ),
    bt AS MATERIALIZED (
        SELECT b, CAST(count(*) AS HUGEINT) AS qc,
               CAST(coalesce(sum(tflag), 0) AS HUGEINT) AS pc
        FROM fb GROUP BY b
    ),
    tot AS (
        SELECT CAST(sum(qc) AS HUGEINT) AS nq,
               CAST(sum(pc) AS HUGEINT) AS np
        FROM bt
    ),
    llr AS MATERIALIZED (
        SELECT b,
               CAST(length(bin(CAST(greatest(least(
                   ((pc + 1) * nq * {1 << pipeline.DSIR_FP_BITS}::HUGEINT)
                     // ((qc + 1) * np),
                   {pipeline._DSIR_CLAMP}::HUGEINT), 1::HUGEINT)
                   AS BIGINT))) AS BIGINT) - {1 + pipeline.DSIR_FP_BITS} AS lb
        FROM bt, tot
    ),
    sc AS (
        SELECT f.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(l.lb) AS BIGINT) AS dsir_score_bits
        FROM fb f JOIN llr l USING (b)
        GROUP BY 1
    )"""


@declare(
    "dsir_importance_scores",
    f"""
    WITH {_DSIR_SQL}
    SELECT d.doc_id,
           CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(s.dsir_score_bits, 0) AS BIGINT) AS dsir_score_bits,
           coalesce(s.dsir_score_bits, 0) >= 0 AS selected
    FROM documents d LEFT JOIN sc s USING (doc_id)
    """,
)
def q_dsir_importance_scores(spark, sf_dir):
    """DSIR data selection (r6, pipeline.dsir_importance_scores):
    per-document target-likeness scores from hashed-bigram importance
    ratios — the importance-resampling selection step of Xie et al.
    2023, with the log-likelihood ratio replaced by its exact integer
    floor-log2 (bit_length of a decimal(38,0) fixed-point ratio — the
    zipf/HLL trick), so every leg is hash-portable. Target here =
    lang='en'; the 4096-cell bucket/llr tables are broadcast-sized at
    any corpus scale."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return pipeline.dsir_importance_scores(docs, F.col("lang") == "en")


@declare(
    "dsir_resample_docs",
    f"""
    WITH {_DSIR_SQL},
    scores AS (
        SELECT d.doc_id,
               CAST(coalesce(s.dsir_score_bits, 0) AS BIGINT) AS bits
        FROM documents d LEFT JOIN sc s USING (doc_id)),
    strat AS (
        SELECT doc_id, bits,
               CAST(greatest(least(bits, {pipeline.DSIR_RESAMPLE_CLAMP}),
                             -{pipeline.DSIR_RESAMPLE_CLAMP}) AS BIGINT)
                 AS stratum,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM scores),
    cnt AS (
        SELECT stratum, CAST(count(*) AS HUGEINT)
                 * (1::HUGEINT << CAST(stratum
                     + {pipeline.DSIR_RESAMPLE_CLAMP} AS INTEGER)) AS w
        FROM strat GROUP BY 1),
    alloc0 AS (SELECT stratum, w, sum(w) OVER () AS wn FROM cnt),
    alloc1 AS (
        SELECT stratum,
               (500::HUGEINT * w) // wn AS base,
               (500::HUGEINT * w) % wn AS rem
        FROM alloc0),
    alloc AS (
        SELECT stratum,
               CAST(base + CASE WHEN row_number()
                                     OVER (ORDER BY rem DESC, stratum)
                                <= 500 - sum(base) OVER ()
                           THEN 1 ELSE 0 END AS BIGINT) AS quota
        FROM alloc1),
    p AS (
        SELECT s.doc_id, s.bits AS dsir_score_bits, s.stratum,
               row_number() OVER (PARTITION BY s.stratum
                                  ORDER BY s.h, s.doc_id) AS samp_rank,
               a.quota
        FROM strat s JOIN alloc a USING (stratum))
    SELECT doc_id, dsir_score_bits, stratum,
           CAST(samp_rank AS BIGINT) AS samp_rank, quota
    FROM p WHERE samp_rank <= quota
    """,
)
def q_dsir_resample_docs(spark, sf_dir):
    """The DSIR RESAMPLING step
    (pipeline.dsir_resample): a 500-document budget apportioned across
    dsir_score_bits strata (clamped to ±8) proportional to each
    stratum's total importance mass n_s·2^(stratum+8) — the
    largest-remainder machinery shared with stratified/temperature
    sampling — with the within-stratum pick in md5(doc_id) order.
    Closes the score→select loop of Xie et al. 2023 end-to-end under
    one oracle; strata whose mass-share exceeds their size come back
    short (Σ picked ≤ 500)."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return pipeline.dsir_resample(docs, F.col("lang") == "en", budget=500)


# --------------------------------------------------------- retrieval


def _bm25_tscore_sql(ind: str) -> str:
    """The per-(term, doc) HUGEINT BM25 contribution — references
    aliases t (tf), f (df), d (dl), s (n/tt) in scope; ``ind`` is the
    caller's continuation indent so interpolation reproduces the
    committed fragment byte-for-byte. One source for the scoring leg
    and the champion-list oracle (retrieval.term_score_fp_expr is the
    Spark twin)."""
    return (
        f"((2::HUGEINT * s.n - 2 * f.df + 1)\n"
        f"{ind} * (22::HUGEINT * s.tt * t.tf)\n"
        f"{ind} * {retrieval.BM25_SCALE})\n"
        f"{ind}// ((2::HUGEINT * f.df + 1)\n"
        f"{ind}    * (10::HUGEINT * s.tt * t.tf\n"
        f"{ind}       + 3::HUGEINT * s.tt\n"
        f"{ind}       + 9::HUGEINT * d.dl * s.n))"
    )


def _bm25_leg_sql(k: int, qt_name: str, sfx: str = "") -> str:
    """One BM25 scoring LEG over an arbitrary (query_id, term) CTE —
    CTEs cand{sfx}/tf{sfx}/dfq{sfx}/bm{sfx} reading the shared
    tok/dl/sc/ex base. Factored so prf_bm25_fixed can rank
    twice (original terms, then the expanded set) in one statement;
    _bm25_sql is the single-leg instance."""
    return f"""
    cand{sfx} AS MATERIALIZED (
        SELECT q.query_id, e.doc_id, e.term
        FROM ex e JOIN {qt_name} q USING (term)
    ),
    tf{sfx} AS (
        SELECT query_id, doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM cand{sfx} GROUP BY 1, 2, 3
    ),
    dfq{sfx} AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM cand{sfx} GROUP BY 1
    ),
    bm{sfx} AS MATERIALIZED (
        SELECT query_id, doc_id, n_terms, score_fp, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY score_fp DESC, doc_id) AS rank
            FROM (
                SELECT t.query_id, t.doc_id,
                       CAST(count(*) AS BIGINT) AS n_terms,
                       CAST(sum(
                           {_bm25_tscore_sql(" " * 27)}
                       ) AS BIGINT) AS score_fp
                FROM tf{sfx} t
                JOIN dfq{sfx} f USING (term)
                JOIN dl d USING (doc_id), sc s
                GROUP BY 1, 2
            )
        ) WHERE rank <= {k}
    )"""


def _bm25_base_sql(query_pred: str = "doc_id % 100 = 0") -> str:
    """The query-independent BM25 base CTEs — tok/dl/sc/qt/ex — with
    no scoring leg. Factored so the champion-list oracle can
    reuse the tokenize/stats base without the per-query leg;
    ``_bm25_sql`` = base + one leg."""
    return f"""
    tok AS MATERIALIZED (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    dl AS MATERIALIZED (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok
    ),
    sc AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dl) AS BIGINT) AS tt
        FROM dl
    ),
    qt AS MATERIALIZED (
        SELECT doc_id AS query_id,
               unnest(list_distinct(toks[1:5])) AS term
        FROM tok WHERE {query_pred}
    ),
    ex AS MATERIALIZED (
        SELECT doc_id, unnest(toks) AS term FROM tok
    )"""


def _bm25_sql(k: int, query_pred: str = "doc_id % 100 = 0") -> str:
    """BM25 oracle fragment: CTEs tok/dl/sc/qt/ex/cand/tf/dfq/bm
    ending with bm(query_id, doc_id, n_terms, score_fp, rank <= k).
    Queries = first-5 distinct tokens of every ``query_pred`` doc
    (default: doc_id % 100 == 0); constants mirror
    retrieval.bm25_topk (k1=6/5, b=3/4 multiplied out; products in
    HUGEINT — the decimal(38,0) twin)."""
    return f"""{_bm25_base_sql(query_pred)},{_bm25_leg_sql(k, "qt")}"""


# One BM25Index per (session, sf_dir): the declared BM25 entries serve
# from an at-rest postings/df/dl index (built once, term-bucket-
# partitioned parquet) instead of re-tokenizing the corpus per call.
# Output is bit-identical to the two-pass retrieval.bm25_topk (the
# serve path reuses the exact _bm25_rank scoring tail; parity-pinned in
# tests/test_retrieval.py), so the oracle SQL is unchanged.
def _bm25_serve(spark, sf_dir, use):
    """``use(index)`` on the session BM25Index (see _serve)."""

    def build():
        docs = widen_scan(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
        return retrieval.BM25Index.build(
            docs, _ivf_tmpdir(prefix="mrgo_bm25_idx_")
        )

    return _serve(spark, ("bm25", sf_dir), build, use)


# The FIXTURE-DERIVED query-term frames: every serve entry would
# otherwise rebuild + re-checkpoint the same deterministic
# (query_id, term) table — a pruned corpus scan + a materialization job
# per entry (~0.2-0.4 s each). The frames are corpus-derived INPUT
# workloads (the _fixed_qids / eval_truth class), broadcast-sized, and
# cached per (session, sf_dir, tag).
def _qterms_cached(spark, sf_dir, tag, build):
    return _cached(
        spark,
        ("qterms", sf_dir, tag),
        lambda: build()
        .select("query_id", "term")
        .localCheckpoint(eager=False),
    )


def _fixed_qterms(spark, sf_dir):
    """The fixed-8-query (query_id, term) frame (the _fixed_qids idiom),
    cached per (session, sf_dir) — shared by bm25_topk_fixed,
    bm25_champion_topk_fixed and dcg_eval_fixed."""
    def build():
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        qids = _fixed_qids(spark, sf_dir)
        return retrieval.query_terms_from_docs(
            docs, F.col("doc_id").isin(qids)
        )

    return _qterms_cached(spark, sf_dir, "fixed8", build)


def _bm25_served(spark, sf_dir, k: int):
    """Served BM25 top-k for the fixture query set (doc_id % 100)."""
    qterms = _qterms_cached(
        spark,
        sf_dir,
        "mod100",
        lambda: retrieval.query_terms_from_docs(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
            F.col("doc_id") % 100 == 0,
        ),
    )
    return _bm25_served_terms(spark, sf_dir, qterms, k)


def _bm25_served_terms(spark, sf_dir, qterms, k: int):
    """Served BM25 top-k for an arbitrary (query_id, term) table.

    No checkpoint is taken here: BM25Index.query pins the table once
    per call, so its lineage (a full corpus text decode behind every
    fixture query set's tiny row count) runs once per serve. A dead-path
    rebuild serves again and so runs it once more."""
    return _bm25_serve(spark, sf_dir, lambda idx: idx.query(qterms, k=k))


@declare(
    "bm25_topk_docs",
    f"""
    WITH {_bm25_sql(10)}
    SELECT query_id, doc_id, n_terms, score_fp, rank FROM bm
    """,
)
def q_bm25_topk_docs(spark, sf_dir):
    """Lexical retrieval (retrieval.bm25_topk): top-10 documents per
    query under exact-integer Okapi BM25 — k1=6/5 and b=3/4 multiply
    out to one truncating fixed-point division per (query, doc, term)
    and an exact integer sum, so the full RANKING is oracle-checked
    (not just the row set). Queries are fixture-derived: the first 5
    distinct tokens of every doc_id % 100 == 0 document. Serves from
    the session-cached at-rest BM25Index: postings/df scans
    prune to the query terms' hash buckets; zero corpus passes after
    the one-time build."""
    return _bm25_served(spark, sf_dir, k=10)


def _fixed_qids(spark, sf_dir, n: int = 8) -> list[int]:
    """The FIXED serving query set: the n smallest
    distinct vec_ids — the same 8-query idiom the PQ LUT set uses, so
    serving entries built on it are corpus-LINEAR. The %100-doc
    fixture sets grow with the corpus AND duplicate K× under the
    verbatim-copy scale probe (the K²-by-fixture law), which made
    every scale-probe row built on them mis-grade the serve. 8-row
    collect = driver-tiny (the IVF-seed precedent)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sorted(
        int(r.vec_id)
        for r in emb.select("vec_id")
        .distinct()
        .orderBy("vec_id")
        .limit(n)
        .collect()
    )


_FIXED_QIDS_SQL = """
    fqids AS (SELECT vec_id FROM (SELECT DISTINCT vec_id FROM embeddings
                                  ORDER BY vec_id LIMIT 8)),"""


@declare(
    "bm25_topk_fixed",
    f"""
    WITH {_FIXED_QIDS_SQL}
    {_bm25_sql(10, query_pred="doc_id IN (SELECT vec_id FROM fqids)")}
    SELECT query_id, doc_id, n_terms, score_fp, rank FROM bm
    """,
)
def q_bm25_topk_fixed(spark, sf_dir):
    """Fixed-query-set BM25 serve: the same
    index-served exact-integer ranking as bm25_topk_docs, but over
    the FIXED 8-query set (smallest vec_ids — the PQ-LUT idiom), so
    the entry measures the SERVE and scales corpus-linearly: the
    %100-doc set behind bm25_topk_docs inherits the K²-by-fixture
    law under the verbatim-copy probe (query count grows with the
    corpus and every copied query hits K× duplicated candidates).
    bm25_topk_docs stays declared — its oracle row pins the ranking
    math over a corpus-sized query set — but scale-probe rows live
    here."""
    qterms = _fixed_qterms(spark, sf_dir)
    return _bm25_served_terms(spark, sf_dir, qterms, k=10)


@declare(
    "bm25_champion_topk_fixed",
    f"""
    WITH {_FIXED_QIDS_SQL}
    {_bm25_base_sql(query_pred="doc_id IN (SELECT vec_id FROM fqids)")},
    tfa AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM ex GROUP BY 1, 2),
    dfa AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM tfa GROUP BY 1),
    chs AS MATERIALIZED (
        SELECT term, doc_id, ts FROM (
            SELECT *, row_number() OVER (
                PARTITION BY term ORDER BY ts DESC, doc_id) AS crank
            FROM (
                SELECT t.term, t.doc_id,
                       CAST({_bm25_tscore_sql(" " * 27)}
                       AS BIGINT) AS ts
                FROM tfa t JOIN dfa f USING (term)
                JOIN dl d USING (doc_id), sc s))
        WHERE crank <= {retrieval.CHAMPION_C}),
    cj AS (
        SELECT q.query_id, c.doc_id, c.ts
        FROM chs c JOIN qt q USING (term))
    SELECT query_id, doc_id, n_terms, score_fp, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY score_fp DESC, doc_id) AS rank
        FROM (
            SELECT query_id, doc_id,
                   CAST(count(*) AS BIGINT) AS n_terms,
                   CAST(sum(ts) AS BIGINT) AS score_fp
            FROM cj GROUP BY 1, 2))
    WHERE rank <= 10
    """,
)
def q_bm25_champion_topk_fixed(spark, sf_dir):
    """Champion-list BM25 serving (retrieval.champion_lists /
    bm25_champion_topk — "top docs", Manning IR §7.1.3): per term,
    only the c = 32 highest-contribution postings survive
    into serving, bounding per-query cost at c·|terms| rows
    REGARDLESS of posting-list length — the impact-ordered serving
    class next to the index's bucket pruning (which bounds which
    FILES are read, not how many postings a stopword drags in). The
    per-term contribution is query-independent exact-integer BM25
    (one source: retrieval.term_score_fp_expr / _bm25_tscore_sql), so
    the champion CUT and the pruned ranking both oracle-check
    end-to-end; c >= n_docs degenerates to exact bm25_topk
    (parity-pinned — the n_probe=K idiom). Serves from the at-rest
    champion table next to the session BM25Index (bucket-pruned
    scan, <= c rows per term); fixed 8-query set keeps the row
    corpus-linear."""
    qterms = _fixed_qterms(spark, sf_dir)
    return _bm25_serve(
        spark, sf_dir, lambda idx: idx.query_champions(qterms, k=10)
    )


@declare(
    "prf_bm25_fixed",
    f"""
    WITH {_bm25_sql(10, query_pred="doc_id % 100 = 0 AND doc_id < 800")},
    dt AS (
        SELECT doc_id, unnest(list_distinct(toks)) AS term
        FROM tok WHERE doc_id IN (SELECT doc_id FROM bm)
    ),
    cexp AS (
        SELECT b.query_id, d.term, count(*) AS nfb
        FROM bm b JOIN dt d USING (doc_id)
        WHERE length(d.term) >= 4
        GROUP BY 1, 2
    ),
    cexp2 AS (
        SELECT c.query_id, c.term, c.nfb
        FROM cexp c LEFT JOIN qt q
            ON q.query_id = c.query_id AND q.term = c.term
        WHERE q.term IS NULL
    ),
    expn AS (
        SELECT query_id, term FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY nfb DESC, term) AS r
            FROM cexp2) WHERE r <= 3
    ),
    qt2 AS MATERIALIZED (
        SELECT query_id, term FROM qt
        UNION ALL
        SELECT query_id, term FROM expn
    ),{_bm25_leg_sql(10, "qt2", "2")}
    SELECT query_id, doc_id, n_terms, score_fp, rank FROM bm2
    """,
)
def q_prf_bm25_fixed(spark, sf_dir):
    """Pseudo-relevance feedback (r12, retrieval.prf_expand_terms —
    Rocchio/RM-style query expansion made deterministic): BM25 once,
    each query's top-10 docs vote candidate terms by feedback-doc
    coverage (desc, term asc — total order), the top 3 non-original
    terms of length ≥ 4 join the query, and the EXPANDED ranking is
    what's returned — the classic recall lever for short queries,
    with the whole feedback loop (both rankings, the vote, the cut)
    exact integers, so a two-pass retrieval FEEDBACK pipeline
    oracle-checks end-to-end. Fixed ≤8-query set (doc_id % 100 = 0,
    < 800 — the bm25_topk_fixed idiom) keeps the probe corpus-linear.
    Both retrieval legs serve from the session BM25Index:
    bucket-pruned postings, zero corpus candidate passes — rankings
    bit-identical to the two-pass form via the shared _bm25_rank tail
    (the bm25_topk_docs precedent), so the oracle is untouched. The
    feedback VOTE still tokenizes the ≤80 feedback docs (semi-join
    pruned inside prf_expand_terms)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    q0 = _qterms_cached(
        spark,
        sf_dir,
        "mod100_800",
        lambda: retrieval.query_terms_from_docs(
            docs, (F.col("doc_id") % 100 == 0) & (F.col("doc_id") < 800)
        ),
    )
    served = lambda qt, k: _bm25_served_terms(spark, sf_dir, qt, k)  # noqa: E731
    q2 = retrieval.prf_expand_terms(
        docs, q0, k_fb=10, n_expand=3, min_len=4, ranker=served
    )
    return served(q2, 10)


@declare(
    "rrf_hybrid_retrieval",
    f"""
    WITH {_bm25_sql(20)},
    {_FX_NORMS_SQL_MAT},
    sem AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_FX_DOT_SQL}
                                / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) DESC,
                                b.vec_id) AS rank
            FROM norms a JOIN norms b ON a.vec_id <> b.vec_id
            WHERE a.vec_id % 100 = 0
              AND a.vec_id IN (SELECT doc_id FROM documents)
        ) WHERE rank <= 20
    ),
    fuse_in AS (
        SELECT query_id, doc_id,
               {retrieval.RRF_SCALE} // ({retrieval.RRF_K} + rank) AS c
        FROM bm
        UNION ALL
        SELECT query_id, doc_id,
               {retrieval.RRF_SCALE} // ({retrieval.RRF_K} + rank) AS c
        FROM sem
    ),
    fused AS (
        SELECT query_id, doc_id,
               CAST(count(*) AS BIGINT) AS n_sources,
               CAST(sum(c) AS BIGINT) AS rrf_score_fp
        FROM fuse_in GROUP BY 1, 2
    )
    SELECT query_id, doc_id, n_sources, rrf_score_fp, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY rrf_score_fp DESC, doc_id) AS rank
        FROM fused
    ) WHERE rank <= 10
    """,
)
def q_rrf_hybrid_retrieval(spark, sf_dir):
    """Hybrid retrieval (retrieval.rrf_fuse): reciprocal-rank fusion
    of BM25 top-20 (lexical, over documents) and exact cosine top-20
    (semantic, over embeddings — the topk_cosine scorer) for the same
    fixture-derived query set (doc_id % 100 == 0). RRF contributions
    are the exact integer SCALE div (60 + rank), so the fused ranking
    hash-matches; the cosine leg contributes only its rank (its
    double score never reaches the output)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lex = _bm25_served(spark, sf_dir, k=20)

    emb = load_table(spark, sf_dir, "embeddings")
    qids = docs.filter(F.col("doc_id") % 100 == 0).select("doc_id")
    sem_q = emb.join(
        F.broadcast(qids),
        (F.col("vec_id") == F.col("doc_id")) & (F.col("vec_id") % 100 == 0),
        "left_semi",
    )
    sem = similarity.topk_cosine_exact(emb, sem_q, k=20).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return retrieval.rrf_fuse(
        [lex.select("query_id", "doc_id", "rank"), sem], k=10
    )


@declare(
    "rrf_hybrid_served",
    _pq_cte()
    + ","
    + _PQ_LUT_SQL
    + f"""
    probed AS (
        SELECT query_id, cid AS cell0 FROM (
            SELECT query_id, cid,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d, cid) AS rn
            FROM lut WHERE sub = 0) WHERE rn <= 4),
    cell0 AS (SELECT vec_id, cid AS cell0 FROM a2 WHERE sub = 0),
    {_bm25_sql(20, query_pred="doc_id IN (SELECT vec_id FROM qids)")},
    {_FX_NORMS_SQL_MAT},
    sem AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT p.query_id, b.vec_id AS doc_id,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {_FX_DOT_SQL}
                                / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) DESC,
                                b.vec_id) AS rank
            FROM probed p
            JOIN cell0 c ON c.cell0 = p.cell0
            JOIN norms b ON b.vec_id = c.vec_id
            JOIN norms a ON a.vec_id = p.query_id
            WHERE a.vec_id <> b.vec_id
        ) WHERE rank <= 20),
    fuse_in AS (
        SELECT query_id, doc_id,
               {retrieval.RRF_SCALE} // ({retrieval.RRF_K} + rank) AS c
        FROM bm
        UNION ALL
        SELECT query_id, doc_id,
               {retrieval.RRF_SCALE} // ({retrieval.RRF_K} + rank) AS c
        FROM sem
    ),
    fused AS (
        SELECT query_id, doc_id,
               CAST(count(*) AS BIGINT) AS n_sources,
               CAST(sum(c) AS BIGINT) AS rrf_score_fp
        FROM fuse_in GROUP BY 1, 2
    )
    SELECT query_id, doc_id, n_sources, rrf_score_fp, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY rrf_score_fp DESC, doc_id) AS rank
        FROM fused
    ) WHERE rank <= 10
    """,
)
def q_rrf_hybrid_served(spark, sf_dir):
    """FULLY index-served hybrid retrieval: RRF
    fusion where BOTH legs serve from at-rest artifacts — the lexical
    leg from the session-cached BM25Index (postings scan pruned to
    the query terms' buckets) and the semantic leg from the
    IMI-pruned cosine path (similarity.topk_cosine_imi: candidates
    from each query's 4 best of 16 coarse PQ cells, exact fixed-point
    cosine on survivors only). r7's rrf_hybrid_retrieval kept the
    exact cosine scorer on its semantic leg — the last serving-path
    operator whose hot leg was brute force; that form stays declared
    as the differential twin (n_probe=K parity pinned in
    tests/test_similarity.py). Queries = the 8 PQ-LUT vectors (their
    docs' first-5 distinct tokens feed the lexical leg), so the WHOLE
    pruned hybrid ranking — PQ training, cell probe, candidate
    pruning, BM25 integers, RRF fusion — oracle-checks end-to-end."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    _, a, luts = _pq_artifacts(spark, sf_dir)
    qids = sorted(int(q) for q in luts)
    qterms = _qterms_cached(
        spark,
        sf_dir,
        "pqlut8",
        lambda: retrieval.query_terms_from_docs(
            docs, F.col("doc_id").isin(qids)
        ),
    )
    lex = _bm25_served_terms(spark, sf_dir, qterms, k=20)
    sem = similarity.topk_cosine_imi(emb, a, luts, k=20, n_probe=4).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return retrieval.rrf_fuse(
        [lex.select("query_id", "doc_id", "rank"), sem], k=10
    )


@declare(
    "retrieval_eval_bm25_vs_cosine",
    f"""
    WITH {_bm25_sql(10)},
    {_FX_NORMS_SQL_MAT},
    t AS (
        SELECT query_id, doc_id FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_FX_DOT_SQL}
                                / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) DESC,
                                b.vec_id) AS rank
            FROM norms a JOIN norms b ON a.vec_id <> b.vec_id
            WHERE a.vec_id % 100 = 0
              AND a.vec_id IN (SELECT doc_id FROM documents)
        ) WHERE rank <= 10
    ),
    nt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
           FROM t GROUP BY 1),
    h AS (
        SELECT b.query_id, CAST(count(*) AS BIGINT) AS hits_at_k,
               min(b.rank) AS fr
        FROM bm b JOIN t ON b.query_id = t.query_id
                        AND b.doc_id = t.doc_id
        GROUP BY 1
    )
    SELECT nt.query_id, nt.n_truth,
           CAST(coalesce(h.hits_at_k, 0) AS BIGINT) AS hits_at_k,
           CAST(CASE WHEN h.fr IS NULL THEN 0
                     ELSE {retrieval.RRF_SCALE} // h.fr END AS BIGINT)
             AS mrr_fp
    FROM nt LEFT JOIN h USING (query_id)
    """,
)
def q_retrieval_eval(spark, sf_dir):
    """Retrieval EVALUATION (r7, retrieval.retrieval_eval): the served
    BM25 top-10 run scored against the exact-cosine top-10 as ground
    truth — per-query hit counts and integer MRR measuring lexical vs
    semantic agreement (the trec_eval step of a retrieval pipeline,
    restricted to hash-portable metrics; nDCG's log2 discount is
    deliberately absent). Inputs are both top-k-bounded, so the whole
    eval is queries×k-sized. The truth set is
    computed ONCE per (session, sf_dir) and persisted next to the
    BM25Index artifacts — repeated eval runs are index-reads (a
    queries×k parquet scan), never a fresh corpus×queries cosine."""
    lex = _bm25_served(spark, sf_dir, k=10)
    return retrieval.retrieval_eval(lex, _eval_truth(spark, sf_dir), k=10)


def _eval_truth(spark, sf_dir, fixed: bool = False):
    """The eval ground truth: exact-cosine top-10 for the fixture query
    set (doc_id % 100 docs, or with ``fixed`` the smallest-8 vec_ids,
    whose truth build is one corpus×8 pass where the %100 truth is
    corpus×(corpus/100)). Computed once per (session, sf_dir), written
    as parquet NEXT TO the session BM25Index (``{index}/eval_truth`` or
    ``{index}/eval_truth_fixed``), and served from that parquet on
    every subsequent call — the at-rest story the serve paths already
    follow, applied to the eval loop. Parity with the recompute form
    is pinned in tests/test_retrieval.py (it's the same frame,
    round-tripped)."""
    name = "eval_truth_fixed" if fixed else "eval_truth"

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        if fixed:
            qids = _fixed_qids(spark, sf_dir)
            sem_q = emb.filter(F.col("vec_id").isin(qids))
        else:
            qids = (
                load_table(spark, sf_dir, "documents")
                .select("doc_id")
                .filter(F.col("doc_id") % 100 == 0)
            )
            sem_q = emb.join(
                F.broadcast(qids),
                (F.col("vec_id") == F.col("doc_id"))
                & (F.col("vec_id") % 100 == 0),
                "left_semi",
            )
        # rank is kept at rest: graded-relevance eval (dcg_eval)
        # derives gains from the truth rank; consumers that only need
        # the set (retrieval_eval) project it away.
        truth = similarity.topk_cosine_exact(emb, sem_q, k=10).select(
            "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
        )
        path = f"{_bm25_serve(spark, sf_dir, lambda idx: idx.path)}/{name}"
        truth.write.mode("overwrite").parquet(path)
        return path

    key = ("eval_truth", sf_dir, name)
    return _serve(spark, key, build, spark.read.parquet)


@declare(
    "dcg_eval_bm25_vs_cosine",
    f"""
    WITH {_bm25_sql(10)},
    {_FX_NORMS_SQL_MAT},
    t AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_FX_DOT_SQL}
                                / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) DESC,
                                b.vec_id) AS rank
            FROM norms a JOIN norms b ON a.vec_id <> b.vec_id
            WHERE a.vec_id % 100 = 0
              AND a.vec_id IN (SELECT doc_id FROM documents)
        ) WHERE rank <= 10
    ),
    g AS MATERIALIZED (
        SELECT query_id, doc_id, rank AS trank,
               CAST(11 - rank AS BIGINT) AS rel
        FROM t
    ),
    nt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
           FROM g GROUP BY 1),
    ideal AS (
        -- rel = 11 - trank is strictly decreasing in trank, so the
        -- ideal position of each truth doc IS its truth rank
        SELECT query_id,
               CAST(SUM((rel * {retrieval.RRF_SCALE})
                        // (length(bin(trank + 1)) - 1)) AS BIGINT)
                   AS idcg_fp
        FROM g GROUP BY 1
    ),
    d AS (
        SELECT b.query_id,
               CAST(SUM((g.rel * {retrieval.RRF_SCALE})
                        // (length(bin(b.rank + 1)) - 1)) AS BIGINT)
                   AS dcg_fp
        FROM bm b JOIN g ON b.query_id = g.query_id
                        AND b.doc_id = g.doc_id
        GROUP BY 1
    )
    SELECT nt.query_id, nt.n_truth,
           CAST(coalesce(d.dcg_fp, 0) AS BIGINT) AS dcg_fp,
           ideal.idcg_fp,
           CAST(CASE WHEN ideal.idcg_fp = 0 THEN 0
                     ELSE (coalesce(d.dcg_fp, 0) * 1000) // ideal.idcg_fp
                END AS BIGINT) AS ndcg_milli
    FROM nt JOIN ideal USING (query_id) LEFT JOIN d USING (query_id)
    """,
)
def q_dcg_eval(spark, sf_dir):
    """Graded-relevance retrieval eval (retrieval.dcg_eval): the
    served BM25 top-10 run scored against the
    exact-cosine truth with gains rel = 11 − truth_rank and the
    DYADIC discount floor_log2(rank + 1) via length(bin(x)) − 1 —
    true nDCG's log2 is not hash-portable, but the bit_length
    floor-log2 (the bigram_lm_bits / zipf recipe) is, so the whole
    graded metric oracle-checks in exact integers. Truth ranks come
    from the persisted eval_truth parquet (rank kept at rest, r9).
    Inputs are top-k-bounded: the eval is queries×k-sized."""
    lex = _bm25_served(spark, sf_dir, k=10)
    graded = _eval_truth(spark, sf_dir).select(
        "query_id",
        "doc_id",
        (F.lit(11) - F.col("rank")).cast("long").alias("rel"),
    )
    return retrieval.dcg_eval(lex, graded, k=10)


@declare(
    "dcg_eval_fixed",
    f"""
    WITH {_FIXED_QIDS_SQL}
    {_bm25_sql(10, query_pred="doc_id IN (SELECT vec_id FROM fqids)")},
    {_FX_NORMS_SQL_MAT},
    t AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_FX_DOT_SQL}
                                / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) DESC,
                                b.vec_id) AS rank
            FROM norms a JOIN norms b ON a.vec_id <> b.vec_id
            WHERE a.vec_id IN (SELECT vec_id FROM fqids)
        ) WHERE rank <= 10
    ),
    g AS MATERIALIZED (
        SELECT query_id, doc_id, rank AS trank,
               CAST(11 - rank AS BIGINT) AS rel
        FROM t
    ),
    nt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
           FROM g GROUP BY 1),
    ideal AS (
        SELECT query_id,
               CAST(SUM((rel * {retrieval.RRF_SCALE})
                        // (length(bin(trank + 1)) - 1)) AS BIGINT)
                   AS idcg_fp
        FROM g GROUP BY 1
    ),
    d AS (
        SELECT b.query_id,
               CAST(SUM((g.rel * {retrieval.RRF_SCALE})
                        // (length(bin(b.rank + 1)) - 1)) AS BIGINT)
                   AS dcg_fp
        FROM bm b JOIN g ON b.query_id = g.query_id
                        AND b.doc_id = g.doc_id
        GROUP BY 1
    )
    SELECT nt.query_id, nt.n_truth,
           CAST(coalesce(d.dcg_fp, 0) AS BIGINT) AS dcg_fp,
           ideal.idcg_fp,
           CAST(CASE WHEN ideal.idcg_fp = 0 THEN 0
                     ELSE (coalesce(d.dcg_fp, 0) * 1000) // ideal.idcg_fp
                END AS BIGINT) AS ndcg_milli
    FROM nt JOIN ideal USING (query_id) LEFT JOIN d USING (query_id)
    """,
)
def q_dcg_eval_fixed(spark, sf_dir):
    """Fixed-query-set graded eval: dcg_eval's exact
    dyadic-discount nDCG over the FIXED 8-query set — run = the
    index-served BM25 top-10 for those queries, truth = exact-cosine
    top-10 persisted at rest (eval_truth_fixed). This is the entry
    scale-probe rows measure: its cost is the SERVE (bucket-pruned
    postings + an 8-query truth read), corpus-linear by construction,
    where dcg_eval_bm25_vs_cosine's %100 query set inherits the
    K²-by-fixture law (its 10× probe row read 7.85× when the serve
    itself is linear). The %100 form stays declared as the
    corpus-sized-query-set oracle pin."""
    qterms = _fixed_qterms(spark, sf_dir)
    lex = _bm25_served_terms(spark, sf_dir, qterms, k=10)
    graded = _eval_truth(spark, sf_dir, fixed=True).select(
        "query_id",
        "doc_id",
        (F.lit(11) - F.col("rank")).cast("long").alias("rel"),
    )
    return retrieval.dcg_eval(lex, graded, k=10)


@declare(
    "kendall_tau_rankers",
    f"""
    WITH {_bm25_sql(10, query_pred="doc_id % 100 = 0 AND doc_id < 800")},
    dt AS (
        SELECT doc_id, unnest(list_distinct(toks)) AS term
        FROM tok WHERE doc_id IN (SELECT doc_id FROM bm)
    ),
    cexp AS (
        SELECT b.query_id, d.term, count(*) AS nfb
        FROM bm b JOIN dt d USING (doc_id)
        WHERE length(d.term) >= 4
        GROUP BY 1, 2
    ),
    cexp2 AS (
        SELECT c.query_id, c.term, c.nfb
        FROM cexp c LEFT JOIN qt q
            ON q.query_id = c.query_id AND q.term = c.term
        WHERE q.term IS NULL
    ),
    expn AS (
        SELECT query_id, term FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY nfb DESC, term) AS r
            FROM cexp2) WHERE r <= 3
    ),
    qt2 AS MATERIALIZED (
        SELECT query_id, term FROM qt
        UNION ALL
        SELECT query_id, term FROM expn
    ),{_bm25_leg_sql(10, "qt2", "2")},
    kc AS MATERIALIZED (
        SELECT b.query_id, b.doc_id, b.rank AS ra, e.rank AS rb
        FROM bm b JOIN bm2 e ON b.query_id = e.query_id
                            AND b.doc_id = e.doc_id
    ),
    kp AS (
        SELECT l.query_id,
               CAST(sum(CASE WHEN (l.ra - r.ra) * (l.rb - r.rb) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
               CAST(sum(CASE WHEN (l.ra - r.ra) * (l.rb - r.rb) < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS discordant
        FROM kc l JOIN kc r ON l.query_id = r.query_id
                           AND l.doc_id < r.doc_id
        GROUP BY 1
    ),
    kn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_common
           FROM kc GROUP BY 1)
    SELECT kn.query_id AS query_id, kn.n_common AS n_common,
           CAST(coalesce(kp.concordant, 0) AS BIGINT) AS concordant,
           CAST(coalesce(kp.discordant, 0) AS BIGINT) AS discordant,
           CAST(CASE WHEN kn.n_common < 2 THEN 0
                     ELSE (1000 * (coalesce(kp.concordant, 0)
                                   - coalesce(kp.discordant, 0)))
                          // ((kn.n_common * (kn.n_common - 1)) // 2)
                END AS BIGINT) AS tau_milli
    FROM kn LEFT JOIN kp USING (query_id)
    """,
)
def q_kendall_tau_rankers(spark, sf_dir):
    """Eval family: Kendall-τ rank correlation between a
    ranker and a variant of itself — BM25 top-10 vs the PRF-expanded
    BM25 top-10 over the same fixed query set (the expansion-impact
    diagnostic: did query expansion actually REORDER results, or
    just append tail docs?). The AGREEMENT eval the table lacked:
    hits@k/MRR/nDCG/BLEU all grade one run against truth; τ compares
    two RANKERS with no truth at all (the stack-swap diagnostic).
    Exact integers throughout (concordant/discordant pair counts;
    truncating division matches `//` on negative taus — the kappa
    precedent); corpus-linear by the fixed-query-set law. Lexical
    pairs chosen over lexical-vs-cosine because the near-orthogonal
    fixture gives the latter ZERO common docs (an empty declared
    surface — the srp 0-rows lesson); here the original terms anchor
    a large overlap.

    Rankings serve from the session BM25Index (r13 opt, the
    prf_bm25_fixed change): the two-pass form re-tokenized the corpus
    three times for rankings the index serves bucket-pruned and
    bit-identically. The base ranking and PRF's feedback leg are the
    SAME ranking — served(q0, 10) — so it is computed ONCE
    (checkpointed) and handed to prf_expand_terms as the ranker
    (r13 opt session 2): two served rankings per call, not three."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    q0 = _qterms_cached(
        spark,
        sf_dir,
        "mod100_800",
        lambda: retrieval.query_terms_from_docs(
            docs, (F.col("doc_id") % 100 == 0) & (F.col("doc_id") < 800)
        ),
    )
    served = lambda qt, k: _bm25_served_terms(spark, sf_dir, qt, k)  # noqa: E731
    base = served(q0, 10).localCheckpoint(eager=False)
    q2 = retrieval.prf_expand_terms(
        docs, q0, k_fb=10, n_expand=3, min_len=4,
        # prf calls ranker(q0, k_fb=10) — exactly the base ranking
        ranker=lambda _qt, _k: base,
    )
    expanded = served(q2, 10)
    return retrieval.kendall_tau_eval(base, expanded)


@declare(
    "ngram_precision_eval",
    f"""
    WITH tl AS MATERIALIZED (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents),
    pr AS MATERIALIZED (
        SELECT a.doc_id AS pair_id, a.t AS ct, b.t AS rt
        FROM tl a JOIN tl b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 10 = 0),
    cg AS (
        SELECT pair_id, 1 AS n, unnest(ct) AS g FROM pr
        UNION ALL
        SELECT pair_id, 2 AS n,
               unnest([ct[i] || ' ' || ct[i + 1]
                       for i in generate_series(1, len(ct) - 1)]) AS g
        FROM pr WHERE len(ct) >= 2),
    rg AS (
        SELECT pair_id, 1 AS n, unnest(rt) AS g FROM pr
        UNION ALL
        SELECT pair_id, 2 AS n,
               unnest([rt[i] || ' ' || rt[i + 1]
                       for i in generate_series(1, len(rt) - 1)]) AS g
        FROM pr WHERE len(rt) >= 2),
    cc AS (SELECT pair_id, n, g, CAST(count(*) AS BIGINT) AS c
           FROM cg GROUP BY 1, 2, 3),
    rc AS (SELECT pair_id, n, g, CAST(count(*) AS BIGINT) AS r
           FROM rg GROUP BY 1, 2, 3),
    m AS (
        SELECT cc.pair_id, cc.n,
               CAST(sum(least(cc.c, coalesce(rc.r, 0))) AS BIGINT)
                 AS matched,
               CAST(sum(cc.c) AS BIGINT) AS total
        FROM cc LEFT JOIN rc
          ON cc.pair_id = rc.pair_id AND cc.n = rc.n AND cc.g = rc.g
        GROUP BY 1, 2),
    base AS (SELECT pair_id, unnest([1, 2]) AS n FROM pr)
    SELECT b.pair_id, CAST(b.n AS INT) AS n,
           CAST(coalesce(m.matched, 0) AS BIGINT) AS matched,
           CAST(coalesce(m.total, 0) AS BIGINT) AS total,
           CAST(CASE WHEN coalesce(m.total, 0) = 0 THEN 0
                     ELSE ({textstats.NGRAM_PREC_SCALE} * m.matched)
                          // m.total END AS BIGINT) AS precision_fp
    FROM base b LEFT JOIN m ON b.pair_id = m.pair_id AND b.n = m.n
    """,
)
def q_ngram_precision_eval(spark, sf_dir):
    """Generation-eval metrics (r8, textstats.ngram_precision_eval):
    BLEU-style CLIPPED n-gram precision (Papineni et al. 2002) as
    exact integers — matched = Σ min(count_cand, count_ref) per gram,
    precision_fp = SCALE·matched div total — for the fixture pair set
    (every doc_id % 10 == 0 doc as candidate against its successor
    doc as reference). The third eval family next to retrieval_eval
    (ranking) and knn_label_eval (embedding): generation quality.
    The BLEU geometric mean / brevity penalty need libm and are
    deliberately absent (the ln() lesson); per-n precisions are the
    auditable core."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("pair_id"), F.col("text").alias("cand_text")
    )
    b = docs.select(
        (F.col("doc_id") - 1).alias("pair_id"),
        F.col("text").alias("ref_text"),
    )
    pairs = a.join(b, "pair_id")
    return textstats.ngram_precision_eval(pairs, max_n=2)


@declare(
    "contrastive_pairs",
    f"""
    WITH nl AS MATERIALIZED (
        SELECT vec_id, label, embedding,
               CAST(list_sum([CAST(round(CAST(embedding[i] AS DOUBLE)
                                         * CAST(embedding[i] AS DOUBLE)
                                         * 1000000.0) AS BIGINT)
                              for i in generate_series(1, len(embedding))])
                    AS BIGINT) AS norm_fx
        FROM embeddings
    ),
    legs AS (
        SELECT query_id, query_label, other_id, other_label, pair_role,
               score, rank FROM (
            SELECT a.vec_id AS query_id, a.label AS query_label,
                   b.vec_id AS other_id, b.label AS other_label,
                   'positive' AS pair_role,
                   {_FX_DOT_SQL} / (sqrt(a.norm_fx) * sqrt(b.norm_fx))
                     AS score,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_FX_DOT_SQL}
                                / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) DESC,
                                b.vec_id) AS rank
            FROM nl a JOIN nl b
              ON a.label = b.label AND a.vec_id <> b.vec_id
            WHERE a.vec_id % 100 = 0
        ) WHERE rank <= 1
        UNION ALL
        SELECT query_id, query_label, other_id, other_label, pair_role,
               score, rank FROM (
            SELECT a.vec_id AS query_id, a.label AS query_label,
                   b.vec_id AS other_id, b.label AS other_label,
                   'hard_negative' AS pair_role,
                   {_FX_DOT_SQL} / (sqrt(a.norm_fx) * sqrt(b.norm_fx))
                     AS score,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_FX_DOT_SQL}
                                / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) DESC,
                                b.vec_id) AS rank
            FROM nl a JOIN nl b
              ON a.label <> b.label
            WHERE a.vec_id % 100 = 0 AND a.vec_id <> b.vec_id
        ) WHERE rank <= 3
    )
    SELECT * FROM legs
    """,
)
def q_contrastive_pairs(spark, sf_dir):
    """Contrastive training-pair assembly (r7,
    similarity.contrastive_pairs; DPR §3): per anchor (vec_id % 100)
    one gold positive — the nearest SAME-label neighbor — plus the 3
    nearest different-label hard negatives, emitted as one labeled
    example table. The training-data construction step that consumes
    the negatives hard_negatives mines; both legs share the exact
    fixed-point scorer so the whole table oracle-checks."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.contrastive_pairs(
        emb, emb.filter(F.col("vec_id") % 100 == 0), n_neg=3
    )


@declare(
    "knn_label_eval",
    f"""
    WITH {_FX_NORMS_SQL_MAT},
    nl AS (SELECT vec_id, label FROM embeddings),
    top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_FX_DOT_SQL}
                                / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) DESC,
                                b.vec_id) AS rank
            FROM norms a JOIN norms b ON a.vec_id <> b.vec_id
            WHERE a.vec_id % 50 = 0
        ) WHERE rank <= 5
    ),
    votes AS (
        SELECT t.query_id, n.label AS pred_label,
               CAST(count(*) AS BIGINT) AS votes
        FROM top t JOIN nl n ON n.vec_id = t.neighbor_id
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT query_id, pred_label, votes FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY votes DESC, pred_label)
                        AS r
            FROM votes
        ) WHERE r = 1
    )
    SELECT p.query_id, n.label AS true_label, p.pred_label, p.votes,
           p.pred_label = n.label AS correct
    FROM pred p JOIN nl n ON n.vec_id = p.query_id
    """,
)
def q_knn_label_eval(spark, sf_dir):
    """k-NN classification eval (r7, similarity.knn_label_eval): the
    intrinsic embedding-quality probe — each query's label predicted
    by majority vote of its 5 exact-cosine nearest neighbors (self
    excluded, ties by count DESC then label), scored against the true
    label. Queries = vec_id % 50. Everything after the top-k is
    queries×k-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_label_eval(
        emb, emb.filter(F.col("vec_id") % 50 == 0), k=5
    )


@declare(
    "knn_label_eval_imi",
    _pq_cte()
    + ","
    + _PQ_LUT_SQL
    + f"""
    probed AS (
        SELECT query_id, cid AS cell0 FROM (
            SELECT query_id, cid,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d, cid) AS rn
            FROM lut WHERE sub = 0) WHERE rn <= 4),
    cell0 AS (SELECT vec_id, cid AS cell0 FROM a2 WHERE sub = 0),
    nl AS MATERIALIZED (
        SELECT vec_id, label, embedding,
               CAST(list_sum([CAST(round(CAST(embedding[i] AS DOUBLE)
                                         * CAST(embedding[i] AS DOUBLE)
                                         * 1000000.0) AS BIGINT)
                              for i in generate_series(1, len(embedding))])
                    AS BIGINT) AS norm_fx
        FROM embeddings),
    top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {_FX_DOT_SQL}
                                / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) DESC,
                                b.vec_id) AS rank
            FROM probed p
            JOIN cell0 c ON c.cell0 = p.cell0
            JOIN nl b ON b.vec_id = c.vec_id
            JOIN nl a ON a.vec_id = p.query_id
            WHERE a.vec_id <> b.vec_id
        ) WHERE rank <= 5
    ),
    votes AS (
        SELECT t.query_id, n.label AS pred_label,
               CAST(count(*) AS BIGINT) AS votes
        FROM top t JOIN nl n ON n.vec_id = t.neighbor_id
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT query_id, pred_label, votes FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY votes DESC, pred_label)
                        AS r
            FROM votes
        ) WHERE r = 1
    )
    SELECT p.query_id, n.label AS true_label, p.pred_label, p.votes,
           p.pred_label = n.label AS correct
    FROM pred p JOIN nl n ON n.vec_id = p.query_id
    """,
)
def q_knn_label_eval_imi(spark, sf_dir):
    """IMI-SERVED k-NN eval (similarity.knn_label_eval_imi): the
    exact-scorer eval's pruned twin. Neighbors
    come from each query's 4 best of 16 coarse PQ cells with the
    exact fixed-point cosine only on survivors (the
    hard_negatives_imi kernel minus the label filter), then the same
    majority-vote tail as knn_label_eval. Queries = the 8 PQ-LUT
    vectors; serves from the session-cached PQ codes frame, and the
    WHOLE pruned eval — PQ training, probe, prune, vote —
    oracle-checks. n_probe=K degenerates to the exact form (pinned);
    the exact knn_label_eval stays declared as eval truth."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, a, luts = _pq_artifacts(spark, sf_dir)
    return similarity.knn_label_eval_imi(emb, a, luts, k=5, n_probe=4)


@declare(
    "hard_negatives_topk",
    f"""
    WITH nl AS (
        SELECT vec_id, label, embedding,
               CAST(list_sum([CAST(round(CAST(embedding[i] AS DOUBLE)
                                         * CAST(embedding[i] AS DOUBLE)
                                         * 1000000.0) AS BIGINT)
                              for i in generate_series(1, len(embedding))])
                    AS BIGINT) AS norm_fx
        FROM embeddings
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, score, rank
    FROM (
        SELECT a.vec_id AS query_id, a.label AS query_label,
               b.vec_id AS neighbor_id, b.label AS neighbor_label,
               {_FX_DOT_SQL} / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) AS score,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_FX_DOT_SQL}
                            / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) DESC,
                            b.vec_id) AS rank
        FROM nl a JOIN nl b ON a.label <> b.label
        WHERE a.vec_id % 100 = 0
    ) WHERE rank <= 5
    """,
)
def q_hard_negatives_topk(spark, sf_dir):
    """Hard-negative mining (similarity.hard_negatives): for each
    query vector (vec_id % 100 == 0) the 5 nearest neighbors with a
    DIFFERENT label — the contrastive-training negatives step (DPR,
    Karpukhin et al. 2020). Same fixed-point cosine and broadcast-
    query shape as topk_cosine; the label inequality rides the join
    condition so same-label rows never reach the scorer. This is the
    exact differential twin; the pruned serve path is
    hard_negatives_imi (the topk_cosine / topk_cosine_ivf pairing)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(
        emb, emb.filter(F.col("vec_id") % 100 == 0), k=5
    )


@declare(
    "hard_negatives_imi",
    _pq_cte()
    + ","
    + _PQ_LUT_SQL
    + f"""
    probed AS (
        SELECT query_id, cid AS cell0 FROM (
            SELECT query_id, cid,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d, cid) AS rn
            FROM lut WHERE sub = 0) WHERE rn <= 4),
    cell0 AS (SELECT vec_id, cid AS cell0 FROM a2 WHERE sub = 0),
    nl AS MATERIALIZED (
        SELECT vec_id, label, embedding,
               CAST(list_sum([CAST(round(CAST(embedding[i] AS DOUBLE)
                                         * CAST(embedding[i] AS DOUBLE)
                                         * 1000000.0) AS BIGINT)
                              for i in generate_series(1, len(embedding))])
                    AS BIGINT) AS norm_fx
        FROM embeddings)
    SELECT query_id, query_label, neighbor_id, neighbor_label, score, rank
    FROM (
        SELECT p.query_id, a.label AS query_label,
               b.vec_id AS neighbor_id, b.label AS neighbor_label,
               {_FX_DOT_SQL} / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) AS score,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY {_FX_DOT_SQL}
                            / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) DESC,
                            b.vec_id) AS rank
        FROM probed p
        JOIN cell0 c ON c.cell0 = p.cell0
        JOIN nl b ON b.vec_id = c.vec_id
        JOIN nl a ON a.vec_id = p.query_id
        WHERE a.label <> b.label AND a.vec_id <> b.vec_id
    ) WHERE rank <= 5
    """,
)
def q_hard_negatives_imi(spark, sf_dir):
    """IMI-PRUNED hard-negative mining
    (similarity.hard_negatives_imi): candidates from each query's 4
    best of 16 coarse cells (subspace-0 PQ codes, the pq_topk_imi
    prune), label-inequality filter on the candidate join, exact
    fixed-point cosine verify on survivors only — so negative mining
    now has the same scale posture as the ANN family (prune → verify),
    and because the PQ training is the seeded integer Lloyd fold, the
    WHOLE pruned pipeline oracle-checks. Queries = the 8 smallest-id
    vectors (the PQ LUT set); serves from the session-cached PQ
    codes frame. n_probe=K degenerates to the exact hard_negatives
    (pinned in tests/test_similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, a, luts = _pq_artifacts(spark, sf_dir)
    return similarity.hard_negatives_imi(emb, a, luts, k=5, n_probe=4)


@declare(
    "epoch_allocation_sources",
    """
    WITH tok AS (
        SELECT source AS stratum,
               len(list_filter(string_split_regex(text, '[^A-Za-z]+'),
                               x -> x <> '')) AS tk
        FROM documents
    ),
    st AS MATERIALIZED (
        SELECT stratum, CAST(sum(tk) AS BIGINT) AS n_tokens
        FROM tok GROUP BY 1
    ),
    ann AS MATERIALIZED (
        SELECT stratum, n_tokens,
               CAST(2 * n_tokens AS BIGINT) AS cap_tokens,
               CAST(sum(n_tokens) OVER () AS BIGINT) AS tot,
               CAST(count(*) OVER () AS BIGINT) AS m,
               row_number() OVER (ORDER BY 2 * n_tokens, stratum) AS rn,
               CAST(sum(2 * n_tokens) OVER (
                   ORDER BY 2 * n_tokens, stratum
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS capcum
        FROM st
    ),
    sel AS MATERIALIZED (
        SELECT *, (18 * tot) // 10 AS bud,
               min(CASE WHEN ((18 * tot) // 10) - (capcum - cap_tokens)
                             <= cap_tokens * (m - rn + 1)
                   THEN rn END) OVER () AS rstar
        FROM ann
    ),
    cp AS MATERIALIZED (
        SELECT *, (rstar IS NULL OR rn < rstar) AS capped FROM sel
    ),
    agg2 AS MATERIALIZED (
        SELECT *,
               coalesce(sum(CASE WHEN capped THEN cap_tokens END)
                        OVER (), 0) AS cap_spent,
               sum(CASE WHEN NOT capped THEN 1 ELSE 0 END) OVER () AS n_unc,
               row_number() OVER (ORDER BY capped, stratum) AS rn2
        FROM cp
    ),
    fin AS (
        SELECT stratum, n_tokens, cap_tokens, capped,
               CAST(CASE WHEN capped THEN cap_tokens
                    ELSE (greatest(bud - cap_spent, 0) // n_unc)
                         + (CASE WHEN rn2 <= greatest(bud - cap_spent, 0)
                                          % n_unc
                            THEN 1 ELSE 0 END)
                    END AS BIGINT) AS alloc_tokens
        FROM agg2
    )
    SELECT stratum, n_tokens, cap_tokens, alloc_tokens,
           CAST((1000 * alloc_tokens) // n_tokens AS BIGINT)
               AS epochs_permille,
           capped
    FROM fin
    """,
)
def q_epoch_allocation_sources(spark, sf_dir):
    """Data-constrained token budgeting (pipeline.epoch_allocation):
    a budget of 1.8 average epochs — derived from the data as
    (18·total_tokens) div 10 — is water-filled across sources toward
    a uniform mixture under a 2-epoch repetition cap (Muennighoff et
    al. 2023). The fill level is found analytically with one
    cumulative window over the 20-row strata frame (no iteration);
    sources whose 2-epoch supply sits below the level cap out and
    the freed budget spreads over the rest. Σ alloc == budget
    exactly (largest-remainder +1s)."""
    docs = load_table(spark, sf_dir, "documents")
    return pipeline.epoch_allocation(
        docs, F.expr("(18 * tot) div 10"), cap_epochs=2
    )


@declare(
    "ngram_diversity_by_lang",
    """
    WITH tl AS MATERIALIZED (
        SELECT lang,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents),
    g AS (
        SELECT lang, n, unnest(gs) AS g FROM (
            SELECT lang, 1 AS n, t AS gs FROM tl
            UNION ALL
            SELECT lang, 2, [t[i] || ' ' || t[i+1]
                             for i in generate_series(1, len(t)-1)]
            FROM tl
            UNION ALL
            SELECT lang, 3, [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                             for i in generate_series(1, len(t)-2)]
            FROM tl
        )
    ),
    pg AS (SELECT lang, n, g, count(*) AS c FROM g GROUP BY 1, 2, 3)
    SELECT lang, CAST(n AS INT) AS n,
           CAST(sum(c) AS BIGINT) AS total_ngrams,
           CAST(count(*) AS BIGINT) AS distinct_ngrams,
           CAST((1000 * count(*)) // sum(c) AS BIGINT) AS diversity_milli
    FROM pg GROUP BY 1, 2
    """,
)
def q_ngram_diversity(spark, sf_dir):
    """Distinct-n diversity (r9, textstats.ngram_diversity): per
    (lang, n≤3) total vs distinct word n-grams and their exact
    ratio — the within-corpus repetitiveness side of the
    generation-eval family (mode collapse in synthetic data, template
    spam in scraped data). All three gram streams ride ONE tagged
    explode (a per-n UNION would rescan the corpus — the multi-grain
    lesson); widen_scan for the per-gram map fan."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.ngram_diversity(docs)


# The quality_keep rule as an oracle fragment (one-source rule): the
# exact km/k CTE pair the calibration entry proved green — kappa and
# any future judge-vs-judge entry interpolate THIS, never a retyped
# copy. Text extracted verbatim from the calibration oracle (the
# refactor was md5-verified byte-identical).
_QKEEP_SQL = f"""km AS (
        SELECT doc_id,
               len(t) AS n_tokens,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    AS DOUBLE) / greatest(length(text), 1) AS letter_ratio,
               CASE WHEN len(t) > 0
                    THEN CAST(coalesce(list_sum([length(x) for x in t]), 0)
                              AS DOUBLE) / len(t)
                    ELSE 0.0 END AS mean_word_len,
               CAST(len(list_filter(t,
                    x -> x IN ({_CLF_STOPWORDS_SQL})))
                    AS DOUBLE) / greatest(len(t), 1) AS stopword_ratio
        FROM (SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 x -> x <> '') AS t
              FROM documents)
    ),
    k AS (
        SELECT doc_id,
               (n_tokens BETWEEN 10 AND 100000
                AND letter_ratio >= 0.6
                AND mean_word_len BETWEEN 2.0 AND 12.0
                AND stopword_ratio > 0.0) AS keep
        FROM km
    )"""


@declare(
    "classifier_calibration_bins",
    f"""
    WITH {_clf_sql_fragments()},
    {_QKEEP_SQL},
    b AS (
        SELECT (greatest(least(sc.score, 2047), -2048) + 2048) // 256
                   AS bin_id,
               CASE WHEN k.keep THEN 1 ELSE 0 END AS kp
        FROM sc JOIN k USING (doc_id)
    )
    SELECT CAST(bin_id AS BIGINT) AS bin_id,
           CAST(-2048 + bin_id * 256 AS BIGINT) AS score_lo,
           CAST(-2048 + (bin_id + 1) * 256 - 1 AS BIGINT) AS score_hi,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(kp) AS BIGINT) AS n_keep,
           CAST((1000 * sum(kp)) // count(*) AS BIGINT) AS keep_rate_milli
    FROM b GROUP BY b.bin_id
    """,
)
def q_classifier_calibration(spark, sf_dir):
    """Classifier-vs-heuristic calibration (r9,
    textstats.classifier_calibration_bins): learned-filter scores
    clamped to [-2048, 2047] and bucketed into 16 bins; per bin the
    document count, heuristic-keep count (quality_keep — the
    corpus_quality_filter rule as one boolean), and the exact keep
    rate — the threshold-tuning dashboard between the two filter
    paradigms. The bin shift makes truncating division floor
    division (both engines), dodging the negative-floor-div recipe.
    Map-only scoring + one ≤16-row partial agg; widen_scan for the
    interpreted classifier fold (the PQ lesson)."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.classifier_calibration_bins(docs)


@declare(
    "curriculum_order_by_quality",
    f"""
    WITH {_clf_sql_fragments()},
    lv AS (
        SELECT doc_id,
               CAST(15 - ((greatest(least(score, 2047), -2048) + 2048)
                          // 256) AS INT) AS level,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM sc
    )
    SELECT doc_id, level,
           CAST(row_number() OVER (ORDER BY level, h, doc_id) - 1
                AS BIGINT) AS curriculum_pos
    FROM lv
    """,
)
def q_curriculum_order(spark, sf_dir):
    """Deterministic curriculum schedule (r9,
    pipeline.curriculum_order): training-order positions sorted by
    (difficulty level asc, md5 shuffle within level) — easy-first
    curriculum with the classifier score as the difficulty signal
    (level = 15 − calibration bin, so the highest-scoring docs train
    first). The order is a pure function of (ids, scores), replaying
    bit-for-bit on reruns. Plan = the corpus_shuffle distributed
    ranking with a compound (level, md5-prefix) bucket key: no global
    window touches the corpus, the offsets prefix-sum runs over a
    ≤16×4096-row aggregate; the oracle is the naive global
    row_number. widen_scan for the classifier HOF fold."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id", textstats.classifier_score_col("text").alias("_s")
    )
    level = F.expr(
        "cast(15 - ((greatest(least(_s, 2047), -2048) + 2048) div 256)"
        " as int)"
    )
    return pipeline.curriculum_order(scored, level).select(
        "doc_id", "level", "curriculum_pos"
    )


# ------------------------------------------------- r10 session-3 ops


@declare(
    "judge_agreement_kappa",
    f"""
    WITH {_clf_sql_fragments()},
    {_QKEEP_SQL},
    j AS (
        SELECT CAST(sc.doc_id % 8 AS BIGINT) AS grp,
               sc.score >= 0 AS j1, k.keep AS j2
        FROM sc JOIN k USING (doc_id)),
    g AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN j1 AND j2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both_pos,
               CAST(sum(CASE WHEN NOT j1 AND NOT j2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both_neg,
               CAST(sum(CASE WHEN j1 AND NOT j2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_j1_only,
               CAST(sum(CASE WHEN NOT j1 AND j2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_j2_only
        FROM j GROUP BY grp),
    e AS (
        SELECT *,
               (n_both_pos + n_j1_only) * (n_both_pos + n_j2_only)
               + (n - (n_both_pos + n_j1_only))
                 * (n - (n_both_pos + n_j2_only)) AS pe_num,
               n_both_pos + n_both_neg AS agree
        FROM g)
    SELECT grp, n, n_both_pos, n_both_neg, n_j1_only, n_j2_only,
           CAST((1000 * agree) // n AS BIGINT) AS po_milli,
           CAST((1000 * pe_num) // (n * n) AS BIGINT) AS pe_milli,
           CAST(CASE WHEN n * n = pe_num THEN NULL
                     ELSE (1000 * (n * agree - pe_num))
                          // (n * n - pe_num) END AS BIGINT)
             AS kappa_milli
    FROM e
    """,
)
def q_judge_agreement_kappa(spark, sf_dir):
    """Judge-agreement audit (r10, mlfit.cohen_kappa_agreement):
    Cohen's kappa between the LEARNED keep-judge (classifier score
    ≥ 0) and the HEURISTIC keep-judge (the corpus quality rule), per
    doc_id%8 cohort — the chance-corrected complement of
    classifier_calibration_bins (keep rates say the judges keep
    similar fractions; kappa says whether they keep the SAME docs).
    Every term is rational so kappa_milli replays exactly; a cohort
    where both judges are constant and unanimous (pe = 1) reports
    NULL, never a fake 0; one constant judge reports an exact 0.
    Map-only flags + one shuffle to 8 rows. widen_scan: the
    classifier fold + keep fold are the interpreted-HOF class (the
    PQ lesson)."""
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).withColumn("grp", (F.col("doc_id") % 8).cast("long"))
    return mlfit.cohen_kappa_agreement(
        docs,
        "grp",
        textstats.classifier_score_col("text") >= 0,
        textstats.quality_keep("text"),
    )


@declare(
    "fleiss_kappa_panel",
    f"""
    WITH {_clf_sql_fragments()},
    {_QKEEP_SQL},
    j AS (
        SELECT CAST(sc.doc_id % 8 AS BIGINT) AS grp,
               (CASE WHEN sc.score >= 0 THEN 1 ELSE 0 END
                + CASE WHEN k.keep THEN 1 ELSE 0 END
                + CASE WHEN length(d.text) >= 200 THEN 1 ELSE 0 END)
                   AS k1
        FROM sc JOIN k USING (doc_id)
             JOIN documents d USING (doc_id)),
    g AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k1 * (k1 - 1) + (3 - k1) * (2 - k1))
                    AS BIGINT) AS s_sum,
               CAST(sum(k1) AS BIGINT) AS t_keep
        FROM j GROUP BY grp),
    e AS (
        SELECT *,
               t_keep::HUGEINT * t_keep
               + (3 * n - t_keep)::HUGEINT * (3 * n - t_keep) AS tsq,
               9::HUGEINT * n * n AS dall
        FROM g)
    SELECT grp, n, s_sum, t_keep,
           CAST((1000 * s_sum::HUGEINT) // (n::HUGEINT * 6) AS BIGINT)
               AS po_milli,
           CAST((1000 * tsq) // dall AS BIGINT) AS pe_milli,
           CAST(CASE WHEN dall = tsq THEN NULL
                     ELSE (1000 * (9 * n::HUGEINT * s_sum - 6 * tsq))
                          // (6 * (dall - tsq)) END AS BIGINT)
               AS kappa_milli
    FROM e
    """,
)
def q_fleiss_kappa_panel(spark, sf_dir):
    """Judge-agreement audit #2 (r12, mlfit.fleiss_kappa_agreement —
    Fleiss 1971): panel agreement across THREE keep-judges (the
    learned classifier, the heuristic quality rule, a length≥200
    gate) per doc_id%8 cohort — the RLHF labeling-pool complement of
    the pairwise Cohen audit (pairwise matrices don't summarize a
    panel). Every term rational; cross products in HUGEINT/
    decimal(38,0); all-unanimous cohorts report NULL, never a fake
    0. Map-only vote flags + one shuffle to 8 rows. widen_scan: the
    two text folds are the interpreted-HOF class."""
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).withColumn("grp", (F.col("doc_id") % 8).cast("long"))
    return mlfit.fleiss_kappa_agreement(
        docs,
        "grp",
        [
            textstats.classifier_score_col("text") >= 0,
            textstats.quality_keep("text"),
            F.length("text") >= 200,
        ],
    )


@declare(
    "rouge_f_eval",
    f"""
    WITH tl AS MATERIALIZED (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents),
    pr AS MATERIALIZED (
        SELECT a.doc_id AS pair_id, a.t AS ct, b.t AS rt
        FROM tl a JOIN tl b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 10 = 0),
    cg AS (
        SELECT pair_id, 1 AS n, unnest(ct) AS g FROM pr
        UNION ALL
        SELECT pair_id, 2 AS n,
               unnest([ct[i] || ' ' || ct[i + 1]
                       for i in generate_series(1, len(ct) - 1)]) AS g
        FROM pr WHERE len(ct) >= 2),
    rg AS (
        SELECT pair_id, 1 AS n, unnest(rt) AS g FROM pr
        UNION ALL
        SELECT pair_id, 2 AS n,
               unnest([rt[i] || ' ' || rt[i + 1]
                       for i in generate_series(1, len(rt) - 1)]) AS g
        FROM pr WHERE len(rt) >= 2),
    cc AS (SELECT pair_id, n, g, CAST(count(*) AS BIGINT) AS c
           FROM cg GROUP BY 1, 2, 3),
    rc AS MATERIALIZED (
        SELECT pair_id, n, g, CAST(count(*) AS BIGINT) AS r
        FROM rg GROUP BY 1, 2, 3),
    rt_tot AS (SELECT pair_id, n, CAST(sum(r) AS BIGINT) AS total_ref
               FROM rc GROUP BY 1, 2),
    m AS (
        SELECT cc.pair_id, cc.n,
               CAST(sum(least(cc.c, coalesce(rc.r, 0))) AS BIGINT)
                 AS matched,
               CAST(sum(cc.c) AS BIGINT) AS total_cand
        FROM cc LEFT JOIN rc
          ON cc.pair_id = rc.pair_id AND cc.n = rc.n AND cc.g = rc.g
        GROUP BY 1, 2),
    base AS (SELECT pair_id, unnest([1, 2]) AS n FROM pr)
    SELECT b.pair_id, CAST(b.n AS INT) AS n,
           CAST(coalesce(m.matched, 0) AS BIGINT) AS matched,
           CAST(coalesce(m.total_cand, 0) AS BIGINT) AS total_cand,
           CAST(coalesce(rt.total_ref, 0) AS BIGINT) AS total_ref,
           CAST(CASE WHEN coalesce(m.total_cand, 0) = 0 THEN 0
                     ELSE ({textstats.NGRAM_PREC_SCALE}
                           * coalesce(m.matched, 0))
                          // m.total_cand END AS BIGINT) AS precision_fp,
           CAST(CASE WHEN coalesce(rt.total_ref, 0) = 0 THEN 0
                     ELSE ({textstats.NGRAM_PREC_SCALE}
                           * coalesce(m.matched, 0))
                          // rt.total_ref END AS BIGINT) AS recall_fp,
           CAST(CASE WHEN coalesce(m.total_cand, 0)
                          + coalesce(rt.total_ref, 0) = 0 THEN 0
                     ELSE (2 * {textstats.NGRAM_PREC_SCALE}
                           * coalesce(m.matched, 0))
                          // (coalesce(m.total_cand, 0)
                              + coalesce(rt.total_ref, 0))
                END AS BIGINT) AS f1_fp
    FROM base b
    LEFT JOIN m ON b.pair_id = m.pair_id AND b.n = m.n
    LEFT JOIN rt_tot rt ON b.pair_id = rt.pair_id AND b.n = rt.n
    """,
)
def q_rouge_f_eval(spark, sf_dir):
    """Generation-eval, recall side (r10, textstats.ngram_f_eval):
    ROUGE-N-style clipped recall (Lin 2004) + the exact-rational F1
    over the SAME fixture pair set as ngram_precision_eval (every
    doc_id%10==0 doc against its successor). The clipped match count
    is symmetric, so precision/recall/F1 share one count table; F1 =
    2m/(tc+tr) algebraically, so no float P/R intermediate exists to
    diverge. Completes the generation-eval family: precision (BLEU
    core, gate-windowed), recall + F1 (this entry), diversity
    (distinct-n)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("pair_id"), F.col("text").alias("cand_text")
    )
    b = docs.select(
        (F.col("doc_id") - 1).alias("pair_id"),
        F.col("text").alias("ref_text"),
    )
    pairs = a.join(b, "pair_id")
    return textstats.ngram_f_eval(pairs, max_n=2)


# cbase derives from _clf_sql_fragments()'s proven sc CTE (one-source
# rule — a fourth hand-expanded copy of the classifier formula was a
# review finding this round)
_COPELAND_BASE_SQL = """
    cbase AS MATERIALIZED (
        SELECT CAST(doc_id % 64 AS BIGINT) AS g,
               CAST((doc_id // 64) % 4 AS BIGINT) AS s,
               score AS r
        FROM sc)"""


@declare(
    "copeland_system_ranking",
    f"""
    WITH {_clf_sql_fragments()},
    {_COPELAND_BASE_SQL},
    best AS MATERIALIZED (
        SELECT g, s, max(r) AS b FROM cbase GROUP BY 1, 2),
    pr AS MATERIALIZED (
        SELECT a.s AS sa, b.s AS sb, a.b AS ba, b.b AS bb
        FROM best a JOIN best b ON a.g = b.g AND a.s < b.s),
    credits AS (
        SELECT sa AS sys,
               CASE WHEN ba > bb THEN 1 ELSE 0 END AS win,
               CASE WHEN ba < bb THEN 1 ELSE 0 END AS loss,
               CASE WHEN ba = bb THEN 1 ELSE 0 END AS tie
        FROM pr
        UNION ALL
        SELECT sb,
               CASE WHEN bb > ba THEN 1 ELSE 0 END,
               CASE WHEN bb < ba THEN 1 ELSE 0 END,
               CASE WHEN ba = bb THEN 1 ELSE 0 END
        FROM pr),
    pres AS (SELECT s AS sys, CAST(count(*) AS BIGINT) AS n_prompts
             FROM best GROUP BY 1),
    agg AS (SELECT sys, CAST(count(*) AS BIGINT) AS n_comparisons,
                   CAST(sum(win) AS BIGINT) AS wins,
                   CAST(sum(loss) AS BIGINT) AS losses,
                   CAST(sum(tie) AS BIGINT) AS ties
            FROM credits GROUP BY 1)
    SELECT p.sys AS system_id, p.n_prompts,
           CAST(coalesce(a.n_comparisons, 0) AS BIGINT) AS n_comparisons,
           CAST(coalesce(a.wins, 0) AS BIGINT) AS wins,
           CAST(coalesce(a.losses, 0) AS BIGINT) AS losses,
           CAST(coalesce(a.ties, 0) AS BIGINT) AS ties,
           CAST(coalesce(a.wins, 0) - coalesce(a.losses, 0) AS BIGINT)
             AS copeland
    FROM pres p LEFT JOIN agg a ON p.sys = a.sys
    """,
)
def q_copeland_system_ranking(spark, sf_dir):
    """Arena-style system leaderboard (r10,
    pipeline.copeland_system_ranking): prompt groups = doc_id%64,
    systems = (doc_id div 64)%4, reward = the hashed-classifier
    score; each system enters its best-of-n sample per prompt and
    Copeland score = pairwise wins − losses over all prompts. The
    ranking step downstream of the RL-data family (GRPO ranks
    samples within a prompt; this ranks the SYSTEMS across prompts)
    — Copeland because it is the exact-integer member of the
    pairwise-ranking family (Elo needs exp, Bradley-Terry iterates
    float divisions). widen_scan for the classifier HOF fold."""
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select(
        "text",
        (F.col("doc_id") % 64).cast("long").alias("group_id"),
        F.expr("cast((doc_id div 64) % 4 as long)").alias("system_id"),
    )
    return pipeline.copeland_system_ranking(
        docs, textstats.classifier_score_col("text")
    )


@declare(
    "reward_winsorize_docs",
    f"""
    WITH {_clf_sql_fragments()},
    rb AS MATERIALIZED (
        SELECT doc_id, greatest(least(score, 2047), -2048) AS rf
        FROM sc),
    cells AS (
        SELECT (rf + 2048) // 64 AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM rb GROUP BY 1),
    cum AS (
        SELECT bucket, cnt,
               sum(cnt) OVER (ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
        FROM cells),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells),
    tgt AS (SELECT q, CAST((q * n + 99) // 100 AS BIGINT) AS rank_target
            FROM tot, (SELECT unnest([5, 95]) AS q) qs),
    hit AS (SELECT t.q, min(c.bucket) AS bucket
            FROM tgt t JOIN cum c ON c.cum >= t.rank_target
            GROUP BY 1),
    cuts AS (SELECT
        CAST(max(CASE WHEN q = 5 THEN bucket * 64 END) - 2048
             AS BIGINT) AS lo_cut,
        CAST(max(CASE WHEN q = 95 THEN bucket * 64 END) - 2048
             AS BIGINT) AS hi_cut
      FROM hit)
    SELECT rb.doc_id, CAST(rb.rf AS BIGINT) AS reward_fp,
           c.lo_cut, c.hi_cut,
           CAST(greatest(least(rb.rf, c.hi_cut), c.lo_cut) AS BIGINT)
             AS reward_winsor,
           CASE WHEN rb.rf < c.lo_cut THEN 'lo'
                WHEN rb.rf > c.hi_cut THEN 'hi'
                ELSE 'none' END AS clip
    FROM rb, cuts c
    """,
)
def q_reward_winsorize(spark, sf_dir):
    """Reward winsorization (r10, pipeline.reward_winsorize): the
    classifier reward clipped to the corpus [p5, p95] from the
    mergeable bucket-quantile sketch (width 64 over the clamped
    [-2048, 2047] domain) — the outlier-taming step between reward
    scoring and GRPO/DPO assembly. Cutoffs are sketch bucket edges
    (error < one width, deterministic); the clip is map-only under a
    broadcast 1-row cutoff frame. widen_scan for the classifier HOF
    fold; shift-non-negative makes truncating division floor
    division (the calibration-bins dodge)."""
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return pipeline.reward_winsorize(
        docs,
        textstats.classifier_score_col("text"),
        id_col="doc_id",
        lo_q=5,
        hi_q=95,
        lo=-2048,
        hi=2047,
        width=64,
    )


@declare(
    "margin_bitext_mine",
    f"""
    WITH {_FX_NORMS_SQL_MAT},
    fwd AS MATERIALIZED (
        SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
               CAST(floor(({_FX_DOT_SQL}
                           / (sqrt(a.norm_fx) * sqrt(b.norm_fx)))
                          * 1000000) AS BIGINT) AS cos_fx,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_FX_DOT_SQL}
                            / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) DESC,
                            b.vec_id) AS rnk
        FROM norms a JOIN norms b ON b.vec_id % 2 = 1
        WHERE a.vec_id % 20 = 0),
    fk AS MATERIALIZED (SELECT * FROM fwd WHERE rnk <= 4),
    fsum AS (SELECT src_id, CAST(sum(cos_fx) AS BIGINT) AS sum_fwd_fx
             FROM fk GROUP BY 1),
    best AS MATERIALIZED (
        SELECT src_id, tgt_id, cos_fx FROM fk WHERE rnk = 1),
    cand AS (SELECT DISTINCT tgt_id FROM best),
    bq AS MATERIALIZED (
        SELECT n.vec_id, n.embedding, n.norm_fx
        FROM norms n JOIN cand c ON n.vec_id = c.tgt_id),
    bwd AS MATERIALIZED (
        SELECT a.vec_id AS tgt_id, b.vec_id AS nb,
               CAST(floor(({_FX_DOT_SQL}
                           / (sqrt(a.norm_fx) * sqrt(b.norm_fx)))
                          * 1000000) AS BIGINT) AS cos_fx,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_FX_DOT_SQL}
                            / (sqrt(a.norm_fx) * sqrt(b.norm_fx)) DESC,
                            b.vec_id) AS rnk
        FROM bq a JOIN norms b ON b.vec_id % 2 = 0),
    bstats AS (
        SELECT tgt_id, CAST(sum(cos_fx) AS BIGINT) AS sum_bwd_fx,
               CAST(min(CASE WHEN rnk = 1 THEN nb END) AS BIGINT)
                 AS bwd_best
        FROM bwd WHERE rnk <= 4 GROUP BY 1)
    SELECT best.src_id, best.tgt_id, best.cos_fx,
           f.sum_fwd_fx, s.sum_bwd_fx,
           CAST(CASE WHEN f.sum_fwd_fx + s.sum_bwd_fx = 0 THEN NULL
                     ELSE (1000 * 8 * best.cos_fx)
                          // (f.sum_fwd_fx + s.sum_bwd_fx)
                END AS BIGINT) AS margin_milli,
           s.bwd_best = best.src_id AS mutual_best
    FROM best
    JOIN fsum f USING (src_id)
    JOIN bstats s USING (tgt_id)
    """,
)
def q_margin_bitext_mine(spark, sf_dir):
    """Margin-based bitext mining (r10, similarity.margin_bitext_mine;
    Artetxe & Schwenk 2019 / CCMatrix): even vec_ids play the source
    language, odd the target; every 20th source vector queries its
    best target candidate, scored by the ratio margin over both
    endpoints' 4-NN neighborhoods plus the mutual-best flag — the
    parallel-corpus mining step of a multilingual pipeline. Exact
    legs (two bounded-query kNN passes, corpus-linear each); the
    100 TB path swaps them for the IMI-pruned kernel exactly as
    rrf_hybrid_served's semantic leg does. widen_scan: the per-pair
    64-dim fixed-point folds are the interpreted-HOF class (the PQ
    lesson — the single-row-group fixture serialized the fwd leg
    onto one task, measured 6.98 s vs ~1 s widened at sf0.1)."""
    emb = widen_scan(load_table(spark, sf_dir, "embeddings"))
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    queries = src.filter(F.col("vec_id") % 20 == 0)
    return similarity.margin_bitext_mine(queries, src, tgt, k=4)


@declare(
    "ngram_containment_pairs",
    """
    WITH tok AS MATERIALIZED (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents),
    tk AS MATERIALIZED (
        SELECT doc_id, t FROM tok
        UNION ALL
        SELECT doc_id + 300000, t[1:(len(t)+1)//2]
        FROM tok WHERE doc_id % 10 = 0),
    sh AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                    THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                        for i in generate_series(1, len(t)-2)])
                    ELSE [coalesce(array_to_string(t, ' '), '')] END AS s
        FROM tk),
    pairs AS (
        SELECT doc_id + 300000 AS id_a, doc_id AS id_b
        FROM documents WHERE doc_id % 10 = 0)
    SELECT p.id_a, p.id_b,
           CAST(len(list_filter(a.s, x -> list_contains(b.s, x)))
                AS BIGINT) AS inter_size,
           CAST(len(a.s) AS BIGINT) AS size_a,
           CAST(len(b.s) AS BIGINT) AS size_b,
           CAST(len(list_filter(a.s, x -> list_contains(b.s, x)))
                AS DOUBLE) / len(a.s) AS containment_a,
           CAST(len(list_filter(a.s, x -> list_contains(b.s, x)))
                AS DOUBLE) / len(b.s) AS containment_b
    FROM pairs p JOIN sh a ON a.doc_id = p.id_a
                 JOIN sh b ON b.doc_id = p.id_b
    """,
)
def q_ngram_containment(spark, sf_dir):
    """Asymmetric containment verification (r10,
    dedup.containment_pairs; Broder 1997): each doc_id%10==0 doc is
    paired with a synthesized HALF-TRUNCATED copy (id+300000, first
    ⌈n/2⌉ tokens) — the partial-duplication case symmetric Jaccard
    under-scores (the fragment's containment is ~1.0 while jaccard
    sits near |A|/|B|). The fragment side is id_a, so containment_a
    ≈ 1.0 identifies the side to drop. Same serving shape as the
    jaccard verifier: shingle sets joined onto a bounded candidate
    list (LSH survivors at scale, never the corpus square)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = ascii_tokens("text", lowercase=True)
    half = F.slice(t, F.lit(1), ((F.size(t) + 1) / 2).cast("int"))
    trunc = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.array_join(half, " ").alias("text"),
    )
    # Only the %10 docs (id_b side) and their truncated copies (id_a
    # side) can match the candidate list — shingling the other 90% of
    # the corpus is work the join immediately discards (the PRF
    # prune-before-explode class). Pre-filtering the
    # corpus fed to the verifier leaves the join result identical.
    corpus = docs.filter(F.col("doc_id") % 10 == 0).unionAll(trunc)
    cands = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 300000).alias("id_a"),
        F.col("doc_id").alias("id_b"),
    )
    return dedup.containment_pairs(corpus, cands)


@declare(
    "bpe_fertility_by_lang",
    _bpe_cte(_BPE_ROUNDS)
    + f""",
    dt AS (
        SELECT lang,
               unnest(list_filter(string_split_regex(lower(text),
                   '[^a-z]+'), x -> x <> '')) AS w
        FROM documents),
    vols AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
             FROM documents GROUP BY 1),
    agg AS (
        SELECT d.lang,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(len(string_split(wr.sym, '  '))) AS BIGINT)
                 AS n_tokens
        FROM dt d JOIN w{_BPE_ROUNDS} wr ON d.w = wr.w
        GROUP BY 1)
    SELECT v.lang, v.n_docs,
           CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN coalesce(a.n_words, 0) = 0 THEN NULL
                     ELSE (1000 * a.n_tokens) // a.n_words END AS BIGINT)
             AS fertility_milli
    FROM vols v LEFT JOIN agg a ON v.lang = a.lang
    """,
)
def q_bpe_fertility_by_lang(spark, sf_dir):
    """Tokenizer-equity audit (r10, textstats.bpe_fertility_by_lang):
    tokens per word by language under the trained BPE merges —
    fertility is THE multilingual tokenizer metric (a vocab trained
    on one language fragments the rest; 2-3x fertility on a language
    inflates its compute cost and starves its effective context).
    Serves from the session BPE cache (one 6-round training feeds
    all four bpe_* entries); the oracle replays training +
    application + the language rollup in one unrolled statement.
    Zero-word languages report NULL fertility (the kappa
    convention), with their doc volume still visible."""
    _, words = _bpe_learned(spark, sf_dir, _BPE_ROUNDS)
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select("lang", "text")
    )
    return textstats.bpe_fertility_by_lang(docs, words)


_MARGIN_IMI_COS = (
    f"{_FX_DOT_SQL} / (sqrt(a.norm_fx) * sqrt(b.norm_fx))"
)


@declare(
    "margin_bitext_mine_imi",
    _pq_cte()
    + ","
    + _pq_lut_sql(" WHERE vec_id % 2 = 0")
    + f"""
    probed AS (
        SELECT query_id, cid AS cell0 FROM (
            SELECT query_id, cid,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d, cid) AS rn
            FROM lut WHERE sub = 0) WHERE rn <= 4),
    cell0 AS (SELECT vec_id, cid AS cell0 FROM a2 WHERE sub = 0),
    nl AS MATERIALIZED (
        SELECT vec_id, embedding,
               CAST(list_sum([CAST(round(CAST(embedding[i] AS DOUBLE)
                                         * CAST(embedding[i] AS DOUBLE)
                                         * 1000000.0) AS BIGINT)
                              for i in generate_series(1, len(embedding))])
                    AS BIGINT) AS norm_fx
        FROM embeddings),
    fsc AS MATERIALIZED (
        SELECT p.query_id AS src_id, b.vec_id AS tgt_id,
               CAST(floor(({_MARGIN_IMI_COS}) * 1000000) AS BIGINT)
                 AS cos_fx,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY {_MARGIN_IMI_COS} DESC, b.vec_id) AS rnk
        FROM probed p
        JOIN cell0 c ON c.cell0 = p.cell0
        JOIN nl b ON b.vec_id = c.vec_id AND b.vec_id % 2 = 1
        JOIN nl a ON a.vec_id = p.query_id),
    fk AS MATERIALIZED (SELECT * FROM fsc WHERE rnk <= 4),
    fsum AS (SELECT src_id, CAST(sum(cos_fx) AS BIGINT) AS sum_fwd_fx
             FROM fk GROUP BY 1),
    fbest AS MATERIALIZED (
        SELECT src_id, tgt_id, cos_fx FROM fk WHERE rnk = 1),
    bqids AS (SELECT DISTINCT tgt_id AS vec_id FROM fbest),
    blut AS MATERIALIZED (
        SELECT q.vec_id AS query_id, c.sub, c.cid,
               CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS d
        FROM qv q JOIN bqids t ON q.vec_id = t.vec_id
        JOIN c1 c ON q.sub = c.sub AND q.spos = c.spos
        GROUP BY 1, 2, 3),
    bprobed AS (
        SELECT query_id, cid AS cell0 FROM (
            SELECT query_id, cid,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d, cid) AS rn
            FROM blut WHERE sub = 0) WHERE rn <= 4),
    bsc AS MATERIALIZED (
        SELECT p.query_id AS tgt_id, b.vec_id AS nb,
               CAST(floor(({_MARGIN_IMI_COS}) * 1000000) AS BIGINT)
                 AS cos_fx,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY {_MARGIN_IMI_COS} DESC, b.vec_id) AS rnk
        FROM bprobed p
        JOIN cell0 c ON c.cell0 = p.cell0
        JOIN nl b ON b.vec_id = c.vec_id AND b.vec_id % 2 = 0
        JOIN nl a ON a.vec_id = p.query_id),
    bstats AS (
        SELECT tgt_id, CAST(sum(cos_fx) AS BIGINT) AS sum_bwd_fx,
               CAST(min(CASE WHEN rnk = 1 THEN nb END) AS BIGINT)
                 AS bwd_best
        FROM bsc WHERE rnk <= 4 GROUP BY 1)
    SELECT fbest.src_id, fbest.tgt_id, fbest.cos_fx,
           f.sum_fwd_fx, s.sum_bwd_fx,
           CAST(CASE WHEN f.sum_fwd_fx + s.sum_bwd_fx = 0 THEN NULL
                     ELSE (1000 * 8 * fbest.cos_fx)
                          // (f.sum_fwd_fx + s.sum_bwd_fx)
                END AS BIGINT) AS margin_milli,
           s.bwd_best = fbest.src_id AS mutual_best
    FROM fbest
    JOIN fsum f USING (src_id)
    JOIN bstats s USING (tgt_id)
    """,
)
def q_margin_bitext_imi(spark, sf_dir):
    """IMI-PRUNED bitext mining (r10, similarity.margin_bitext_mine_imi)
    — margin_bitext_mine's serving form, closing the 100 TB path its
    docstring names: both kNN legs draw candidates from 4/16 coarse
    cells (subspace-0 PQ codes) before any dot product, exact
    fixed-point cosines verify survivors only, margins and
    mutual-best computed from the pruned neighborhoods. Query set =
    the 8 smallest EVEN vec_ids (fixed — the probe row is
    corpus-linear, unlike the exact form's %20 set); backward LUTs
    built for the fwd winners (driver-tiny collect, the IVF-seeds
    precedent). The WHOLE pruned mining pipeline oracle-checks
    through the PQ CTE chain. n_probe=K degenerates to the exact
    form on the same query set (pinned in tests). Serves from the
    session PQ cache."""
    emb = widen_scan(load_table(spark, sf_dir, "embeddings"))
    cents, a, _ = _pq_artifacts(spark, sf_dir)
    return similarity.margin_bitext_mine_imi(
        emb, a, cents, k=4, n_probe=4, n_queries=8
    )


@declare(
    "allpairs_jaccard_prefix",
    f"""
    WITH {_DUP_CORPUS_SQL},
    tk AS (
        SELECT doc_id AS id,
               unnest(list_distinct(list_filter(
                   string_split_regex(lower(text), '[^a-z]+'),
                   x -> x <> ''))) AS t
        FROM corpus),
    fr AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
    keyed AS (
        SELECT id, lpad(CAST(fr.c AS VARCHAR), 19, '0') || '|' || tk.t
                 AS k
        FROM tk JOIN fr USING (t)),
    arrs AS MATERIALIZED (
        SELECT id, list_sort(list(k)) AS ks FROM keyed GROUP BY 1),
    pref AS MATERIALIZED (
        SELECT id,
               unnest(ks[1:(len(ks) - ((19 * len(ks) + 19) // 20) + 1)])
                 AS k
        FROM arrs),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM pref a JOIN pref b ON a.k = b.k AND a.id < b.id),
    sc AS (
        SELECT c.id_a, c.id_b,
               CAST(len(list_filter(x.ks, v -> list_contains(y.ks, v)))
                    AS BIGINT) AS inter_size,
               CAST(len(list_distinct(list_concat(x.ks, y.ks)))
                    AS BIGINT) AS union_size
        FROM cand c
        JOIN arrs x ON x.id = c.id_a
        JOIN arrs y ON y.id = c.id_b)
    SELECT id_a, id_b, inter_size, union_size,
           CAST(inter_size AS DOUBLE) / union_size AS jaccard
    FROM sc WHERE 20 * inter_size >= 19 * union_size
    """,
)
def q_allpairs_jaccard_prefix(spark, sf_dir):
    """EXACT all-pairs similarity join (r10,
    dedup.prefix_filter_jaccard_pairs; Bayardo et al. WWW 2007):
    every pair of the dup corpus with token-set Jaccard ≥ 19/20, found
    by rarity-ordered prefix filtering — provably NO false negatives
    (the guarantee every LSH family in this repo trades away),
    candidates from rare-token prefix collisions only, exact integer
    |∩|/|∪| verify (20·inter ≥ 19·union). 19/20 is the near-dup
    regime AND the honest fixture choice: the template-generated
    corpus is so token-dense that t=0.8 admits ~44k pairs at sf0.01
    (output-driven cost, the edit_distance class) while 0.95 keeps
    ~3k with every planted copy still J=1.0. Exact copies AND
    token-reversed copies surface (token SETS are order-blind).
    widen_scan: the tokenize explode is the interpreted-map class."""
    corpus = _dup_corpus(spark, sf_dir)
    return dedup.prefix_filter_jaccard_pairs(
        corpus, threshold_num=19, threshold_den=20
    )


@declare(
    "phrase_search_docs",
    """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS ts
        FROM documents),
    post AS (
        SELECT doc_id, unnest(ts) AS tok,
               generate_subscripts(ts, 1) AS pos
        FROM tok),
    ph AS (
        SELECT doc_id AS phrase_id, ts
        FROM tok WHERE doc_id % 50 = 0 AND len(ts) >= 3),
    pt AS (
        SELECT phrase_id, 1 AS role, ts[1] AS tok FROM ph
        UNION ALL
        SELECT phrase_id, 2 AS role, ts[2] AS tok FROM ph
        UNION ALL
        SELECT phrase_id, 3 AS role, ts[3] AS tok FROM ph),
    cand AS (
        SELECT p.phrase_id, po.doc_id, po.pos - p.role AS anchor
        FROM post po JOIN pt p ON po.tok = p.tok),
    m AS (
        SELECT phrase_id, doc_id, anchor, count(*) AS c
        FROM cand GROUP BY 1, 2, 3)
    SELECT phrase_id, doc_id, CAST(count(*) AS BIGINT) AS n_matches
    FROM m WHERE c = 3
    GROUP BY 1, 2
    """,
)
def q_phrase_search_docs(spark, sf_dir):
    """EXACT positional phrase search (r11,
    retrieval.phrase_search): every document containing each
    fixture-derived 3-token phrase (first three tokens of every
    50th doc — the query_terms_from_docs idiom) at consecutive
    positions, with occurrence counts — the retrieval sub-class
    BM25's bag-of-words ranking cannot express. Anchor-alignment
    join: postings broadcast-join the phrase terms (the corpus
    never shuffles), each hit votes for anchor pos−role, an anchor
    with all 3 roles present is an occurrence. Self-pin: every
    phrase matches its own source document ≥ once. widen_scan: the
    tokenize explode is the interpreted-map class."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    phrases = retrieval.phrase_terms_from_docs(
        docs, F.col("doc_id") % 50 == 0, phrase_len=3
    )
    return retrieval.phrase_search(docs, phrases, phrase_len=3)


@declare(
    "corpus_snapshot_diff",
    """
    WITH oldsnap AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 THEN substr(text, 1, 80)
                    ELSE text END AS text
        FROM documents WHERE doc_id % 17 <> 3
        UNION ALL
        SELECT doc_id + 1000000000 AS doc_id, text
        FROM documents WHERE doc_id % 23 = 0),
    o AS (
        SELECT doc_id,
               coalesce(array_to_string(list_sort(list_filter(
                   string_split_regex(lower(text), '[^a-z]+'),
                   x -> x <> '')), ' '), '') AS co,
               CAST(length(text) AS BIGINT) AS len_before
        FROM oldsnap),
    n AS (
        SELECT doc_id,
               coalesce(array_to_string(list_sort(list_filter(
                   string_split_regex(lower(text), '[^a-z]+'),
                   x -> x <> '')), ' '), '') AS cn,
               CAST(length(text) AS BIGINT) AS len_after
        FROM documents)
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.doc_id IS NULL THEN 'added'
                WHEN co = cn THEN 'unchanged'
                ELSE 'changed' END AS verdict,
           o.len_before, n.len_after
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """,
)
def q_corpus_snapshot_diff(spark, sf_dir):
    """Dataset-versioning diff (r11, dedup.snapshot_diff — the
    kv_state_diff contract lifted to the corpus): the current
    documents table vs a simulated previous snapshot (every
    doc_id % 17 == 3 doc absent → added; % 13 == 0 docs truncated to
    80 chars → changed unless the doc was already that short;
    synthetic old-only ids (+1e9, % 23 == 0) → removed; the rest
    unchanged). Content identity = the token-multiset canon shared
    with dedup_fingerprint, so re-cased/reordered edits read as
    unchanged. Two map-only canon projections + one full-outer
    doc_id join; the report carries lengths, never texts."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 17 != 3).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0, F.substring("text", 1, 80)
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 23 == 0).select(
            (F.col("doc_id") + 1000000000).alias("doc_id"), "text"
        )
    )
    return dedup.snapshot_diff(old, docs)


@declare(
    "lsh_recall_eval",
    f"""
    WITH {_DUP_CORPUS_SQL},
    {_mh_mins_sql("corpus").lstrip()},
    bnd AS MATERIALIZED (
        SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
               string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bkey
        FROM mins GROUP BY 1, 2
    ),
    capped AS (
        SELECT doc_id, band, bkey FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz
            FROM bnd) WHERE bsz <= 1000
    ),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    su AS (SELECT doc_id, unnest(s) AS sh FROM mshg),
    sfr AS (SELECT sh, CAST(count(*) AS BIGINT) AS c FROM su GROUP BY 1),
    skeyed AS (
        SELECT su.doc_id AS id,
               lpad(CAST(sfr.c AS VARCHAR), 19, '0') || '|' || su.sh AS k
        FROM su JOIN sfr USING (sh)
    ),
    arrs AS MATERIALIZED (
        SELECT id, list_sort(list(k)) AS ks FROM skeyed GROUP BY 1),
    pref AS MATERIALIZED (
        SELECT id,
               unnest(ks[1:(len(ks) - ((19 * len(ks) + 19) // 20) + 1)])
                 AS k
        FROM arrs),
    tcand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM pref a JOIN pref b ON a.k = b.k AND a.id < b.id),
    truth AS (
        SELECT c.id_a, c.id_b
        FROM tcand c
        JOIN arrs x ON x.id = c.id_a
        JOIN arrs y ON y.id = c.id_b
        WHERE 20 * len(list_filter(x.ks, v -> list_contains(y.ks, v)))
              >= 19 * len(list_distinct(list_concat(x.ks, y.ks)))),
    j AS (
        SELECT t.id_a AS ta, c.id_a AS ca
        FROM truth t FULL OUTER JOIN cand c
          ON t.id_a = c.id_a AND t.id_b = c.id_b)
    SELECT CAST(count(ta) AS BIGINT) AS n_truth,
           CAST(count(ca) AS BIGINT) AS n_candidates,
           CAST(count(*) FILTER (WHERE ta IS NOT NULL
                                 AND ca IS NOT NULL) AS BIGINT)
               AS n_caught,
           CAST(CASE WHEN count(ta) > 0
                THEN (1000 * count(*) FILTER (WHERE ta IS NOT NULL
                                              AND ca IS NOT NULL))
                     // count(ta)
                ELSE 1000 END AS BIGINT) AS recall_milli
    FROM j
    """,
)
def q_lsh_recall_eval(spark, sf_dir):
    """LSH recall audit (r11, dedup.lsh_recall_eval): the banded
    MinHash candidate generator measured against PROVABLE ground
    truth — exact all-pairs shingle-Jaccard ≥ 19/20 via prefix
    filtering (no false negatives by theorem) vs the 8×4 band
    collisions on the planted-dup corpus. Both engines replay BOTH
    legs bit-for-bit (the md5 affine mins + the rarity-ordered
    prefix join), so the recall number itself is oracle-checked —
    the eval of the dedup pipeline, not just its pieces. At 100 TB
    the truth leg runs on an audit sample; the candidate leg is the
    production cost. widen_scan: md5-per-shingle is the map-heavy
    class."""
    corpus = _dup_corpus(spark, sf_dir)
    return dedup.lsh_recall_eval(corpus)


@declare(
    "phrase_search_fixed",
    """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS ts
        FROM documents),
    post AS (
        SELECT doc_id, unnest(ts) AS tok,
               generate_subscripts(ts, 1) AS pos
        FROM tok),
    ph AS (
        SELECT doc_id AS phrase_id, ts
        FROM tok
        WHERE doc_id % 50 = 0 AND doc_id < 500 AND len(ts) >= 3),
    pt AS (
        SELECT phrase_id, 1 AS role, ts[1] AS tok FROM ph
        UNION ALL
        SELECT phrase_id, 2 AS role, ts[2] AS tok FROM ph
        UNION ALL
        SELECT phrase_id, 3 AS role, ts[3] AS tok FROM ph),
    cand AS (
        SELECT p.phrase_id, po.doc_id, po.pos - p.role AS anchor
        FROM post po JOIN pt p ON po.tok = p.tok),
    m AS (
        SELECT phrase_id, doc_id, anchor, count(*) AS c
        FROM cand GROUP BY 1, 2, 3)
    SELECT phrase_id, doc_id, CAST(count(*) AS BIGINT) AS n_matches
    FROM m WHERE c = 3
    GROUP BY 1, 2
    """,
)
def q_phrase_search_fixed(spark, sf_dir):
    """phrase_search_docs' FIXED-query-set twin (the bm25_topk_fixed
    idiom): phrases only from doc_id < 500 (% 50 == 0) — a constant
    ≤10-phrase set at any corpus scale, so the probe row measures the
    SERVE (postings growth, candidates linear in corpus) instead of
    the %50 set's phrases×copies K² fixture law. Same kernel, same
    oracle shape."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    phrases = retrieval.phrase_terms_from_docs(
        docs,
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 500),
        phrase_len=3,
    )
    return retrieval.phrase_search(docs, phrases, phrase_len=3)


@declare(
    "proximity_search_fixed",
    """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS ts
        FROM documents),
    post AS (
        SELECT doc_id, unnest(ts) AS tok,
               generate_subscripts(ts, 1) AS pos
        FROM tok),
    ph AS (
        SELECT doc_id AS phrase_id, ts
        FROM tok
        WHERE doc_id % 50 = 0 AND doc_id < 500 AND len(ts) >= 3),
    pt0 AS (
        SELECT phrase_id, 1 AS role, ts[1] AS tok FROM ph
        UNION ALL
        SELECT phrase_id, 2 AS role, ts[2] AS tok FROM ph
        UNION ALL
        SELECT phrase_id, 3 AS role, ts[3] AS tok FROM ph),
    ok3 AS (
        SELECT phrase_id FROM pt0
        GROUP BY 1 HAVING count(DISTINCT tok) = 3),
    pt AS (SELECT pt0.* FROM pt0 JOIN ok3 USING (phrase_id)),
    hits AS MATERIALIZED (
        SELECT p.phrase_id, po.doc_id, p.role, po.pos
        FROM post po JOIN pt p ON po.tok = p.tok),
    sp AS (
        SELECT a.phrase_id, a.doc_id,
               min(greatest(a.pos, b.pos, c.pos)
                   - least(a.pos, b.pos, c.pos) + 1) AS min_span
        FROM hits a
        JOIN hits b ON b.phrase_id = a.phrase_id
                   AND b.doc_id = a.doc_id AND b.role = 2
        JOIN hits c ON c.phrase_id = a.phrase_id
                   AND c.doc_id = a.doc_id AND c.role = 3
        WHERE a.role = 1
        GROUP BY 1, 2)
    SELECT phrase_id, doc_id,
           CAST(min_span AS BIGINT) AS min_span,
           CAST(3000 // min_span AS BIGINT) AS prox_milli
    FROM sp
    """,
)
def q_proximity_search_fixed(spark, sf_dir):
    """Proximity retrieval (r12, retrieval.proximity_min_span): the
    minimal window containing all three query terms per (query,
    doc) — the sloppy-phrase ranking signal between BM25's bag of
    words and phrase_search's exact adjacency. Fixed ≤10-query set
    (the bm25_topk_fixed idiom) so the serve is corpus-linear; the
    min-over-cross-product window math is exact integers, so the
    whole proximity RANKING oracle-checks. Self-pin: each phrase's
    source doc appears with min_span == 3 / prox_milli == 1000
    (its own first three tokens are adjacent). widen_scan: the
    tokenize explode is the interpreted-map class."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    phrases = retrieval.phrase_terms_from_docs(
        docs,
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 500),
        phrase_len=3,
    )
    return retrieval.proximity_min_span(docs, phrases)


@declare(
    "frequent_span_audit",
    """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS t
        FROM documents),
    g AS (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= 5
                           THEN [array_to_string(t[i:i+4], ' ')
                                 for i in generate_series(1, len(t)-4)]
                           ELSE CAST([] AS VARCHAR[]) END) AS gram
        FROM tok),
    a AS (
        SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM g GROUP BY 1),
    t20 AS (
        SELECT * FROM a ORDER BY n_occurrences DESC, gram LIMIT 20)
    SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, gram)
                AS INTEGER) AS rnk,
           gram, n_occurrences, n_docs
    FROM t20
    """,
)
def q_frequent_span_audit(spark, sf_dir):
    """Memorization-risk audit (r11, textstats.frequent_span_audit):
    the 20 most frequent 5-grams corpus-wide with occurrence and
    doc-coverage counts — the table a data audit reads to pick the
    exact-substring dedup threshold. Gram explode + one aggregate
    (the wordcount law) + TakeOrdered top-k; rank order is total
    (count desc, gram asc) so the cut is deterministic. widen_scan:
    the gram explode is the interpreted-map class."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.frequent_span_audit(docs)


@declare(
    "weighted_sample_docs",
    f"""
    WITH b AS (
        SELECT doc_id,
               greatest(CAST(len(list_filter(string_split_regex(
                   lower(text), '[^a-z]+'), x -> x <> '')) + 1
                   AS BIGINT), 1) AS weight,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1,
                                    12)) AS BIGINT) AS h
        FROM documents),
    k AS (
        SELECT doc_id, weight,
               (h * {1 << pipeline.WS_SCALE_BITS}) // weight AS key_fp
        FROM b)
    SELECT doc_id, weight, key_fp, sample_rank FROM (
        SELECT doc_id, weight, key_fp,
               CAST(row_number() OVER (ORDER BY key_fp, doc_id)
                    AS BIGINT) AS sample_rank
        FROM k)
    WHERE sample_rank <= 500
    """,
)
def q_weighted_sample_docs(spark, sf_dir):
    """Weight-proportional corpus sample (r13,
    pipeline.weighted_sample): token-count-weighted priority sample
    of 500 docs — every doc keyed by the PORTABLE fixed point
    (md5_48 << 14) div weight, sample = the m smallest keys, so
    long documents are proportionally favored, the pick is
    deterministic and overlap-stable (the md5 dataset_split property
    extended to WEIGHTED selection), and the whole sample including
    its rank order oracle-checks. The classic u^(1/w) exponential
    key needs pow() and is not hash-portable. Map-only keys +
    distributed TakeOrdered(500) — no corpus-global window."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    weight = F.size(ascii_tokens("text", lowercase=True)) + 1
    return pipeline.weighted_sample(docs, weight, m=500)


@declare(
    "brier_calibration_bins",
    f"""
    WITH {_clf_sql_fragments()},
    {_QKEEP_SQL},
    b AS (
        SELECT (greatest(least(sc.score, 2047), -2048) + 2048) // 256
                   AS bin_id,
               ((greatest(least(sc.score, 2047), -2048) + 2048) * 1000)
                   // 4096 AS p,
               CASE WHEN k.keep THEN 1 ELSE 0 END AS y
        FROM sc JOIN k USING (doc_id)
    ),
    a AS (
        SELECT CAST(bin_id AS BIGINT) AS bin_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(p) AS BIGINT) AS sum_p_milli,
               CAST(sum(y) AS BIGINT) AS n_keep,
               CAST(sum((p - 1000 * y)::HUGEINT * (p - 1000 * y))
                    AS BIGINT) AS brier_micro_sum
        FROM b GROUP BY 1
    )
    SELECT bin_id, n_docs, sum_p_milli, n_keep, brier_micro_sum,
           CAST((sum_p_milli - 1000 * n_keep) // n_docs AS BIGINT)
               AS gap_milli,
           CAST(((sum_p_milli - 1000 * n_keep)::HUGEINT
                 * (sum_p_milli - 1000 * n_keep)) // n_docs
                AS BIGINT) AS rel_micro
    FROM a
    """,
)
def q_brier_calibration_bins(spark, sf_dir):
    """Brier-score calibration (r13, textstats.brier_calibration_bins
    — Murphy 1973 decomposition): the learned classifier squashed to
    milli-probabilities by an exact affine map, scored against the
    heuristic keep label with the proper scoring rule — per score
    bin the exact Σ(p−y)²·10⁶, the mean calibration gap, and the
    reliability term n·(p̄−ȳ)²·10⁶, squares in decimal(38,0)/HUGEINT
    (the r6 rule), negative-gap truncation matched (the kappa
    precedent). Completes the calibration pair: keep-rate bins say
    WHERE the judges disagree, Brier says how badly the
    probabilities are off. Map-only + one ≤16-row shuffle;
    widen_scan for the interpreted classifier fold."""
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    return textstats.brier_calibration_bins(docs)

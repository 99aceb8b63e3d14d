"""Tests for retrieval operators (operators/retrieval.py): BM25
pure-Python differential, ranking signal, RRF hand case."""

from __future__ import annotations

import re
from fractions import Fraction

from pyspark.sql import functions as F

from mrgo_spark.operators import retrieval
from mrgo_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _toks(s):
    return [w for w in re.split(r"[^a-z]+", s.lower()) if w]


def _bm25_model(rows, queries):
    """Pure-Python replay of bm25_topk's exact integer math.
    rows: [(doc_id, text)]; queries: {query_id: [terms]}.
    Returns {(query_id, doc_id): (n_terms, score_fp)}."""
    toks = {d: _toks(t) for d, t in rows}
    dl = {d: len(t) for d, t in toks.items()}
    n, tt = len(rows), sum(dl.values())
    dfc = {}
    tfc = {}
    for d, t in toks.items():
        seen = set()
        for w in t:
            tfc[(d, w)] = tfc.get((d, w), 0) + 1
            if w not in seen:
                seen.add(w)
                dfc[w] = dfc.get(w, 0) + 1
    out = {}
    for q, terms in queries.items():
        for d in toks:
            matched = [w for w in terms if (d, w) in tfc]
            if not matched:
                continue
            s = 0
            for w in matched:
                tf, df = tfc[(d, w)], dfc[w]
                num = (2 * n - 2 * df + 1) * (22 * tt * tf) * retrieval.BM25_SCALE
                den = (2 * df + 1) * (10 * tt * tf + 3 * tt + 9 * dl[d] * n)
                s += num // den
            out[(q, d)] = (len(matched), s)
    return out


def test_bm25_matches_pure_python_model(spark):
    """Score-for-score integer differential on the fixture corpus with
    the declared query rule (first-5 distinct tokens, doc_id % 20)."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    queries = {
        d: list(dict.fromkeys(_toks(t)[:5])) for d, t in rows if d % 20 == 0
    }
    expect = _bm25_model(rows, queries)
    qterms = retrieval.query_terms_from_docs(docs, F.col("doc_id") % 20 == 0)
    got = retrieval.bm25_topk(docs, qterms, k=10).collect()
    assert got, "fixture produced no candidates"
    for r in got:
        assert (r.n_terms, r.score_fp) == expect[(r.query_id, r.doc_id)], r
    # rank agrees with the model's ordering (score desc, doc_id asc)
    for q in queries:
        model_order = sorted(
            ((d, v[1]) for (qq, d), v in expect.items() if qq == q),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        got_order = sorted(
            [(r.rank, r.doc_id) for r in got if r.query_id == q]
        )
        assert [d for _, d in got_order] == [d for d, _ in model_order], q


def test_bm25_rare_term_beats_common_term(spark):
    """idf signal: with equal tf and dl, the doc matching the rare
    query term outranks the doc matching the ubiquitous one."""
    rows = [(0, "aardvark common pad pad"), (1, "common zebra pad pad")]
    rows += [(i, "common filler pad pad") for i in range(2, 12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qterms = spark.createDataFrame(
        [(99, "aardvark"), (99, "common")], "query_id long, term string"
    )
    out = {r.doc_id: r for r in retrieval.bm25_topk(docs, qterms, k=12).collect()}
    assert out[0].rank == 1  # matches rare + common
    assert out[0].n_terms == 2
    # doc 1 matches only 'common', same as fillers; ties break by id
    assert out[1].score_fp == out[2].score_fp
    assert out[1].rank < out[2].rank


def test_bm25_score_is_floor_of_rational(spark):
    """The fixed-point score truncates the exact rational from below
    (all-positive terms): score_fp <= SCALE * exact < score_fp + n_terms."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    toks = {d: _toks(t) for d, t in rows}
    dl = {d: len(t) for d, t in toks.items()}
    n, tt = len(rows), sum(dl.values())
    qterms = retrieval.query_terms_from_docs(docs, F.col("doc_id") == 0)
    got = retrieval.bm25_topk(docs, qterms, k=5).collect()
    q0 = list(dict.fromkeys(toks[0][:5]))
    dfc = {w: sum(1 for t in toks.values() if w in t) for w in q0}
    for r in got:
        exact = sum(
            Fraction(
                (2 * n - 2 * dfc[w] + 1) * 22 * tt * toks[r.doc_id].count(w),
                (2 * dfc[w] + 1)
                * (10 * tt * toks[r.doc_id].count(w) + 3 * tt + 9 * dl[r.doc_id] * n),
            )
            for w in q0
            if w in toks[r.doc_id]
        )
        assert r.score_fp <= exact * retrieval.BM25_SCALE < r.score_fp + r.n_terms


def test_rrf_fuse_hand_case(spark):
    """Hand-computed fusion: a doc present in both lists beats docs
    present in one; contributions are SCALE // (60 + rank)."""
    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, doc_id long, rank int",
    )
    sem = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)], "query_id long, doc_id long, rank int"
    )
    out = {r.doc_id: r for r in retrieval.rrf_fuse([lex, sem], k=10).collect()}
    S = retrieval.RRF_SCALE
    assert out[11].rrf_score_fp == S // 62 + S // 61
    assert out[11].n_sources == 2 and out[11].rank == 1
    assert out[10].rrf_score_fp == S // 61 and out[10].n_sources == 1
    assert out[13].rrf_score_fp == S // 62
    assert out[12].rrf_score_fp == S // 63
    # full ordering: 11 (both) > 10 (lex r1) > 13 (sem r2) > 12 (lex r3)
    assert [out[d].rank for d in (11, 10, 13, 12)] == [1, 2, 3, 4]


def test_bm25_plan_broadcasts_query_side(spark):
    """The corpus must never shuffle by term: the query-term join and
    the df join are broadcasts, no SortMergeJoin on term."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    qterms = retrieval.query_terms_from_docs(docs, F.col("doc_id") % 20 == 0)
    plan = (
        retrieval.bm25_topk(docs, qterms, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_index_parity_with_two_pass_form(spark, tmp_path):
    """The at-rest index serve path (BM25Index.query) must be
    bit-identical to the two-pass bm25_topk for the same query table —
    same scoring tail by construction, and df/dl/scalars computed at
    build time must equal the per-call derivation."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    qterms = retrieval.query_terms_from_docs(docs, F.col("doc_id") % 20 == 0)
    direct = sorted(
        map(tuple, retrieval.bm25_topk(docs, qterms, k=10).collect())
    )
    idx = retrieval.BM25Index.build(docs, str(tmp_path / "bm25idx"))
    served = sorted(map(tuple, idx.query(qterms, k=10).collect()))
    assert served == direct
    # and a reopened index (fresh metadata read) serves identically
    reopened = retrieval.BM25Index(spark, str(tmp_path / "bm25idx"))
    assert sorted(map(tuple, reopened.query(qterms, k=10).collect())) == direct


def _partition_filters(plan: str) -> list[str]:
    """The scans' PartitionFilters entries, expression ids stripped so
    plans of different frames compare."""
    return sorted(
        re.sub(r"#\d+L?", "", m)
        for m in re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
    )


def test_bm25_index_query_prunes_partitions(spark, tmp_path):
    """The postings scan must carry a term_bucket partition filter:
    a single-term query reads only its bucket's directory, not the
    whole postings table. A NULL term matches nothing, so adding one
    must neither change the rows nor scan its hash bucket."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    idx = retrieval.BM25Index.build(docs, str(tmp_path / "bm25idx"))
    one_term = spark.createDataFrame(
        [(1, "the")], "query_id long, term string"
    )
    with_null = spark.createDataFrame(
        [(1, "the"), (1, None)], "query_id long, term string"
    )
    # the NULL term's bucket differs from the real term's, so a NULL
    # that leaked into the bucket set would show as an extra bucket
    null_b, the_b = (
        spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit(None).cast("string")), F.lit(idx.n_buckets)),
            F.pmod(F.xxhash64(F.lit("the")), F.lit(idx.n_buckets)),
        )
        .first()
    )
    assert null_b != the_b
    served = [idx.query(q, k=5) for q in (one_term, with_null)]
    plans = [
        d._jdf.queryExecution().executedPlan().toString() for d in served
    ]
    # partition pruning shows as a PartitionFilters entry on the scan
    assert "term_bucket" in plans[0]
    # and the serve path never re-reads the documents table
    assert "documents" not in plans[0]
    filters = [_partition_filters(p) for p in plans]
    assert filters[0] and filters[0] == filters[1]
    rows = [sorted(map(tuple, d.collect())) for d in served]
    assert rows[0] and rows[0] == rows[1]


def test_retrieval_eval_hand_case(spark):
    """Hand-computed metrics: hits, first-hit MRR, zero-hit query,
    and a truth query absent from the run."""
    run = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2),
         (3, 30, 1)],
        "query_id long, doc_id long, rank int",
    )
    truth = spark.createDataFrame(
        [(1, 11), (1, 12), (1, 99),      # 2 hits, first at rank 2
         (2, 77),                        # 0 hits
         (4, 40)],                       # query absent from run
        "query_id long, doc_id long",
    )
    out = {r.query_id: r for r in retrieval.retrieval_eval(run, truth, k=10).collect()}
    S = retrieval.RRF_SCALE
    assert set(out) == {1, 2, 4}         # query 3 has no truth -> absent
    assert (out[1].n_truth, out[1].hits_at_k, out[1].mrr_fp) == (3, 2, S // 2)
    assert (out[2].n_truth, out[2].hits_at_k, out[2].mrr_fp) == (1, 0, 0)
    assert (out[4].n_truth, out[4].hits_at_k, out[4].mrr_fp) == (1, 0, 0)
    # k truncation: rank-3 hit disappears at k=2 and MRR keeps rank 2
    out2 = {r.query_id: r for r in retrieval.retrieval_eval(run, truth, k=2).collect()}
    assert (out2[1].hits_at_k, out2[1].mrr_fp) == (1, S // 2)


def test_bm25_index_merge_equals_union_build(spark, tmp_path):
    """Segment-merge parity: merge(build(A), build(B)) must serve
    exactly what build(A ∪ B) serves — postings/dl union, df sums,
    scalars add; document text is never touched."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    ia = retrieval.BM25Index.build(a, str(tmp_path / "ia"))
    ib = retrieval.BM25Index.build(b, str(tmp_path / "ib"), n_buckets=32)
    merged = retrieval.BM25Index.merge(ia, ib, str(tmp_path / "im"))
    full = retrieval.BM25Index.build(docs, str(tmp_path / "ifull"))
    qterms = retrieval.query_terms_from_docs(docs, F.col("doc_id") % 20 == 0)
    got = sorted(map(tuple, merged.query(qterms, k=10).collect()))
    want = sorted(map(tuple, full.query(qterms, k=10).collect()))
    assert got == want
    # merged metadata: re-bucketed to a's bucket count
    assert merged.n_buckets == ia.n_buckets


def test_bm25_segment_set_serves_like_merged_index(spark, tmp_path):
    """r10 (VERDICT_r9 #1): a BM25SegmentSet over disjoint segments
    must serve rankings IDENTICAL to the fully merged index — the
    query-time union of pruned postings/dl with summed df/scalars is
    exactly what merge materializes. Segments with DIFFERENT bucket
    counts prune independently and still agree."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    segs = [
        retrieval.BM25Index.build(
            p, str(tmp_path / f"s{i}"), n_buckets=(64 if i != 1 else 16)
        )
        for i, p in enumerate(parts)
    ]
    sset = retrieval.BM25SegmentSet(segs)
    full = retrieval.BM25Index.build(docs, str(tmp_path / "sfull"))
    qterms = retrieval.query_terms_from_docs(docs, F.col("doc_id") % 20 == 0)
    got = sorted(map(tuple, sset.query(qterms, k=10).collect()))
    want = sorted(map(tuple, full.query(qterms, k=10).collect()))
    assert got == want
    # a singleton set degenerates to the plain index
    one = retrieval.BM25SegmentSet([full])
    assert sorted(map(tuple, one.query(qterms, k=10).collect())) == want
    assert sset.n_docs() == full.n_docs()
    assert sset.doc_ids().distinct().count() == full.n_docs()


def test_bm25_index_merge_rejects_overlapping_doc_sets(spark, tmp_path):
    """ADVICE r7: merging indexes whose doc sets overlap would
    double-count tf/df/n/tt — the disjointness contract must fail
    loudly, not corrupt scores."""
    import pytest

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 3 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 0)  # overlaps a on %6 == 0
    ia = retrieval.BM25Index.build(a, str(tmp_path / "oa"))
    ib = retrieval.BM25Index.build(b, str(tmp_path / "ob"))
    with pytest.raises(ValueError, match="overlap"):
        retrieval.BM25Index.merge(ia, ib, str(tmp_path / "om"))


def test_bm25_index_many_term_batch_degrades_gracefully(spark, tmp_path):
    """VERDICT_r7 #4: a query batch whose terms hash into EVERY
    bucket loses pruning but never correctness — the full-scan serve
    must still equal the two-pass form (and the isin filter is
    skipped entirely when all buckets are hit)."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    # a tiny bucket count guarantees every bucket is hit by a
    # many-term batch without needing a huge query set
    idx = retrieval.BM25Index.build(docs, str(tmp_path / "wide"), n_buckets=2)
    qterms = retrieval.query_terms_from_docs(
        docs, F.col("doc_id") % 5 == 0, n_terms=8
    )
    served = sorted(map(tuple, idx.query(qterms, k=10).collect()))
    direct = sorted(
        map(tuple, retrieval.bm25_topk(docs, qterms, k=10).collect())
    )
    assert served == direct


def test_bm25_index_large_batch_serves_without_term_literal(
    spark, tmp_path
):
    """A batch of more than 512 distinct terms serves exactly what the
    two-pass form does, and no term list enters the plan: df is pruned
    through the broadcast query table, never by an In/InSet filter on
    term."""
    import itertools
    import random

    # the fixture corpus has too small a vocabulary, so build one with
    # 1000 distinct words spread over 300 documents
    vocab = ["".join(w) for w in itertools.product("abcdefghij", repeat=3)]
    rnd = random.Random(7)
    docs = spark.createDataFrame(
        [
            (d, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(20, 60))))
            for d in range(300)
        ],
        "doc_id long, text string",
    )
    idx = retrieval.BM25Index.build(docs, str(tmp_path / "big"), n_buckets=16)
    qterms = spark.createDataFrame(
        [(i % 40, w) for i, w in enumerate(rnd.sample(vocab, 600))],
        "query_id long, term string",
    ).localCheckpoint()
    assert qterms.count() > 512
    got = idx.query(qterms, k=10)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"\bterm#\d+ (IN|INSET)\b", plan)
    assert "In(term," not in plan and "InSet(term," not in plan
    served = sorted(map(tuple, got.collect()))
    direct = sorted(
        map(tuple, retrieval.bm25_topk(docs, qterms, k=10).collect())
    )
    assert served and served == direct


def test_bm25_scalars_null_tt_degrades(spark, tmp_path):
    """ADVICE_r13: an index whose scalars row carries NULLs (0-doc
    corpus written by an older build) must serve the empty result,
    not raise TypeError at plan construction."""
    idx = retrieval.BM25Index.build(
        load_table(spark, SF, "documents").select("doc_id", "text"),
        str(tmp_path / "nulls"),
        n_buckets=2,
    )
    spark.createDataFrame(
        [(None, None)], "n long, tt long"
    ).write.mode("overwrite").parquet(f"{idx.path}/scalars")
    idx._rels.pop("scalars", None)
    assert idx._scalars_nt() == (0, 0)


def test_dead_index_path_classifier():
    """ADVICE r7: the cached-index recovery only masks dead-path
    errors; anything else must propagate on first occurrence."""
    from mrgo_spark.operators.queries_llm import _dead_index_path

    assert _dead_index_path(FileNotFoundError("gone"))
    assert not _dead_index_path(
        Exception("Table or view 'x' does not exist")
    )
    assert _dead_index_path(Exception("[PATH_NOT_FOUND] Path does not exist"))
    assert _dead_index_path(
        Exception("java.io.FileNotFoundException: /tmp/mrgo_bm25_idx_x")
    )
    assert not _dead_index_path(ValueError("bad k"))
    assert not _dead_index_path(Exception("AnalysisException: column foo"))


def test_dead_index_path_schema_probe(tmp_path):
    """r9 review finding: Spark 4's UNABLE_TO_INFER_SCHEMA message
    carries no path, so the classifier probes the attempted path —
    missing or parquet-less dir = reaped (rebuild); parquet files
    present = a genuine read bug that must propagate."""
    from mrgo_spark.operators.queries_llm import _dead_index_path

    e = Exception(
        "[UNABLE_TO_INFER_SCHEMA] Unable to infer schema for Parquet."
    )
    # no path to probe -> not classifiable as dead, propagate
    assert not _dead_index_path(e)
    # missing dir -> dead
    assert _dead_index_path(e, str(tmp_path / "gone"))
    # empty dir (reaper removed the files) -> dead
    d = tmp_path / "idx"
    d.mkdir()
    assert _dead_index_path(e, str(d))
    # parquet data present (leaf dir) -> a real read bug, propagate
    (d / "part-0000.parquet").write_bytes(b"PAR1")
    assert not _dead_index_path(e, str(d))
    # component root: one healthy + one reaped component -> dead
    # (r9 review: the failing read is a SUBDIR; probing the root must
    # not let a surviving sibling mask the dead component). r10
    # (ADVICE r9): the probe covers only the KNOWN components for the
    # index type named by the tmpdir prefix.
    root = tmp_path / "mrgo_bm25_idx_test"
    for comp in ("postings", "df", "dl", "scalars", "meta"):
        (root / comp).mkdir(parents=True)
        (root / comp / "part-0000.parquet").write_bytes(b"PAR1")
    assert not _dead_index_path(e, str(root))  # all components healthy
    # a parquet-less SIBLING artifact (e.g. a crashed eval_truth
    # write) must NOT classify the healthy index as dead (ADVICE r9)
    (root / "eval_truth").mkdir()
    assert not _dead_index_path(e, str(root))
    # ...but a reaped KNOWN component still does
    (root / "dl" / "part-0000.parquet").unlink()
    assert _dead_index_path(e, str(root))
    # IVF index type has its own component list
    ivf = tmp_path / "mrgo_ivf_idx_test"
    (ivf / "cells").mkdir(parents=True)
    (ivf / "cells" / "part-0000.parquet").write_bytes(b"PAR1")
    assert _dead_index_path(e, str(ivf))  # centroids/ missing
    (ivf / "centroids").mkdir()
    (ivf / "centroids" / "part-0000.parquet").write_bytes(b"PAR1")
    assert not _dead_index_path(e, str(ivf))


def test_eval_truth_cache_parity_and_at_rest(spark):
    """VERDICT_r7 #3: the cached eval truth set must equal the fresh
    exact-cosine recompute, and the second call must serve from the
    persisted parquet (no embeddings scan in its plan)."""
    from mrgo_spark.operators import queries_llm, similarity
    from mrgo_spark.operators.queries_llm import _eval_truth

    sf = SF
    queries_llm._EVAL_TRUTH_CACHE.pop(sf, None)
    first = _eval_truth(spark, sf)
    docs = load_table(spark, sf, "documents").select("doc_id")
    emb = load_table(spark, sf, "embeddings")
    qids = docs.filter(F.col("doc_id") % 100 == 0)
    sem_q = emb.join(
        F.broadcast(qids),
        (F.col("vec_id") == F.col("doc_id")) & (F.col("vec_id") % 100 == 0),
        "left_semi",
    )
    fresh = similarity.topk_cosine_exact(emb, sem_q, k=10).select(
        "query_id", F.col("neighbor_id").alias("doc_id")
    )
    key = lambda r: (r.query_id, r.doc_id)  # noqa: E731
    assert sorted(map(key, first.collect())) == sorted(
        map(key, fresh.collect())
    )
    second = _eval_truth(spark, sf)
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "eval_truth" in plan and "embeddings" not in plan
    assert sorted(map(key, second.collect())) == sorted(
        map(key, first.collect())
    )


def test_rrf_hybrid_served_degenerates_to_exact_legs(spark):
    """End-to-end n_probe=K pin for the served hybrid: probing every
    coarse cell makes the IMI semantic leg exact, so the WHOLE fused
    ranking must equal rrf_fuse(BM25, topk_cosine_exact) for the
    same query set."""
    from mrgo_spark.operators import queries_llm, similarity
    from mrgo_spark.operators.queries_llm import (
        _bm25_served_terms,
        _pq_artifacts,
    )
    from mrgo_spark.sources.tables import load_table

    sf = SF
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    emb = load_table(spark, sf, "embeddings")
    _, a, luts = _pq_artifacts(spark, sf)
    qids = sorted(int(q) for q in luts)
    qterms = retrieval.query_terms_from_docs(
        docs, F.col("doc_id").isin(qids)
    )
    lex = _bm25_served_terms(spark, sf, qterms, k=20).select(
        "query_id", "doc_id", "rank"
    )
    sem_served = similarity.topk_cosine_imi(
        emb, a, luts, k=20, n_probe=similarity.PQ_K
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    sem_exact = similarity.topk_cosine_exact(
        emb, emb.filter(F.col("vec_id").isin(qids)), k=20
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    got = sorted(
        map(tuple, retrieval.rrf_fuse([lex, sem_served], k=10).collect())
    )
    want = sorted(
        map(tuple, retrieval.rrf_fuse([lex, sem_exact], k=10).collect())
    )
    assert got == want and got


def test_bm25_index_merge_overlap_fails_before_writing(spark, tmp_path):
    """r8 review finding: a rejected merge must leave NO partial
    index at the target path."""
    import os

    import pytest

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 3 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 0)
    ia = retrieval.BM25Index.build(a, str(tmp_path / "pa"))
    ib = retrieval.BM25Index.build(b, str(tmp_path / "pb"))
    target = str(tmp_path / "pm")
    with pytest.raises(ValueError, match="overlap"):
        retrieval.BM25Index.merge(ia, ib, target)
    assert not os.path.exists(target)


def test_dcg_eval_python_differential(spark):
    """dcg_eval (r9, VERDICT_r8 #2) vs a pure-Python replay of the
    dyadic-discount definition on a handcrafted run/truth set,
    covering: hit/miss mix, a query with no hits, a query missing
    from the run entirely, and rel ties (doc_id tie-break)."""
    from mrgo_spark.operators.retrieval import RRF_SCALE, dcg_eval

    truth_rows = [
        (1, 10, 3), (1, 11, 2), (1, 12, 1),
        (2, 20, 2), (2, 21, 2),          # rel tie
        (3, 30, 5),                       # query absent from run
    ]
    run_rows = [
        (1, 10, 1), (1, 99, 2), (1, 12, 3),  # hit, miss, hit
        (2, 98, 1), (2, 97, 2),              # no hits
    ]
    truth = spark.createDataFrame(
        truth_rows, "query_id long, doc_id long, rel long"
    )
    run = spark.createDataFrame(
        run_rows, "query_id long, doc_id long, rank long"
    )
    got = {r.query_id: r for r in dcg_eval(run, truth, k=10).collect()}

    def fl2(x):
        return x.bit_length() - 1

    def contrib(rel, rank):
        return (rel * RRF_SCALE) // fl2(rank + 1)

    for q in (1, 2, 3):
        t = sorted(
            [(r, d) for (qq, d, r) in truth_rows if qq == q],
            key=lambda p: (-p[0], p[1]),
        )
        idcg = sum(contrib(rel, i + 1) for i, (rel, _) in enumerate(t))
        rels = {d: r for (qq, d, r) in truth_rows if qq == q}
        dcg = sum(
            contrib(rels[d], rk)
            for (qq, d, rk) in run_rows
            if qq == q and d in rels
        )
        row = got[q]
        assert row.n_truth == len(t)
        assert row.dcg_fp == dcg
        assert row.idcg_fp == idcg
        assert row.ndcg_milli == (1000 * dcg) // idcg
    assert got[3].dcg_fp == 0 and got[3].ndcg_milli == 0


def test_dcg_eval_monotone_and_perfect(spark):
    """The ideal ordering scores ndcg_milli == 1000 exactly, and any
    demotion of a high-rel doc below a lower-rel doc can never score
    higher than the ideal."""
    from mrgo_spark.operators.retrieval import dcg_eval

    truth = spark.createDataFrame(
        [(1, d, 10 - d) for d in range(10)],
        "query_id long, doc_id long, rel long",
    )
    ideal_run = spark.createDataFrame(
        [(1, d, d + 1) for d in range(10)],
        "query_id long, doc_id long, rank long",
    )
    perfect = dcg_eval(ideal_run, truth, k=10).collect()[0]
    assert perfect.ndcg_milli == 1000
    assert perfect.dcg_fp == perfect.idcg_fp
    # every rotation of the ideal ranking scores <= the ideal
    for shift in (1, 3, 7):
        rot = spark.createDataFrame(
            [(1, (d + shift) % 10, d + 1) for d in range(10)],
            "query_id long, doc_id long, rank long",
        )
        row = dcg_eval(rot, truth, k=10).collect()[0]
        assert row.dcg_fp <= perfect.idcg_fp
        assert row.ndcg_milli < 1000


def test_dcg_eval_rejects_contract_violations(spark):
    """r9 review: the assert_true riders must actually fire (and keep
    firing across Spark upgrades) — a 0-based rank or negative rel is
    an error at the source, not a silent miscount or an ANSI div-0
    deep in the aggregate."""
    import pytest

    from mrgo_spark.operators.retrieval import dcg_eval

    truth = spark.createDataFrame(
        [(1, 10, 3)], "query_id long, doc_id long, rel long"
    )
    zero_based = spark.createDataFrame(
        [(1, 10, 0)], "query_id long, doc_id long, rank long"
    )
    with pytest.raises(Exception, match="rank must be >= 1"):
        dcg_eval(zero_based, truth, k=10).collect()
    neg_rel = spark.createDataFrame(
        [(1, 10, -2)], "query_id long, doc_id long, rel long"
    )
    ok_run = spark.createDataFrame(
        [(1, 10, 1)], "query_id long, doc_id long, rank long"
    )
    with pytest.raises(Exception, match="rel must be non-negative"):
        dcg_eval(ok_run, neg_rel, k=10).collect()
    # ADVICE r9: duplicate (query_id, doc_id) truth rows double-count
    # dcg through the run join and inflate n_truth/idcg — loud, like
    # the other per-row contracts, instead of a silent skew
    dup_truth = spark.createDataFrame(
        [(1, 10, 3), (1, 10, 2)], "query_id long, doc_id long, rel long"
    )
    with pytest.raises(Exception, match="duplicate"):
        dcg_eval(ok_run, dup_truth, k=10).collect()


def test_proximity_min_span_planted(spark):
    """Window semantics: adjacent terms → span 3 / prox 1000;
    scattered terms → the exact minimal window; a doc missing any
    term is absent; a repeated-token phrase is dropped (set
    semantics); multiple occurrences pick the tightest window."""
    docs = spark.createDataFrame(
        [
            (10, "alpha beta gamma tail tail"),        # adjacent
            (2, "alpha x1 x2 beta x3 gamma"),          # 0,3,5 → 6
            (3, "alpha beta only"),                    # gamma absent
            (4, "gamma x1 alpha x2 x3 beta alpha"),    # windows: (0,2,5)=6, (0,5,6... ) min over crosses
        ],
        "doc_id long, text string",
    )
    phrases = retrieval.phrase_terms_from_docs(
        docs, F.col("doc_id") == 10, phrase_len=3
    )
    out = {
        r.doc_id: r
        for r in retrieval.proximity_min_span(docs, phrases).collect()
    }
    assert out[10].min_span == 3 and out[10].prox_milli == 1000
    assert out[2].min_span == 6 and out[2].prox_milli == 500
    assert 3 not in out
    # doc 4: alpha∈{2,6}, beta∈{5}, gamma∈{0}: windows (2,5,0)→6,
    # (6,5,0)→7 → min 6
    assert out[4].min_span == 6
    # repeated-token phrase is dropped entirely
    dup = spark.createDataFrame(
        [(20, "echo foxtrot echo trail")], "doc_id long, text string"
    )
    p2 = retrieval.phrase_terms_from_docs(
        dup, F.col("doc_id") == 20, phrase_len=3
    )
    assert retrieval.proximity_min_span(docs.union(dup), p2).count() == 0


def test_bm25_delete_filters_results_with_stale_stats(spark, tmp_path):
    """Tombstoned docs vanish from results immediately; survivors'
    scores are UNCHANGED (stats stay stale until expunge — the
    Lucene contract, pinned so an accidental stats refresh or a
    missed filter both fail loudly). Duplicate + unknown ids are
    harmless; deletes propagate through a BM25SegmentSet."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    sub = docs.filter(F.col("doc_id") < 200)
    qterms = retrieval.query_terms_from_docs(docs, F.col("doc_id") % 50 == 0)
    idx = retrieval.BM25Index.build(sub, str(tmp_path / "del"))
    before = idx.query(qterms, k=1000).collect()
    victims = sorted({r.doc_id for r in before})[:3]
    idx.delete(victims)
    idx.delete(victims + [10**9])  # replayed + unknown: harmless
    after = sorted(map(tuple, idx.query(qterms, k=1000).collect()))
    vset = set(victims)
    surv = [r for r in before if r.doc_id not in vset]
    want = sorted(
        (q, d, nt, s, r - sum(1 for x in before
                              if x.query_id == q and x.doc_id in vset
                              and x.rank < r))
        for q, d, nt, s, r in map(tuple, surv)
    )
    # survivors keep their exact scores AND ranks close up over the
    # gaps the victims leave (stale stats ⇒ no score drift)
    assert after == want
    assert not (vset & {d for _q, d, _nt, _s, _r in after})
    # segment-set serving inherits the per-segment tombstones
    other = retrieval.BM25Index.build(
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300)),
        str(tmp_path / "del2"),
    )
    sset = retrieval.BM25SegmentSet([idx, other])
    set_docs = {r.doc_id for r in sset.query(qterms, k=1000).collect()}
    assert not (set_docs & set(victims))


def test_bm25_expunge_parity_with_fresh_build(spark, tmp_path):
    """expunge(delete(build(A∪B), B)) == build(A) bit-for-bit: all
    four tables AND the served ranking."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    a = docs.filter((F.col("doc_id") < 300) & (F.col("doc_id") % 3 != 0))
    b = docs.filter((F.col("doc_id") < 300) & (F.col("doc_id") % 3 == 0))
    full = retrieval.BM25Index.build(
        docs.filter(F.col("doc_id") < 300), str(tmp_path / "xf")
    )
    full.delete(b.select("doc_id"))
    exp = full.expunge_deletes(str(tmp_path / "xe"))
    fresh = retrieval.BM25Index.build(a, str(tmp_path / "xa"))
    for tbl in ("postings", "df", "dl", "scalars"):
        got = sorted(
            map(tuple, spark.read.parquet(f"{exp.path}/{tbl}").collect())
        )
        want = sorted(
            map(tuple, spark.read.parquet(f"{fresh.path}/{tbl}").collect())
        )
        assert got == want, tbl
    qterms = retrieval.query_terms_from_docs(docs, F.col("doc_id") % 50 == 0)
    assert sorted(map(tuple, exp.query(qterms, k=20).collect())) == sorted(
        map(tuple, fresh.query(qterms, k=20).collect())
    )
    # the expunged segment starts with no tombstones
    assert exp._tombstones() is None


def test_bm25_merge_applies_tombstones(spark, tmp_path):
    """merge(delete(build(A), X), build(B)) == build((A−X) ∪ B)
    bit-for-bit — merge is where deletes get applied (stats exact,
    no tombstones carried into the merged segment)."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") < 150)
    b = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 250))
    ia = retrieval.BM25Index.build(a, str(tmp_path / "ma"))
    ib = retrieval.BM25Index.build(b, str(tmp_path / "mb"))
    x = [r.doc_id for r in a.select("doc_id").limit(7).collect()]
    ia.delete(x)
    merged = retrieval.BM25Index.merge(ia, ib, str(tmp_path / "mm"))
    survivors = docs.filter(
        (F.col("doc_id") < 250) & (~F.col("doc_id").isin(x))
    )
    fresh = retrieval.BM25Index.build(survivors, str(tmp_path / "mf"))
    for tbl in ("postings", "df", "dl", "scalars"):
        got = sorted(
            map(tuple, spark.read.parquet(f"{merged.path}/{tbl}").collect())
        )
        want = sorted(
            map(tuple, spark.read.parquet(f"{fresh.path}/{tbl}").collect())
        )
        assert got == want, tbl
    assert merged._tombstones() is None
    # a deleted id re-ingested via the OTHER segment is not an overlap
    re_add = retrieval.BM25Index.build(
        docs.filter(F.col("doc_id") == x[0]), str(tmp_path / "mr")
    )
    retrieval.BM25Index.merge(merged, re_add, str(tmp_path / "mm2"))


def test_bm25_segment_set_delete_routes_to_owner(spark, tmp_path):
    """SegmentSet.delete tombstones each id only in the segment whose
    dl holds it; set-served queries exclude it immediately."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") < 150)
    b = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 250))
    ia = retrieval.BM25Index.build(a, str(tmp_path / "sa"))
    ib = retrieval.BM25Index.build(b, str(tmp_path / "sb"))
    sset = retrieval.BM25SegmentSet([ia, ib])
    sset.delete([0, 160, 10**9])
    ta = {r.doc_id for r in (ia._tombstones() or ia.spark.createDataFrame([], "doc_id long")).collect()}
    tb = {r.doc_id for r in (ib._tombstones() or ib.spark.createDataFrame([], "doc_id long")).collect()}
    assert ta == {0} and tb == {160}
    qterms = retrieval.query_terms_from_docs(docs, F.col("doc_id") % 50 == 0)
    served = {r.doc_id for r in sset.query(qterms, k=1000).collect()}
    assert not (served & {0, 160})


def test_prf_expansion_planted(spark):
    """PRF picks the term covering the most feedback docs (len >= 4,
    never an original query term), and the expanded ranking reaches
    docs the original query could not; a query with no eligible
    candidates degrades to its original term set."""
    rows = [
        (0, "alpha beta"),                        # the query doc
        (1, "alpha beta gateway one"),
        (2, "alpha beta gateway two"),
        (3, "alpha gateway beta xx"),
        (4, "beta alpha gateway yy"),
        (5, "alpha beta zz gateway"),
        (9, "gateway only text here"),            # reachable only via PRF
        (50, "qqq www"),                          # no-candidate query:
        # its tokens are <4 chars and it matches nothing else
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    q0 = retrieval.query_terms_from_docs(
        docs, F.col("doc_id").isin([0, 50])
    )
    q2 = retrieval.prf_expand_terms(docs, q0, k_fb=6, n_expand=1)
    terms = {}
    for r in q2.collect():
        terms.setdefault(r.query_id, set()).add(r.term)
    assert terms[0] == {"alpha", "beta", "gateway"}
    # query 50's feedback is only its own doc; candidates ("text",
    # "here", "only", "gateway"?) — no: doc 50 contains none of the
    # corpus terms except itself, so feedback = doc 50, candidates
    # are none of length>=4 beyond nothing eligible → original only
    assert terms[50] == {"qqq", "www"}
    ranked = retrieval.bm25_topk(docs, q2, k=10)
    got0 = {r.doc_id for r in ranked.filter(F.col("query_id") == 0).collect()}
    assert 9 in got0  # reachable only through the expansion term
    # and without expansion doc 9 is unreachable
    base = retrieval.bm25_topk(docs, q0, k=10)
    assert 9 not in {
        r.doc_id for r in base.filter(F.col("query_id") == 0).collect()
    }


def test_kendall_tau_eval_known_values(spark):
    """r13 τ eval: identical rankings → 1000; exactly reversed →
    -1000 (negative division truncates identically in both engines);
    a single common doc → 0 (no orderable pair); disjoint rankings
    produce no row; a half-agreeing permutation hits the hand-
    computed value."""
    from mrgo_spark.operators.retrieval import kendall_tau_eval

    def ranking(qid, ids):
        return spark.createDataFrame(
            [(qid, d, i + 1) for i, d in enumerate(ids)],
            "query_id long, doc_id long, rank int",
        )

    a = (
        ranking(1, [10, 11, 12, 13])          # identical
        .union(ranking(2, [10, 11, 12, 13]))  # vs reversed
        .union(ranking(3, [10]))              # single common
        .union(ranking(4, [10, 11]))          # disjoint
        .union(ranking(5, [10, 11, 12]))      # one swap
    )
    b = (
        ranking(1, [10, 11, 12, 13])
        .union(ranking(2, [13, 12, 11, 10]))
        .union(ranking(3, [10, 99]))
        .union(ranking(4, [20, 21]))
        .union(ranking(5, [11, 10, 12]))
    )
    got = {
        r.query_id: (r.n_common, r.concordant, r.discordant, r.tau_milli)
        for r in kendall_tau_eval(a, b).collect()
    }
    assert got[1] == (4, 6, 0, 1000)
    assert got[2] == (4, 0, 6, -1000)
    assert got[3] == (1, 0, 0, 0)
    assert 4 not in got  # no common docs → no row
    # one adjacent swap of 3: pairs = 3, concordant 2, discordant 1
    # → 1000*(2-1) div 3 = 333
    assert got[5] == (3, 2, 1, 333)


def test_champion_topk_parity_at_full_c(spark):
    """c >= n_docs keeps every posting a champion, so the champion
    serve degenerates to EXACT bm25_topk — the n_probe=K idiom for
    the impact-ordered serving class."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    qterms = retrieval.query_terms_from_docs(docs, F.col("doc_id") % 20 == 0)
    exact = sorted(
        map(tuple, retrieval.bm25_topk(docs, qterms, k=10).collect())
    )
    ch = retrieval.champion_lists_from_docs(docs, c=10**9)
    pruned = sorted(
        map(tuple, retrieval.bm25_champion_topk(ch, qterms, k=10).collect())
    )
    assert pruned == exact


def test_champion_lists_cut_is_c_and_deterministic(spark):
    """Every term keeps at most c champions; a term with df > c keeps
    exactly c; and the cut is the (score desc, doc_id asc) total
    order — verified against a direct per-term sort."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    c = 3
    ch = retrieval.champion_lists_from_docs(docs, c=c)
    full = retrieval.champion_lists_from_docs(docs, c=10**9)
    sizes = {r.term: r.n for r in ch.groupBy("term").agg(
        F.count("*").alias("n")).collect()}
    dfs = {r.term: r.n for r in full.groupBy("term").agg(
        F.count("*").alias("n")).collect()}
    assert sizes and all(n <= c for n in sizes.values())
    assert any(dfs[t] > c for t in sizes)  # the cut actually binds
    got = {}
    for r in ch.collect():
        got.setdefault(r.term, []).append((-r.term_score_fp, r.doc_id))
    want = {}
    for r in full.collect():
        want.setdefault(r.term, []).append((-r.term_score_fp, r.doc_id))
    for t, rows in got.items():
        assert sorted(rows) == sorted(want[t])[:c], t


def test_index_champion_serve_parity_and_tombstones(spark, tmp_path):
    """BM25Index.query_champions == the frame form on the same corpus;
    the champion table is built once (idempotent path); a tombstoned
    doc vanishes from champion results like it does from query()."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    qterms = retrieval.query_terms_from_docs(docs, F.col("doc_id") % 20 == 0)
    idx = retrieval.BM25Index.build(docs, str(tmp_path / "bm25idx"))
    served = sorted(
        map(tuple, idx.query_champions(qterms, k=10).collect())
    )
    ch = retrieval.champion_lists_from_docs(docs, c=retrieval.CHAMPION_C)
    frame = sorted(
        map(tuple, retrieval.bm25_champion_topk(ch, qterms, k=10).collect())
    )
    assert served == frame
    victim = served[0][1]
    idx.delete([victim])
    after = idx.query_champions(qterms, k=10).collect()
    assert all(r.doc_id != victim for r in after)


def test_index_champion_serve_prunes_partitions(spark, tmp_path):
    """The champion scan carries the term_bucket partition filter and
    never re-reads the documents table — bucket pruning on top of the
    per-term c-row bound."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    idx = retrieval.BM25Index.build(docs, str(tmp_path / "bm25idx"))
    one_term = spark.createDataFrame(
        [(1, "the")], "query_id long, term string"
    )
    plan = (
        idx.query_champions(one_term, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "term_bucket" in plan
    assert "documents" not in plan


def test_build_champions_applies_tombstones(spark, tmp_path):
    """r13 review fix: deleting a term's entire top-c must not leave
    the champion list 100% tombstoned — a rebuild after deletes
    fills the slots from LIVE postings, so the term still surfaces
    candidates."""
    rows = [
        (1, "zebra zebra zebra zebra"),   # top champions for 'zebra'
        (2, "zebra zebra zebra"),
        (3, "zebra filler words here"),   # the live lower-scoring doc
        (4, "other text entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = retrieval.BM25Index.build(docs, str(tmp_path / "bmch"))
    idx.build_champions(c=2)
    q = spark.createDataFrame([(1, "zebra")], "query_id long, term string")
    top = idx.query_champions(q, k=5, c=2).collect()
    assert {r.doc_id for r in top} == {1, 2}
    idx.delete([1, 2])
    # before rebuild: both champions tombstoned -> zero candidates
    assert idx.query_champions(q, k=5, c=2).count() == 0
    idx.build_champions(c=2)  # rebuild anti-joins tombstones
    after = idx.query_champions(q, k=5, c=2).collect()
    assert {r.doc_id for r in after} == {3}


def test_query_champions_rebuilds_partial_dir(spark, tmp_path):
    """r13 review fix: a reaped/crash-partial champions dir (missing
    _SUCCESS) is rebuilt from the healthy index instead of being
    served partially or failing the entry."""
    import os
    import shutil

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    idx = retrieval.BM25Index.build(docs, str(tmp_path / "bmch2"))
    q = spark.createDataFrame([(1, "the")], "query_id long, term string")
    want = sorted(map(tuple, idx.query_champions(q, k=5).collect()))
    out = f"{idx.path}/champions_c{retrieval.CHAMPION_C}"
    os.remove(f"{out}/_SUCCESS")
    shutil.rmtree(
        f"{out}/term_bucket={os.listdir(out)[0].split('=')[-1]}",
        ignore_errors=True,
    )
    got = sorted(map(tuple, idx.query_champions(q, k=5).collect()))
    assert got == want


def _counted_frame(spark, rows, schema):
    """``rows`` as a frame filtered through a Python UDF that bumps an
    accumulator once per evaluated row — the filter runs whichever
    columns a consumer reads."""
    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return True

    df = spark.createDataFrame(rows, schema)
    return df.filter(F.udf(bump, "boolean")(df.columns[0])), acc


def test_serve_paths_evaluate_query_frame_once(spark, tmp_path):
    """BM25Index.query, BM25Index.query_champions, BM25SegmentSet.query
    and IVFIndex.query pin the caller's query frame once per call: the
    prune or probe collect and the broadcast join read the same pinned
    rows, so the frame's lineage runs exactly once — the accumulator
    reads the row count, not a multiple of it."""
    from mrgo_spark.operators.similarity import IVFIndex

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    idx = retrieval.BM25Index.build(docs, str(tmp_path / "bm"), n_buckets=8)
    sset = retrieval.BM25SegmentSet([
        retrieval.BM25Index.build(
            docs.filter(F.col("doc_id") % 2 == i), str(tmp_path / f"s{i}")
        )
        for i in range(2)
    ])
    terms = [(1, "the"), (1, "data"), (2, "of"), (2, None)]
    for serve in (idx.query, idx.query_champions, sset.query):
        qt, acc = _counted_frame(spark, terms, "query_id long, term string")
        assert serve(qt, k=5).collect()
        assert acc.value == len(terms)

    emb = load_table(spark, SF, "embeddings")
    ivf = IVFIndex.build(emb, str(tmp_path / "ivf"), n_cells=8)
    qrows = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") % 100 == 0).collect()
    ]
    qv, acc = _counted_frame(spark, qrows, "vec_id long, embedding array<double>")
    got = ivf.query(qv, k=5, n_probe=3).collect()
    assert got and acc.value == len(qrows)


# Round-history tokens: VERDICT_rN, ADVICE rN, "rNN review ...",
# "rNN optimization round", bare "(rNN)" and "round N"/"round-N".
_ROUND_HISTORY = re.compile(
    r"VERDICT_r\d|ADVICE[ _]r\d|\br\d+\s+review\b"
    r"|\br\d+\s+optimization\s+round|\(r\d+\)|\bround[- ]\d"
)


def _round_history_hits(paths):
    """(module, line, match) for each ``_ROUND_HISTORY`` hit in the
    sources of ``paths``, a {module name: file path} dict."""
    import pathlib

    hits = []
    for name, path in paths.items():
        src = pathlib.Path(path).read_text()
        hits += [
            (name, src.count("\n", 0, m.start()) + 1, m.group())
            for m in _ROUND_HISTORY.finditer(src)
        ]
    return hits


def test_index_sources_carry_no_round_history():
    """The at-rest index modules state contracts, not review history."""
    from mrgo_spark.operators import similarity

    hits = _round_history_hits(
        {m.__name__: m.__file__ for m in (retrieval, similarity)}
    )
    assert not hits, hits


def test_engine_sources_carry_no_round_history():
    """Same rule for every module of the package. Sources are read
    from their import specs, not imported, so the walk declares no
    queries out of the registry's import order."""
    import pkgutil

    import mrgo_spark

    paths = {"mrgo_spark": mrgo_spark.__file__}
    for m in pkgutil.walk_packages(mrgo_spark.__path__, "mrgo_spark."):
        paths[m.name] = m.module_finder.find_spec(m.name).origin
    assert len(paths) > 40, sorted(paths)
    hits = _round_history_hits(paths)
    assert not hits, hits

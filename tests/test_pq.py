"""Product quantization (Jégou et al. TPAMI 2011) — pack/range
invariants, planted-duplicate ADC, recall floor, and a pure-Python
replay of the whole train+assign fold (third leg next to Spark and
the DuckDB oracle).

Reference parity note: the reference engine has no PQ analog (pure
extension per the training-pipeline mandate).
"""

from __future__ import annotations

import math

from mrgo_spark.operators import similarity
from mrgo_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
M, SUBDIM, K, ITERS = (
    similarity.PQ_M,
    similarity.PQ_SUBDIM,
    similarity.PQ_K,
    similarity.PQ_ITERS,
)


def _rnd(v: float) -> int:
    # half-away-from-zero like Spark's F.round / DuckDB round
    return int(math.copysign(math.floor(abs(v) + 0.5), v))


def _py_pq(vecs: dict[int, list[int]], m=M, subdim=SUBDIM, k=K, iters=ITERS):
    """Pure-Python replay over ALREADY-quantized vectors: returns
    (codes, qerrs, cents)."""
    ids = sorted(vecs)
    cents = [
        [list(vecs[ids[c]][s * subdim : (s + 1) * subdim]) for c in range(k)]
        for s in range(m)
    ]

    def assign():
        out = {}
        for i in ids:
            subs = []
            for s in range(m):
                sv = vecs[i][s * subdim : (s + 1) * subdim]
                best = min(
                    (
                        sum((a - b) ** 2 for a, b in zip(sv, cents[s][c])),
                        c,
                    )
                    for c in range(k)
                )
                subs.append(best)
            out[i] = subs
        return out

    for _ in range(iters - 1):
        a = assign()
        sums: dict[tuple, list] = {}
        for i in ids:
            for s in range(m):
                c = a[i][s][1]
                for p in range(subdim):
                    key = (s, c, p)
                    acc = sums.setdefault(key, [0, 0])
                    acc[0] += vecs[i][s * subdim + p]
                    acc[1] += 1
        for (s, c, p), (tot, n) in sums.items():
            cents[s][c][p] = tot // n
    a = assign()
    codes = {
        i: sum(a[i][s][1] << (4 * s) for s in range(m)) for i in ids
    }
    qerrs = {i: sum(a[i][s][0] for s in range(m)) for i in ids}
    return codes, qerrs, cents


def _quantized(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return {
        r.vec_id: [_rnd(float(x) * similarity.KM_FX) for x in r.embedding]
        for r in emb.collect()
    }


def test_pq_codes_match_python_replay(spark):
    emb = load_table(spark, SF, "embeddings")
    got = {
        r.vec_id: (r.code, r.qerr)
        for r in similarity.pq_codes(similarity.pq_artifacts(emb)[1]).collect()
    }
    vecs = _quantized(spark, SF)
    codes, qerrs, _ = _py_pq(vecs)
    want = {i: (codes[i], qerrs[i]) for i in vecs}
    assert got == want


def test_pq_code_range_and_seeds(spark):
    emb = load_table(spark, SF, "embeddings")
    rows = similarity.pq_codes(similarity.pq_artifacts(emb)[1]).collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert 0 <= r.code < (1 << (4 * M))
        assert r.qerr >= 0


def test_pq_adc_planted_duplicate(spark):
    # a verbatim copy of query vector 0 must score ADC distance 0 and
    # rank first (same codes in every subspace, LUT row = dist to the
    # assigned centroid on both sides... identical codes => identical
    # ADC score as the query's own cell, and 0 <= every other score)
    emb = load_table(spark, SF, "embeddings")
    q0 = emb.orderBy("vec_id").limit(1)
    dup = q0.selectExpr("90000 AS vec_id", "embedding", "label")
    aug = emb.unionByName(dup)
    _, a, luts = similarity.pq_artifacts(aug, n_queries=1)
    adc = similarity.pq_topk_adc(a, luts, topk=5).collect()
    top = min(adc, key=lambda r: r.rank)
    assert top.neighbor_id == 90000
    # the duplicate quantizes identically, so its ADC distance equals
    # the query's own reconstruction distance — the minimum possible
    assert all(top.adc_dist2 <= r.adc_dist2 for r in adc)


def test_pq_adc_recall_vs_exact_l2(spark):
    # ground truth = exact integer L2 top-10 over the SAME quantized
    # vectors (the metric PQ approximates); 4-bit codebooks on the
    # fixture must beat random recall by a wide margin
    emb = load_table(spark, SF, "embeddings")
    vecs = _quantized(spark, SF)
    qids = sorted(vecs)[:8]
    truth = set()
    for qid in qids:
        dists = sorted(
            (
                sum((a - b) ** 2 for a, b in zip(vecs[qid], vecs[i])),
                i,
            )
            for i in vecs
            if i != qid
        )[:10]
        truth |= {(qid, i) for _, i in dists}
    _, a, luts = similarity.pq_artifacts(emb, n_queries=8)
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_topk_adc(a, luts, topk=10).collect()
    }
    recall = len(truth & got) / len(truth)
    # random baseline would be 10/499 ≈ 0.02; pin a generous floor
    assert recall >= 0.30, recall


def test_pq_imi_degenerates_to_full_adc(spark):
    # probing every cell must reproduce the unpruned ADC ranking
    emb = load_table(spark, SF, "embeddings")
    _, a, luts = similarity.pq_artifacts(emb, n_queries=4)
    full = similarity.pq_topk_adc(a, luts, topk=5).collect()
    imi = similarity.pq_topk_imi(a, luts, topk=5, n_probe=K).collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.adc_dist2)  # noqa: E731
    assert sorted(map(key, imi)) == sorted(map(key, full))


def test_pq_imi_prunes_and_recalls(spark):
    emb = load_table(spark, SF, "embeddings")
    _, a, luts = similarity.pq_artifacts(emb, n_queries=8)
    full = similarity.pq_topk_adc(a, luts, topk=10).collect()
    imi = similarity.pq_topk_imi(a, luts, topk=10, n_probe=4).collect()
    fullset = {(r.query_id, r.neighbor_id) for r in full}
    imiset = {(r.query_id, r.neighbor_id) for r in imi}
    # pruned scores are identical ADC values, so every IMI hit that
    # the full ranking also returned carries the same distance
    dist = {(r.query_id, r.neighbor_id): r.adc_dist2 for r in full}
    for r in imi:
        if (r.query_id, r.neighbor_id) in dist:
            assert dist[(r.query_id, r.neighbor_id)] == r.adc_dist2
    # probing 4/16 cells keeps most of the unpruned top-10
    recall = len(fullset & imiset) / len(fullset)
    assert recall >= 0.5, recall

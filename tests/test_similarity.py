"""Similarity search: exact correctness + ANN recall properties."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mrgo_spark.operators import similarity
from mrgo_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_topk_exact_matches_python_oracle(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = similarity.topk_cosine_exact(emb, queries, k=5).collect()

    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    for qid in [v for v in vecs if v % 100 == 0]:
        expect = sorted(
            ((cos(vecs[qid], v), -i) for i, v in vecs.items() if i != qid),
            reverse=True,
        )[:5]
        expect_ids = [-i for _, i in expect]
        got_ids = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == qid]
        assert got_ids == expect_ids, f"query {qid}"


def test_lsh_recall_vs_exact(spark):
    """ANN is approximate by design; on the fixture it must recover a
    solid fraction of true top-5 neighbors (recall ≥ 0.4 — hyperplane
    LSH with 16 bits over 64-dim near-orthogonal vectors)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = similarity.topk_cosine_exact(emb, queries, k=5).collect()
    approx = similarity.topk_cosine_lsh(emb, queries, k=5).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.4, f"recall {recall:.2f}"


def test_lsh_scores_are_exact_for_returned_pairs(spark):
    """LSH candidates are scored with the same fixed-point cosine —
    scores must match the exact scan wherever pairs overlap."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id): r.score
        for r in similarity.topk_cosine_exact(emb, queries, k=5).collect()
    }
    for r in similarity.topk_cosine_lsh(emb, queries, k=5).collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert r.score == exact[key]


def test_near_pairs_symmetric_threshold(spark):
    emb = load_table(spark, SF, "embeddings")
    rows = similarity.near_pairs_cosine(emb, threshold=0.4).collect()
    assert all(r.id_a < r.id_b for r in rows)
    assert all(r.score > 0.4 for r in rows)


def test_near_pairs_lsh_subset_of_exact_with_identical_scores(spark):
    """Every LSH-candidate pair is exactly verified, so the LSH form's
    output must be a subset of the exact form's at the same threshold,
    with bit-identical scores — and recall must clear a documented
    floor (near-orthogonal random fixture = ANN's hostile case; the
    S-curve for cos 0.4 at 4 bands × 4 bits gives ~0.5 on marginal
    pairs, higher on the planted near-dups that matter for dedup)."""
    emb = load_table(spark, SF, "embeddings").filter("vec_id % 2 = 0")
    exact = {
        (r.id_a, r.id_b): r.score
        for r in similarity.near_pairs_cosine(emb, threshold=0.4).collect()
    }
    got = {
        (r.id_a, r.id_b): r.score
        for r in similarity.near_pairs_cosine_lsh(emb, threshold=0.4).collect()
    }
    assert set(got) <= set(exact), sorted(set(got) - set(exact))[:5]
    for k, s in got.items():
        assert s == exact[k], (k, s, exact[k])
    recall = len(got) / len(exact) if exact else 1.0
    assert recall >= 0.5, f"pair recall {recall:.2f} ({len(got)}/{len(exact)})"


def test_semantic_dedup_lsh_agrees_with_exact_fold(spark):
    """The composed scale path (LSH candidates → shared keep/drop
    fold) must agree with the exact-pair fold on nearly every doc:
    docs the LSH banding misses can flip kept False→True (a missed
    pair can only under-drop), never True→False."""
    from mrgo_spark.operators.queries_llm import (
        _semantic_keep_drop,
        q_semantic_dedup,
    )

    emb = load_table(spark, SF, "embeddings").filter("vec_id % 2 = 0")
    docs = load_table(spark, SF, "documents").filter("doc_id % 2 = 0")
    pairs = similarity.near_pairs_cosine_lsh(emb, threshold=0.4).select(
        "id_a", "id_b"
    )
    lsh = {r.doc_id: r.kept for r in _semantic_keep_drop(docs, pairs).collect()}
    exact = {r.doc_id: r.kept for r in q_semantic_dedup(spark, SF).collect()}
    assert set(lsh) == set(exact)
    # missed pairs only ever under-drop
    assert not [d for d in exact if exact[d] and not lsh[d]]
    agree = sum(lsh[d] == exact[d] for d in exact) / len(exact)
    assert agree >= 0.9, f"kept agreement {agree:.2f}"


@pytest.fixture(scope="module")
def ivf16(spark, tmp_path_factory):
    """One 16-cell index over the fixture corpus, built once for the
    IVF recall and score tests."""
    emb = load_table(spark, SF, "embeddings")
    return similarity.IVFIndex.build(
        emb, str(tmp_path_factory.mktemp("ivf16")), n_cells=16
    )


def test_ivf_recall_vs_exact(spark, ivf16):
    """IVF with 16 cells / 6 probes must recover most true top-5
    neighbors (recall ≥ 0.5 on the fixture — the fixture's vectors
    are near-orthogonal random, the hostile case for ANN; real
    embedding corpora cluster and recall rises accordingly)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = similarity.topk_cosine_exact(emb, queries, k=5).collect()
    approx = ivf16.query(queries, k=5, n_probe=6).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, f"recall {recall:.2f}"


def test_ivf_scores_exact_where_overlapping(spark, ivf16):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id): r.score
        for r in similarity.topk_cosine_exact(emb, queries, k=5).collect()
    }
    for r in ivf16.query(queries, k=5, n_probe=6).collect():
        if (r.query_id, r.neighbor_id) in exact:
            assert r.score == exact[(r.query_id, r.neighbor_id)]


def test_ivf_index_persisted_matches_fresh(spark, tmp_path):
    """Probing every cell of the persisted index (n_probe = n_cells)
    must return exactly the exact top-k, row for row, and a probe scan
    must prune to the probed cell partitions."""
    from mrgo_spark import plans
    from mrgo_spark.operators.similarity import IVFIndex
    from mrgo_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = similarity.topk_cosine_exact(emb, queries, k=5)
    idx = IVFIndex.build(emb, str(tmp_path / "ivf"), n_cells=8)
    served = idx.query(queries, k=5, n_probe=8)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, served.collect()))
    plan = plans.explain_str(idx.query(queries, k=5, n_probe=3), "formatted")
    assert "PartitionFilters: [cell_id" in plan or "cell_id#" in plan.split(
        "PartitionFilters"
    )[1][:120]


def test_quantize_error_bound_and_cosine_preserved(spark):
    """Quantization error must respect the half-step bound per
    element, and cosine on dequantized vectors must stay within 2%
    of the exact score for the fixture corpus."""
    from mrgo_spark.operators.similarity import (
        cosine_fx,
        quantize_embeddings,
    )
    from mrgo_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = quantize_embeddings(emb)
    rows = q.collect()
    assert rows
    for r in rows:
        assert all(-127 <= v <= 127 for v in r.qvec)
        assert r.max_err_fx <= round(r.scale / 2 * 1e6) + 1
    # dequantize → cosine parity on a sample pair set
    deq = q.select(
        "vec_id",
        F.transform("qvec", lambda v: v.cast("double") * F.col("scale")).alias(
            "embedding"
        ),
    )
    a = {r.vec_id: r for r in emb.filter(F.col("vec_id") < 20).collect()}
    b = {r.vec_id: r for r in deq.filter(F.col("vec_id") < 20).collect()}
    import math

    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        return d / (math.sqrt(sum(x * x for x in u)) * math.sqrt(sum(x * x for x in v)))

    for i in a:
        for j in a:
            if i < j:
                exact = cos(list(a[i].embedding), list(a[j].embedding))
                approx = cos(list(b[i].embedding), list(b[j].embedding))
                assert abs(exact - approx) < 0.02, (i, j, exact, approx)


def test_semantic_dedup_matches_bruteforce(spark):
    """The declared semantic_dedup keep/drop fold, cross-checked
    against a pure-Python brute force on the real fixture subset:
    kept == no smaller-id neighbor above threshold; n_near == count
    of above-threshold neighbors on either side."""
    import math

    from mrgo_spark.operators.queries_llm import q_semantic_dedup
    from mrgo_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    vecs = {
        r.vec_id: r.embedding
        for r in load_table(spark, sf, "embeddings")
        .filter("vec_id % 2 = 0")
        .collect()
    }

    def cos_fx(a, b):
        # mirror the engine's fixed-point dot (round half-up per term)
        dot = sum(
            math.floor(float(x) * float(y) * 1_000_000 + 0.5)
            if float(x) * float(y) >= 0
            else math.ceil(float(x) * float(y) * 1_000_000 - 0.5)
            for x, y in zip(a, b)
        )
        na = sum(
            math.floor(float(x) * float(x) * 1_000_000 + 0.5) for x in a
        )
        nb = sum(
            math.floor(float(y) * float(y) * 1_000_000 + 0.5) for y in b
        )
        return dot / (math.sqrt(na) * math.sqrt(nb))

    ids = sorted(vecs)
    neighbors = {i: set() for i in ids}
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if cos_fx(vecs[a], vecs[b]) > 0.4:
                neighbors[a].add(b)
                neighbors[b].add(a)

    got = {r.doc_id: (r.n_near, r.kept) for r in q_semantic_dedup(spark, sf).collect()}
    assert set(got) == set(ids)
    for i in ids:
        want_kept = not any(j < i for j in neighbors[i])
        assert got[i] == (len(neighbors[i]), want_kept), (
            i, got[i], len(neighbors[i]), want_kept,
        )


def test_kmeans_lloyd_matches_numpy_replay(spark):
    """Third leg of the k-means cross-check (oracle SQL is the
    second): replay the exact quantized Lloyd fold in NumPy/Python
    ints — same seeds, same tie-break, same floor-div update — and
    require identical assignments AND identical integer distances."""
    emb = load_table(spark, SF, "embeddings")
    got = {
        r.vec_id: (r.cid, r.dist2)
        for r in similarity.kmeans_lloyd(emb, k=8, iters=3).collect()
    }

    # Half-away-from-zero like Spark's F.round / DuckDB round —
    # Python's round() is banker's (half-to-even) and disagrees on
    # exact .5 boundaries (e.g. x = 0.03125 -> 312.5).
    def _rnd(v: float) -> int:
        return int(math.copysign(math.floor(abs(v) + 0.5), v))

    rows = sorted(
        (r.vec_id, [_rnd(float(x) * similarity.KM_FX) for x in r.embedding])
        for r in emb.collect()
    )
    ids = [i for i, _ in rows]
    q = {i: v for i, v in rows}
    cents = [list(q[i]) for i in ids[:8]]

    def assign():
        out = {}
        for i in ids:
            best = min(
                (sum((a - b) ** 2 for a, b in zip(q[i], c)), j)
                for j, c in enumerate(cents)
            )
            out[i] = (best[1], best[0])
        return out

    for it in range(3):
        a = assign()
        if it == 2:
            break
        sums = {}
        for i, (cid, _) in a.items():
            s, n = sums.setdefault(cid, ([0] * len(q[i]), 0))
            sums[cid] = ([x + y for x, y in zip(s, q[i])], n + 1)
        for cid, (s, n) in sums.items():
            cents[cid] = [x // n for x in s]
    expect = {i: (cid, d) for i, (cid, d) in a.items()}
    assert got == expect


# ------------------------------------------- md5-portable SRP LSH


def _srp_corpus(spark, n_base=60, n_dup=12, seed=7):
    """Random unit-ish 64-dim vectors; the last n_dup are exact copies
    of the first n_dup (cos = 1 — SRP buckets collide in EVERY band,
    so recall on them is deterministic, not probabilistic), plus
    n_dup lightly-noised copies (cos ≈ 0.999)."""
    import random

    rng = random.Random(seed)
    rows = []
    base = [
        [rng.gauss(0, 1) for _ in range(64)] for _ in range(n_base)
    ]
    for i, v in enumerate(base):
        rows.append((i, v))
    for i in range(n_dup):  # exact copies
        rows.append((1000 + i, list(base[i])))
    for i in range(n_dup):  # tiny-noise copies
        rows.append(
            (2000 + i, [x + rng.gauss(0, 0.001) for x in base[i]])
        )
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_srp_exact_copies_always_pair(spark):
    emb = _srp_corpus(spark)
    got = {
        (r.id_a, r.id_b)
        for r in similarity.srp_near_pairs(emb, threshold=0.85).collect()
    }
    # exact copies collide in every band — guaranteed, not probabilistic
    for i in range(12):
        assert (i, 1000 + i) in got, f"exact copy pair {i} missed"


def test_srp_recall_and_exactness_vs_bruteforce(spark):
    emb = _srp_corpus(spark)
    exact = {
        (r.id_a, r.id_b): r.score
        for r in similarity.near_pairs_cosine(emb, 0.85).collect()
    }
    srp = {
        (r.id_a, r.id_b): r.score
        for r in similarity.srp_near_pairs(emb, threshold=0.85).collect()
    }
    # verify step guarantees subset-with-identical-scores
    for pair, score in srp.items():
        assert pair in exact
        assert score == exact[pair]
    recall = len(srp) / len(exact)
    assert recall >= 0.8, f"recall {recall:.2f} ({len(srp)}/{len(exact)})"


def test_srp_grid_is_balanced_and_deterministic(spark):
    g1 = similarity.srp_grid(spark).collect()
    assert len(g1) == 8 * 16 * 64
    vals = {r.s for r in g1}
    assert vals == {-1, 1}
    pos = sum(1 for r in g1 if r.s == 1)
    # md5-derived signs should be near-balanced
    assert 0.4 < pos / len(g1) < 0.6
    g2 = {(r.band, r.bit, r.d): r.s for r in similarity.srp_grid(spark).collect()}
    assert g2 == {(r.band, r.bit, r.d): r.s for r in g1}


def test_srp_signature_shape(spark):
    emb = load_table(spark, SF, "embeddings").limit(50)
    sig = similarity.srp_signatures(emb).collect()
    by_vec = {}
    for r in sig:
        by_vec.setdefault(r.vec_id, []).append(r)
        assert 0 <= r.band < 8
        assert 0 <= r.bucket < (1 << 16)
    assert all(len(v) == 8 for v in by_vec.values())


def test_semantic_dedup_srp_fold_consistent(spark):
    from mrgo_spark.registry import load as reg_load

    sf = SF
    emb = load_table(spark, sf, "embeddings")
    q, _ = reg_load()
    out = {r.doc_id: r for r in q["semantic_dedup_srp"](spark, sf).collect()}
    srp_pairs = similarity.srp_near_pairs(
        emb, threshold=0.4, bands=8, bits=8
    ).collect()
    exact_drop = {
        r.id_b
        for r in similarity.near_pairs_cosine(emb, 0.4).collect()
    }
    srp_drop = {r.id_b for r in srp_pairs}
    # the fold drops exactly the larger ids of the SRP-verified pairs
    assert {d for d, r in out.items() if not r.kept} == srp_drop
    # and every SRP drop is also an exact-cosine drop (verify step
    # guarantees candidates are a subset of the true pair set)
    assert srp_drop <= exact_drop


# ------------------------------------------------------- hard negatives


def test_hard_negatives_excludes_query_label_and_orders_by_score(spark):
    """No mined negative shares the query's label, and per query the
    ranking equals the label-filtered slice of the full neighbor
    ordering (score desc, id asc)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = similarity.hard_negatives(emb, queries, k=5).collect()
    assert out
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in out:
        assert r.query_label == labels[r.query_id]
        assert r.neighbor_label == labels[r.neighbor_id]
        assert r.neighbor_label != r.query_label
    # differential: full exact ordering, then filter by label, take 5
    full = similarity.topk_cosine_exact(emb, queries, k=10**6).collect()
    by_q = {}
    for r in sorted(full, key=lambda r: (r.query_id, r.rank)):
        if labels[r.neighbor_id] != labels[r.query_id]:
            by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    got_by_q = {}
    for r in sorted(out, key=lambda r: (r.query_id, r.rank)):
        got_by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    for q, ids in got_by_q.items():
        assert ids == by_q[q][:5], q


def test_hard_negatives_imi_degenerates_to_exact(spark):
    """Probing every coarse cell (n_probe = PQ_K) makes the IMI-pruned
    miner's candidate set the whole corpus, so its output must equal
    the exact hard_negatives for the same 8-smallest-id query set —
    the pq_imi/pq_adc degeneration pin applied to negative mining."""
    emb = load_table(spark, SF, "embeddings")
    _, a, luts = similarity.pq_artifacts(emb, n_queries=8)
    imi = similarity.hard_negatives_imi(
        emb, a, luts, k=5, n_probe=similarity.PQ_K
    ).collect()
    qids = [r.vec_id for r in emb.orderBy("vec_id").limit(8).collect()]
    exact = similarity.hard_negatives(
        emb, emb.filter(F.col("vec_id").isin(qids)), k=5
    ).collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id)  # noqa: E731
    assert sorted(map(key, imi)) == sorted(map(key, exact))


def test_hard_negatives_imi_prunes_with_recall(spark):
    """At the declared n_probe=4/16 the pruned miner returns only
    label-mismatched, correctly-ranked survivors and keeps a usable
    fraction of the exact top-5 per query."""
    emb = load_table(spark, SF, "embeddings")
    _, a, luts = similarity.pq_artifacts(emb)
    out = similarity.hard_negatives_imi(emb, a, luts, k=5, n_probe=4).collect()
    assert out
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in out:
        assert r.neighbor_label != r.query_label
        assert r.rank <= 5
    qids = sorted({r.query_id for r in out})
    exact = similarity.hard_negatives(
        emb, emb.filter(F.col("vec_id").isin(qids)), k=5
    ).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    got = {(r.query_id, r.neighbor_id) for r in out}
    recall = len(truth & got) / len(truth)
    # random cell co-location would keep ~4/16 = 0.25 of the exact
    # set; hard negatives of near-orthogonal fixtures are not heavily
    # clustered, so pin a floor consistent with the prune rate
    assert recall >= 0.20, recall


def test_hard_negatives_imi_plan_prunes_before_scoring(spark):
    """The probe join must be a broadcast on the cell equi-key (never
    a nested-loop over the corpus) and the exact dot product must sit
    ABOVE the join — prune-then-score."""
    emb = load_table(spark, SF, "embeddings")
    _, a, luts = similarity.pq_artifacts(emb)
    plan = (
        similarity.hard_negatives_imi(emb, a, luts, k=5, n_probe=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_knn_label_eval_matches_majority_vote_replay(spark):
    """Differential: majority vote (count DESC, label ASC) over the
    exact top-k in pure Python must reproduce every output row."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    top = similarity.topk_cosine_exact(emb, queries, k=5).collect()
    votes = {}
    for r in top:
        votes.setdefault(r.query_id, {})
        nl = labels[r.neighbor_id]
        votes[r.query_id][nl] = votes[r.query_id].get(nl, 0) + 1
    expect = {}
    for q, vs in votes.items():
        pred, n = sorted(vs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expect[q] = (labels[q], pred, n, pred == labels[q])
    got = {
        r.query_id: (r.true_label, r.pred_label, r.votes, r.correct)
        for r in similarity.knn_label_eval(emb, queries, k=5).collect()
    }
    assert got == expect


def test_contrastive_pairs_legs_consistent(spark):
    """The negative leg must equal hard_negatives(k=3) exactly; the
    positive must be the best SAME-label row of the full exact
    ordering; every anchor gets ≤ 1 positive and ≤ 3 negatives."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = similarity.contrastive_pairs(emb, queries, n_neg=3).collect()
    assert out
    neg = {
        (r.query_id, r.other_id, r.rank)
        for r in out
        if r.pair_role == "hard_negative"
    }
    want_neg = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.hard_negatives(emb, queries, k=3).collect()
    }
    assert neg == want_neg
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    full = similarity.topk_cosine_exact(emb, queries, k=10**6).collect()
    best_same = {}
    for r in sorted(full, key=lambda r: (r.query_id, r.rank)):
        if labels[r.neighbor_id] == labels[r.query_id]:
            best_same.setdefault(r.query_id, r.neighbor_id)
    pos = {r.query_id: r.other_id for r in out if r.pair_role == "positive"}
    assert pos == best_same
    counts = {}
    for r in out:
        counts[(r.query_id, r.pair_role)] = counts.get((r.query_id, r.pair_role), 0) + 1
    for (q, role), c in counts.items():
        assert c <= (1 if role == "positive" else 3)


def test_ivf_index_add_equals_union_assignment(spark, tmp_path):
    """Incremental add parity: build on half the corpus, add the
    other half — queries must equal a fresh same-centroid index over
    the union (centroids frozen, so the only difference could be the
    cell files, which append must extend losslessly)."""
    emb = load_table(spark, SF, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    idx = similarity.IVFIndex.build(a, str(tmp_path / "grow"))
    idx.add(b)
    # reference: same centroids, union corpus, fresh cell write
    ref_path = str(tmp_path / "ref")
    idx.centroids.write.mode("overwrite").parquet(f"{ref_path}/centroids")
    cells = similarity._assign_cells(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cvec_"),
        ),
        idx.centroids,
        "neighbor_id",
        "cvec_",
        n_probe=1,
    )
    cells.repartition("cell_id").write.mode("overwrite").partitionBy(
        "cell_id"
    ).parquet(f"{ref_path}/cells")
    ref = similarity.IVFIndex(spark, ref_path)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in idx.query(queries, k=5).collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in ref.query(queries, k=5).collect()
    )
    assert got == want


def test_ivf_index_add_is_idempotent(spark, tmp_path):
    """ADVICE r7: a retried ingestion job re-adding the same batch
    must not duplicate vectors in the cell files — add() anti-joins
    new ids against the existing index by default."""
    emb = load_table(spark, SF, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    idx = similarity.IVFIndex.build(a, str(tmp_path / "idem"))
    idx.add(b)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    before = sorted(map(tuple, idx.query(queries, k=5).collect()))
    idx.add(b)  # the retried batch: must be a no-op
    n_b = b.count()
    cells = spark.read.parquet(str(tmp_path / "idem") + "/cells")
    assert cells.filter(F.col("neighbor_id") % 2 == 1).count() == n_b
    after = sorted(map(tuple, idx.query(queries, k=5).collect()))
    assert after == before


def test_topk_cosine_imi_degenerates_to_exact(spark):
    """n_probe = PQ_K makes the IMI-pruned retrieval top-k's
    candidate set the whole corpus: output must equal
    topk_cosine_exact for the same 8-smallest-id query set — the
    VERDICT_r7 #1 parity pin for the served hybrid semantic leg."""
    emb = load_table(spark, SF, "embeddings")
    _, a, luts = similarity.pq_artifacts(emb, n_queries=8)
    imi = similarity.topk_cosine_imi(
        emb, a, luts, k=5, n_probe=similarity.PQ_K
    ).collect()
    qids = [r.vec_id for r in emb.orderBy("vec_id").limit(8).collect()]
    exact = similarity.topk_cosine_exact(
        emb, emb.filter(F.col("vec_id").isin(qids)), k=5
    ).collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id)  # noqa: E731
    assert sorted(map(key, imi)) == sorted(map(key, exact))


def test_topk_cosine_imi_pruned_recall_and_shape(spark):
    """At the declared n_probe=4/16 the pruned top-k returns
    correctly-windowed rows with a usable fraction of the exact
    top-5, and shares hard_negatives_imi's plan shape (prune before
    score: no BroadcastNestedLoopJoin anywhere)."""
    emb = load_table(spark, SF, "embeddings")
    _, a, luts = similarity.pq_artifacts(emb)
    df = similarity.topk_cosine_imi(emb, a, luts, k=5, n_probe=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    out = df.collect()
    assert out
    for r in out:
        assert r.rank <= 5 and r.query_id != r.neighbor_id
    qids = sorted({r.query_id for r in out})
    exact = similarity.topk_cosine_exact(
        emb, emb.filter(F.col("vec_id").isin(qids)), k=5
    ).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    got = {(r.query_id, r.neighbor_id) for r in out}
    assert len(truth & got) / len(truth) >= 0.20


def test_ivf_index_add_dedupes_within_batch(spark, tmp_path):
    """r8 review finding: a batch that is itself a union of retry
    attempts must not append duplicate vectors."""
    emb = load_table(spark, SF, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    idx = similarity.IVFIndex.build(a, str(tmp_path / "intra"))
    idx.add(b.unionAll(b))  # doubled batch
    cells = spark.read.parquet(str(tmp_path / "intra") + "/cells")
    assert cells.filter(F.col("neighbor_id") % 2 == 1).count() == b.count()


def test_ivf_index_add_rejects_conflicting_vectors(spark, tmp_path):
    """ADVICE r8: the same id arriving with two DIFFERENT vectors is
    a caller bug — add() must raise, not silently keep an arbitrary
    copy. Exact retry duplicates still collapse (previous test)."""
    import pytest

    emb = load_table(spark, SF, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1).limit(6)
    idx = similarity.IVFIndex.build(a, str(tmp_path / "conflict"))
    mutated = b.withColumn(
        "embedding", F.transform("embedding", lambda x: x * 2.0)
    )
    n_before = spark.read.parquet(
        str(tmp_path / "conflict") + "/cells"
    ).count()
    with pytest.raises(ValueError, match="different vectors"):
        idx.add(b.unionAll(mutated))
    # the rejected batch must leave the index untouched
    n_after = spark.read.parquet(
        str(tmp_path / "conflict") + "/cells"
    ).count()
    assert n_after == n_before


def test_ivf_ingest_conflict_audit_reports_silent_drop(spark, tmp_path):
    """VERDICT_r9 #4: add() drops a cross-batch re-embed lake-wins
    and undetectably (the anti-join removes it before the conflict
    guard) — the audit must surface exactly that row as
    conflicting_drop, exact retry dups as identical_dup, and brand-new
    ids not at all."""
    emb = load_table(spark, SF, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    idx = similarity.IVFIndex.build(a, str(tmp_path / "aud"))
    ids = sorted(
        r.vec_id for r in a.select("vec_id").orderBy("vec_id").limit(3).collect()
    )
    conflict_id, dup_id = ids[0], ids[1]
    new_id = int(emb.agg(F.max("vec_id")).collect()[0][0]) + 1
    ev = emb.select("vec_id", "embedding")
    batch = (
        ev.filter(F.col("vec_id") == conflict_id)
        .withColumn(
            "embedding",
            F.transform(
                "embedding", lambda x: x + F.lit(0.5).cast("float")
            ),
        )
        .unionByName(ev.filter(F.col("vec_id") == dup_id))
        .unionByName(
            ev.filter(F.col("vec_id") == ids[2]).select(
                F.lit(new_id).cast("long").alias("vec_id"), "embedding"
            )
        )
    )
    # the detection pass runs against the PRE-ADD index (what a
    # deployment does at ingestion cadence): the re-embed surfaces as
    # conflicting_drop, the retry dup as identical_dup, and the new
    # id — nothing at rest to drop against — not at all
    got = {
        r.vec_id: (r.verdict, r.n_diff_dims)
        for r in idx.ingest_conflict_audit(batch).collect()
    }
    assert got[conflict_id][0] == "conflicting_drop"
    assert got[conflict_id][1] > 0
    assert got[dup_id] == ("identical_dup", 0)
    assert new_id not in got
    before = sorted(
        map(
            tuple,
            spark.read.parquet(str(tmp_path / "aud") + "/cells")
            .filter(F.col("neighbor_id") == conflict_id)
            .select("cvec_")
            .collect(),
        )
    )
    idx.add(batch)
    # add() then silently drops exactly what the audit flagged: the
    # stored vector for the conflicting id is unchanged
    after = sorted(
        map(
            tuple,
            spark.read.parquet(str(tmp_path / "aud") + "/cells")
            .filter(F.col("neighbor_id") == conflict_id)
            .select("cvec_")
            .collect(),
        )
    )
    assert after == before
    # post-add, the new id is at rest verbatim -> identical_dup
    got2 = {
        r.vec_id: r.verdict
        for r in idx.ingest_conflict_audit(batch).collect()
    }
    assert got2[new_id] == "identical_dup"


def test_ivf_staleness_audit_skew_and_drift(spark, tmp_path):
    """VERDICT_r9 #5: planted drifted inserts (a pile of vectors all
    landing in one cell) must push skew_milli past a rebuild
    threshold; and a centroid retrain WITHOUT reassignment must show
    up as n_drifted > 0. A freshly built index shows n_drifted == 0
    everywhere."""
    emb = load_table(spark, SF, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    idx = similarity.IVFIndex.build(a, str(tmp_path / "stale"))
    base = {r.cell_id: r for r in idx.staleness_audit().collect()}
    assert all(r.n_drifted == 0 for r in base.values())
    base_skew = next(iter(base.values())).skew_milli
    # drifted inserts: clones of one existing vector (same cell by
    # construction), new ids beyond the corpus
    donor = a.orderBy("vec_id").limit(1)
    mx = int(emb.agg(F.max("vec_id")).collect()[0][0])
    n_flood = max(6 * a.count() // len(base), 64)
    flood = (
        spark.range(mx + 1, mx + 1 + n_flood)
        .withColumnRenamed("id", "vec_id")
        .crossJoin(F.broadcast(donor.select("embedding")))
    )
    idx.add(flood)
    skewed = {r.cell_id: r for r in idx.staleness_audit().collect()}
    flooded_skew = next(iter(skewed.values())).skew_milli
    assert flooded_skew > base_skew
    assert flooded_skew > 3000  # the rebuild-threshold regime
    assert all(r.n_drifted == 0 for r in skewed.values())
    # retrain centroids without reassignment (the integrity breach a
    # partial rebuild leaves): rotate centroid ids so every stored
    # assignment points at the wrong centroid
    cents = idx.centroids.select(
        ((F.col("cell_id") + 1) % len(base)).cast("int").alias("cell_id"),
        "cvec",
    )
    cents.write.mode("overwrite").parquet(str(tmp_path / "stale2"))
    rot = spark.read.parquet(str(tmp_path / "stale2"))
    rot.write.mode("overwrite").parquet(
        str(tmp_path / "stale") + "/centroids"
    )
    idx2 = similarity.IVFIndex(spark, str(tmp_path / "stale"))
    drifted = idx2.staleness_audit().collect()
    assert sum(r.n_drifted for r in drifted) > 0


def test_imi_cell_skew_audit_python_differential(spark):
    """The oracle-checked IMI skew audit replayed in pure Python:
    quantize, assign argmin over sub-0 codebooks, accumulate per-cell
    (n, sum_dist2, sum_margin), lower-median skew."""
    emb = load_table(spark, SF, "embeddings")
    q = similarity._pq_quantized(emb, "vec_id", "embedding")
    cents = similarity._pq_train(q, m=8, subdim=8, k=16, iters=2)
    got = {
        r.cell0: (r.n_vecs, r.sum_dist2, r.sum_margin, r.skew_milli)
        for r in similarity.imi_cell_skew_audit(q, cents).collect()
    }
    rows = q.collect()
    per: dict[int, list[int]] = {}
    for r in rows:
        sub = list(r.qv)[:8]
        ds = sorted(
            (sum((x - y) ** 2 for x, y in zip(sub, c)), j)
            for j, c in enumerate(cents[0])
        )
        (own_d, cid), (sec_d, _) = ds[0], ds[1]
        acc = per.setdefault(cid, [0, 0, 0])
        acc[0] += 1
        acc[1] += own_d
        acc[2] += sec_d - own_d
    counts = sorted(v[0] for v in per.values())
    med = counts[(len(counts) + 1) // 2 - 1]
    skew = (1000 * max(counts)) // med
    want = {c: (v[0], v[1], v[2], skew) for c, v in per.items()}
    assert got == want


def test_knn_label_eval_imi_degenerates_to_exact(spark):
    """n_probe = PQ_K makes the IMI-pruned k-NN eval's candidate set
    the whole corpus: output must equal the exact knn_label_eval for
    the same 8-smallest-id query set (VERDICT_r8 #4 parity pin)."""
    emb = load_table(spark, SF, "embeddings")
    _, a, luts = similarity.pq_artifacts(emb, n_queries=8)
    imi = similarity.knn_label_eval_imi(
        emb, a, luts, k=5, n_probe=similarity.PQ_K
    ).collect()
    qids = [r.vec_id for r in emb.orderBy("vec_id").limit(8).collect()]
    exact = similarity.knn_label_eval(
        emb, emb.filter(F.col("vec_id").isin(qids)), k=5
    ).collect()
    key = lambda r: (  # noqa: E731
        r.query_id, r.true_label, r.pred_label, r.votes, r.correct
    )
    assert sorted(map(key, imi)) == sorted(map(key, exact))
    assert len(imi) == 8


def test_knn_label_eval_imi_pruned_shape(spark):
    """At the declared n_probe=4/16 the pruned eval emits one row per
    LUT query with a valid vote; no BroadcastNestedLoopJoin anywhere
    (prune-before-score, the topk_cosine_imi plan contract)."""
    emb = load_table(spark, SF, "embeddings")
    _, a, luts = similarity.pq_artifacts(emb)
    df = similarity.knn_label_eval_imi(emb, a, luts, k=5, n_probe=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    out = df.collect()
    assert len(out) == 8
    for r in out:
        assert 1 <= r.votes <= 5
        assert r.correct == (r.pred_label == r.true_label)


def test_assign_cells_literal_path_matches_window_form(spark):
    """Map-only assignment: every n_probe must pick exactly the cells
    a (max affinity, ties to the LOWEST cell_id) ranking picks — the
    n_probe=1 literal argmax and the n_probe > 1 sorted-array explode
    alike, including n_probe above the cell count — and no plan may
    carry an Exchange or a Window (pure scan — the 100 TB win)."""
    from mrgo_spark.operators import similarity as S
    from mrgo_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = S.ivf_centroids(emb, k=8)
    got = {
        r.neighbor_id: r.cell_id
        for r in S._assign_cells(
            emb.selectExpr("vec_id as neighbor_id", "embedding as cvec_"),
            cents, "neighbor_id", "cvec_", n_probe=1,
        ).collect()
    }
    # python replay of the window form over the exact integer dots
    cl = [(int(r.cell_id), list(r.cvec)) for r in cents.collect()]
    want = {}
    for r in emb.select("vec_id", "embedding").collect():
        affs = [
            (sum(round(float(x) * float(y) * S.FX) for x, y in zip(r.embedding, cv)), -c)
            for c, cv in cl
        ]
        want[r.vec_id] = -max(affs)[1]
    assert got == want
    # map-only: no shuffle in the fast path's plan
    plan = S._assign_cells(
        emb.selectExpr("vec_id as neighbor_id", "embedding as cvec_"),
        cents, "neighbor_id", "cvec_", n_probe=1,
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan
    # n_probe > 1: the top n_probe cells by affinity desc, ties to the
    # lowest cell_id, from the collected rows or the frame alike
    vecs = emb.select("vec_id", "embedding").collect()
    for n_probe in (2, 3, len(cl) + 1):
        want = {
            (r.vec_id, c)
            for r in vecs
            for _, c in sorted(
                (-sum(round(float(x) * float(y) * S.FX)
                      for x, y in zip(r.embedding, cv)), c)
                for c, cv in cl
            )[:n_probe]
        }
        for src in (cents, cents.collect()):
            out = S._assign_cells(
                emb.selectExpr("vec_id as neighbor_id", "embedding as cvec_"),
                src, "neighbor_id", "cvec_", n_probe=n_probe,
            )
            rows = [(r.neighbor_id, r.cell_id) for r in out.collect()]
            assert len(rows) == len(want) and set(rows) == want
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan and "Window" not in plan


def test_score_ties_rank_by_neighbor_id(spark, tmp_path):
    """Exactly tied scores rank by neighbor_id ascending in every
    cosine ranking that shares the one top-k cut. Five ids carry the
    same vector (twice the query's, so each scores the same cosine
    and shares the query's LSH buckets) and are written in descending
    id order; k=3 must keep the three lowest of them, in id order."""
    import random

    rnd = random.Random(7)
    qvec = [rnd.uniform(-1.0, 1.0) for _ in range(64)]
    tied = [x * 2.0 for x in qvec]
    rows = [(0, qvec, 0)]
    rows += [(i, tied, 1) for i in (41, 30, 17, 9, 4)]
    rows += [
        (i, [rnd.uniform(-1.0, 1.0) for _ in range(64)], i % 2)
        for i in range(50, 70)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    queries = emb.filter(F.col("vec_id") == 0)
    want = [(0, 1, 4), (0, 2, 9), (0, 3, 17)]

    def ranks(df):
        return sorted((r.query_id, r.rank, r.neighbor_id) for r in df.collect())

    idx = similarity.IVFIndex.build(emb, str(tmp_path / "ties"), n_cells=4)
    _, a, luts = similarity.pq_artifacts(emb, n_queries=1)
    rankings = {
        "exact": similarity.topk_cosine_exact(emb, queries, k=3),
        "hard_negatives": similarity.hard_negatives(emb, queries, k=3),
        "lsh": similarity.topk_cosine_lsh(emb, queries, k=3),
        "ivf": idx.query(queries, k=3, n_probe=4),
        "imi": similarity.topk_cosine_imi(
            emb, a, luts, k=3, n_probe=similarity.PQ_K
        ),
    }
    for name, df in rankings.items():
        assert ranks(df) == want, name

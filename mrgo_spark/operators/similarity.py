"""Similarity search over embedding columns (SURVEY §2.4 X3).

Two paths:

- ``topk_cosine_exact`` — brute-force exact top-k: the baseline and
  the oracle-checkable form. Uses fixed-point arithmetic so scores
  are bit-identical across engines (see note below).
- ``topk_cosine_lsh`` — random-hyperplane LSH blocking: candidates
  share ≥1 hash band, scored exactly, then top-k. The 100 TB path:
  the corpus-side join key is (band, signature), so cost scales with
  collisions, not corpus².

Fixed-point determinism: double summation order is engine-dependent
at the last ulp. Each elementwise product is rounded to 1e-6 and
summed as integers — identical parquet floats → identical integers →
identical final doubles on Spark and DuckDB.

100 TB notes: queries are broadcast (a query set is small by
definition); the corpus side is never shuffled for the exact scan —
one pass, partial top-k per partition via the window, AQE coalesced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import lit_doubles, lit_longs
from ..sources.tables import _append_tombstones, _read_tombstones

FX = 1_000_000  # fixed-point scale for cross-engine determinism


def _fx_dot(a, b) -> F.Column:
    """Σ round(a_i*b_i*FX) as bigint — order-independent exact sum."""
    prods = F.zip_with(
        a, b, lambda x, y: F.round(x.cast("double") * y.cast("double") * FX).cast("long")
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)


def cosine_fx(a, b) -> F.Column:
    """Cosine from fixed-point dot/norms (bit-stable across engines)."""
    return _fx_dot(a, b) / (F.sqrt(_fx_dot(a, a)) * F.sqrt(_fx_dot(b, b)))


def topk_cosine_exact(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is broadcast; the corpus is scanned once. Ties broken
    by neighbor id for determinism. Columns: (query_id, neighbor_id,
    score, rank).
    """
    # Precompute per-side norms below the join: corpus norms are
    # evaluated once per corpus row, not once per (query, corpus) pair.
    # Widen the corpus stream side: the
    # interpreted per-pair fixed-point folds ran single-task on the
    # 1-row-group fixture scan (1.7 s → 0.7 s warm at sf0.1 for the
    # declared topk_cosine; parity-verified — exact integer scores +
    # deterministic tie-break, so partitioning cannot change rows).
    # Self-disabling on pre-split input (widen_scan contract).
    from ..sources.tables import widen_scan

    embeddings = widen_scan(embeddings)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.sqrt(_fx_dot(F.col(vec_col), F.col(vec_col))).alias("qnorm"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.sqrt(_fx_dot(F.col(vec_col), F.col(vec_col))).alias("cnorm"),
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        (
            _fx_dot(F.col("qvec"), F.col("cvec"))
            / (F.col("qnorm") * F.col("cnorm"))
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def hyperplane_signature(vec_col, planes: list[list[float]]) -> F.Column:
    """Sign bits of fixed random-hyperplane projections, packed to long."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                lit_doubles(p),
                lambda v, w: v.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << i).cast("long")).otherwise(0)
    return sig


def _fixed_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy import
    needed at the executor; generated once on the driver)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the retrieval-
    training data op): for each query vector, the k nearest
    neighbors with a DIFFERENT label — the negatives most likely to
    confuse a model, per the in-batch-negatives literature (e.g.
    Karpukhin et al. 2020, DPR §3.2).

    Same shape as ``topk_cosine_exact`` (broadcast queries, one
    corpus scan, fixed-point dot products, WindowGroupLimit top-k);
    the label inequality rides the join condition, so same-label
    rows never reach the scorer. Ties break by neighbor id.

    Columns: (query_id, query_label, neighbor_id, neighbor_label,
    score, rank).
    """
    from ..sources.tables import widen_scan

    embeddings = widen_scan(embeddings)  # the topk_cosine_exact rule
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("qvec"),
        F.sqrt(_fx_dot(F.col(vec_col), F.col(vec_col))).alias("qnorm"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("cvec"),
        F.sqrt(_fx_dot(F.col(vec_col), F.col(vec_col))).alias("cnorm"),
    )
    scored = c.join(
        F.broadcast(q), F.col("query_label") != F.col("neighbor_label")
    ).select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        (
            _fx_dot(F.col("qvec"), F.col("cvec"))
            / (F.col("qnorm") * F.col("cnorm"))
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "score",
            "rank",
        )
    )


def contrastive_pairs(
    embeddings: DataFrame,
    queries: DataFrame,
    n_neg: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive training-pair construction (DPR, Karpukhin et al.
    2020 §3): for each anchor, ONE gold positive (the nearest
    same-label neighbor) and ``n_neg`` hard negatives (the nearest
    different-label neighbors) — the assembled training-example table
    a bi-encoder trains on, in one operator. Same broadcast-anchor /
    fixed-point-cosine shape as hard_negatives; the label predicate
    (== for the positive leg, != for the negative leg) rides each
    join. Columns: (query_id, query_label, other_id, other_label,
    pair_role ∈ {positive, hard_negative}, score, rank); anchors
    whose label is unique in the corpus produce no positive row
    (rank never reached — the standard drop)."""
    pos = _label_topk(
        embeddings, queries, 1, True, id_col, vec_col, label_col
    ).withColumn("pair_role", F.lit("positive"))
    neg = _label_topk(
        embeddings, queries, n_neg, False, id_col, vec_col, label_col
    ).withColumn("pair_role", F.lit("hard_negative"))
    return pos.unionByName(neg).select(
        "query_id",
        "query_label",
        F.col("neighbor_id").alias("other_id"),
        F.col("neighbor_label").alias("other_label"),
        "pair_role",
        "score",
        "rank",
    )


def _label_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    same_label: bool,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """hard_negatives' scorer with the label predicate parameterized:
    same_label=False IS hard-negative mining, same_label=True mines
    gold positives. Kept private; hard_negatives stays the public
    cited form."""
    from ..sources.tables import widen_scan

    embeddings = widen_scan(embeddings)  # the topk_cosine_exact rule
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("qvec"),
        F.sqrt(_fx_dot(F.col(vec_col), F.col(vec_col))).alias("qnorm"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("cvec"),
        F.sqrt(_fx_dot(F.col(vec_col), F.col(vec_col))).alias("cnorm"),
    )
    lab = (
        (F.col("query_label") == F.col("neighbor_label"))
        if same_label
        else (F.col("query_label") != F.col("neighbor_label"))
    )
    scored = c.join(
        F.broadcast(q), lab & (F.col("query_id") != F.col("neighbor_id"))
    ).select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        (
            _fx_dot(F.col("qvec"), F.col("cvec"))
            / (F.col("qnorm") * F.col("cnorm"))
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "score",
            "rank",
        )
    )


def hard_negatives_imi(
    embeddings: DataFrame,
    assigned: DataFrame = None,
    luts=None,
    k: int = 5,
    n_probe: int = 4,
    n_queries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IMI-pruned hard-negative mining: candidates
    come from each query's ``n_probe`` best coarse cells (subspace-0
    PQ codes — the pq_topk_imi prune), the label-inequality filter
    rides the candidate join, and only SURVIVORS get the exact
    fixed-point cosine verify. The ANN-backed serve path next to the
    exact ``hard_negatives`` differential twin — the topk_cosine /
    topk_cosine_ivf precedent applied to negative mining.

    ``assigned`` is a PQ-assigned frame (``_pq_assign`` output, e.g.
    the session-cached codes frame) and ``luts`` the ``_pq_luts``
    query LUTs; the query set is luts' key set. Candidates join the
    broadcast (cell0, query) probe rows BEFORE any dot product
    (prune-then-score); the only corpus-sized shuffle is the honest
    id join-back attaching labels/raw vectors to cell assignments —
    at rest the codes+labels live in ONE cell0-partitioned table and
    even that join disappears (the IVFIndex shape).

    n_probe = K (all cells probed) degenerates to the exact
    ``hard_negatives`` for the same query set — pinned in tests.
    Columns match ``hard_negatives``. Passing assigned/luts as None
    trains + assigns one-shot (the pq_topk_imi convenience form)."""
    scored = _imi_pruned_cosine(
        embeddings, assigned, luts, n_probe, n_queries,
        id_col, vec_col, label_col,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "score",
            "rank",
        )
    )


def topk_cosine_imi(
    embeddings: DataFrame,
    assigned: DataFrame = None,
    luts=None,
    k: int = 5,
    n_probe: int = 4,
    n_queries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IMI-pruned cosine top-k: ``hard_negatives_imi``
    without the label filter — candidates come from each query's
    ``n_probe`` best coarse cells (subspace-0 PQ codes), only
    survivors get the exact fixed-point cosine verify. The served
    semantic RETRIEVAL leg: rrf_hybrid's fusion composes this with
    the at-rest BM25 index so BOTH hybrid legs are index-served (the
    lexical leg was served first, leaving the semantic leg the last
    brute-force serving path).

    Same column contract as ``topk_cosine_exact`` (query_id,
    neighbor_id, score, rank); n_probe = K (all cells probed)
    degenerates to the exact form for the same query set — pinned in
    tests/test_similarity.py. The query set is luts' key set (the PQ
    LUT idiom), and the whole pruned ranking oracle-checks through
    the PQ CTE chain, like hard_negatives_imi."""
    scored = _imi_pruned_cosine(
        embeddings, assigned, luts, n_probe, n_queries,
        id_col, vec_col, label_col=None,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _imi_pruned_cosine(
    embeddings: DataFrame,
    assigned: DataFrame,
    luts,
    n_probe: int,
    n_queries: int,
    id_col: str,
    vec_col: str,
    label_col: str | None,
) -> DataFrame:
    """Shared IMI prune-then-verify core (hard_negatives_imi /
    topk_cosine_imi): broadcast (cell0, query) probe rows join
    cell-assigned corpus vectors BEFORE any dot product; survivors
    get the exact fixed-point cosine. With ``label_col`` the
    label-inequality filter rides the candidate join (negative
    mining); without it every probed-cell vector is a candidate
    (retrieval). Returns the UNRANKED scored frame."""
    if assigned is None or luts is None:
        q = _pq_quantized(embeddings, id_col, vec_col)
        cents = _pq_train(q, PQ_M, PQ_SUBDIM, PQ_K, PQ_ITERS)
        assigned = _pq_assign(q, cents, PQ_M, PQ_SUBDIM)
        luts = _pq_luts(q, cents, n_queries, PQ_M, PQ_SUBDIM)
    qids = sorted(luts)
    probe_cells = []
    for qid in qids:
        cells = [
            c
            for _, c in sorted(
                (d, c) for c, d in enumerate(luts[qid][0])
            )[:n_probe]
        ]
        for c in cells:
            probe_cells.append((int(c), int(qid)))
    probe_df = embeddings.sparkSession.createDataFrame(
        probe_cells, "qcell0 int, query_id long"
    )
    qcols = [
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.sqrt(_fx_dot(F.col(vec_col), F.col(vec_col))).alias("qnorm"),
    ]
    ccols = [
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.sqrt(_fx_dot(F.col(vec_col), F.col(vec_col))).alias("cnorm"),
    ]
    if label_col is not None:
        qcols.insert(1, F.col(label_col).alias("query_label"))
        ccols.insert(1, F.col(label_col).alias("neighbor_label"))
    qside = (
        embeddings.filter(F.col(id_col).isin([int(q) for q in qids]))
        .select(*qcols)
        .join(probe_df, "query_id")
    )
    corpus = embeddings.select(*ccols).join(
        assigned.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("_b0.cid").cast("int").alias("cell0"),
        ),
        "neighbor_id",
    )
    cond = (F.col("cell0") == F.col("qcell0")) & (
        F.col("query_id") != F.col("neighbor_id")
    )
    if label_col is not None:
        cond = cond & (F.col("query_label") != F.col("neighbor_label"))
    cand = corpus.join(F.broadcast(qside), cond)
    out_cols = ["query_id", "neighbor_id"]
    if label_col is not None:
        out_cols = ["query_id", "query_label", "neighbor_id", "neighbor_label"]
    # no distinct needed: each corpus vector has exactly ONE cell0 and
    # probe rows are unique (cell, query) pairs, so a (query, neighbor)
    # candidate appears at most once — a dedup here would add a
    # candidate-sized shuffle for nothing (unlike topk_cosine_ivf,
    # whose per-call assignment frame can carry multi-probe rows)
    return cand.select(
        *out_cols,
        (
            _fx_dot(F.col("qvec"), F.col("cvec"))
            / (F.col("qnorm") * F.col("cnorm"))
        ).alias("score"),
    )


def knn_label_eval(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN classification eval over the embedding space — the
    standard intrinsic embedding-quality probe (labels predicted by
    majority vote of the k nearest neighbors, self excluded, scored
    against the true label). Vote ties break (count DESC, label ASC);
    all aggregates after the top-k are queries×k-sized. Columns:
    (query_id, true_label, pred_label, votes, correct)."""
    top = topk_cosine_exact(embeddings, queries, k, id_col, vec_col)
    truth = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return _knn_vote_tail(top, embeddings, truth, id_col, label_col)


def _knn_vote_tail(
    top: DataFrame,
    embeddings: DataFrame,
    truth: DataFrame,
    id_col: str,
    label_col: str,
) -> DataFrame:
    """Shared majority-vote tail of the k-NN eval family
    (knn_label_eval / knn_label_eval_imi): join neighbor labels, vote
    per query (ties: count DESC, label ASC), score against
    ``truth``'s (query_id, true_label). Everything here is
    queries×k-sized."""
    nlab = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("_nl"),
    )
    votes = (
        top.join(nlab, "neighbor_id")
        .groupBy("query_id", "_nl")
        .agg(F.count("*").cast("long").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("_nl"))
    pred = (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("query_id", F.col("_nl").alias("pred_label"), "votes")
    )
    return truth.join(pred, "query_id").select(
        "query_id",
        "true_label",
        "pred_label",
        "votes",
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    )


def knn_label_eval_imi(
    embeddings: DataFrame,
    assigned: DataFrame = None,
    luts=None,
    k: int = 5,
    n_probe: int = 4,
    n_queries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IMI-SERVED k-NN classification eval: the last
    exact-scorer consumer gains its pruned twin — neighbors come from
    ``topk_cosine_imi`` (candidates from each query's ``n_probe``
    best coarse PQ cells, exact fixed-point cosine on survivors
    only) instead of the corpus×queries brute force; the vote tail is
    shared with the exact form. The exact ``knn_label_eval`` stays as
    eval truth; n_probe = PQ_K degenerates to it for the same query
    set (pinned in tests/test_similarity.py).

    Query set = luts' key set (the PQ LUT idiom), so the whole pruned
    eval — PQ training, cell probe, candidate pruning, vote —
    oracle-checks. Scale shape: candidates are probed-cells-sized
    (corpus/K per probe), never corpus×queries."""
    top = topk_cosine_imi(
        embeddings, assigned, luts, k=k, n_probe=n_probe,
        n_queries=n_queries, id_col=id_col, vec_col=vec_col,
    )
    truth = embeddings.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return _knn_vote_tail(top, embeddings, truth, id_col, label_col)


def topk_cosine_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via random-hyperplane LSH bands.

    Corpus and queries hash to ``bands`` buckets of ``n_planes/bands``
    sign bits; candidates share ≥1 bucket, then are scored exactly.
    Recall is property-tested against ``topk_cosine_exact``
    (tests/test_similarity.py) — approximate by design.
    """
    planes = _fixed_planes(dim, n_planes)
    per_band = n_planes // bands
    mask = (1 << per_band) - 1

    def banded(df, idname):
        sig = hyperplane_signature(F.col(vec_col), planes)
        return df.select(
            F.col(id_col).alias(idname),
            F.col(vec_col).alias(f"{idname}_vec"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftrightunsigned(sig, b * per_band)
                            .bitwiseAND(F.lit(mask).cast("long"))
                            .alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select(idname, f"{idname}_vec", "bb.band", "bb.bucket")

    cand = (
        banded(embeddings, "neighbor_id")
        .join(
            F.broadcast(banded(queries, "query_id")),
            ["band", "bucket"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "query_id_vec", "neighbor_id_vec")
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_fx(F.col("query_id_vec"), F.col("neighbor_id_vec")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def near_pairs_cosine(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (a<b) with cosine > threshold — exact, O(n²): the
    verification tool / small-set path. At scale, run topk_cosine_lsh
    first and verify survivors here. Columns: (id_a, id_b, score)."""
    from ..sources.tables import widen_scan

    embeddings = widen_scan(embeddings)  # the topk_cosine_exact rule
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_fx(F.col("va"), F.col("vb")).alias("score"))
        .filter(F.col("score") > threshold)
    )


def near_pairs_cosine_lsh(
    embeddings: DataFrame,
    threshold: float,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Banded hyperplane-LSH candidates + exact fixed-point verify —
    the 100 TB path for ``near_pairs_cosine`` (which is O(n²) and
    exists as the verification/small-set tool).

    Shape: each vector lands in ``bands`` (band, bucket) cells, where
    band b's bucket is the sign-bit pack of ONLY its own
    ``n_planes/bands`` hyperplanes — per-band signatures instead of
    slicing one full signature, so projection collapse cannot
    duplicate the plane-projection subtree across the band fan
    (a CLAUDE.md gotcha). Candidates = pairs sharing ≥1 cell
    (equi-join on (band, bucket), id_a < id_b, distinct — hash-only
    shuffle, no vectors). Vectors join back once per side for the
    exact ``cosine_fx`` verify, so every emitted pair is exactly
    scored: output ⊆ near_pairs_cosine(embeddings, threshold)
    (exact precision; banding misses are the recall loss —
    property-tested floor in tests/test_similarity.py).

    ``max_bucket`` caps degenerate buckets (a B-vector bucket yields
    B²/2 candidates); dropped buckets are near-cliques better handled
    by exact-dup hashing, same valve as minhash_lsh_pairs.
    Columns: (id_a, id_b, score)."""
    planes = _fixed_planes(dim, n_planes)
    per_band = n_planes // bands
    banded = embeddings.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        hyperplane_signature(
                            F.col(vec_col),
                            planes[b * per_band:(b + 1) * per_band],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    if max_bucket is not None:
        w_b = Window.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("_bsz", F.count("*").over(w_b))
            .filter(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b", cosine_fx(F.col("va"), F.col("vb")).alias("score")
        )
        .filter(F.col("score") > threshold)
    )


def normalize_unit(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L2-normalize each vector (fixed-point norm → bit-stable across
    engines; sqrt and division are IEEE-exact). Columns: (vec_id,
    unit: array<double>). Map-side only — no shuffle.

    Plan hazard: the norm fold is inlined inside the transform
    lambda, so it re-evaluates once PER ELEMENT (64× the work), and
    posexploding ``unit`` additionally copies the whole expression
    into the Generate's pushed-down size()/isnotnull predicates on an
    interpreted Filter (measured 3.3 s for 40 rows at sf0.1). Fine
    for array-valued use; anything that explodes the result should
    materialize the norm as a column first and divide post-explode —
    see q_embedding_normalize for the fast shape. (Materializing the
    norm column here doesn't survive: CollapseProject re-inlines a
    once-referenced alias into the lambda.)"""
    nf = F.sqrt(_fx_dot(F.col(vec_col), F.col(vec_col))) / 1000.0
    return embeddings.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double") / nf).alias(
            "unit"
        ),
    )


def _centroid_per_dim(
    embeddings: DataFrame, n_groups: int, id_col: str, vec_col: str
) -> DataFrame:
    """(grp, pos, sfx, n): fixed-point per-dimension sums — the shared
    core of both centroid output shapes. One explode + one partial-agg
    shuffle on small (grp, pos) keys; corpus scanned once."""
    fx = lambda c: F.round(c.cast("double") * FX).cast("long")  # noqa: E731
    return (
        embeddings.select(
            F.pmod(F.col(id_col), F.lit(n_groups)).alias("grp"),
            F.posexplode(F.col(vec_col)).alias("pos", "x"),
        )
        .groupBy("grp", "pos")
        .agg(F.sum(fx(F.col("x"))).alias("sfx"), F.count("*").alias("n"))
    )


def group_centroids_long(
    embeddings: DataFrame,
    n_groups: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean vectors in LONG form: one scalar row per
    (grp, pos) instead of an array column. This is the declared-gate
    shape — the driver canonicalizes results via pandas sort_values,
    which cannot sort array cells. Columns:
    (grp, pos, n_vecs, value); value = mean of dimension `pos`."""
    per_dim = _centroid_per_dim(embeddings, n_groups, id_col, vec_col)
    return per_dim.select(
        "grp",
        F.col("pos").cast("long").alias("pos"),
        F.col("n").alias("n_vecs"),
        (F.col("sfx") / F.col("n") / float(FX)).alias("value"),
    )


def group_centroids(
    embeddings: DataFrame,
    n_groups: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean vector over id-modular groups (the shape of a
    class/cluster centroid computation). Fixed-point per-dimension
    sums make the means bit-identical across engines.
    Columns: (grp, n_vecs, centroid: array<double>)."""
    per_dim = _centroid_per_dim(embeddings, n_groups, id_col, vec_col)
    return (
        per_dim.groupBy("grp")
        .agg(
            F.max("n").alias("n_vecs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sfx", "n"))),
                lambda s: s["sfx"] / s["n"] / float(FX),
            ).alias("centroid"),
        )
    )


KM_FX = 10_000  # per-dim quantization scale for exact k-means


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over fixed-point quantized vectors — an
    ITERATIVE clustering algorithm with exact, oracle-checkable
    output (no float-order ambiguity anywhere).

    Determinism recipe: quantize q_d = round(x_d·KM_FX) as bigint;
    distances are exact integer Σ(q_d−c_d)²; assignment tie-breaks
    on (dist², cid); centroid update is Python floor division of
    exact integer sums — NOT DuckDB ``//``, which truncates toward
    zero and disagrees on the negative sums centroids routinely have
    (the oracle uses the positive-mod floor form, CLAUDE.md gotcha);
    seeds are the k
    smallest ids in id order; empty clusters keep their previous
    centroid. Every step is reproducible bit-for-bit in SQL, so the
    DuckDB oracle re-runs the whole 3-iteration fold.

    Scale shape (the textbook distributed Lloyd): centroids are
    always tiny (k×dim), so they ride the plan as LITERAL arrays —
    assignment is a map-only pass (zip_with fold per centroid, no
    join, no shuffle); the update is posexplode → one partial-agg
    groupBy(cid, pos) whose shuffle is k×dim×partitions rows, not
    data-sized. The k×dim collect per iteration is driver-tiny
    (512 longs here), same legitimacy class as the IVF seed collect.
    """
    q = emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            vec_col, lambda x: F.round(x.cast("double") * KM_FX).cast("long")
        ).alias("qv"),
    )
    cents = [list(r.qv) for r in q.orderBy("vec_id").limit(k).collect()]

    def assign(cents):
        pairs = []
        for j, c in enumerate(cents):
            arr = lit_longs(c)
            d = F.aggregate(
                F.zip_with(F.col("qv"), arr, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            pairs.append(F.struct(d.alias("dist2"), F.lit(j).alias("cid")))
        # Materialize the argmin struct ONCE, split fields in a second
        # projection: best["cid"]/best["dist2"] in one select clones
        # the whole least(8 × 64-fold) expression per field (2× work,
        # visible in PLANS.md). CollapseProject leaves the two-step
        # form alone because the alias is non-cheap and read twice.
        return q.select(
            "vec_id", "qv", F.least(*pairs).alias("_best")
        ).select(
            "vec_id",
            "qv",
            F.col("_best.cid").alias("cid"),
            F.col("_best.dist2").alias("dist2"),
        )

    for it in range(iters):
        a = assign(cents)
        if it == iters - 1:
            return a.select("vec_id", "cid", "dist2")
        upd = (
            a.select("cid", F.posexplode("qv").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = [list(c) for c in cents]
        for r in upd:
            new[r.cid][r.pos] = r.s // r.n
        cents = new


# ---- IVF (inverted-file) ANN: the high-recall scale path ----------------


def ivf_seed_candidates(embeddings: DataFrame, k: int, n: int,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """The k centroid seeds as a DataFrame: hash-modular sample
    (expected ~2k survivors — oversampled 2x so binomial shortfall
    can't leave us under k), first k by id. Compiles to a filter scan
    + TakeOrderedAndProject: no global window, no single-partition
    exchange (asserted in tests/test_plans.py)."""
    step = max(n // (2 * k), 1)
    return (
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("cvec"))
        .filter(F.pmod(F.xxhash64(F.col("_id")), F.lit(step)) == 0)
        .orderBy("_id")
        .limit(k)
    )


def _centroid_rows(centroids) -> list:
    """(cell_id, cvec) centroid rows sorted by cell_id; a DataFrame is
    collected (K ≈ √n rows — driver-tiny), a row list passes through."""
    if isinstance(centroids, DataFrame):
        centroids = centroids.collect()
    return sorted(centroids, key=lambda r: int(r.cell_id))


def _probe_cells_column(centroids: list, qvec, n_probe: int) -> F.Column:
    """The ``n_probe`` nearest cell_ids as an array column over the
    collected centroid rows — window-free, so it is map-only in batch
    and legal on a streaming DataFrame. Order: desc affinity, ties to
    the LOWEST cell_id (an asc sort on (-aff, cell_id) structs)."""
    scored = F.array(
        *[
            F.struct(
                (-_fx_dot(qvec, lit_doubles(r.cvec))).alias("neg"),
                F.lit(int(r.cell_id)).alias("cell_id"),
            )
            for r in centroids
        ]
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, n_probe), lambda s: s["cell_id"]
    )


def _assign_cells(df: DataFrame, centroids, idname: str,
                  vec_col: str, n_probe: int = 1) -> DataFrame:
    """Attach the ``n_probe`` nearest centroid ids to each vector, one
    output row per (vector, cell).

    centroids: (cell_id, cvec) — a DataFrame or its collected rows,
    small by construction (K ≈ √n).

    MAP-ONLY for every n_probe: the centroids ride as literals (the
    kmeans-assignment recipe), so there is no 16× row fan-out and no
    per-vector window SHUFFLE of the corpus — at 100 TB every
    assignment pass is a pure scan. n_probe == 1 (the build/refine/
    ingest hot path) is an argmax: a greatest() over per-cell structs
    whose negated-cell field breaks ties to the LOWEST cell_id.
    n_probe > 1 explodes ``_probe_cells_column``'s sorted top-n_probe
    array, with the same tie-break. _fx_dot is exact integer, so both
    forms pick exactly the cells a (max affinity, lowest cell_id)
    ranking picks (parity-pinned in tests/test_similarity.py)."""
    rows = _centroid_rows(centroids)
    if n_probe == 1:
        structs = [
            F.struct(
                _fx_dot(
                    F.col(vec_col),
                    lit_doubles(r.cvec),
                ).alias("aff"),
                F.lit(-int(r.cell_id)).alias("negc"),
            )
            for r in rows
        ]
        best = structs[0] if len(structs) == 1 else F.greatest(*structs)
        return df.select(
            F.col(idname),
            F.col(vec_col),
            (-best["negc"]).cast("int").alias("cell_id"),
        )
    cells = _probe_cells_column(rows, F.col(vec_col), n_probe)
    return df.select(
        F.col(idname), F.col(vec_col), F.explode(cells).alias("cell_id")
    )


def ivf_centroids(embeddings: DataFrame, k: int = 16,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  refine_iters: int = 2) -> DataFrame:
    """Deterministic coarse quantizer seeded by hash-modular sampling,
    then ``refine_iters`` Lloyd iterations (assign → per-cell mean).

    Seeding: rows where xxhash64(id) % (n/2k) == 0 (expected ~2k
    survivors) are reduced to the first k by id via TakeOrdered and
    numbered on the driver. No global window/sort over the corpus —
    the only full-corpus ops are a count and a filter scan; the sort
    touches ~2k rows. Deterministic for a fixed id set, and the
    collected seed set is K ≈ √n rows — small by construction.

    Each refinement iteration is one broadcast-join pass over the
    corpus + one aggregate; centroids live on the driver between
    iterations, which is exactly the k-means shape that scales.
    """
    n = embeddings.count()
    seeds = ivf_seed_candidates(embeddings, k, n, id_col, vec_col).collect()
    cents = embeddings.sparkSession.createDataFrame(
        [(i, [float(x) for x in r.cvec]) for i, r in enumerate(seeds)],
        "cell_id int, cvec array<double>",
    )
    for _ in range(refine_iters):
        assigned = _assign_cells(
            embeddings.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v")),
            cents, "vid", "v", n_probe=1,
        )
        # per-cell elementwise mean via posexplode + re-collect
        means = (
            assigned.select("cell_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cvec")
            )
        )
        # collect the k×dim means to the driver and re-literalize
        # (the kmeans driver-tiny collect precedent) — without this
        # the returned frame carries the WHOLE Lloyd chain as lazy
        # lineage and every consumer re-runs refine_iters corpus
        # passes (profiled: the 16-row centroid write alone cost
        # 5 s at sf0.1, and IVFIndex.build paid the chain again for
        # the assignment). Also pins the centroids: a lazy plan
        # re-executing per consumer could re-aggregate float means
        # in a different partition order per run.
        cents = embeddings.sparkSession.createDataFrame(
            [
                (int(r.cell_id), [float(x) for x in r.cvec])
                for r in means.collect()
            ],
            "cell_id int, cvec array<double>",
        )
    return cents


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = round(x_i/scale) ∈ [-127, 127]. 4× less memory/shuffle/
    scan than float32 — the standard serving compression for ANN
    corpora (score with q·q' × scale·scale', re-rank survivors at
    full precision). Deterministic: round-half-up on identical
    doubles on both engines; the error column is fixed-point so the
    max is an exact integer. Columns: (vec_id, scale, qvec,
    max_err_fx) with max_err_fx = max_i round(|x_i − q_i·scale|·1e6)
    — bounded by round(scale/2·1e6) by construction (tested).
    Map-side only, no shuffle."""
    x = F.col(vec_col)
    absmax = F.greatest(
        F.array_max(F.transform(x, lambda v: F.abs(v.cast("double")))),
        F.lit(1e-12),
    )
    base = embeddings.select(
        F.col(id_col), x.alias("_v"), (absmax / 127.0).alias("scale")
    )
    q_of = lambda v: F.round(v.cast("double") / F.col("scale"))  # noqa: E731
    return base.select(
        F.col(id_col),
        "scale",
        F.transform("_v", lambda v: q_of(v).cast("int")).alias("qvec"),
        F.array_max(
            F.transform(
                "_v",
                lambda v: F.round(
                    F.abs(v.cast("double") - q_of(v) * F.col("scale")) * 1e6
                ).cast("long"),
            )
        ).alias("max_err_fx"),
    )


class IVFIndex:
    """Persisted IVF index: the amortization path topk_cosine_ivf's
    docstring promises. ``build`` writes centroids (tiny parquet) and
    the corpus cell assignments partitioned BY cell_id; ``query``
    probes n_probe cells per query and filters on cell_id, so the scan
    reads only the probed partition directories (partition pruning —
    asserted in tests/test_plans.py). At 100 TB the one-time build is
    one broadcast-assign pass + one partitioned write; every
    subsequent query batch touches ~n_probe/n_cells of the corpus
    bytes instead of re-assigning the whole corpus per call.
    """

    # Bloom sidecar geometry: 16384 bits x 2 hash lanes per cell. The
    # sidecar is a HINT that must over-approximate the at-rest id set
    # (false positives cost one pruned probe; a false negative would
    # break idempotency), hence the superset-first update order in
    # ``add``. A saturated bloom degrades to "always probe this cell"
    # — still partition-pruned, never wrong.
    BLOOM_WORDS = 256

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        self.centroids = spark.read.parquet(f"{path}/centroids")
        # per-instance caches for ``query``: the centroids are frozen
        # at build (``add`` assigns against them, never rewrites them)
        # and every cells writer keeps the at-rest schema
        self._cent_rows: list | None = None
        self._cells_schema = None
        # cells probed by the last bounded-idempotency anti-join —
        # the observability hook (tests assert a disjoint-id batch
        # probes zero cells)
        self.last_probe_cells: list[int] = []
        self._recover_compaction()

    @staticmethod
    def build(
        embeddings: DataFrame,
        path: str,
        n_cells: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFIndex":
        cents = ivf_centroids(embeddings, k=n_cells, id_col=id_col, vec_col=vec_col)
        cents.write.mode("overwrite").parquet(f"{path}/centroids")
        # Widen the FINAL assignment scan (guide §2.5/§6: the
        # single-row-group fixture scan serializes the interpreted
        # 16×64 fixed-point folds onto ONE task — 3.0 s → ~0.3 s at
        # sf0.1; the PQ widen_scan rule applied to the IVF build).
        # Safe for bit-identity: the assignment is exact integer
        # affinities with a deterministic tie-break, so partitioning
        # cannot change any row. The REFINE passes in ivf_centroids
        # stay narrow on purpose — their float means are only
        # deterministic with a single map-side partial per (cell, pos)
        # key (multi-partition merge order is not guaranteed stable
        # across runs).
        from ..sources.tables import widen_scan
        # Eagerly pin the assignment ONCE: the partitioned write, the
        # per-cell counts and the bloom words all read the checkpointed
        # blocks, so build is one corpus assignment pass total (reading
        # the just-written cells back for the sidecar would cost two
        # more full-index jobs; _sidecar_from_cells is the recovery
        # path for a missing/corrupt sidecar only).
        cells = _assign_cells(
            widen_scan(
                embeddings.select(
                    F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("cvec_"),
                )
            ),
            cents,
            "neighbor_id",
            "cvec_",
            n_probe=1,
        ).localCheckpoint()
        (
            cells.repartition("cell_id")
            .write.mode("overwrite")
            .partitionBy("cell_id")
            .parquet(f"{path}/cells")
        )
        idx = IVFIndex(embeddings.sparkSession, path)
        idx._write_sidecar(
            idx._sidecar_merge({}, cells.select("cell_id", "neighbor_id"))
        )
        return idx

    # ---- id sidecar: the bounded idempotency probe ----

    def _bloom_expr(self, id_col: str) -> F.Column:
        """Per-row bloom membership test against the joined `_bloom`
        array (2 xxhash64 lanes over BLOOM_WORDS*64 bits). NULL-safe:
        a cell with no sidecar row (never written to) yields NULL →
        callers coalesce to False (definitely absent)."""
        bits = self.BLOOM_WORDS * 64
        lanes = []
        for seed in ("", ", 7"):
            h = f"pmod(xxhash64({id_col}{seed}), {bits})"
            lanes.append(
                f"(shiftright(element_at(_bloom, cast({h} div 64 as int) + 1),"
                f" cast({h} % 64 as int)) & 1) = 1"
            )
        return F.expr(" AND ".join(lanes))

    def _bloom_words(self, assigned: DataFrame) -> list:
        """(cell_id, word, bits) rows for a batch of assigned ids —
        ≤ n_cells·BLOOM_WORDS rows after the aggregate, driver-tiny
        (the IVF-seeds collect precedent)."""
        bits = self.BLOOM_WORDS * 64
        return (
            assigned.select(
                "cell_id",
                F.explode(
                    F.array(
                        F.expr(f"pmod(xxhash64(neighbor_id), {bits})"),
                        F.expr(f"pmod(xxhash64(neighbor_id, 7), {bits})"),
                    )
                ).alias("h"),
            )
            .select(
                "cell_id",
                F.expr("cast(h div 64 as int)").alias("word"),
                F.expr("shiftleft(1L, cast(h % 64 as int))").alias("b"),
            )
            .groupBy("cell_id", "word")
            .agg(F.expr("bit_or(b)").alias("b"))
            .collect()
        )

    def _bloom_probe(self, ids: DataFrame, side: dict) -> list[int]:
        """The sorted cells whose sidecar bloom may hold any id of
        ``ids`` (a ``neighbor_id`` frame). CELL-AGNOSTIC: every id is
        tested against EVERY cell's bloom (an ids × ≤n_cells broadcast
        cross), because an id may be at rest in a cell other than the
        one it assigns to now (a re-embedded vector moves cells). A
        cell left out is one that definitely holds none of the ids;
        false positives only cost a pruned scan."""
        sidecar_df = self.spark.createDataFrame(
            [(c, s["bloom"]) for c, s in sorted(side.items())]
            or [(None, None)],
            "_scell int, _bloom array<long>",
        ).filter(F.col("_scell").isNotNull())
        return sorted(
            r._scell
            for r in ids.select("neighbor_id")
            .crossJoin(F.broadcast(sidecar_df))
            .filter(self._bloom_expr("neighbor_id"))
            .select("_scell")
            .distinct()
            .collect()
        )

    def _sidecar_from_cells(self) -> dict:
        """Exact rebuild from the at-rest id column (one pruned scan):
        the recovery path when the sidecar is missing/corrupt — always
        a valid superset because it IS the at-rest set."""
        return self._sidecar_merge(
            {},
            self.spark.read.parquet(f"{self.path}/cells").select(
                "cell_id", "neighbor_id"
            ),
        )

    def _sidecar(self) -> dict:
        """The sidecar every writer starts from: the stored one, or the
        exact at-rest rebuild when it is missing or unreadable."""
        side = self._read_sidecar()
        return self._sidecar_from_cells() if side is None else side

    def _read_sidecar(self) -> dict | None:
        try:
            rows = self.spark.read.parquet(f"{self.path}/idstats").collect()
        except Exception:  # missing/corrupt → caller rebuilds (exact)
            return None
        return {
            int(r.cell_id): {
                "n_claimed": int(r.n_claimed),
                "bloom": list(r.bloom),
            }
            for r in rows
        }

    def _write_sidecar(self, side: dict) -> None:
        """Replace ``idstats/`` with ``side`` — the one sidecar writer.

        SUPERSET-FIRST contract: at every instant, crashes included,
        the stored sidecar must claim every id at rest (a false
        negative would let ``add`` append a duplicate). So a writer
        that ADDS ids writes the grown sidecar BEFORE the cell append
        (``add``: a crash in between leaves claims with nothing
        physical, which a retry bloom-collides on and appends exactly
        once), and a writer that REMOVES ids writes the shrunk sidecar
        only AFTER the removal is final (``expunge_deletes``: after
        ``_swap_cells`` has dropped the trash)."""
        # ONE parallelize slice, not coalesce(1): coalescing a
        # default-sliced local collection funnels all 32 Python-worker
        # round-trips (one per slice, mostly empty) through a single
        # task SEQUENTIALLY — measured 4.7 s per sidecar write vs
        # 0.2 s with a 1-slice RDD (this was the single biggest piece
        # of ivf_index_build).
        self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(
                [
                    (c, s["n_claimed"], s["bloom"])
                    for c, s in sorted(side.items())
                ],
                1,
            ),
            "cell_id int, n_claimed long, bloom array<long>",
        ).write.mode("overwrite").parquet(f"{self.path}/idstats")

    def _sidecar_merge(self, side: dict, assigned: DataFrame) -> dict:
        """Fold a batch's ids into the sidecar (bitwise-OR blooms,
        bump n_claimed). Monotone — re-folding the same ids is
        idempotent on the bloom and only inflates the claim count."""
        counts = {
            int(r.cell_id): int(r.n)
            for r in assigned.groupBy("cell_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        for c, n in counts.items():
            side.setdefault(
                c, {"n_claimed": 0, "bloom": [0] * self.BLOOM_WORDS}
            )["n_claimed"] += n
        for r in self._bloom_words(assigned):
            side[int(r.cell_id)]["bloom"][int(r.word)] |= int(r.b)
        return side

    def add(
        self,
        embeddings: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dedupe: bool = True,
    ) -> "IVFIndex":
        with self._acquire_lease("add"):
            return self._add_locked(embeddings, id_col, vec_col, dedupe)

    def _add_locked(
        self,
        embeddings: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dedupe: bool = True,
    ) -> "IVFIndex":
        """Incremental ingestion against FROZEN centroids (the
        BM25Index.merge story for ANN): new vectors are assigned to
        the existing coarse cells (one broadcast-assign pass) and
        APPENDED to the cell-partitioned parquet — no retrain, no
        rewrite of existing cells' files. Queries over the grown
        index equal a same-centroid assignment of the union corpus
        (parity-pinned in tests/test_similarity.py). Centroid drift
        under heavy growth is the standard trade-off: re-run build
        when the added fraction gets large (Lucene-style segment
        hygiene).

        ``dedupe=True`` (default) makes add IDEMPOTENT (a retried
        ingestion job re-adding the same batch must not duplicate
        vectors in the cell files and change query results): ids
        already in the index are anti-joined out before the append —
        an id-column-pruned scan of the existing cells, which a
        retried batch job affords — and the incoming batch is ALSO
        deduped on id (a batch that is itself a union of retry
        attempts would otherwise append both copies). Only EXACT retry
        duplicates are safe to collapse — the same id arriving with
        two DIFFERENT vectors WITHIN the batch is a caller bug (two
        writers disagree about the vector), so dedupe raises
        ValueError instead of silently keeping an arbitrary copy.
        ACROSS calls the index wins: an id already at rest is
        anti-joined out BEFORE the conflict check, so a changed vector
        for an existing id is dropped, not detected — re-embedding
        requires a rebuild (the existing-beats-batch priority;
        detecting it would mean scanning the at-rest vectors per add).
        Set ``dedupe=False`` only when the caller guarantees
        disjointness upstream (e.g. an exactly-once writer), skipping
        the probe and the conflict check (the documented
        zero-read-amplification scale path).

        BOUNDED idempotency probe (never a scan of the at-rest id
        column of the WHOLE index per batch): the batch ids go through
        ``_bloom_probe`` against the ``idstats/`` sidecar; only the
        colliding cells' id columns are scanned (partition-pruned
        ``isin``), and a batch of genuinely new ids skips the at-rest
        scan entirely (``last_probe_cells == []``). Correctness never
        depends on the bloom — it only prunes definite-absent rows;
        survivors still get the exact anti-join. The surviving ids are
        claimed in the sidecar BEFORE the cell append (the
        ``_write_sidecar`` superset-first contract). ``dedupe=False``
        appends still fold their ids in, keeping later probed adds
        sound.

        SINGLE-WRITER contract (like the BM25 ingestion workdir):
        concurrent add() calls could interleave sidecar writes and
        lose claims (a lost claim = a possible duplicate append), and
        compact_cells must not run concurrently with add() on the
        same path. This is ENFORCED, not honor-system: both
        take the ``_writer_lease`` file (atomic O_CREAT|O_EXCL; a
        second writer gets a loud RuntimeError instead of a silent
        superset violation; leases older than LEASE_TTL_S are stolen
        as crashed holders). The streaming wiring serializes both
        inside one foreachBatch loop, which is the supported shape."""
        batch = embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec_"),
        )
        # normalize to the at-rest vector type:
        # a float32-built index receiving an array<double> batch would
        # append DOUBLE parquet pages into the same cell dirs — later
        # reads fail with PARQUET_COLUMN_DATA_TYPE_MISMATCH depending
        # on which footer schema inference lands on. One schema probe,
        # no data pass; also makes exact-retry dedupe see a re-sent
        # batch as equal regardless of the sender's float width.
        at_rest = self.spark.read.parquet(f"{self.path}/cells").schema
        batch = batch.withColumn(
            "cvec_", F.col("cvec_").cast(at_rest["cvec_"].dataType)
        )
        tomb = self._tombstones()
        if tomb is not None:
            # delete() contract: a tombstoned id can't be re-added —
            # the at-rest copy would win the idempotency anti-join
            # while the serve-time tombstone filter killed BOTH
            # copies (silent loss); expunge first. Checked for
            # dedupe=False too (a blind append would resurrect rows
            # the tombstone then hides).
            dead = [
                r.neighbor_id
                for r in batch.join(F.broadcast(tomb), "neighbor_id")
                .select("neighbor_id")
                .limit(5)
                .collect()
            ]
            if dead:
                raise ValueError(
                    "IVFIndex.add: batch contains tombstoned ids "
                    f"(e.g. {dead}); run expunge_deletes() before "
                    "re-adding a deleted vector"
                )
        if dedupe:
            # collapse exact retry duplicates first; what survives with
            # >1 row per id carries conflicting vectors — refuse loudly.
            # The deduped batch is eagerly pinned:
            # without the checkpoint the upstream batch lineage re-runs
            # for the conflict probe, the anti-join AND the write — and
            # a nondeterministic upstream could pass the check yet
            # write different rows.
            batch = batch.dropDuplicates(
                ["neighbor_id", "cvec_"]
            ).localCheckpoint()
            conflicts = [
                r.neighbor_id
                for r in batch.groupBy("neighbor_id")
                .count()
                .filter(F.col("count") > 1)
                .limit(5)
                .collect()
            ]
            if conflicts:
                raise ValueError(
                    "IVFIndex.add: batch contains the same id with "
                    f"different vectors (e.g. ids {conflicts}); "
                    "resolve upstream — add() only collapses exact "
                    "retry duplicates"
                )
        assigned = _assign_cells(
            batch, self.centroids, "neighbor_id", "cvec_", n_probe=1
        ).localCheckpoint(eager=False)
        side = self._sidecar()
        self.last_probe_cells = []
        if dedupe:
            self.last_probe_cells = self._bloom_probe(assigned, side)
            if self.last_probe_cells:
                existing = (
                    self.spark.read.parquet(f"{self.path}/cells")
                    .filter(F.col("cell_id").isin(self.last_probe_cells))
                    .select("neighbor_id")
                )
                assigned = assigned.join(
                    existing, "neighbor_id", "left_anti"
                ).localCheckpoint(eager=False)
        # superset-first: claim the surviving ids in the sidecar
        # BEFORE the cell append (``_write_sidecar``)
        self._write_sidecar(self._sidecar_merge(side, assigned))
        (
            assigned.repartition("cell_id")
            .write.mode("append")
            .partitionBy("cell_id")
            .parquet(f"{self.path}/cells")
        )
        return self

    # Writer-lease TTL: a holder that has not refreshed (mtime) for
    # this long is presumed crashed and its lease is stolen. Far above
    # any single add()/compact_cells() call at micro-batch scale.
    LEASE_TTL_S = 600.0

    def _acquire_lease(self, op: str):
        """Single-writer guard: ``add`` and
        ``compact_cells`` take a lease file under the index root so a
        second concurrent writer fails LOUDLY instead of silently
        losing sidecar claims (the documented superset violation).
        O_CREAT|O_EXCL is the atomic claim; a lease older than
        ``LEASE_TTL_S`` is treated as a crashed holder and stolen.
        Returns a context manager releasing the lease on exit —
        including on error, so a raising add() doesn't wedge the
        index. This guards WRITERS only; readers never look at it."""
        import contextlib
        import os
        import time

        lease = os.path.join(self.path, "_writer_lease")
        # the nonce makes the release self-verifying: only the writer
        # whose claim is CURRENT unlinks (a TTL stealer
        # owns the file after expiry; the expired holder's finally
        # must not delete the stealer's lease out from under it)
        nonce = f"pid={os.getpid()} op={op} nonce={os.urandom(8).hex()}"

        @contextlib.contextmanager
        def held():
            while True:
                try:
                    fd = os.open(
                        lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                    )
                    break
                except FileExistsError:
                    pass
                try:
                    age = time.time() - os.path.getmtime(lease)
                except FileNotFoundError:
                    continue  # holder released between open and stat
                if age < self.LEASE_TTL_S:
                    try:
                        with open(lease) as f:
                            holder = f.read().strip()
                    except FileNotFoundError:
                        continue  # released under us — retry the claim
                    raise RuntimeError(
                        f"IVFIndex.{op}: another writer holds the "
                        f"lease on {self.path} ({holder}, age "
                        f"{age:.0f}s < TTL {self.LEASE_TTL_S:.0f}s); "
                        "concurrent add/compact_cells would lose "
                        "sidecar claims — serialize writers (the "
                        "single-writer contract) or remove the stale "
                        "lease if the holder is known dead"
                    )
                # stale holder: unlink then retry the EXCLUSIVE claim —
                # of N concurrent stealers exactly one wins the
                # recreate (the old rewrite-in-place steal let every
                # stealer that saw age>=TTL proceed: a TOCTOU race)
                try:
                    os.unlink(lease)
                except FileNotFoundError:
                    pass
            try:
                os.write(fd, nonce.encode())
                os.close(fd)
                yield
            finally:
                try:
                    with open(lease) as f:
                        current = f.read().strip()
                    if current == nonce:
                        os.unlink(lease)
                    # else: a TTL stealer claimed after our expiry —
                    # the lease is theirs now, leave it
                except FileNotFoundError:
                    pass

        return held()

    # ---- deletes: the ANN twin of BM25Index tombstones ----

    def delete(self, vec_ids) -> "IVFIndex":
        """Tombstone deletion for ANN serving — the BM25Index.delete
        analog: a deleted vector disappears from every subsequent
        ``query`` immediately (anti-joined from the probed cells),
        while the physical cell rows and the bloom sidecar's claims
        persist until ``expunge_deletes`` (the sidecar stays a valid
        SUPERSET). Accepts a list of ids or a 1-column DataFrame;
        duplicates and unknown ids are harmless (the store is
        ``sources.tables._append_tombstones``). Re-adding a deleted
        id is REFUSED by ``add`` until expunged: the at-rest copy
        would win the idempotency anti-join while the tombstone killed
        both copies at serve time — silent data loss, so it fails
        loudly instead. Lease-guarded like every writer."""
        with self._acquire_lease("delete"):
            _append_tombstones(self.spark, self.path, vec_ids, "neighbor_id")
        return self

    def _tombstones(self) -> DataFrame | None:
        """The deleted neighbor_ids, or None when there are none — read
        semantics of ``sources.tables._read_tombstones``."""
        return _read_tombstones(self.spark, self.path, "neighbor_id")

    def expunge_deletes(self) -> dict:
        with self._acquire_lease("expunge_deletes"):
            return self._expunge_locked()

    def _expunge_locked(self) -> dict:
        """Physically remove tombstoned vectors: ``_bloom_probe`` the
        tombstones to the cells that can hold one (a tombstoned id's
        cells collide by the superset invariant), rewrite ONLY those
        cells minus the tombstones through ``_swap_cells``, rebuild
        the rewritten cells' sidecar rows exactly from the retained
        frame (one checkpointed pruned pass — the build() lesson),
        then clear the tombstones.

        The shrunk sidecar is written after the swap (the
        ``_write_sidecar`` contract) and the tombstones are removed
        LAST, so every crash leaves a correct re-run: an interrupted
        swap is finished by ``_recover_compaction`` (an all-deleted
        cell restored from trash is re-selected by the old superset
        sidecar and re-expunged), and a crash before tombstone removal
        leaves an idempotent re-run.

        Returns {"expunged_cells", "n_removed"}."""
        import shutil

        self._recover_compaction()
        tomb = self._tombstones()
        if tomb is None:
            return {"expunged_cells": [], "n_removed": 0}
        tomb = tomb.localCheckpoint()
        side = self._sidecar()
        cand = self._bloom_probe(tomb, side)
        n_removed = 0
        if cand:
            live = self.spark.read.parquet(f"{self.path}/cells").filter(
                F.col("cell_id").isin(cand)
            )
            retained = (
                live.join(F.broadcast(tomb), "neighbor_id", "left_anti")
                .select(live.columns)
                .localCheckpoint()
            )
            n_removed = live.count() - retained.count()
            self._swap_cells(retained, cand)
            # exact sidecar rows for the rewritten cells, from the
            # already-checkpointed retained frame
            for c in cand:
                side[c] = {"n_claimed": 0, "bloom": [0] * self.BLOOM_WORDS}
            side = self._sidecar_merge(side, retained)
            # a fully-emptied cell keeps no sidecar row (its dir is gone
            # too), so the at-rest rebuild recipe reproduces this sidecar
            # exactly
            self._write_sidecar(
                {
                    c: s
                    for c, s in side.items()
                    if s["n_claimed"] > 0 or any(s["bloom"])
                }
            )
        shutil.rmtree(f"{self.path}/tombstones", ignore_errors=True)
        return {"expunged_cells": cand, "n_removed": int(n_removed)}

    def _swap_cells(self, frame: DataFrame, cells: list[int]) -> None:
        """Replace the live dirs of ``cells`` with ``frame``'s rows
        (cell-partitioned, as at rest) — the one crash-safe cell
        rewrite behind ``compact_cells`` and ``expunge_deletes``.

        ``frame`` is written to ``_compact_tmp`` first; then, per cell,
        the live dir moves to ``_compact_trash`` and the rewritten dir
        moves in. A cell the rewrite produced no dir for holds no rows,
        so its live dir simply goes. A cell with no live dir (sidecar
        claims whose append never happened) has nothing to move out.
        Crash order: ``_recover_compaction`` restores any trash dir
        whose live twin is missing, so a crash between the two renames
        loses nothing. The trash is removed before this returns, i.e.
        before any sidecar write that follows (the ``_write_sidecar``
        contract); ``_compact_tmp`` goes last."""
        import os
        import shutil

        cells_root = os.path.join(self.path, "cells")
        tmp = os.path.join(self.path, "_compact_tmp")
        trash = os.path.join(self.path, "_compact_trash")
        shutil.rmtree(tmp, ignore_errors=True)
        (
            frame.repartition("cell_id")
            .write.mode("overwrite")
            .partitionBy("cell_id")
            .parquet(tmp)
        )
        shutil.rmtree(trash, ignore_errors=True)
        os.makedirs(trash)
        for c in cells:
            src = os.path.join(tmp, f"cell_id={c}")
            dst = os.path.join(cells_root, f"cell_id={c}")
            if os.path.isdir(dst):
                os.rename(dst, os.path.join(trash, f"cell_id={c}"))
            if os.path.isdir(src):
                os.rename(src, dst)
        shutil.rmtree(trash)
        shutil.rmtree(tmp, ignore_errors=True)

    def _recover_compaction(self) -> None:
        """Finish an interrupted ``_swap_cells``: any cell dir stranded
        in ``_compact_trash`` whose live twin is missing is restored
        (the crash hit between the two renames); twins that exist mean
        the swap completed — the trash copy is stale and dropped.
        No-op when no trash dir exists."""
        import os
        import shutil

        trash = os.path.join(self.path, "_compact_trash")
        if not os.path.isdir(trash):
            return
        cells_root = os.path.join(self.path, "cells")
        for d in os.listdir(trash):
            live = os.path.join(cells_root, d)
            if not os.path.exists(live):
                os.rename(os.path.join(trash, d), live)
        shutil.rmtree(trash, ignore_errors=True)
        shutil.rmtree(
            os.path.join(self.path, "_compact_tmp"), ignore_errors=True
        )

    def compact_cells(self, max_files_per_cell: int = 8) -> dict:
        with self._acquire_lease("compact_cells"):
            return self._compact_cells_locked(max_files_per_cell)

    def _compact_cells_locked(self, max_files_per_cell: int = 8) -> dict:
        """Cell-file hygiene for incremental ingestion (``add``
        appends ≥1 parquet file per touched cell per call, so
        minute-level micro-batches accrue thousands of small files per
        cell and every pruned query pays per-file open cost). Rewrites
        ONLY cells whose file count exceeds ``max_files_per_cell`` —
        one partition-pruned read of those cells through
        ``_swap_cells`` (each cell lands in exactly one task → one
        output file; a cell whose files hold zero rows ends with no
        dir). Query results are unchanged (parity-pinned in tests);
        the id sidecar is untouched (the id SET is invariant).
        Self-noops below the threshold, so ingestion can call it every
        batch (the tiered-BM25 cadence).

        Coordination caveat (the BM25 one-flip-later analog): the
        swap deletes the pre-compaction files, so run it from the
        ingestion loop between batches, not concurrently with
        queries against the same index path. A real deployment would
        additionally bound file SIZE (maxRecordsPerFile) — out of
        scope for file-count hygiene.

        Returns {"compacted_cells", "files_before", "files_after"}."""
        import os

        self._recover_compaction()
        cells_root = os.path.join(self.path, "cells")

        def n_files(c: int) -> int:
            d = os.path.join(cells_root, f"cell_id={c}")
            if not os.path.isdir(d):
                return 0
            return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

        cells = (
            int(d.split("=", 1)[1])
            for d in os.listdir(cells_root)
            if d.startswith("cell_id=")
        )
        counts = {c: n_files(c) for c in cells}
        over = {c: n for c, n in counts.items() if n > max_files_per_cell}
        if over:
            self._swap_cells(
                self.spark.read.parquet(cells_root).filter(
                    F.col("cell_id").isin(sorted(over))
                ),
                sorted(over),
            )
        return {
            "compacted_cells": sorted(over),
            "files_before": sum(over.values()),
            "files_after": sum(n_files(c) for c in over),
        }

    def ingest_conflict_audit(
        self,
        batch: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        scale: int = FX,
    ) -> DataFrame:
        """Re-embed conflict VISIBILITY for incremental ingestion:
        ``add`` anti-joins ids already at rest out of the batch BEFORE
        its conflict guard can see them, so a changed vector for an
        existing id is dropped lake-wins, undetectably.
        This audit is the detection pass a deployment runs at its own
        cadence: join the batch against the at-rest cell vectors on
        id, fixed-point-compare the vectors (round(x·scale) per dim —
        the topk_cosine quantization), and emit one row per
        already-indexed batch id:

            (id, n_diff_dims, verdict ∈ {identical_dup,
             conflicting_drop})

        identical_dup = a harmless retry duplicate (add's anti-join
        did the right thing); conflicting_drop = a re-embedded vector
        the lake silently beat — the caller's signal to rebuild or
        re-route. Ids NOT yet at rest are absent (nothing was
        dropped for them). Dimension mismatches count as differing
        dims (zip_with pads with NULL; null-safe compare).

        Scale shape: the batch side is micro-batch-sized and
        broadcast; the at-rest side is one column-pruned scan of the
        cell files (an id equi-join cannot partition-prune cells —
        this is an audit pass, not a serve path)."""
        at_rest = self.spark.read.parquet(f"{self.path}/cells").select(
            F.col("neighbor_id").alias("_id"),
            F.col("cvec_").alias("_rest"),
        )
        b = batch.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_new")
        )
        qz = lambda c: F.transform(  # noqa: E731
            c, lambda x: F.round(x.cast("double") * scale).cast("long")
        )
        ndiff = F.aggregate(
            F.zip_with(
                qz(F.col("_new")),
                qz(F.col("_rest")),
                lambda x, y: F.when(x.eqNullSafe(y), F.lit(0))
                .otherwise(F.lit(1))
                .cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        return (
            F.broadcast(b)
            .join(at_rest, "_id")
            .select(
                F.col("_id").alias(id_col),
                ndiff.alias("n_diff_dims"),
            )
            .select(
                id_col,
                "n_diff_dims",
                F.when(F.col("n_diff_dims") == 0, F.lit("identical_dup"))
                .otherwise(F.lit("conflicting_drop"))
                .alias("verdict"),
            )
        )

    def staleness_audit(self) -> DataFrame:
        """Staleness / skew audit for the serving index: after many ``add`` batches against FROZEN centroids, cell
        balance degrades and recall decays silently. Per live cell:

            (cell_id, n_vecs, n_drifted, skew_milli)

        - n_vecs: at-rest cell population.
        - n_drifted: vectors whose RECORDED cell is no longer their
          argmax-affinity cell under the CURRENT centroids (0 for a
          freshly built/grown index by construction — it fires when
          centroids were retrained without reassignment, i.e. the
          exact integrity breach a partial rebuild leaves).
        - skew_milli: (1000·max cell count) div (lower-median cell
          count) over the populated cells — the re-train trigger: a
          drifting insert distribution piles into few cells and this
          ratio crosses the caller's threshold long before recall
          visibly decays.

        All exact integers over affinities (Σ round(x·c·FX), the
        assignment's own math). One scan of the cells parquet with the
        ≤n_cells centroids as literals (map-only) + one domain-sized
        aggregate; the skew window runs over the ≤n_cells counts
        frame, never the corpus. Rows-only surface (IVF centroids are
        double means — not hash-portable); the oracle-checked twin is
        ``imi_cell_skew_audit`` over the PQ coarse cells."""
        cents = self._centroid_rows()
        pairs = [
            F.struct(
                _fx_dot(
                    F.col("cvec_"),
                    lit_doubles(r.cvec),
                ).alias("aff"),
                F.lit(-int(r.cell_id)).alias("negcid"),
            )
            for r in cents
        ]
        cells = self.spark.read.parquet(f"{self.path}/cells")
        # materialize the argmax struct once, split in a later
        # projection (the kmeans argmin idiom)
        b = cells.select(
            "cell_id", F.greatest(*pairs).alias("_b")
        ).select(
            "cell_id", (-F.col("_b.negcid")).cast("int").alias("best_cid")
        )
        # pin the ≤n_cells frame: three consumers with different
        # projections would re-run the cells scan + affinity folds
        # per consumer otherwise (Catalyst does not reuse exchanges
        # across differently-pruned consumers)
        per = b.groupBy("cell_id").agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum(
                F.when(F.col("best_cid") != F.col("cell_id"), 1)
                .otherwise(0)
                .cast("long")
            ).alias("n_drifted"),
        ).localCheckpoint(eager=False)
        ranked = per.select("n_vecs").withColumn(
            "rn", F.row_number().over(Window.orderBy("n_vecs"))
        )
        stats = per.agg(
            F.max("n_vecs").alias("mx"), F.count("*").alias("c")
        )
        med = (
            ranked.join(F.broadcast(stats))
            .filter(F.col("rn") == F.expr("(c + 1) div 2"))
            .select(F.col("n_vecs").alias("med"), "mx")
        )
        summary = med.select(
            F.expr("cast((1000 * mx) div med as bigint)").alias(
                "skew_milli"
            )
        )
        return per.crossJoin(F.broadcast(summary)).select(
            "cell_id", "n_vecs", "n_drifted", "skew_milli"
        )

    def _centroid_rows(self) -> list:
        """The centroid rows, collected once per instance."""
        if self._cent_rows is None:
            self._cent_rows = _centroid_rows(self.centroids)
        return self._cent_rows

    def _cells(self) -> DataFrame:
        """The at-rest cells relation. Its schema is inferred once per
        instance, so later reads run no schema-inference job; the file
        listing stays per call, so cells appended by ``add`` are seen.
        A listing with no part file (a reaped dir) is read without the
        schema, so it fails as an unreadable index instead of serving
        an empty corpus."""
        cells = f"{self.path}/cells"
        if self._cells_schema is None:
            self._cells_schema = self.spark.read.parquet(cells).schema
        rel = self.spark.read.schema(self._cells_schema).parquet(cells)
        return rel if rel.inputFiles() else self.spark.read.parquet(cells)

    def query(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 6,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Same output contract as topk_cosine_ivf, but the corpus
        side is the persisted, cell-partitioned index.

        SELECTIVE-BATCH CONTRACT: the query table must fit in a
        broadcast — its n_probe rows per query are collected for the
        probe set and broadcast into the cell join, so a corpus-sized
        query table does not fit this path (shard it, or use
        ``topk_cosine_ivf``). Probe cells are assigned map-only, and
        the assigned (query_id, qvec_, cell_id) rows are pinned once
        per call: the probe-set collect and the broadcast both read
        the pinned blocks, so the caller's lineage runs exactly once.
        The centroid rows and the cells schema are cached per
        instance."""
        query_cells = _assign_cells(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec_")),
            self._centroid_rows(),
            "query_id",
            "qvec_",
            n_probe=n_probe,
        ).localCheckpoint(eager=True)
        probed = sorted({r.cell_id for r in query_cells.select("cell_id").collect()})
        corpus_cells = self._cells().filter(F.col("cell_id").isin(probed))
        tomb = self._tombstones()
        if tomb is not None:
            # delete() contract: tombstoned vectors vanish from
            # results now; the physical rows (and the sidecar's
            # superset claims) persist until expunge_deletes
            corpus_cells = corpus_cells.join(
                F.broadcast(tomb), "neighbor_id", "left_anti"
            )
        return _ivf_rank(corpus_cells, query_cells, k)


def _ivf_rank(corpus_cells: DataFrame, query_cells: DataFrame, k: int) -> DataFrame:
    """The shared IVF scoring tail: join the (cell_id, neighbor_id,
    cvec_) corpus rows with the broadcast (cell_id, query_id, qvec_)
    probe table, score exact cosine, take top-k per query. Used by
    both ``topk_cosine_ivf`` and the at-rest ``IVFIndex.query``, so
    the two stay in lockstep (the retrieval._bm25_rank rule). The
    candidates are partitioned once by query_id, so the distinct and
    the top-k window share that one shuffle."""
    cand = corpus_cells.join(F.broadcast(query_cells), "cell_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = (
        cand.select(
            "query_id",
            "neighbor_id",
            cosine_fx(F.col("qvec_"), F.col("cvec_")).alias("score"),
        )
        .repartition("query_id")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def topk_cosine_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via IVF: corpus partitioned into ``n_cells`` by
    nearest centroid; each query probes its ``n_probe`` nearest cells
    and scores only those vectors exactly.

    Scale shape: corpus assignment is one broadcast join + one write
    (amortized across queries if persisted, e.g. bucketed by
    cell_id); the query join is an equi-join on cell_id — candidates
    ≈ corpus × n_probe / n_cells, never corpus².
    """
    cents = _centroid_rows(
        ivf_centroids(embeddings, k=n_cells, id_col=id_col, vec_col=vec_col)
    )
    corpus_cells = _assign_cells(
        embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec_")),
        cents, "neighbor_id", "cvec_", n_probe=1,
    )
    query_cells = _assign_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec_")),
        cents, "query_id", "qvec_", n_probe=n_probe,
    )
    return _ivf_rank(corpus_cells, query_cells, k)


# ------------------------------------------- md5-portable SRP LSH

def srp_grid(
    spark,
    bands: int = 8,
    bits: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Deterministic signed-random-projection hyperplanes as a table:
    (band, bit, d, s) with s ∈ {-1, +1} derived from
    md5(band:bit:d) — the same engine-portable-hash trick as the
    winnowing fingerprints, so an SQL oracle can regenerate the
    EXACT planes. bands*bits*dim rows (8·16·64 = 8192) — broadcast
    scale by construction."""
    n = bands * bits * dim
    base = spark.range(n).select(
        (F.col("id") / (bits * dim)).cast("int").alias("band"),
        ((F.col("id") / dim).cast("long") % bits).cast("int").alias("bit"),
        (F.col("id") % dim).cast("int").alias("d"),
    )
    key = F.concat_ws(
        ":",
        F.col("band").cast("string"),
        F.col("bit").cast("string"),
        F.col("d").cast("string"),
    )
    s = F.when(
        F.conv(F.substring(F.md5(key), 1, 1), 16, 10).cast("int") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return base.select("band", "bit", "d", s.cast("long").alias("s"))


def srp_signatures(
    embeddings: DataFrame,
    bands: int = 8,
    bits: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector banded SRP signatures (vec_id, band, bucket):
    band b's bucket packs the sign bits of that band's ``bits``
    hyperplane projections. Fully deterministic — fixed-point
    quantized components (round(x·FX) bigint), md5-derived ±1 planes,
    exact integer projections — so the whole signature computation is
    oracle-checkable row by row, unlike the xxhash64-seeded MinHash
    family.

    Shape (100 TB): posexplode the RAW vector once (64 rows/vec),
    map-side broadcast join against the 8192-row plane grid, ONE
    partial-aggregated shuffle keyed (vec_id, band, bit) — the
    8192-term per-vector fan exists only inside map-side combine —
    then a second tiny agg packs bits per (vec_id, band). No
    expression fans (the projection-collapse lesson), no Python."""
    grid = srp_grid(embeddings.sparkSession, bands, bits, dim)
    xq = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(vec_col).alias("d", "x"),
    ).select(
        "vec_id",
        "d",
        F.round(F.col("x").cast("double") * FX).cast("long").alias("xq"),
    )
    proj = (
        xq.join(F.broadcast(grid), "d")
        .groupBy("vec_id", "band", "bit")
        .agg(F.sum(F.col("xq") * F.col("s")).alias("p"))
    )
    return (
        proj.groupBy("vec_id", "band")
        .agg(
            F.sum(
                F.when(F.col("p") > 0, F.expr("shiftleft(1L, bit)")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("bucket")
        )
        .select("vec_id", "band", F.col("bucket").cast("long").alias("bucket"))
    )


def srp_near_pairs(
    embeddings: DataFrame,
    threshold: float = 0.85,
    bands: int = 8,
    bits: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Non-quadratic near-duplicate pairs: SRP bucket collisions as
    candidates, exact fixed-point cosine as the verify. Columns
    (id_a, id_b, score), a<b, score > threshold. Candidate volume is
    Σ_cells C(size, 2) — bucket-bounded, never all-pairs — and every
    stage is deterministic, so the full pipeline (not just the
    verify) carries a SQL oracle. Recall follows the SRP collision
    curve (1-θ/π)^bits per band across ``bands`` bands — tuned for
    the high-cosine regime (defaults: 8×16 at 0.85, the 100 TB
    semantic-dedup setting in SCALE.md)."""
    # The signature lineage (posexplode + broadcast grid join + two
    # aggs over the corpus) feeds BOTH sides of the bucket self-join;
    # without a checkpoint Catalyst re-runs it per side (no exchange
    # reuse across the differing aliases — the r13s2 plan-audit class).
    # One materialization serves sa and sb.
    sig = srp_signatures(
        embeddings, bands, bits, dim, id_col, vec_col
    ).localCheckpoint(eager=False)
    cand = (
        sig.alias("sa")
        .join(
            sig.alias("sb"),
            (F.col("sa.band") == F.col("sb.band"))
            & (F.col("sa.bucket") == F.col("sb.bucket"))
            & (F.col("sa.vec_id") < F.col("sb.vec_id")),
        )
        .select(
            F.col("sa.vec_id").alias("id_a"),
            F.col("sb.vec_id").alias("id_b"),
        )
        .distinct()
        # Explicit width for the verify stage: the candidate rows are
        # bytes-tiny, so AQE coalesces them to ONE partition — but the
        # per-row work (a 64-element fixed-point dot; HOF exprs are
        # interpreted, not codegen'd) is what needs spreading. An
        # explicit repartition is exempt from AQE coalescing.
        .repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
    )
    # Norms precomputed once per VECTOR below the join (the
    # topk_cosine shape) — cosine_fx on the joined pair would
    # re-derive both 64-element norm folds per CANDIDATE, tripling
    # the verify's dominant cost (measured 3x at sf0.1 with the
    # permissive bits=8 gate banding). Same expression order as the
    # oracle (sqrt per side, then multiply), so scores stay
    # bit-identical.
    # vecs (with its interpreted 64-element norm fold) feeds both the
    # va and vb join sides — checkpoint so the fold runs once per
    # vector, not once per side (same class as sig above).
    vecs = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.sqrt(_fx_dot(F.col(vec_col), F.col(vec_col))).alias("nrm"),
    ).localCheckpoint(eager=False)
    va = vecs.select(
        F.col("vid").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    vb = vecs.select(
        F.col("vid").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                _fx_dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
            ).alias("score"),
        )
        .filter(F.col("score") > threshold)
        .select("id_a", "id_b", "score")
    )


# ---- Product quantization (PQ / ADC): the compressed-scan path ----------

# Product quantization (Jégou, Douze, Schmid: "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011): split each vector into M
# subvectors, learn a K-centroid codebook per subspace, store each
# vector as M small codes (here 8 subspaces × 4-bit codes = one
# 32-bit word — a 64× memory cut vs 64 float64 dims). Queries score
# against codes with an Asymmetric Distance Computation lookup table
# (K×M integers per query), never touching raw vectors.
#
# Determinism recipe is kmeans_lloyd's, applied per subspace in one
# pass: KM_FX-quantized coords, exact integer distances, (dist2, cid)
# tie-break, Python-floor-div centroid updates, seeds = the K
# smallest ids. Every step replays bit-for-bit in SQL, so BOTH the
# code assignment and the ADC top-k are oracle-checkable — unusual
# for an ANN operator.
#
# Scale shape: training state is tiny (M×K×subdim longs) and rides
# the plan as literals → assignment is MAP-ONLY (no join, no
# shuffle); the per-iteration update shuffles M×K×subdim×partitions
# partial-agg rows, not data; ADC scoring is map-only against a
# literal LUT with a top-k window as the only data-sized shuffle.

PQ_M = 8        # subspaces (M * PQ_SUBDIM = 64 = fixture dim)
PQ_SUBDIM = 8   # dims per subspace
PQ_K = 16       # centroids per subspace -> 4-bit codes
PQ_ITERS = 2    # assignment rounds (updates = PQ_ITERS - 1)


def _pq_quantized(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            vec_col, lambda x: F.round(x.cast("double") * KM_FX).cast("long")
        ).alias("qv"),
    )

def _pq_assign(q: DataFrame, cents, m: int, subdim: int) -> DataFrame:
    """Map-only PQ assignment: per subspace, argmin over the literal
    centroids (k = len(cents[s]) — clamped by _pq_train when the
    corpus has fewer than PQ_K vectors); one materialized struct
    _b{s} per subspace (cid, dist2), split in a later projection (the
    kmeans argmin idiom — field access in the same select would clone
    the fold per field).
    """
    k = len(cents[0])
    sel = [F.col("vec_id"), F.col("qv")]
    for s in range(m):
        sub_arr = F.slice("qv", s * subdim + 1, subdim)
        pairs = []
        for j in range(k):
            arr = lit_longs(cents[s][j])
            d = F.aggregate(
                F.zip_with(sub_arr, arr, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            pairs.append(F.struct(d.alias("dist2"), F.lit(j).alias("cid")))
        sel.append(F.least(*pairs).alias(f"_b{s}"))
    return q.select(*sel)


def _pq_train(q: DataFrame, m: int, subdim: int, k: int, iters: int):
    """Seeded per-subspace Lloyd: returns the FINAL codebooks
    cents[sub][cid] (list of subdim ints) after iters-1 updates; the
    caller runs the last assignment itself. Seeds are the K smallest
    ids' subvectors; empty clusters keep their previous centroid.
    Each update collect is M×K×subdim longs — driver-tiny (1024
    here), same legitimacy class as the kmeans/IVF seed collects.

    A corpus with fewer than k vectors clamps k to the seed count —
    the SQL oracle's LIMIT k degrades the same way, so the two sides
    stay in lockstep on tiny/drifted fixtures."""
    seeds = [list(r.qv) for r in q.orderBy("vec_id").limit(k).collect()]
    if not seeds:
        raise ValueError("pq: empty embeddings input")
    k = min(k, len(seeds))
    cents = [
        [seeds[c][s * subdim : (s + 1) * subdim] for c in range(k)]
        for s in range(m)
    ]
    for _ in range(iters - 1):
        a = _pq_assign(q, cents, m, subdim)
        ex = a.select(
            F.array(*[F.col(f"_b{s}.cid") for s in range(m)]).alias("cids"),
            F.posexplode("qv").alias("pos", "v"),
        )
        upd = (
            ex.select(
                F.floor(F.col("pos") / subdim).cast("int").alias("sub"),
                F.pmod("pos", F.lit(subdim)).alias("spos"),
                "cids",
                "v",
            )
            .select(
                "sub",
                F.element_at("cids", F.col("sub") + 1).alias("cid"),
                "spos",
                "v",
            )
            .groupBy("sub", "cid", "spos")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = [[list(c) for c in sub] for sub in cents]
        for r in upd:
            new[r.sub][r.cid][r.spos] = r.s // r.n  # Python floor div
        cents = new
    return cents


def imi_cell_skew_audit(
    q: DataFrame, cents, subdim: int = 8
) -> DataFrame:
    """Cell-balance / staleness audit over the IMI coarse cells
    — the ORACLE-checked twin of
    ``IVFIndex.staleness_audit`` (IVF centroids are double means, not
    hash-portable; PQ's subspace-0 codebook is the integer-exact
    coarse quantizer the IMI serve paths prune on). Per populated
    coarse cell:

        (cell0, n_vecs, sum_dist2, sum_margin, skew_milli)

    - sum_dist2: Σ own-centroid subdistance — the quantization-error
      mass (rises as inserted data drifts off the frozen codebook).
    - sum_margin: Σ (second-best − best) subdistance — the assignment
      confidence mass; thin margins mean vectors sit on cell
      boundaries, the recall-decay precursor.
    - skew_milli: (1000·max cell count) div (lower-median cell count)
      over populated cells — the re-train trigger ratio.

    All exact integers (the PQ fixed-point chain), so the WHOLE audit
    hash-checks against the unrolled-SQL oracle. ``q`` is the
    ``_pq_quantized`` frame; ``cents`` the trained codebooks. One
    map-only scan (16 literal-centroid distance folds over the sub-0
    slice) + one ≤k-sized aggregate; the skew window runs over the
    ≤k counts frame."""
    k = len(cents[0])
    if k < 2:
        raise ValueError(
            "imi_cell_skew_audit: need >= 2 coarse cells (margin is "
            "second-best minus best)"
        )
    sub_arr = F.slice("qv", 1, subdim)
    pairs = []
    for j in range(k):
        arr = lit_longs(cents[0][j])
        d = F.aggregate(
            F.zip_with(sub_arr, arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        pairs.append(F.struct(d.alias("dist2"), F.lit(j).alias("cid")))
    # materialize the distance array + argmin struct once, split in a
    # later projection (the kmeans argmin idiom)
    base = q.select(F.array(*pairs).alias("_ds")).select(
        F.array_min("_ds").alias("_b"), "_ds"
    )
    rows = base.select(
        F.col("_b.cid").alias("cell0"),
        F.col("_b.dist2").alias("own_d"),
        F.array_min(
            F.filter("_ds", lambda s: s["cid"] != F.col("_b.cid"))
        )["dist2"].alias("sec_d"),
    )
    # per feeds THREE consumers (output rows, the median window, the
    # max/count agg) with different projections — without the pin the
    # whole corpus map-scan re-runs per consumer (PLANS.md showed 3
    # scans). ≤k rows — pin is free.
    per = rows.groupBy("cell0").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("own_d").cast("long").alias("sum_dist2"),
        F.sum(F.col("sec_d") - F.col("own_d")).cast("long").alias(
            "sum_margin"
        ),
    ).localCheckpoint(eager=False)
    ranked = per.select("n_vecs").withColumn(
        "rn", F.row_number().over(Window.orderBy("n_vecs"))
    )
    stats = per.agg(F.max("n_vecs").alias("mx"), F.count("*").alias("c"))
    med = (
        ranked.join(F.broadcast(stats))
        .filter(F.col("rn") == F.expr("(c + 1) div 2"))
        .select(F.col("n_vecs").alias("med"), "mx")
    )
    summary = med.select(
        F.expr("cast((1000 * mx) div med as bigint)").alias("skew_milli")
    )
    return per.crossJoin(F.broadcast(summary)).select(
        F.col("cell0").cast("int").alias("cell0"),
        "n_vecs",
        "sum_dist2",
        "sum_margin",
        "skew_milli",
    )


def _pq_luts(q: DataFrame, cents, n_queries: int, m: int, subdim: int):
    """qid -> [sub][cid] exact integer query-to-centroid
    subdistances for the n_queries smallest-id vectors (driver-side
    integer math over a driver-tiny collect)."""
    return _pq_luts_rows(
        q.orderBy("vec_id").limit(n_queries).collect(),
        cents,
        m,
        subdim,
    )


def _pq_luts_for_ids(q: DataFrame, cents, ids, m: int, subdim: int):
    """_pq_luts for an EXPLICIT query-id list (the bitext twin's
    side-filtered / data-dependent query sets) — same driver-tiny
    collect and integer math, just a different pick rule."""
    return _pq_luts_rows(
        q.filter(F.col("vec_id").isin([int(i) for i in ids])).collect(),
        cents,
        m,
        subdim,
    )


def _pq_luts_rows(qrows, cents, m: int, subdim: int):
    k = len(cents[0])
    luts = {}
    for r in qrows:
        qid, qv = r.vec_id, list(r.qv)
        luts[qid] = [
            [
                sum(
                    (qv[s * subdim + p] - cents[s][c][p]) ** 2
                    for p in range(subdim)
                )
                for c in range(k)
            ]
            for s in range(m)
        ]
    return luts


def _pq_adc_scored(a: DataFrame, luts, m: int) -> DataFrame:
    """ADC scores for every (query, vector) pair, map-only: explode
    one struct per query whose adc = Σ_sub LUT[sub][code_sub] over
    literal arrays. Keeps cell0 (the subspace-0 code) for pruned
    consumers. Self-pairs excluded. Columns: (query_id, neighbor_id,
    cell0, adc_dist2)."""
    return (
        a.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("_b0.cid").alias("cell0"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(int(qid)).cast("long").alias("query_id"),
                            sum(
                                F.element_at(
                                    lit_longs(luts[qid][s]),
                                    F.col(f"_b{s}.cid") + 1,
                                )
                                for s in range(m)
                            ).alias("adc_dist2"),
                        )
                        for qid in sorted(luts)
                    ]
                )
            ).alias("_qs"),
        )
        .select(
            F.col("_qs.query_id").alias("query_id"),
            "neighbor_id",
            "cell0",
            F.col("_qs.adc_dist2").cast("long").alias("adc_dist2"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )


def _pq_imi_scored(
    a: DataFrame, luts, n_probe: int, m: int, k: int
) -> DataFrame:
    """IMI candidates-first ADC: the broadcast probe rows carry each
    query's FLATTENED m×k LUT, so a vector joins (on its subspace-0
    cell) only the queries actually probing it and the ADC sum is
    computed for surviving (query, vector) pairs alone — never
    scored-then-discarded. avg rows/vector = n_queries·n_probe/k
    (2 at the declared 8·4/16) vs n_queries (8) for the unpruned
    path. No explode → no Generate-pushdown hazard; one element_at
    per subspace against the joined lut array (codegen-friendly).
    Columns: (query_id, neighbor_id, adc_dist2)."""
    rows = []
    for qid in sorted(luts):
        flat = [int(d) for s in range(m) for d in luts[qid][s]]
        cells = [
            c
            for _, c in sorted(
                (d, c) for c, d in enumerate(luts[qid][0])
            )[:n_probe]
        ]
        for c in cells:
            rows.append((int(c), int(qid), flat))
    probed_df = a.sparkSession.createDataFrame(
        rows, "cell0 int, query_id long, lut array<long>"
    )
    cand = a.withColumn("cell0", F.col("_b0.cid")).join(
        F.broadcast(probed_df), "cell0"
    )
    adc = sum(
        F.element_at(
            "lut", (F.lit(s * k) + F.col(f"_b{s}.cid") + F.lit(1)).cast("int")
        )
        for s in range(m)
    )
    return cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        adc.cast("long").alias("adc_dist2"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))


def _pq_pack(a: DataFrame, m: int) -> DataFrame:
    """(vec_id, code, qerr) projection over an assigned frame."""
    code = sum(
        (F.col(f"_b{s}.cid").cast("long") * F.lit(1 << (4 * s)).cast("long"))
        for s in range(m)
    )
    qerr = sum(F.col(f"_b{s}.dist2") for s in range(m))
    return a.select(
        "vec_id",
        code.cast("long").alias("code"),
        qerr.cast("long").alias("qerr"),
    )


def _pq_topk_window(scored: DataFrame, topk: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist2"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "adc_dist2", "rank")
    )


def pq_codes(
    emb: DataFrame,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents=None,
    assigned=None,
) -> DataFrame:
    """PQ code assignment: (vec_id, code, qerr) with code = the M
    4-bit subspace codes packed into one bigint and qerr = the exact
    integer reconstruction error Σ_sub dist2 (quantized scale).
    Pass ``cents`` (from _pq_train) to reuse trained codebooks, or
    ``assigned`` (from _pq_assign, e.g. the session-cached
    checkpointed frame) to skip assignment entirely — the declared
    entries share ONE training+assignment per session (queries_llm
    _PQ_CACHE, the _IVF_CACHE idiom; at rest, codes are materialized
    once and this is the read path)."""
    assert k <= 16, "code packing assumes 4-bit subspace codes"
    if assigned is None:
        q = _pq_quantized(emb, id_col, vec_col)
        if cents is None:
            cents = _pq_train(q, m, subdim, k, iters)
        assigned = _pq_assign(q, cents, m, subdim)
    return _pq_pack(assigned, m)


def pq_topk_adc(
    emb: DataFrame,
    n_queries: int = 8,
    topk: int = 10,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents=None,
    assigned=None,
    luts=None,
) -> DataFrame:
    """ADC top-k: the n_queries smallest-id vectors query the PQ
    codes. Per query the K×M lookup table of exact integer
    query-to-centroid subdistances is built driver-side (tiny integer
    math) and scored map-only as literal arrays —
    adc = Σ_sub LUT[sub][code_sub] — followed by one top-k window.
    Self-matches excluded. Pass ``assigned`` + ``luts`` (session
    cache) to serve from a materialized codes frame instead of
    re-assigning. Columns: (query_id, neighbor_id, adc_dist2,
    rank) — all exact integers, fully oracle-checkable."""
    if assigned is None or luts is None:
        q = _pq_quantized(emb, id_col, vec_col)
        if cents is None:
            cents = _pq_train(q, m, subdim, k, iters)
        if assigned is None:
            assigned = _pq_assign(q, cents, m, subdim)
        if luts is None:
            luts = _pq_luts(q, cents, n_queries, m, subdim)
    return _pq_topk_window(
        _pq_adc_scored(assigned, luts, m).drop("cell0"), topk
    )


def pq_topk_imi(
    emb: DataFrame,
    n_queries: int = 8,
    topk: int = 10,
    n_probe: int = 4,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents=None,
    assigned=None,
    luts=None,
) -> DataFrame:
    """IVF-PQ composition, inverted-multi-index style (Babenko &
    Lempitsky: the coarse index IS a PQ subspace codebook): corpus
    cells are the subspace-0 codes; each query probes the ``n_probe``
    cells whose subspace-0 LUT distance is smallest (tie-break cid)
    and ADC-scores ONLY vectors in probed cells: the broadcast probe
    rows carry the query LUT, so candidates are joined on cell0
    BEFORE any ADC sum is computed (prune-then-score — the old form
    scored all pairs and discarded 3/4 after, doing full ADC work
    plus a join; see _pq_imi_scored).

    Everything stays exact integers — coarse cells, probe choice, and
    scores — so unlike classic float-centroid IVF this PRUNED ANN
    ranking is fully oracle-checkable. n_probe = K degenerates to the
    unpruned pq_topk_adc (pinned by test).

    Scale shape: one broadcast-hash join on cell0 over the codes
    frame, then n_queries·n_probe/k ADC rows per vector (2 at the
    declared 8·4/16, vs 8 unpruned); at rest the codes table is
    partitioned by cell0, so probes prune partitions exactly like
    IVFIndex — but over 4-byte codes instead of raw vectors. Pass
    ``assigned`` + ``luts`` (session cache) to serve from a
    materialized codes frame. Columns: (query_id, neighbor_id,
    adc_dist2, rank)."""
    if assigned is None or luts is None:
        q = _pq_quantized(emb, id_col, vec_col)
        if cents is None:
            cents = _pq_train(q, m, subdim, k, iters)
        if assigned is None:
            assigned = _pq_assign(q, cents, m, subdim)
        if luts is None:
            luts = _pq_luts(q, cents, n_queries, m, subdim)
    k_eff = len(next(iter(luts.values()))[0])
    scored = _pq_imi_scored(assigned, luts, n_probe, m, k_eff)
    return _pq_topk_window(scored, topk)


def margin_bitext_mine(
    src_queries: DataFrame,
    src_corpus: DataFrame,
    tgt_corpus: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019; the
    CCMatrix/LASER alignment-mining step): for each source query x,
    its best target candidate y = argmax cos(x, ·), scored by the
    RATIO margin

        margin(x, y) = 2k·cos(x, y) / (Σ_{z∈NNk(x)} cos(x, z)
                                       + Σ_{w∈NNk(y)} cos(y, w))

    — raw cosine over-selects hub vectors whose neighborhood is
    uniformly close; dividing by the average neighborhood similarity
    of BOTH endpoints (forward kNN in target space, backward kNN in
    source space) is what makes mined pairs precision-usable. The
    mutual-best flag (y's nearest source is x) is the other standard
    filter and is emitted alongside.

    Exact surface: per-neighbor cosines are floor-scaled to integers
    (floor(cos·10⁶) — floor, not round: banker's-vs-half-up rounding
    is the one nondeterminism in the chain), so the kNN sums are
    exact integer sums of deterministic values and

        margin_milli = (1000·2k·cos_fx(x,y)) div (sum_fwd + sum_bwd)

    replays bit-for-bit (both engines' integer division truncates).
    A zero denominator (pathological all-orthogonal neighborhoods)
    emits NULL margin, never a division error.

    ``src_queries`` is the bounded query set (the contract every
    serving-shaped entry follows); ``src_corpus``/``tgt_corpus`` are
    the full sides. Id spaces of the two sides must be disjoint (the
    kNN legs exclude same-id pairs, which must never fire across
    sides). Columns: (src_id, tgt_id, cos_fx, sum_fwd_fx, sum_bwd_fx,
    margin_milli, mutual_best).

    Scale shape: two exact-kNN legs (queries×|tgt| and
    candidates×|src| — candidates ≤ queries, so both are
    corpus-LINEAR for a fixed query budget), one broadcast join to
    stitch them. At 100 TB both legs swap for the IMI-pruned kernel
    (topk_cosine_imi, n_probe=K parity-pinned) exactly as
    rrf_hybrid_served does for its semantic leg; the exact legs here
    are the oracle-checkable spec."""
    # The fwd top-k frame feeds THREE consumers with different
    # projections (per-query sums, the rank-1 best, the candidate
    # list) — without the lineage cut Catalyst re-runs the
    # corpus-sized scoring join per consumer (the
    # no-exchange-reuse-across-projections class, the retrieval.py
    # tf/dl lesson). The frame is queries×k rows: checkpoint is free.
    fwd = (
        topk_cosine_exact(
            tgt_corpus, src_queries, k=k, id_col=id_col, vec_col=vec_col
        )
        .withColumn("cos_fx", F.floor(F.col("score") * FX).cast("long"))
        .localCheckpoint(eager=False)
    )
    def make_bwd(best):
        # broadcast the ≤|queries| candidate list into the corpus
        # scan — the static plan otherwise picks SMJ and shuffles the
        # corpus side
        cand = tgt_corpus.select(id_col, vec_col).join(
            F.broadcast(
                best.select(F.col("tgt_id").alias(id_col)).distinct()
            ),
            id_col,
        )
        return topk_cosine_exact(
            src_corpus, cand, k=k, id_col=id_col, vec_col=vec_col
        ).withColumn(
            "cos_fx", F.floor(F.col("score") * FX).cast("long")
        )

    return _margin_stitch(fwd, make_bwd, k)


def _margin_stitch(fwd: DataFrame, make_bwd, k: int) -> DataFrame:
    """The ONE leg-stitch for both margin forms (exact + IMI-pruned):
    per-query forward sums, the rank-1 best pair, the backward frame
    built FROM the best pairs (``make_bwd(best)`` — the bwd queries
    are the fwd winners, so the dependency is a callback), backward
    sums + mutual-best, and the broadcast join into the margin
    formula. ``fwd``/``make_bwd``'s frames carry topk_cosine columns
    plus cos_fx."""
    fwd_sum = fwd.groupBy("query_id").agg(
        F.sum("cos_fx").cast("long").alias("sum_fwd_fx")
    )
    best = (
        fwd.filter(F.col("rank") == 1)
        .select(
            F.col("query_id").alias("src_id"),
            F.col("neighbor_id").alias("tgt_id"),
            F.col("cos_fx"),
        )
        .join(
            fwd_sum.withColumnRenamed("query_id", "src_id"), "src_id"
        )
    )
    bwd_stats = make_bwd(best).groupBy("query_id").agg(
        F.sum("cos_fx").cast("long").alias("sum_bwd_fx"),
        F.min(
            F.when(F.col("rank") == 1, F.col("neighbor_id"))
        ).alias("_bwd_best"),
    )
    joined = best.join(
        F.broadcast(
            bwd_stats.withColumnRenamed("query_id", "tgt_id")
        ),
        "tgt_id",
    )
    return _margin_select(joined, k)


def _margin_select(joined: DataFrame, k: int) -> DataFrame:
    """The ONE place the margin formula lives (exact + IMI-pruned
    forms both end here): joined carries (src_id, tgt_id, cos_fx,
    sum_fwd_fx, sum_bwd_fx, _bwd_best)."""
    den = F.col("sum_fwd_fx") + F.col("sum_bwd_fx")
    return joined.select(
        "src_id",
        "tgt_id",
        "cos_fx",
        "sum_fwd_fx",
        "sum_bwd_fx",
        F.when(den == 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr(
                f"cast((1000 * {2 * k} * cos_fx)"
                " div (sum_fwd_fx + sum_bwd_fx) as bigint)"
            )
        )
        .alias("margin_milli"),
        (F.col("_bwd_best") == F.col("src_id")).alias("mutual_best"),
    )


def margin_bitext_mine_imi(
    embeddings: DataFrame,
    assigned: DataFrame,
    cents,
    k: int = 4,
    n_probe: int = 4,
    n_queries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src_mod: int = 0,
    tgt_mod: int = 1,
) -> DataFrame:
    """IMI-PRUNED margin-based bitext mining — margin_bitext_mine's
    100 TB serving form, the rrf_hybrid_served pattern applied to the
    alignment-mining legs: both kNN passes draw candidates from each
    query's ``n_probe`` best coarse cells (subspace-0 PQ codes, the
    hard_negatives_imi kernel), exact fixed-point cosines verify
    survivors only, and the shared margin tail scores the winners.
    Candidates outside the query's own LANGUAGE side are filtered
    AFTER the prune (the shared kernel stays untouched; the
    discarded half of each probed cell is bounded by the prune).

    Query set: the ``n_queries`` smallest src-side ids (the PQ-LUT
    fixed-query idiom — corpus-linear probe rows, unlike the exact
    form's %20 set). The backward LUTs are built for the fwd winners
    (≤ n_queries ids, a driver-tiny collect — the IVF-seeds
    precedent; NOTE this means DataFrame CONSTRUCTION triggers Spark
    jobs, so bench/probe timing must keep construction inside the
    clock). An empty fwd leg (probed cells hold no
    opposite-side vectors) short-circuits the backward pass to an
    empty frame instead of building LUTs from an empty id list.
    n_probe = K (all cells) degenerates to the exact
    margin_bitext_mine on the same query set — pinned in tests.
    Columns: identical to margin_bitext_mine."""
    q = _pq_quantized(embeddings, id_col, vec_col)
    qids = [
        r[0]
        for r in embeddings.filter(F.col(id_col) % 2 == src_mod)
        .select(id_col)
        .orderBy(id_col)
        .limit(n_queries)
        .collect()
    ]
    fluts = _pq_luts_for_ids(q, cents, qids, PQ_M, PQ_SUBDIM)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    fwd = (
        _imi_pruned_cosine(
            embeddings, assigned, fluts, n_probe, n_queries,
            id_col, vec_col, label_col=None,
        )
        .filter(F.col("neighbor_id") % 2 == tgt_mod)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("cos_fx", F.floor(F.col("score") * FX).cast("long"))
        .localCheckpoint(eager=False)
    )
    def make_bwd(best):
        cand_ids = [
            r[0] for r in best.select("tgt_id").distinct().collect()
        ]
        if not cand_ids:
            # empty fwd leg: no winners to probe backward from —
            # return the (empty) fwd-shaped frame rather than
            # building LUT/probe frames off an empty list
            return fwd.limit(0)
        bluts = _pq_luts_for_ids(q, cents, cand_ids, PQ_M, PQ_SUBDIM)
        return (
            _imi_pruned_cosine(
                embeddings, assigned, bluts, n_probe, len(cand_ids),
                id_col, vec_col, label_col=None,
            )
            .filter(F.col("neighbor_id") % 2 == src_mod)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn(
                "cos_fx", F.floor(F.col("score") * FX).cast("long")
            )
        )

    return _margin_stitch(fwd, make_bwd, k)

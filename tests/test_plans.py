"""Plan-shape assertions: the 100 TB design rules as tests.

- filters reach the parquet scan (predicate pushdown)
- scans read only referenced columns (pruning)
- dimension joins go broadcast (no fact-side shuffle for dims)
- single-shuffle aggregation pipelines stay single-shuffle
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mrgo_spark import plans
from mrgo_spark.operators.queries_llm import q_topk_cosine
from mrgo_spark.operators.queries_relational import q1, q3, q5
from mrgo_spark.operators.queries_mrapps import q_wordcount

SF = "/root/testdata/sf0.001"


def test_q1_filter_pushed_and_pruned(spark):
    df = q1(spark, SF)
    assert plans.has_pushed_filters(df, "l_shipdate")
    cols = plans.scan_read_schema(df)
    assert "l_comment" not in cols  # nothing extraneous
    assert set(cols) <= {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }


def test_q3_broadcasts_dimension(spark):
    df = q3(spark, SF)
    assert plans.has_broadcast_join(df)
    assert plans.has_pushed_filters(df, "c_mktsegment")


def test_q5_broadcasts_all_dims(spark):
    df = q5(spark, SF)
    plan = plans.explain_str(df, "simple")
    # orders⋈lineitem is the only sort-merge/shuffle-eligible join;
    # every dimension join must be broadcast.
    assert plan.count("BroadcastHashJoin") >= 4


def test_wordcount_single_shuffle(spark):
    df = q_wordcount(spark, SF)
    assert plans.shuffle_count(df) <= 1


def test_topk_cosine_broadcasts_queries(spark):
    df = q_topk_cosine(spark, SF)
    assert plans.has_broadcast_join(df)


def test_hypertable_rollup_single_scan(spark):
    """All three grains from ONE raw scan and two shuffles (the union
    formulation rescans events per grain; the explode formulation is
    what ships)."""
    from mrgo_spark.operators.queries_relational import q_hypertable_rollup

    df = q_hypertable_rollup(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 2


def test_rollup_grain_consistency(spark):
    """Each coarser grain's totals equal the sum of its finer rows."""
    from mrgo_spark.operators.queries_relational import q_hypertable_rollup

    rows = q_hypertable_rollup(spark, SF).collect()
    by_grain = {}
    for r in rows:
        by_grain.setdefault(r.grain, []).append(r)
    for grain in ("minute", "hour", "day"):
        total_n = sum(r.n for r in by_grain[grain])
        total_v = round(sum(r.total_value for r in by_grain[grain]), 2)
        assert total_n == sum(r.n for r in by_grain["minute"])
        assert total_v == round(
            sum(r.total_value for r in by_grain["minute"]), 2
        )


def test_range_join_no_nested_loop(spark):
    """The binned interval join must plan hash/sort-merge equi-joins
    only — a raw BETWEEN theta-join would be a BroadcastNestedLoop
    over points x intervals."""
    from mrgo_spark.operators.queries_relational import q_range_join

    df = q_range_join(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_join_matches_theta_join(spark):
    """Binned reduction == naive theta join, including points exactly
    on both inclusive bounds and intervals spanning bin boundaries."""
    from mrgo_spark.operators import rangejoin
    from mrgo_spark.sources.tables import load_table

    events = load_table(spark, SF, "events")
    got = {
        (r.purchase_id, r.n_errors_1h)
        for r in rangejoin.errors_within_hour_of_purchase(events).collect()
    }
    us = F.unix_micros(F.col("ts"))
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"),
        us.alias("s"),
    )
    e = events.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("eu"), us.alias("t")
    )
    want = {
        (r.pid, r.n)
        for r in p.join(
            e,
            (F.col("pu") == F.col("eu"))
            & (F.col("t") >= F.col("s"))
            & (F.col("t") <= F.col("s") + rangejoin.HOUR_US),
            "left",
        )
        .groupBy("pid")
        .agg(F.count("t").alias("n"))
        .collect()
    }
    assert got == want


def test_bucketed_variants_match_declared(spark):
    """The bucketed q3/q17 bench variants return byte-identical rows
    to the declared forms, and their fact-side joins/aggs plan no
    Exchange on the bucket key (broadcast disabled so the real
    at-scale strategy is what gets planned)."""
    import uuid

    from mrgo_spark.operators.queries_relational import q3, q17
    from mrgo_spark.sources import bucketed

    tables = bucketed.materialize_bucketed(
        spark, SF, n_buckets=4, suffix="_" + uuid.uuid4().hex[:8]
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        b3 = bucketed.q3_bucketed(spark, SF, tables)
        b17 = bucketed.q17_bucketed(spark, SF, tables)
        p3 = plans.explain_str(b3, "simple")
        p17 = plans.explain_str(b17, "simple")
        assert "Exchange hashpartitioning(l_orderkey" not in p3
        assert "Exchange hashpartitioning(o_orderkey" not in p3
        assert "Exchange hashpartitioning(l_partkey" not in p17
        assert sorted(map(tuple, b3.collect())) == sorted(
            map(tuple, q3(spark, SF).collect())
        )
        assert sorted(map(tuple, b17.collect())) == sorted(
            map(tuple, q17(spark, SF).collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ivf_seeding_no_global_window(spark):
    """IVF centroid seeding must not sort/rank the whole corpus: the
    seed plan is a filter scan + TakeOrdered — no Window operator and
    no single-partition Exchange (the round-1 seeding ranked the full
    corpus in one partition; this pins the fix)."""
    from mrgo_spark.operators import similarity
    from mrgo_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    seeds = similarity.ivf_seed_candidates(emb, k=16, n=emb.count())
    plan = plans.explain_str(seeds, "simple")
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing pre-co-locates repeated joins: two tables bucketed on
    the join key plan a SortMergeJoin with NO Exchange on either side
    (the scale pattern for iterated fact-fact joins, SCALE.md)."""
    import uuid

    from mrgo_spark.sources.tables import load_table

    suffix = uuid.uuid4().hex[:8]
    o = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    o.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
        f"orders_b_{suffix}"
    )
    li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(
        f"lineitem_b_{suffix}"
    )
    # disable broadcast so the fact-fact (non-broadcastable at real
    # scale) join strategy is what gets planned even on tiny fixtures
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table(f"lineitem_b_{suffix}")
            .join(
                spark.table(f"orders_b_{suffix}"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        plan = plans.explain_str(joined, "simple")
        assert "SortMergeJoin" in plan
        # the join itself must not shuffle; the only exchange is the
        # final single-key aggregation
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "SelectedBucketsCount" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pipeline_ops_shuffle_free(spark):
    """dataset_split / mixture_sample / sequence_chunks / pii_scrub
    are pure map pipelines — zero exchanges, and the chunker reads
    only the columns it needs."""
    from mrgo_spark.operators.queries_llm import (
        q_dataset_split,
        q_mixture_sample,
        q_pii_scrub,
        q_sequence_chunks,
    )

    for q in (q_dataset_split, q_mixture_sample, q_sequence_chunks, q_pii_scrub):
        df = q(spark, SF)
        assert plans.shuffle_count(df) == 0, q.__name__
    cols = plans.scan_read_schema(q_sequence_chunks(spark, SF))
    assert set(cols) <= {"doc_id", "text"}


def test_tfidf_plan_shape(spark):
    """tf·idf: the corpus-size side enters via broadcast (no shuffle
    for the scalar), and the tf→df re-aggregation reuses the (term)
    clustering — at most 3 hash exchanges total, no nested loop over
    terms."""
    from mrgo_spark.operators.queries_llm import q_tfidf_top_terms

    df = q_tfidf_top_terms(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row N: broadcast, harmless
    assert plan.count("Exchange hashpartitioning") <= 4


def test_salted_join_row_identity_and_spread(spark):
    """salted_join must be row-identical to the plain join, and with
    broadcast disabled its shuffle must partition on (key, salt) —
    the hot key spreads over n_salt reducers instead of one."""
    from mrgo_spark.operators.skew import salted_join
    from mrgo_spark.sources.tables import load_table

    e = load_table(spark, SF, "events").select("event_id", "event_type")
    dim = (
        e.select("event_type")
        .distinct()
        .select("event_type", F.length("event_type").alias("w"))
    )
    plain = sorted(map(tuple, e.join(dim, "event_type").collect()))
    salted = sorted(map(tuple, salted_join(e, dim, "event_type", 8).collect()))
    assert plain == salted
    left = e.join(dim.filter(F.col("w") > 4), "event_type", "left")
    lsalt = salted_join(e, dim.filter(F.col("w") > 4), "event_type", 8, "left")
    assert sorted(map(tuple, left.collect())) == sorted(map(tuple, lsalt.collect()))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plans.explain_str(salted_join(e, dim, "event_type", 8), "simple")
        assert "Exchange hashpartitioning(event_type" in plan
        assert "_salt" in plan.split("Exchange hashpartitioning(event_type", 1)[1][:40]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q6_pushdown_and_pruning(spark):
    from mrgo_spark.operators.queries_relational import q6

    df = q6(spark, SF)
    assert plans.has_pushed_filters(df, "l_shipdate")
    assert plans.has_pushed_filters(df, "l_discount")
    cols = plans.scan_read_schema(df)
    assert set(cols) <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q19_or_predicate_stays_hash_join(spark):
    """The OR-of-ANDs disjunction must ride the broadcast hash join on
    partkey as a join filter — never a BroadcastNestedLoopJoin."""
    from mrgo_spark.operators.queries_relational import q19

    plan = plans.explain_str(q19(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_q18_broadcasts_filtered_agg(spark):
    """The HAVING-filtered agg (tiny) must broadcast into both joins —
    orders and customer must not shuffle against it."""
    from mrgo_spark.operators.queries_relational import q18

    plan = plans.explain_str(q18(spark, SF), "simple")
    assert plan.count("BroadcastHashJoin") >= 2


def test_q22_anti_join_and_broadcast_threshold(spark):
    from mrgo_spark.operators.queries_relational import q22

    plan = plans.explain_str(q22(spark, SF), "simple")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row threshold side
    from mrgo_spark.operators.queries_relational import q7

    plan7 = plans.explain_str(q7(spark, SF), "simple")
    assert plan7.count("BroadcastHashJoin") >= 4


def test_lateral_decorrelates_to_window_group_limit(spark):
    """The correlated LATERAL top-1 must decorrelate: no per-row
    subquery re-execution, no cartesian/nested-loop join."""
    from mrgo_spark.operators.queries_relational import q_lateral_latest_order

    plan = plans.explain_str(q_lateral_latest_order(spark, SF), "simple")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_semi_anti_decorrelation(spark):
    """EXISTS → LeftSemi, NOT EXISTS → LeftAnti, both equi-keyed on
    orderkey (never a nested loop over the order square); dims
    broadcast."""
    from mrgo_spark.operators.queries_relational import q21

    plan = plans.explain_str(q21(spark, SF), "simple")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_q20_single_fact_scan(spark):
    """The two-level nested agg must re-aggregate the (part,supplier)
    agg — exactly one lineitem scan in the plan."""
    from mrgo_spark.operators.queries_relational import q20

    plan = plans.explain_str(q20(spark, SF), "formatted")
    assert plan.count("lineitem.parquet") == 1
    assert plans.has_pushed_filters(q20(spark, SF), "l_shipdate")


def test_q2_broadcast_min_join_back(spark):
    """The decorrelated per-part MIN joins back as a broadcast (its
    output is ~|part| rows); supplier/nation/region broadcast; the
    only shuffle is the min-per-part groupBy."""
    from mrgo_spark.operators.queries_relational import q2

    df = q2(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "NestedLoop" not in plan


def test_q16_anti_join_before_distinct_count(spark):
    from mrgo_spark.operators.queries_relational import q16

    plan = plans.explain_str(q16(spark, SF), "simple")
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan


def test_gapfill_window_is_partitioned(spark):
    """The LOCF window must partition by series key — a global-order
    window would funnel the whole spine through one task. The only
    single-partition exchange allowed is the scalar bounds agg
    (a few bytes of partial aggs)."""
    from mrgo_spark.operators.queries_timeseries import q_gapfill

    df = q_gapfill(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert "Window" in plan
    assert "windowspecdefinition(event_type" in plan  # partitioned LOCF
    assert plan.count("Exchange SinglePartition") <= 1


def test_funnel_stage_filters_pushed(spark):
    """Each funnel stage scans events with its event_type filter
    pushed to parquet — three pruned scans, not one wide scan."""
    from mrgo_spark.operators.queries_timeseries import q_funnel

    df = q_funnel(spark, SF)
    assert plans.has_pushed_filters(df, "view")
    assert plans.has_pushed_filters(df, "click")
    assert plans.has_pushed_filters(df, "purchase")
    cols = plans.scan_read_schema(df)
    assert "props" not in cols and "value" not in cols


def test_zscore_stats_broadcast(spark):
    """The per-type moments frame (|event_types| rows) broadcasts
    back onto the fact scan — no shuffle of the fact side for the
    join."""
    from mrgo_spark.operators.queries_timeseries import q_zscore

    df = q_zscore(spark, SF)
    assert plans.has_broadcast_join(df)


def test_group_sample_no_global_window(spark):
    from mrgo_spark.operators.queries_timeseries import q_group_sample

    plan = plans.explain_str(q_group_sample(spark, SF), "simple")
    assert "Exchange SinglePartition" not in plan


def test_histogram_single_shuffle(spark):
    from mrgo_spark.operators.queries_timeseries import q_histogram

    df = q_histogram(spark, SF)
    assert plans.shuffle_count(df) <= 1


def test_semantic_dedup_single_pair_subtree(spark):
    """The membership fold must not duplicate the O(n²) pair-scoring
    subtree (round-3 regression: a UNION of two selects over `pairs`
    planned the nested-loop pair generator twice — no exchange reuse
    across differing projections). Exactly ONE nested-loop join and
    ONE embeddings-side distinct scan pair in the plan."""
    from mrgo_spark.operators.queries_llm import q_semantic_dedup

    plan = plans.explain_str(
        q_semantic_dedup(spark, "/root/testdata/sf0.001"), "formatted"
    )
    tree = plan.split("\n(1)")[0]
    assert tree.count("BroadcastNestedLoopJoin") == 1, tree


def test_embedding_normalize_explode_stays_cheap(spark):
    """r4 fix pin: the declared exploded form must NOT carry the norm
    fold inside the Generate's pushed-down predicates (the interpreted
    Filter re-evaluates them per element — measured 20x). The norm
    appears exactly once, in a Project below the Generate; the Filter
    sees only cheap column predicates."""
    from mrgo_spark.registry import load

    q, _ = load()
    plan = plans.explain_str(q["embedding_normalize"](spark, SF))
    filt = [
        seg for seg in plan.split("\n\n")
        if seg.startswith("(") and ") Filter" in seg.split("\n")[0]
    ]
    assert filt and all("aggregate(" not in seg for seg in filt), plan[:500]
    assert plan.count("zip_with") == 1


def test_kmeans_assignment_single_least_no_shuffle(spark):
    """r4 fix pin: final k-means assignment is map-only (centroids are
    literals — no join, no Exchange) and the argmin struct is
    evaluated once, not cloned per projected field."""
    from mrgo_spark.operators.similarity import kmeans_lloyd
    from mrgo_spark.sources.tables import load_table

    df = kmeans_lloyd(load_table(spark, SF, "embeddings"))
    plan = plans.explain_str(df)
    assert "Exchange" not in plan
    assert plan.count("least(") == 1


def test_pagerank_iteration_shape(spark):
    """Final PageRank iteration: checkpoints sever earlier rounds (no
    parquet scan survives in the plan), one partial-agg shuffle for
    the contrib inbox, TakeOrdered for the top-k (no global Sort)."""
    from mrgo_spark.operators.queries_relational import q_pagerank_order_part

    plan = plans.explain_str(q_pagerank_order_part(spark, SF))
    assert "Scan parquet" not in plan  # lineage severed at checkpoints
    assert "TakeOrderedAndProject" in plan
    # the iteration body itself (agg + degree join) sits inside the
    # checkpointed lineage; assert its shape on an uncheckpointed
    # single step instead
    from pyspark.sql import functions as F  # noqa: F811

    from mrgo_spark.operators import graph
    from mrgo_spark.sources.tables import load_table

    edges = graph.bipartite_edges(load_table(spark, SF, "lineitem"))
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).select(
        F.col("src").alias("node"), "deg"
    )
    r = deg.select("node", F.lit(1000).cast("long").alias("rank_fx"))
    contrib = r.join(deg, "node").select(
        "node", F.expr("rank_fx div deg").alias("contrib")
    )
    inbox = (
        contrib.join(edges, contrib.node == edges.src)
        .groupBy("dst")
        .agg(F.sum("contrib").alias("inbox"))
    )
    step = plans.explain_str(inbox)
    assert "HashAggregate" in step  # partial+final inbox aggregation


def test_rrf_hybrid_served_plan_shape(spark):
    """r8 served hybrid (VERDICT_r7 #1): the lexical leg's postings
    scan carries a term_bucket PartitionFilters entry (bucket
    pruning), the semantic leg's probe join is a BroadcastHashJoin
    over the cached codes frame, and — since the r13 literal-scalars
    serve slimming removed the 1-row corpus-scalars crossJoin — the
    tree holds NO nested-loop join at all (ADVICE_r13: the old
    Cross-only tolerance loop became vacuous when the crossJoin
    disappeared; pin the stronger shape)."""
    from mrgo_spark.operators.queries_llm import q_rrf_hybrid_served

    df = q_rrf_hybrid_served(spark, SF)
    plan = plans.explain_str(df, "formatted")
    assert "PartitionFilters" in plan and "term_bucket" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_frequent_span_audit_plan_shape(spark):
    """VERDICT_r11 #4: the memorization audit is one scan + hash
    aggregate + TakeOrdered — the top-k cut must be per-partition
    bounded heaps, and the ONLY window runs over the ≤ top_k
    survivors (never a global sort/window of the gram domain)."""
    from mrgo_spark.operators.queries_llm import q_frequent_span_audit

    df = q_frequent_span_audit(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert plan.count("FileScan") == 1
    assert "HashAggregate" in plan
    assert "TakeOrderedAndProject" in plan
    # the rank window sits ABOVE the TakeOrdered cut in the plan tree
    # (window input = top_k rows, not the gram domain): in the plan
    # string the Window node must appear before (outside) the
    # TakeOrdered, and there is exactly one Window
    assert plan.count("Window") == 1
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_phrase_search_broadcasts_phrase_side(spark):
    """VERDICT_r11 #4: the postings join's phrase-term side must
    broadcast (the corpus never shuffles for the join) and nothing
    degenerates to a cartesian pair join."""
    from mrgo_spark.operators.queries_llm import q_phrase_search_fixed

    df = q_phrase_search_fixed(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # no SortMergeJoin: a flipped build side would shuffle+sort the
    # whole postings stream
    assert "SortMergeJoin" not in plan


def test_allpairs_prefix_join_plan_shape(spark):
    """VERDICT_r10 #5: the exact all-pairs Jaccard join must stay a
    prefix-collision join, never the corpus square — no
    CartesianProduct anywhere, and the checkpointed (doc_id, keys)
    frame (ExistingRDD) feeds the prefix explode and BOTH verify
    joins instead of re-running the tokenize+count subtree."""
    from mrgo_spark.operators.queries_llm import q_allpairs_jaccard_prefix

    df = q_allpairs_jaccard_prefix(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan  # the checkpointed keys frame
    # the tokenize+frequency subtree runs ONCE (inside the
    # checkpoint): the final plan re-reads NO parquet at all —
    # prefix explode and both verify joins serve from ExistingRDD
    assert plan.count("FileScan") == 0


def test_kmv_jaccard_single_corpus_pass(spark):
    """r12: the checkpointed kept frame (ExistingRDD) must feed BOTH
    pair sides — a second corpus tokenize+distinct per side was the
    hazard; after the checkpoint the plan reads no parquet at all."""
    from mrgo_spark.operators.queries_llm import q_kmv_jaccard_langs

    df = q_kmv_jaccard_langs(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert "ExistingRDD" in plan
    assert plan.count("FileScan") == 0
    assert "CartesianProduct" not in plan


def test_fleiss_kappa_map_only_plus_single_shuffle(spark):
    """r12: panel kappa = map-only vote flags + ONE shuffle to the
    8-row cohort frame; no join, no window."""
    from mrgo_spark.operators.queries_llm import q_fleiss_kappa_panel

    df = q_fleiss_kappa_panel(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "Window" not in plan
    assert "HashAggregate" in plan


def test_prf_expansion_feedback_pruned(spark):
    """VERDICT_r12 #4 (+ the r13 plan-audit fix): the PRF candidate-
    term explode must be FEEDBACK-sized — the raw docs semi-join the
    broadcast feedback doc-set BEFORE the tokenize (a join above a
    Generate can't be pushed below it, so the old join-after shape
    tokenized the whole corpus). The checkpointed feedback frame
    (ExistingRDD) feeds both the doc semi-join and the vote counts;
    the expansion union stays term-table-sized."""
    from mrgo_spark.operators import retrieval
    from mrgo_spark.sources.tables import load_table, widen_scan

    docs = widen_scan(load_table(spark, SF, "documents")).select(
        "doc_id", "text"
    )
    q0 = retrieval.query_terms_from_docs(
        docs, (F.col("doc_id") % 100 == 0) & (F.col("doc_id") < 800)
    )
    q2 = retrieval.prf_expand_terms(docs, q0, k_fb=10, n_expand=3,
                                    min_len=4)
    plan = plans.explain_str(q2, "simple")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan  # the checkpointed feedback frame
    # the feedback doc-set prunes the corpus via a broadcast semi
    # join BELOW the candidate-term Generate: the one corpus scan
    # (no doc_id<800 pushdown) must sit under a LeftSemi join
    assert "LeftSemi" in plan
    corpus_scans = [
        i
        for i in range(len(plan))
        if plan.startswith("FileScan", i)
        and "LessThan(doc_id,800)"
        not in plan[i : plan.find("\n", i)]
    ]
    assert len(corpus_scans) == 1  # exactly one corpus pass
    assert plan.index("LeftSemi") < corpus_scans[0]


def test_prf_bm25_fixed_serves_from_index(spark):
    """r13 opt: the declared prf ranking serves BOTH BM25 legs from
    the at-rest session BM25Index — its FINAL plan re-reads no CORPUS
    parquet (every FileScan is an index table, and the postings/df
    scans are partition-pruned to the query terms' buckets); the
    expanded query-terms/feedback frames sit behind checkpoints
    (ExistingRDD); the r13 literal-scalars slimming removed the 1-row
    index-scalars crossJoin, so the tree holds NO nested-loop join at
    all (ADVICE_r13: the old Cross-only tolerance loop became vacuous
    — pin the stronger shape). (Until r13 this pinned FileScan == 0:
    the old two-pass form hid ALL its corpus work behind
    localCheckpoints — the index serve deliberately trades those
    materializations for pruned at-rest reads.)"""
    import re

    from mrgo_spark.operators.queries_llm import q_prf_bm25_fixed

    df = q_prf_bm25_fixed(spark, SF)
    plan = plans.explain_str(df, "simple")
    scans = re.findall(r"FileScan[^\n]*", plan)
    assert scans, "expected index-table scans in the served plan"
    for s in scans:
        assert "mrgo_bm25_idx_" in s, s  # never the corpus parquet
    assert re.search(r"PartitionFilters: \[term_bucket[^\]]* INSET", plan)
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unigram_train_vocab_driver_literal(spark):
    """r13 unigram training: the declared vocab table is a
    driver-tiny literal (training ran as map-only segmentations +
    vocab-sized collects — the kmeans recipe); its final plan reads
    no parquet and shuffles nothing."""
    from mrgo_spark.operators.queries_llm import q_unigram_train_vocab

    df = q_unigram_train_vocab(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert plan.count("FileScan") == 0
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_unigram_doc_token_counts_plan_shape(spark):
    """r13 unigram application: ONE corpus scan (the occurrence
    explode), the checkpointed word table (ExistingRDD) broadcast
    into it, one per-doc aggregate — never a sort-merge join of the
    occurrence stream."""
    from mrgo_spark.operators.queries_llm import (
        q_unigram_doc_token_counts,
    )

    df = q_unigram_doc_token_counts(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert plan.count("FileScan") == 1
    assert "ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kendall_tau_rankers_plan_shape(spark):
    """r13 τ eval: never a cartesian — the pair self-join is keyed on
    query_id; the checkpointed common frame (ExistingRDD) feeds both
    pair aliases and the n-count."""
    from mrgo_spark.operators.queries_llm import q_kendall_tau_rankers

    df = q_kendall_tau_rankers(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan


def test_excess_bits_domain_weights_plan_shape(spark):
    """r13 loss-based reweighting: the bigram model joins stay
    shuffle_hash (the novelty BHJ→SMJ cliff lesson travels with the
    kernel); no cartesian; the domain windows read ONE checkpointed
    frame (ExistingRDD)."""
    from mrgo_spark.operators.queries_llm import (
        q_excess_bits_domain_weights,
    )

    df = q_excess_bits_domain_weights(spark, SF)
    plan = plans.explain_str(df, "simple")
    # the bigram kernel (and its shuffle_hash pin) sits BEHIND the
    # domain checkpoint; the final plan is |domains|-row windows over
    # that ONE ExistingRDD — re-reading no parquet at all
    assert plan.count("FileScan") == 0
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan


def test_discounted_returns_single_user_shuffle(spark):
    """r13: γ=3/4 n-step returns add NO exchange beyond
    trajectory_returns' one user shuffle — the reward window
    sub-partitions (user, episode)."""
    from mrgo_spark.operators.queries_timeseries import (
        q_discounted_returns,
    )

    df = q_discounted_returns(spark, SF)
    plan = plans.explain_str(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_rrf_fuse_one_shuffle(spark):
    """The fuse partitions its union once by query_id: the per-doc
    aggregate and the per-query top-k window share that one shuffle."""
    from mrgo_spark.operators import retrieval

    schema = "query_id long, doc_id long, rank int"
    lex = spark.createDataFrame([(1, 10, 1), (1, 11, 2)], schema)
    sem = spark.createDataFrame([(1, 11, 1), (2, 13, 1)], schema)
    plan = plans.explain_str(retrieval.rrf_fuse([lex, sem], k=10), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_ivf_rank_tail_one_shuffle(spark):
    """The IVF scoring tail partitions its candidates once by
    query_id: the distinct and the top-k window share that shuffle,
    and the probe join stays a broadcast."""
    from mrgo_spark.operators import similarity

    corpus = spark.createDataFrame(
        [(0, 1, [1.0, 0.0]), (1, 2, [0.0, 1.0])],
        "cell_id int, neighbor_id long, cvec_ array<double>",
    )
    probes = spark.createDataFrame(
        [(0, 9, [1.0, 0.5]), (1, 9, [1.0, 0.5])],
        "cell_id int, query_id long, qvec_ array<double>",
    )
    ranked = similarity._ivf_rank(corpus, probes, k=5)
    plan = plans.explain_str(ranked, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan
    assert [r.neighbor_id for r in ranked.orderBy("rank").collect()] == [1, 2]

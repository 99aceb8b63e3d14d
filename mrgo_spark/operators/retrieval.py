"""Text retrieval operators: exact-integer BM25 ranking and
reciprocal-rank fusion (hybrid lexical + semantic search).

The retrieval step of a RAG / training-data-curation pipeline:
rank documents for a query term set (BM25), rank by embedding
cosine (similarity.topk_cosine_exact), fuse the two rankings
(RRF, Cormack et al. SIGIR 2009). Everything here is declared-
surface material: scores are exact integers, so the whole ranking —
not just the row set — is oracle-checkable.

Portability design (the tfidf/zipf lessons applied to BM25):

- Okapi BM25 uses k1 = 6/5 and b = 3/4, so the tf-normalization
  term multiplies out to an exact integer fraction. With T = total
  corpus tokens, N = docs, dl = doc length, tf = term frequency:

      tf_norm = tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl·N/T)
              = 22·T·tf / (10·T·tf + 3·T + 9·dl·N)

- idf uses the rational BM25 form (N − df + ½)/(df + ½) =
  (2N − 2df + 1)/(2df + 1) — same monotone ranking as the log form,
  zero libm (ln() is not hash-safe across libm builds).

- A float Σ over query terms would be order-dependent; instead each
  per-term score becomes fixed-point via one truncating division
  (products in decimal(38,0), so they cannot overflow), and the
  per-document score is an exact integer SUM.

Scale shape: query term tables are broadcast-sized; corpus-side work
is one tokenize+explode scan filtered by the broadcast term set plus
one map-only doc-length scan; every aggregate after the filter is
candidate-sized (docs containing a query term), and the top-k window
partitions by query. Nothing is all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import ascii_tokens
from ..sources.tables import _append_tombstones, _read_tombstones

BM25_SCALE = 1_000_000  # fixed-point scale for per-term scores
RRF_K = 60              # the standard RRF damping constant
RRF_SCALE = 1_000_000   # fixed-point scale for 1/(K+rank)


def bm25_topk(
    documents: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents per query under exact-integer Okapi BM25
    (k1 = 1.2, b = 0.75 — multiplied out to integer arithmetic, see
    module docstring).

    ``query_terms`` has columns (query_id, term), one row per distinct
    lowercase query term; it is broadcast, so the corpus is never
    shuffled by term. df counts documents containing the term
    (over the whole corpus — candidates ARE every doc containing the
    term, so the filtered stream suffices). Ties break by doc id.

    Columns: (query_id, doc_id, n_terms, score_fp, rank) with
    score_fp = Σ_term (idf_num·tf_num·SCALE) div (idf_den·tf_den),
    all terms positive so truncation == floor.
    """
    toks = ascii_tokens(text_col, lowercase=True)
    ex = documents.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
    # dl is consumed twice (the scalars agg and the score join) and tf
    # three ways (score join, df derivation) — and Catalyst will NOT
    # reuse exchanges across consumers with different pruned
    # projections (measured here as the corpus tokenize running once
    # per consumer). Both frames are
    # checkpoint-cheap — dl is two longs per doc, tf is candidate-
    # sized — so lazy localCheckpoints pin the corpus work to exactly
    # TWO passes (one tokenize+explode, one tokenize count) at any
    # scale; consumers replay from ExistingRDD (plan-tested).
    dl = documents.select(
        F.col(id_col).alias("doc_id"), F.size(toks).cast("long").alias("dl")
    ).localCheckpoint(eager=False)
    scalars = dl.agg(
        F.count("*").cast("long").alias("n"), F.sum("dl").cast("long").alias("tt")
    )
    cand = ex.join(F.broadcast(query_terms.select("query_id", "term")), "term")
    tf = cand.groupBy("query_id", "doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    ).localCheckpoint(eager=False)
    # tf holds one row per (query, doc, term), and a query's candidates
    # are every doc containing its term, so the per-(query, term) row
    # count IS the corpus df
    dfreq = tf.groupBy("query_id", "term").agg(
        F.count("*").cast("long").alias("df")
    )
    return _bm25_rank(tf, dfreq, dl, scalars, k)


def term_score_fp_expr():
    """The per-(term, doc) fixed-point BM25 contribution — references
    columns tf, df, dl, n, tt in scope. Query-INDEPENDENT: the same
    (term, doc) pair contributes the same integer to every query that
    contains the term, which is exactly what makes champion lists
    (``champion_lists``) precomputable at index time. One source for
    the scoring tail and the champion builder (the _bm25_rank
    lockstep rule extended)."""
    return F.expr(
        f"cast("
        f"((cast(2 as decimal(38,0)) * n - 2 * df + 1)"
        f" * (cast(22 as decimal(38,0)) * tt * tf)"
        f" * cast({BM25_SCALE} as decimal(38,0)))"
        f" div ((cast(2 as decimal(38,0)) * df + 1)"
        f" * (cast(10 as decimal(38,0)) * tt * tf"
        f"     + cast(3 as decimal(38,0)) * tt"
        f"     + cast(9 as decimal(38,0)) * dl * n))"
        f" as bigint)"
    )


def _bm25_rank(
    tf: DataFrame,
    dfreq: DataFrame,
    dl: DataFrame,
    scalars: DataFrame,
    k: int,
) -> DataFrame:
    """The shared BM25 scoring tail: join the per-(query, doc, term)
    tf stream with the (broadcast) per-(query, term) df table, doc
    lengths, and corpus scalars, sum exact-integer per-term scores,
    take top-k per query. Used by both the two-pass form
    (``bm25_topk``) and the at-rest index serve path
    (``BM25Index.query``), so the two stay in exact lockstep by
    construction."""
    score_fp = term_score_fp_expr()
    base = tf.join(F.broadcast(dfreq), ["query_id", "term"]).join(dl, "doc_id")
    if isinstance(scalars, tuple):
        # (n, tt) known driver-side (the index serve path collects the
        # 1-row scalars table once per instance): inline them as
        # literal columns instead of a broadcast crossJoin, removing a
        # scan + BroadcastExchange +
        # BroadcastNestedLoopJoin from every serve plan. Values are
        # the exact longs the table holds, so scores are unchanged.
        n_lit, tt_lit = scalars
        base = base.withColumn("n", F.lit(int(n_lit)).cast("long")).withColumn(
            "tt", F.lit(int(tt_lit)).cast("long")
        )
    else:
        base = base.crossJoin(F.broadcast(scalars))
    scored = (
        base.groupBy("query_id", "doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum(score_fp).cast("long").alias("score_fp"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_fp"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "n_terms", "score_fp", "rank")
    )


CHAMPION_C = 32  # champion-list length per term (Manning IR §7.1.3)


def champion_lists(
    tf: DataFrame,
    dfreq: DataFrame,
    dl: DataFrame,
    scalars: DataFrame,
    c: int = CHAMPION_C,
) -> DataFrame:
    """Per-term champion lists ("top docs", Manning IR §7.1.3): the c
    highest-contribution documents of every term's posting list under
    the exact-integer per-term BM25 score (``term_score_fp_expr`` —
    query-independent, so the lists are precomputable at index time).
    Ties break by doc_id asc, making the cut deterministic.

    ``tf`` is the CORPUS-wide (doc_id, term, tf) table (index
    postings, no query column). The window partitions by term —
    posting-list-sized, never corpus-global. Output: (term, doc_id,
    term_score_fp), ≤ c rows per term.

    Scale story: one postings pass at build time buys serving cost
    bounded by c·|query terms| per query REGARDLESS of posting-list
    length — a stopword in the query costs c rows instead of a
    million-doc posting scan. The ranking over champions is the
    standard approximation (a doc outside every matched term's list
    can't surface); ``bm25_champion_topk`` at c ≥ n_docs is exactly
    ``bm25_topk`` (parity-pinned), the n_probe=K idiom."""
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scalars))
        .select(
            "term",
            "doc_id",
            term_score_fp_expr().alias("term_score_fp"),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.desc("term_score_fp"), F.asc("doc_id")
    )
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= c)
        .select("term", "doc_id", "term_score_fp")
    )


def bm25_champion_topk(
    champions: DataFrame, query_terms: DataFrame, k: int = 10
) -> DataFrame:
    """Top-k per query served from champion lists only: broadcast the
    (query_id, term) table into the champion join, sum the
    precomputed per-term contributions, rank. Same output contract as
    ``bm25_topk`` — (query_id, doc_id, n_terms, score_fp, rank) —
    with n_terms counting matched CHAMPION entries (the champion
    model's candidate set; identical to the full form at c ≥ n_docs).
    No dl/df/scalars joins at serve time: the contribution integers
    already carry them."""
    j = champions.join(
        F.broadcast(query_terms.select("query_id", "term")), "term"
    )
    scored = j.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("term_score_fp").cast("long").alias("score_fp"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_fp"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "n_terms", "score_fp", "rank")
    )


def champion_lists_from_docs(
    documents: DataFrame,
    c: int = CHAMPION_C,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Champion lists straight from a corpus (the two-pass spec form,
    for tests and index-less callers): derives corpus-wide tf/df/dl/
    scalars exactly like ``bm25_topk`` does, then applies
    ``champion_lists``."""
    toks = ascii_tokens(text_col, lowercase=True)
    dl = documents.select(
        F.col(id_col).alias("doc_id"), F.size(toks).cast("long").alias("dl")
    ).localCheckpoint(eager=False)
    scalars = dl.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dl").cast("long").alias("tt"),
    )
    tf = (
        documents.select(
            F.col(id_col).alias("doc_id"), F.explode(toks).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    return champion_lists(tf, dfreq, dl, scalars, c)


def _term_bucket(n_buckets: int) -> F.Column:
    """The at-rest bucket of column ``term``: the partition key of the
    postings, df and champion tables and the key every prune
    recomputes. The bucket choice affects which files are READ, never
    a result."""
    return F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")


def _write_segment(
    postings: DataFrame, dl: DataFrame, path: str, n_buckets: int
) -> None:
    """Write one BM25 segment at ``path`` — the one writer of the
    at-rest layout behind ``BM25Index.build``, ``merge`` and
    ``expunge_deletes``, which differ only in the rows they pass.

    ``postings`` is (term, doc_id, tf) and ``dl`` is (doc_id, dl).
    Both are pinned with a lazy localCheckpoint, so each is computed
    once however many tables read it. Tables written:

    - ``postings``: (term, doc_id, tf), partitioned by ``term_bucket``;
    - ``df``: (term, df) re-counted from those postings, same buckets —
      never summed from stored df tables, so a segment written from
      tombstone-filtered rows has exact stats;
    - ``dl``: (doc_id, dl);
    - ``scalars``: the 1-row (n, tt) totals, 0 rather than NULL for an
      empty segment;
    - ``meta``: (n_buckets)."""
    spark = postings.sparkSession
    post = (
        postings.select("term", "doc_id", "tf")
        .withColumn("term_bucket", _term_bucket(n_buckets))
        .localCheckpoint(eager=False)
    )
    (
        post.repartition("term_bucket")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(f"{path}/postings")
    )
    (
        post.groupBy("term_bucket", "term")
        .agg(F.count("*").cast("long").alias("df"))
        .repartition("term_bucket")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(f"{path}/df")
    )
    dl = dl.select("doc_id", "dl").localCheckpoint(eager=False)
    dl.write.mode("overwrite").parquet(f"{path}/dl")
    dl.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dl").cast("long").alias("tt"),
    ).fillna(0).write.mode("overwrite").parquet(f"{path}/scalars")
    spark.createDataFrame([(int(n_buckets),)], "n_buckets int").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


class BM25Index:
    """Persisted BM25 corpus statistics — the retrieval analog of
    ``similarity.IVFIndex``: a retrieval SERVICE over a static corpus
    should not re-tokenize it per query batch.

    ``build`` tokenizes the corpus ONCE and writes the segment layout
    of ``_write_segment``: ``postings`` (term, doc_id, tf) and ``df``
    (term, df), both partitioned by ``_term_bucket`` so a query batch
    reads only the partition directories its terms hash into (the
    IVFIndex cell idiom); ``dl`` (doc_id, dl); the 1-row ``scalars``
    (n, tt); ``meta``.

    ``query`` serves any query batch with ZERO corpus passes and one
    path: the (query_id, term) table is pinned once per call, a
    shuffle-free collect of its term buckets (one row per query-term
    row, deduped on the driver) prunes the postings and df scans,
    both scans inner-join the one broadcast of the pinned table, and
    the scoring tail is the exact ``_bm25_rank`` the two-pass form
    uses — so served rankings are bit-identical to ``bm25_topk``
    (parity-pinned in tests/test_retrieval.py). The caller's lineage
    runs exactly once per call, and no query term ever becomes a plan
    literal. At 100 TB the build is one tokenize + two partial aggs +
    partitioned writes, amortized across every subsequent query batch
    (bench pair: bm25_index_build / bm25_topk_docs@index)."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        meta = spark.read.parquet(f"{path}/meta").collect()[0]
        self.n_buckets = int(meta.n_buckets)
        # Analyzed-relation cache: the at-rest tables of a given path
        # are IMMUTABLE — delete() appends tombstones (read fresh per
        # query, never cached here), expunge/merge write NEW paths —
        # so repeated query() calls can reuse one analyzed relation
        # per table instead of paying file listing + schema inference
        # per call (measured: steady serve 1.3 s → 0.7 s at sf0.1;
        # partition pruning is a per-plan filter, unaffected by
        # relation reuse).
        self._rels: dict[str, DataFrame] = {}

    def _rel(self, name: str) -> DataFrame:
        """The cached analyzed relation for an at-rest table. Only a
        SUCCESSFUL read is cached (a missing dir raises at creation,
        before the insert), so the build-on-demand paths stay
        correct. A table dir removed after caching (a /tmp reaper) is
        read again, so its PATH_NOT_FOUND raises here, where a served
        caller can rebuild, not lazily at the caller's collect."""
        import os

        rel = self._rels.get(name)
        if rel is None or not os.path.isdir(f"{self.path}/{name}"):
            rel = self.spark.read.parquet(f"{self.path}/{name}")
            self._rels[name] = rel
        return rel

    @staticmethod
    def build(
        documents: DataFrame,
        path: str,
        n_buckets: int = 64,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> "BM25Index":
        toks = ascii_tokens(text_col, lowercase=True)
        dl = documents.select(
            F.col(id_col).alias("doc_id"), F.size(toks).cast("long").alias("dl")
        )
        postings = (
            documents.select(
                F.col(id_col).alias("doc_id"), F.explode(toks).alias("term")
            )
            .groupBy("term", "doc_id")
            .agg(F.count("*").cast("long").alias("tf"))
        )
        _write_segment(postings, dl, path, n_buckets)
        return BM25Index(documents.sparkSession, path)

    @staticmethod
    def merge(a: "BM25Index", b: "BM25Index", path: str) -> "BM25Index":
        """Segment merge for incremental ingestion (the Lucene story):
        given indexes over two DISJOINT document sets, produce the
        index of the union WITHOUT touching any document text — the
        union of both sides' live tables (``_live_tables``: merge is
        where deletes get APPLIED) handed to ``_write_segment``.
        merge(build(A), build(B)) == build(A ∪ B) exactly, and
        merge(delete(build(A), X), build(B)) == build((A−X) ∪ B)
        (both parity-pinned in tests/test_retrieval.py), so a 100 TB
        corpus ingests as per-batch builds + metadata-sized merges;
        only the bucketed stats tables are ever rewritten, never the
        corpus.

        Caller contract: doc sets disjoint (same-doc postings in both
        would double-count tf). The contract is CHECKED: the two live
        dl tables are joined on doc_id BEFORE anything is written — an
        overlap silently corrupts every downstream score, so it fails
        loudly here, and failing first means a rejected merge leaves
        no partial index at ``path``. One join-count over the
        2-longs-per-doc dl tables (metadata-sized next to the corpus).
        Bucket counts may differ — terms are re-bucketed to ``a``'s
        n_buckets."""
        post_a, dl_a = a._live_tables()
        post_b, dl_b = b._live_tables()
        overlap = (
            dl_a.select("doc_id").join(dl_b.select("doc_id"), "doc_id").count()
        )
        if overlap:
            raise ValueError(
                f"BM25Index.merge: doc sets overlap ({overlap} shared"
                f" doc_ids) — merging would double-count tf/df/n/tt;"
                f" deduplicate upstream or rebuild instead"
            )
        _write_segment(
            post_a.unionByName(post_b),
            dl_a.unionByName(dl_b),
            path,
            a.n_buckets,
        )
        return BM25Index(a.spark, path)

    def _live_tables(self) -> tuple[DataFrame, DataFrame]:
        """(postings (term, doc_id, tf), dl (doc_id, dl)) at rest minus
        the tombstoned docs — the rows ``merge`` and
        ``expunge_deletes`` rewrite and ``build_champions`` ranks. The
        anti-join runs only when tombstones exist."""
        tomb = self._tombstones()

        def live(name: str, cols: list[str]) -> DataFrame:
            t = self.spark.read.parquet(f"{self.path}/{name}").select(*cols)
            if tomb is None:
                return t
            # the USING join puts doc_id first; restore the layout
            return t.join(F.broadcast(tomb), "doc_id", "left_anti").select(*cols)

        return live("postings", ["term", "doc_id", "tf"]), live(
            "dl", ["doc_id", "dl"]
        )

    def query(self, query_terms: DataFrame, k: int = 10) -> DataFrame:
        """Same output contract as ``bm25_topk`` for the same
        (query_id, term) table, zero corpus passes.

        SELECTIVE-BATCH CONTRACT: the query table must fit in a
        broadcast — it is broadcast into the postings and df joins, and
        its term-bucket column is collected for the prune, so a
        corpus-sized query table does not fit this path (shard it, or
        use the two-pass ``bm25_topk``). The table is pinned with an
        eager localCheckpoint once per call, so the prune collect and
        both joins read the same rows and the caller's lineage runs
        once. Partition pruning degrades gracefully with batch size:
        once the batch's terms hash into every bucket the scans read
        the whole tables, still correct
        (tests/test_retrieval.py::test_bm25_index_many_term_batch)."""
        qt = query_terms.select("query_id", "term").localCheckpoint(eager=True)
        tf, dfreq, dl, scalars = self._query_parts(qt)
        return _bm25_rank(tf, dfreq, dl, scalars, k)

    def _query_parts(
        self, qt: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame, tuple[int, int]]:
        """The pruned per-index table reads behind ``query``: (tf,
        dfreq, dl, (n, tt)) for one index/segment, with tf keyed by
        (query_id, doc_id, term) and dfreq by (query_id, term).
        Factored out so ``BM25SegmentSet`` can union them across
        segments before the shared ``_bm25_rank`` tail.

        ``qt`` is the caller's (query_id, term) table, already pinned
        once per call (segments share one pin). One shuffle-free
        collect of its term buckets (``_bucket_prune``) prunes both
        scans; df then inner-joins the SAME broadcast query table the
        postings join uses, so Spark builds the broadcast once and no
        term list enters the plan."""
        prune = self._bucket_prune(qt)
        qt = F.broadcast(qt)
        tf = (
            self._rel("postings")
            .filter(prune)
            .join(qt, "term")
            .select("query_id", "doc_id", "term", "tf")
        )
        tomb = self._tombstones()
        if tomb is not None:
            # delete() contract: tombstoned docs vanish from results
            # now; df/scalars stay stale until expunge_deletes. The
            # anti-join runs on the PRUNED candidate rows only, and a
            # tombstone set big enough to strain a broadcast is the
            # signal to expunge.
            tf = tf.join(F.broadcast(tomb), "doc_id", "left_anti")
        dfreq = (
            self._rel("df")
            .filter(prune)
            .join(qt, "term")
            .select("query_id", "term", "df")
        )
        return tf, dfreq, self._rel("dl"), self._scalars_nt()

    def _bucket_prune(self, qt: DataFrame):
        """The term_bucket partition filter for a (query_id, term)
        table: one map-only collect of its non-NULL term buckets (one
        row per query-term row — broadcast-sized by the selective-
        batch contract), deduped on the driver, so the collect needs
        no shuffle. NULL terms match nothing, so their bucket is never
        scanned. When every bucket is hit the filter is the constant
        TRUE rather than a per-row isin."""
        buckets = {
            int(r.b)
            for r in qt.filter(F.col("term").isNotNull())
            .select(_term_bucket(self.n_buckets).alias("b"))
            .collect()
        }
        if len(buckets) >= self.n_buckets:
            return F.lit(True)
        return F.col("term_bucket").isin(sorted(buckets))

    def _scalars_nt(self) -> tuple[int, int]:
        """The 1-row corpus scalars (n, tt), collected ONCE per
        instance and inlined as literals by ``_bm25_rank``. Safe for
        the same reason as the analyzed-relation cache: the scalars
        table of a given path is immutable (delete() leaves stats
        stale BY CONTRACT until expunge/merge, which write new
        paths)."""
        got = getattr(self, "_scalars_cache", None)
        if got is None:
            row = self._rel("scalars").collect()[0]
            # `or 0`: _write_segment fillna(0)s its scalars write, but
            # an index written by an older build could carry NULLs for
            # a 0-doc corpus — degrade to the empty result, not a
            # TypeError at plan construction
            got = (int(row.n or 0), int(row.tt or 0))
            self._scalars_cache = got
        return got

    # ---- champion lists: impact-ordered serving ----

    def build_champions(self, c: int = CHAMPION_C) -> str:
        """Materialize per-term champion lists (``champion_lists``)
        next to the index at ``champions_c{c}``, partitioned by the
        SAME term buckets as postings — so ``query_champions`` prunes
        to the query terms' buckets AND touches ≤ c rows per term.
        One full postings pass, amortized across every subsequent
        query batch (the build/serve split the index itself uses).
        Idempotent overwrite; returns the table path.

        Tombstones are applied at BUILD time (the rows come from
        ``_live_tables``): without that, deleting a common term's
        entire top-c would leave its champion list 100% tombstoned —
        the serve anti-join would then surface ZERO candidates for the
        term while live lower-scoring postings exist. With it, a
        rebuild after deletes restores full candidate lists. Stats
        (df/n/tt) inside the contributions still count tombstoned
        docs until ``expunge_deletes`` rewrites the segment — expunge,
        not rebuild, is the stats refresh (the Lucene story)."""
        post, dl = self._live_tables()
        dfreq = self.spark.read.parquet(f"{self.path}/df").select("term", "df")
        scalars = self.spark.read.parquet(f"{self.path}/scalars")
        ch = champion_lists(post, dfreq, dl, scalars, c).withColumn(
            "term_bucket", _term_bucket(self.n_buckets)
        )
        out = f"{self.path}/champions_c{c}"
        (
            ch.repartition("term_bucket")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(out)
        )
        # champions is the ONE at-rest table a rebuild overwrites in
        # place — drop any cached relation so query_champions sees the
        # fresh file set (the other tables stay immutable per path)
        self._rels.pop(f"champions_c{c}", None)
        return out

    def query_champions(
        self, query_terms: DataFrame, k: int = 10, c: int = CHAMPION_C
    ) -> DataFrame:
        """``bm25_champion_topk`` served from the at-rest champion
        table (built on demand): the scan prunes to the query terms'
        buckets — and unlike ``query``, the pruned partitions hold
        ≤ c rows per term, so a stopword-heavy batch reads c·|terms|
        rows instead of its full posting lists. Tombstoned docs are
        anti-joined out (the ``query`` delete contract). The
        (query_id, term) table is pinned once per call, as in
        ``query``: the prune collect and the champion join read the
        same rows.

        The on-demand check requires the _SUCCESS marker, not just
        the directory: a /tmp reaper can empty the dir, and a crashed
        overwrite leaves a partial one — either way the healthy index
        rebuilds the table in one call instead of serving a partial
        scan or failing the entry."""
        import os

        out = f"{self.path}/champions_c{c}"
        if not os.path.isfile(f"{out}/_SUCCESS"):
            self.build_champions(c)
        qt = query_terms.select("query_id", "term").localCheckpoint(eager=True)
        ch = (
            self._rel(f"champions_c{c}")
            .filter(self._bucket_prune(qt))
            .select("term", "doc_id", "term_score_fp")
        )
        tomb = self._tombstones()
        if tomb is not None:
            ch = ch.join(F.broadcast(tomb), "doc_id", "left_anti")
        return bm25_champion_topk(ch, qt, k)

    # ---- deletes: the third CRUD leg next to merge/tiering ----

    def delete(self, doc_ids) -> "BM25Index":
        """Tombstone deletion — the Lucene semantics, stated plainly:
        a deleted doc disappears from every subsequent query's
        RESULTS immediately (tf rows anti-joined out at serve time),
        but the corpus STATISTICS (df, n, tt → idf, avgdl) keep
        counting it until ``expunge_deletes`` rewrites the segment.
        Survivor scores therefore drift by the deleted fraction —
        bounded, monotone, and exactly what every Lucene deployment
        serves between merges; callers needing fresh stats expunge.
        Accepts a list of ids or a 1-column DataFrame; duplicate and
        unknown ids are harmless (the store is
        ``sources.tables._append_tombstones``). Single-writer, like
        merge/ingestion (the workdir contract)."""
        _append_tombstones(self.spark, self.path, doc_ids, "doc_id")
        return self

    def _tombstones(self) -> DataFrame | None:
        """The deleted doc_ids, or None when there are none — read
        semantics of ``sources.tables._read_tombstones``."""
        return _read_tombstones(self.spark, self.path, "doc_id")

    def expunge_deletes(self, path: str) -> "BM25Index":
        """Rewrite the index WITHOUT the tombstoned docs: the live
        tables (``_live_tables``) through ``_write_segment``, so stats
        are exact and expunge(delete(build(A∪B), B)) equals build(A)
        bit-for-bit (parity-pinned in tests). Writes a fresh segment
        at ``path`` (never in place — the IVF compaction crash-window
        lesson; callers flip their manifest the way tiered ingestion
        does) with NO tombstones table."""
        post, dl = self._live_tables()
        _write_segment(post, dl, path, self.n_buckets)
        return BM25Index(self.spark, path)

    def n_docs(self) -> int:
        """Corpus size at rest — the tier key for tiered segment
        merging, read from the cached scalars. Deliberately INCLUDES
        tombstoned docs (stats-at-rest, the delete() contract): tier
        sizes track bytes on disk, which deletes don't shrink until
        expunge."""
        return self._scalars_nt()[0]


class BM25SegmentSet:
    """A SET of disjoint BM25Index segments served as one logical
    index — the Lucene segment story: tiered ingestion keeps ≤1
    segment per size tier instead of folding every batch into one
    accumulated index, so merge I/O over B batches is O(index·log B),
    not O(index·B).

    ``query`` unions the per-segment pruned reads (each segment
    prunes to the query terms' buckets with its OWN n_buckets), sums
    df and corpus scalars across segments, and runs the exact shared
    ``_bm25_rank`` tail — postings/dl union + df/scalars addition is
    precisely what ``BM25Index.merge`` materializes, evaluated lazily
    at query time, so the served ranking is IDENTICAL to querying the
    fully merged index (parity-pinned in tests/test_retrieval.py).

    Cost shape: one pruned postings/df scan per live segment per
    batch — with the geometric tier policy that's ≤ log2(batches)
    scans, the standard read-amplification half of the Lucene
    tradeoff. Caller contract: segment doc sets pairwise disjoint
    (each pairwise merge CHECKS it; the set itself trusts its
    builder)."""

    def __init__(self, segments: list[BM25Index]):
        if not segments:
            raise ValueError("BM25SegmentSet: need at least one segment")
        self.segments = list(segments)
        self.spark = segments[0].spark

    @property
    def paths(self) -> list[str]:
        return [s.path for s in self.segments]

    def n_docs(self) -> int:
        return sum(s.n_docs() for s in self.segments)

    def doc_ids(self) -> DataFrame:
        """Union of LIVE doc_ids — at rest minus each segment's
        tombstones: this feeds the ingestion overlap guard, and a
        deleted doc must be re-ingestable (the merge that later
        consumes the tombstoned segment applies the delete, so the
        new copy never coexists with the old in any merged index)."""
        out = None
        for s in self.segments:
            d = s.spark.read.parquet(f"{s.path}/dl").select("doc_id")
            t = s._tombstones()
            if t is not None:
                d = d.join(F.broadcast(t), "doc_id", "left_anti")
            out = d if out is None else out.unionByName(d)
        return out

    def delete(self, doc_ids) -> "BM25SegmentSet":
        """Route tombstones to the segment that HOLDS each doc (the
        Lucene liveness story lifted to the segment set): each
        segment tombstones only the requested ids present in its own
        dl table — one metadata-sized join per live segment — so a
        later pairwise merge of two segments carries no foreign
        tombstones, and ``query`` (which already unions per-segment
        filtered reads) excludes the docs immediately. Unknown ids
        are dropped silently, matching BM25Index.delete."""
        if not isinstance(doc_ids, DataFrame):
            doc_ids = self.spark.createDataFrame(
                [(int(d),) for d in doc_ids], "doc_id long"
            )
        doc_ids = doc_ids.select(
            F.col("doc_id").cast("long")
        ).distinct().localCheckpoint(eager=False)
        for s in self.segments:
            mine = doc_ids.join(s._rel("dl").select("doc_id"), "doc_id")
            if mine.limit(1).count():
                s.delete(mine)
        return self

    def query(self, query_terms: DataFrame, k: int = 10) -> DataFrame:
        """``BM25Index.query`` over the live set: the (query_id, term)
        table is pinned once and every segment reads that one pin."""
        qt = query_terms.select("query_id", "term").localCheckpoint(eager=True)
        parts = [s._query_parts(qt) for s in self.segments]
        tf, dfr, dl, (n, tt) = parts[0]
        for tf2, dfr2, dl2, (n2, tt2) in parts[1:]:
            tf = tf.unionByName(tf2)
            dfr = dfr.unionByName(dfr2)
            dl = dl.unionByName(dl2)
            n, tt = n + n2, tt + tt2
        dfreq = dfr.groupBy("query_id", "term").agg(
            F.sum("df").cast("long").alias("df")
        )
        # per-segment (n, tt) are exact longs — their integer sum is
        # precisely what the old unioned-scalars agg computed
        return _bm25_rank(tf, dfreq, dl, (n, tt), k)


def query_terms_from_docs(
    documents: DataFrame,
    query_filter,
    n_terms: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Derive a (query_id, term) table from the corpus itself: each
    selected document's first ``n_terms`` distinct lowercase tokens
    become its query — the fixture-driven query-set idiom
    (topk_cosine's vec_id % 100 pattern) lifted to text."""
    toks = ascii_tokens(text_col, lowercase=True)
    return documents.filter(query_filter).select(
        F.col(id_col).alias("query_id"),
        F.explode(F.array_distinct(F.slice(toks, 1, n_terms))).alias("term"),
    )


def phrase_terms_from_docs(
    documents: DataFrame,
    phrase_filter,
    phrase_len: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Derive a (phrase_id, role, tok) phrase table from the corpus
    itself: each selected document's first ``phrase_len`` lowercase
    tokens become one phrase (roles 1..L in order) — the
    query_terms_from_docs idiom for EXACT phrase retrieval. Documents
    shorter than the phrase length are skipped."""
    toks = ascii_tokens(text_col, lowercase=True)
    return (
        documents.filter(phrase_filter)
        .select(F.col(id_col).alias("phrase_id"), toks.alias("ts"))
        .filter(F.size("ts") >= phrase_len)
        .select(
            "phrase_id",
            F.posexplode(F.slice("ts", 1, phrase_len)).alias(
                "role0", "tok"
            ),
        )
        .select("phrase_id", (F.col("role0") + 1).alias("role"), "tok")
    )


def prf_expand_terms(
    documents: DataFrame,
    query_terms: DataFrame,
    k_fb: int = 10,
    n_expand: int = 3,
    min_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    ranker=None,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio/RM-style,
    made deterministic): run BM25 once, treat each query's top
    ``k_fb`` documents as relevant, rank candidate terms by how many
    FEEDBACK docs contain them (desc, then term asc — a total order,
    so the cut replays exactly), drop the query's own terms and
    terms shorter than ``min_len``, keep ``n_expand`` per query, and
    return original ∪ expansion as a (query_id, term) table — feed
    it back to bm25_topk/BM25Index.query for the expanded ranking.
    The classic recall lever when queries are short; every step is
    counting and ordering, so the WHOLE two-pass retrieval
    oracle-checks (rare for a feedback loop).

    Scale shape: the feedback frame is |queries|·k_fb rows
    (checkpointed — it gates the doc-token join AND the counts); the
    candidate-term explode runs over ONLY the feedback docs (semi-
    join pruned), so expansion work is feedback-sized regardless of
    corpus size. The second retrieval pass costs one more
    bm25-candidate join with ≤ n_expand extra terms per query.

    ``ranker`` (optional): a callable (query_terms, k) -> the BM25
    ranking frame, letting callers serve the feedback leg from an
    at-rest BM25Index (bucket-pruned postings, zero corpus passes —
    rankings bit-identical via the shared _bm25_rank tail) instead
    of the default two-pass tokenize."""
    rank_fb = (
        (lambda qt, k: bm25_topk(documents, qt, k=k, text_col=text_col,
                                 id_col=id_col))
        if ranker is None
        else ranker
    )
    fb = (
        rank_fb(query_terms, k_fb)
        .select("query_id", "doc_id")
        .localCheckpoint(eager=False)
    )
    # prune BEFORE the tokenize: a join above the explode can't be
    # pushed below the Generate, so the old join-after shape ran the
    # candidate-term explode over the WHOLE corpus (and the static
    # planner happily broadcast the corpus-sized exploded side at
    # fixture stats). Semi-joining the raw docs
    # against the broadcast feedback doc-set first makes the explode
    # genuinely feedback-sized at any corpus scale.
    dt = (
        documents.select(F.col(id_col).alias("doc_id"), text_col)
        .join(
            F.broadcast(fb.select("doc_id").distinct()),
            "doc_id",
            "left_semi",
        )
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(ascii_tokens(text_col, lowercase=True))
            ).alias("term"),
        )
    )
    cnt = (
        F.broadcast(fb)
        .join(dt, "doc_id")
        .filter(F.length("term") >= min_len)
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("_nfb"))
        .join(query_terms, ["query_id", "term"], "left_anti")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_nfb"), F.asc("term")
    )
    exp = (
        cnt.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_expand)
        .select("query_id", "term")
    )
    return query_terms.select("query_id", "term").unionByName(exp)


def proximity_min_span(
    documents: DataFrame,
    phrase_terms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Proximity retrieval: the minimal window containing ALL
    of a query's terms — the ranking signal between BM25's bag of
    words (any positions) and phrase_search's exact adjacency
    (consecutive positions). Classic sloppy-phrase/proximity scoring:
    a doc where the terms sit in a 4-token window beats one scattered
    across a page.

    Semantics: queries are the DISTINCT-token term sets of
    ``phrase_terms`` rows; phrases whose 3 roles are not 3 distinct
    tokens are dropped (set semantics — a repeated token would let
    one position serve two roles and undercount the window; the
    fixed 3-term arity keeps the window math a pure column
    expression both engines replay). min_span = min over
    (p1, p2, p3) ∈ P1×P2×P3 of max−min+1 — the exact definition,
    evaluated array-locally per (query, doc) after ONE postings
    broadcast-join and ONE groupBy; distinct tokens can't share a
    position, so min_span ≥ 3 and prox_milli = 3000 div min_span
    ∈ [1, 1000] (1000 = adjacent). Only docs containing all three
    terms appear.

    Scale shape: candidates are bounded by the query terms' corpus
    frequency (the phrase_search law); the per-doc cross product is
    |P1|·|P2|·|P3| over ONE document's occurrences of three specific
    terms — bounded small for content terms, the all-stopword query
    being the standard positional-index tradeoff. A sweep over the
    merged position list is the O(n log k) generalization for
    arbitrary k; the k=3 closed form is chosen because it
    oracle-replays exactly."""
    ok3 = (
        phrase_terms.groupBy("phrase_id")
        .agg(F.countDistinct("tok").alias("_nd"))
        .filter(F.col("_nd") == 3)
        .select("phrase_id")
    )
    terms = phrase_terms.join(ok3, "phrase_id")
    post = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(ascii_tokens(text_col, lowercase=True)).alias(
            "pos", "tok"
        ),
    )
    hits = post.join(F.broadcast(terms), "tok")
    lists = (
        hits.groupBy("phrase_id", "doc_id")
        .agg(
            *[
                F.collect_list(
                    F.when(F.col("role") == r, F.col("pos"))
                ).alias(f"p{r}")
                for r in (1, 2, 3)
            ]
        )
        .filter(
            (F.size("p1") > 0) & (F.size("p2") > 0) & (F.size("p3") > 0)
        )
    )
    span = F.expr(
        "array_min(flatten(transform(p1, a ->"
        " flatten(transform(p2, b ->"
        " transform(p3, c ->"
        " greatest(a, b, c) - least(a, b, c) + 1))))))"
    ).cast("long")
    # prox derived from the span column; CollapseProject may still
    # inline the fold twice, but the per-row cross product is bounded
    # by ONE doc's term frequencies (probe: 1.12× at 10×), so a
    # projection barrier isn't worth an exchange here
    return lists.select(
        "phrase_id", "doc_id", span.alias("min_span")
    ).withColumn(
        "prox_milli", F.expr("cast(3000 div min_span as bigint)")
    )


def phrase_search(
    documents: DataFrame,
    phrase_terms: DataFrame,
    phrase_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT phrase search over a positional inverted index — the
    retrieval sub-class BM25's bag-of-words ranking cannot express
    (reference anchor: grep-style whole-phrase match over the O1
    text-scan surface, lifted to an indexed form): a document matches
    when the phrase's tokens occur at CONSECUTIVE positions.

    Anchor-alignment join, one corpus pass: positional postings
    (doc, pos, tok) broadcast-join the phrase-term table (only
    phrase tokens survive the join — the corpus never shuffles), each
    hit votes for the anchor position ``pos − role``, and an anchor
    with all ``phrase_len`` roles present IS an occurrence (one
    domain-bounded aggregate; repeated tokens inside a phrase work
    because each role's position is determined by the anchor).
    Returns (phrase_id, doc_id, n_matches ≥ 1).

    Scale shape: candidates are bounded by the phrase tokens'
    corpus frequency (rare-token phrases cost ~nothing; an all-
    stopword phrase degrades to those stopwords' postings — the
    standard positional-index tradeoff). At rest this would ride
    BM25Index's bucketed postings extended with a position column;
    the one-pass form here is the spec twin."""
    post = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(ascii_tokens(text_col, lowercase=True)).alias(
            "pos", "tok"
        ),
    )
    cand = post.join(F.broadcast(phrase_terms), "tok").select(
        "phrase_id",
        "doc_id",
        (F.col("pos") - F.col("role")).alias("anchor"),
    )
    return (
        cand.groupBy("phrase_id", "doc_id", "anchor")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") == phrase_len)
        .groupBy("phrase_id", "doc_id")
        .agg(F.count("*").cast("long").alias("n_matches"))
    )


def phrase_arrays_from_docs(
    documents: DataFrame,
    phrase_filter,
    phrase_len: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(phrase_id, ptoks array<string>) — the array form of
    phrase_terms_from_docs for the array-local matcher."""
    toks = ascii_tokens(text_col, lowercase=True)
    return (
        documents.filter(phrase_filter)
        .select(F.col(id_col).alias("phrase_id"), toks.alias("ts"))
        .filter(F.size("ts") >= phrase_len)
        .select(
            "phrase_id", F.slice("ts", 1, phrase_len).alias("ptoks")
        )
    )


def phrase_match_counts_local(
    documents: DataFrame,
    phrase_arrays: DataFrame,
    phrase_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """phrase_search's ARRAY-LOCAL twin: each (doc × broadcast
    phrase) pair counts occurrences by scanning the token array in
    place (slice-equality over every start offset) — no postings
    explode, no aggregation, fully STATELESS. Same output contract
    as phrase_search (parity-pinned in tests).

    This is the streaming shape: a document row is self-contained,
    so a doc stream joins the tiny phrase table and appends matches
    per micro-batch with zero state (streaming_phrase_matches).
    Batch-side tradeoff vs phrase_search: per-doc work is
    O(|doc|·L·|phrases|) instead of candidate-bounded — right for
    few phrases / streaming, wrong for a large phrase dictionary
    (use the postings join there)."""
    toks = ascii_tokens(text_col, lowercase=True)
    starts = F.when(
        F.size("_ts") >= phrase_len,
        F.sequence(F.lit(1), F.size("_ts") - phrase_len + 1),
    ).otherwise(F.array().cast("array<int>"))
    n = F.size(
        F.filter(
            starts,
            lambda i: F.slice(F.col("_ts"), i, phrase_len)
            == F.col("ptoks"),
        )
    )
    return (
        documents.select(
            F.col(id_col).alias("doc_id"), toks.alias("_ts")
        )
        .crossJoin(F.broadcast(phrase_arrays))
        .select(
            "phrase_id",
            "doc_id",
            n.cast("long").alias("n_matches"),
        )
        .filter(F.col("n_matches") > 0)
    )


def retrieval_eval(
    run: DataFrame,
    truth: DataFrame,
    k: int = 10,
    scale: int = RRF_SCALE,
) -> DataFrame:
    """Exact-integer retrieval evaluation — the EVAL step of a
    retrieval pipeline (trec_eval-style, restricted to the metrics
    that stay engine-portable): per query,

    - ``n_truth``   — ground-truth set size,
    - ``hits_at_k`` — |run top-k ∩ truth| (recall@k = hits/n_truth,
      left as the exact numerator/denominator pair — a float division
      here would be the only non-integer in the family),
    - ``mrr_fp``    — scale div (first hit rank), 0 when no hit (the
      reciprocal-rank integer form rrf_fuse already uses; nDCG is
      deliberately absent — log2 discounting is not hash-portable,
      the ln() lesson).

    ``run`` needs (query_id, doc_id, rank); ``truth`` needs
    (query_id, doc_id). Queries present in truth but absent from the
    run score 0 hits (LEFT join from the truth-side query set).

    Scale shape: both inputs are top-k-per-query bounded by contract,
    so every join/agg here is queries×k-sized — nothing corpus-sized.
    """
    r = run.filter(F.col("rank") <= k).select("query_id", "doc_id", "rank")
    t = truth.select("query_id", "doc_id")
    n_truth = t.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_truth")
    )
    hits = (
        r.join(t, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("hits_at_k"),
            F.min("rank").alias("_fr"),
        )
    )
    return n_truth.join(hits, "query_id", "left").select(
        "query_id",
        "n_truth",
        F.coalesce("hits_at_k", F.lit(0)).cast("long").alias("hits_at_k"),
        F.when(F.col("_fr").isNull(), F.lit(0))
        .otherwise(F.expr(f"cast({scale} div _fr as bigint)"))
        .cast("long")
        .alias("mrr_fp"),
    )


def kendall_tau_eval(
    run_a: DataFrame,
    run_b: DataFrame,
) -> DataFrame:
    """Kendall-τ rank correlation between two rankers — the
    ranker-AGREEMENT eval the family lacked (hits@k/MRR/nDCG/BLEU all
    compare a run against graded truth; τ compares two runs with no
    truth at all — the standard diagnostic when swapping a ranking
    stack: how differently do the old and new systems ORDER what they
    agree is relevant?).

    Inputs are (query_id, doc_id, rank) frames; the comparison runs
    over each query's COMMON documents (the intersection convention —
    τ over partial lists is otherwise undefined), with τ-a since
    ranks inside one run are strict (row_number). Output per query:
    (query_id, n_common, concordant, discordant, tau_milli) where
    tau_milli = 1000·(C−D) div (n(n−1)/2) — truncating division
    matches DuckDB's `//` on NEGATIVE taus (the judge-kappa
    precedent; Python's floor differs, minded in tests). Queries with
    fewer than 2 common docs report τ = 0 (no orderable pair).

    Scale shape: common is ≤ min(k_a, k_b) rows per query and feeds
    THREE consumers (both pair aliases + the n-count), so it is
    checkpointed once; the pair self-join is per-query bounded
    (k² ≤ 100 pairs), never corpus-shaped."""
    a = run_a.select("query_id", "doc_id", F.col("rank").alias("_ra"))
    b = run_b.select("query_id", "doc_id", F.col("rank").alias("_rb"))
    common = a.join(b, ["query_id", "doc_id"]).localCheckpoint(
        eager=False
    )
    left = common.select(
        "query_id",
        F.col("doc_id").alias("_d1"),
        F.col("_ra").alias("_a1"),
        F.col("_rb").alias("_b1"),
    )
    right = common.select(
        "query_id",
        F.col("doc_id").alias("_d2"),
        F.col("_ra").alias("_a2"),
        F.col("_rb").alias("_b2"),
    )
    prod = (F.col("_a1") - F.col("_a2")) * (F.col("_b1") - F.col("_b2"))
    pairs = (
        left.join(right, "query_id")
        .filter(F.col("_d1") < F.col("_d2"))
        .groupBy("query_id")
        .agg(
            F.sum((prod > 0).cast("long")).alias("concordant"),
            F.sum((prod < 0).cast("long")).alias("discordant"),
        )
    )
    n = common.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_common")
    )
    out = n.join(pairs, "query_id", "left")
    return out.select(
        "query_id",
        "n_common",
        F.coalesce("concordant", F.lit(0)).cast("long").alias("concordant"),
        F.coalesce("discordant", F.lit(0)).cast("long").alias("discordant"),
        F.expr(
            "cast(case when n_common < 2 then 0 else"
            " (1000 * (coalesce(concordant, 0)"
            "          - coalesce(discordant, 0)))"
            " div ((n_common * (n_common - 1)) div 2) end as bigint)"
        ).alias("tau_milli"),
    )


def dcg_eval(
    run: DataFrame,
    truth: DataFrame,
    k: int = 10,
    scale: int = RRF_SCALE,
) -> DataFrame:
    """Graded-relevance ranking eval: DCG/nDCG with the DYADIC
    discount — the exactly-portable member of the nDCG family
    (retrieval_eval deliberately omits true nDCG
    because log2 is not hash-portable across libm builds).

    Standard DCG discounts gain i by log2(rank_i + 1); here the
    discount is floor(log2(rank + 1)) = length(bin(rank + 1)) - 1 —
    the bit_length trick proven portable in bigram_lm_bits / zipf /
    DSIR. It agrees with log2 exactly when rank + 1 is a power of two
    (ranks 1, 3, 7, 15, …) and steps dyadically between, keeping the
    whole metric in exact integers:

        dcg_fp  = Σ_hits  (rel · scale) div floor_log2(rank + 1)
        idcg_fp = the same sum over the ideal ordering (rel desc,
                  doc_id asc as the deterministic tie-break), capped
                  at k positions
        ndcg_milli = (1000 · dcg_fp) div idcg_fp   (0 when idcg = 0)

    ``run`` needs (query_id, doc_id, rank); ``truth`` needs
    (query_id, doc_id, rel) with NON-NEGATIVE integer grades (div
    truncation direction differs between engines for negatives —
    the DuckDB `//` lesson). Docs absent from truth contribute 0.
    Queries in truth but absent from the run score dcg_fp = 0.

    Scale shape: both inputs are top-k-per-query bounded by contract;
    the ideal window partitions by query over a queries×k frame —
    nothing here is ever corpus-sized."""
    contrib = F.expr(
        f"cast((rel * {scale}) div (length(bin(rank + 1)) - 1) as bigint)"
    )
    # Contracts enforced per row, loudly at the source (the
    # span_corruption ValueError rationale): a 0-based rank would hit
    # div-0 deep inside the aggregate under ANSI mode, and a negative
    # rel silently diverges between engines (truncating vs floor
    # division). assert_true rides in a filter so pruning can't drop
    # it; it returns NULL on success, making the predicate true.
    r = (
        run.filter(F.col("rank") <= k)
        .filter(
            F.assert_true(
                F.col("rank") >= 1, F.lit("dcg_eval: run rank must be >= 1")
            ).isNull()
        )
        .select("query_id", "doc_id", "rank")
    )
    t = truth.select(
        "query_id", "doc_id", F.col("rel").cast("long").alias("rel")
    ).filter(
        F.assert_true(
            F.col("rel") >= 0, F.lit("dcg_eval: rel must be non-negative")
        ).isNull()
    )
    # Duplicate (query_id, doc_id) truth rows would double-count dcg
    # contributions through the run join, inflate n_truth, and occupy
    # two ideal positions — silently skewing ndcg. Enforced
    # loudly like the rank/rel contracts; the window is over the
    # queries×k-bounded truth frame, never corpus-sized.
    w_dup = Window.partitionBy("query_id", "doc_id")
    t = (
        t.withColumn("_dup", F.count("*").over(w_dup))
        .filter(
            F.assert_true(
                F.col("_dup") == 1,
                F.lit("dcg_eval: duplicate (query_id, doc_id) in truth"),
            ).isNull()
        )
        .drop("_dup")
    )
    nt = t.groupBy("query_id").agg(F.count("*").cast("long").alias("n_truth"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("doc_id")
    )
    ideal = (
        t.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .groupBy("query_id")
        .agg(F.sum(contrib).cast("long").alias("idcg_fp"))
    )
    dcg = (
        r.join(t, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.sum(contrib).cast("long").alias("dcg_fp"))
    )
    return (
        nt.join(ideal, "query_id")
        .join(dcg, "query_id", "left")
        .select(
            "query_id",
            "n_truth",
            F.coalesce("dcg_fp", F.lit(0)).cast("long").alias("dcg_fp"),
            "idcg_fp",
            F.expr(
                "cast(case when idcg_fp = 0 then 0 else "
                "(coalesce(dcg_fp, 0) * 1000) div idcg_fp end as bigint)"
            ).alias("ndcg_milli"),
        )
    )


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = 10,
    k_rrf: int = RRF_K,
    scale: int = RRF_SCALE,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked lists (Cormack et al. 2009):
    rrf(d) = Σ_lists 1/(k_rrf + rank_d), here as the exact integer
    Σ scale div (k_rrf + rank) so the fused ORDER is oracle-checkable
    (both engines truncate positive division identically).

    Each input frame needs (query_id, doc_id, rank); docs missing
    from a list contribute nothing (the standard convention). Output:
    (query_id, doc_id, n_sources, rrf_score_fp, rank), top-k per
    query, ties by doc_id.

    Scale shape: inputs are already top-k-per-query (bounded); the
    fuse is a union partitioned once by query_id, then one small
    groupBy and a per-query window that both reuse that partitioning
    (one shuffle: the inputs are too small for a map-side combine to
    pay for a second).
    """
    contrib = F.expr(f"cast({scale} div ({k_rrf} + rank) as bigint)")
    parts = [
        r.select("query_id", "doc_id", contrib.alias("_c")) for r in ranked
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionAll(p)
    fused = allc.repartition("query_id").groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_sources"),
        F.sum("_c").cast("long").alias("rrf_score_fp"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score_fp"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "n_sources", "rrf_score_fp", "rank")
    )

"""Structured Streaming operators.

The reference has no streaming at all (SURVEY §2.5) — its closest
analog is the incremental apply of the Raft op-log
(raft/raft.go:242-256). That maps to Structured Streaming stateful
processing; the batch fold in ``operators.kv`` and the streaming fold
here must agree on the final state (tested in tests/test_streaming.py).

100 TB notes: state lives in the executor state store partitioned by
key (same hash partitioning as the batch fold); watermarks bound the
state for window aggs; checkpointLocation gives exactly-once.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

OPLOG_SCHEMA = (
    "seq long, client long, reqid long, op string, key string, value string"
)


def read_events_stream(spark: SparkSession, dir_path: str) -> DataFrame:
    """File-source stream over the events fixture directory.

    File streams need an explicit schema; the fixture's ts encoding
    has drifted across generations (TIMESTAMP(NANOS)-as-long vs naive
    µs), so probe the parquet footer with a batch read and reuse the
    batch loader's dtype-branch normalization — batch and stream then
    agree on ts by construction.
    """
    from ..sources.tables import ensure_events_session_confs, normalize_events_ts

    ensure_events_session_confs(spark)
    raw_schema = spark.read.parquet(dir_path).schema
    return normalize_events_ts(
        spark.readStream.schema(raw_schema).parquet(dir_path)
    )


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the
    streaming twin of the declared ``events_tumbling_hour`` query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_avg(events: DataFrame, window: str = "1 hour",
                slide: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Sliding-window mean value per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.avg("value").alias("avg_value"), F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "avg_value", "n")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "2 hours") -> DataFrame:
    """Native session windows (gap-based) per user — streaming twin of
    the declared batch ``events_sessionize`` query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "user_id",
            "n_events",
        )
    )


# ---- stateful op-log fold (streaming variant of operators.kv) ------------

_FOLD_OUTPUT_SCHEMA = "key string, state string, n_ops long"
_FOLD_STATE_SCHEMA = "state string, n_ops long"
_GETS_OUTPUT_SCHEMA = "seq long, key string, val string"


def _serve_gets_walk(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    cur: str,
    n: int,
) -> tuple[str, int, pd.DataFrame]:
    """The one per-key Put/Append walk, shared by ``streaming_fold``
    and ``streaming_get_results``: fold one key's ops in ``seq`` order
    from state (cur, n) and emit the state at each ``get``'s position
    in the log (reference
    kvraft/client.go:41-59 — Get returns the current value, "" for a
    missing key; Put/Append mutate and return nothing; a NULL value
    counts as ""). Returns the new (cur, n) and the (seq, key, val)
    rows of the gets.

    Row-at-a-time walk is deliberate here: a get needs the
    point-in-time state between mutations, and the loop is bounded by
    one key's slice of one micro-batch (not the stream), so there is
    no vectorization win worth the opacity.
    """
    out_seq: list[int] = []
    out_val: list[str] = []
    for pdf in pdfs:
        pdf = pdf.sort_values("seq")
        for o, v, s in zip(
            pdf["op"].to_numpy(),
            pdf["value"].fillna("").to_numpy(),
            pdf["seq"].to_numpy(),
        ):
            if o == "put":
                cur, n = v, n + 1
            elif o == "append":
                cur, n = cur + v, n + 1
            else:  # get: read-only observation
                out_seq.append(int(s))
                out_val.append(cur)
    out = pd.DataFrame(
        {
            "seq": pd.array(out_seq, dtype="int64"),
            "key": [key[0]] * len(out_seq),
            "val": out_val,
        }
    )
    return cur, n, out


def _fold_one_key(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState fold: ``_serve_gets_walk`` over the key's
    GroupState, emitting (key, state, n_ops). ``streaming_fold`` feeds
    it put/append ops only, so the walk serves no gets here. (At-most-once
    dedup is done upstream — cheaply as a batch window or idempotent
    producer; keeping the keyed state minimal matters at scale.)"""
    cur, n, _ = _serve_gets_walk(
        key, pdfs, *(state.get if state.exists else ("", 0))
    )
    state.update((cur, n))
    yield pd.DataFrame({"key": [key[0]], "state": [cur], "n_ops": [n]})


def streaming_fold(oplog_stream: DataFrame) -> DataFrame:
    """O21 streaming: keyed state fold via applyInPandasWithState."""
    return (
        oplog_stream.filter(F.col("op").isin("put", "append"))
        .groupBy("key")
        .applyInPandasWithState(
            _fold_one_key,
            outputStructType=_FOLD_OUTPUT_SCHEMA,
            stateStructType=_FOLD_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _fold_one_key_serve_gets(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful fold that also SERVES reads: ``_serve_gets_walk`` over
    the key's GroupState."""
    cur, n, out = _serve_gets_walk(
        key, pdfs, *(state.get if state.exists else ("", 0))
    )
    state.update((cur, n))
    yield out


def streaming_get_results(oplog_stream: DataFrame) -> DataFrame:
    """O18 streaming: the read path. Consumes the full op-log stream
    (put/append/get) and emits one row per get — (seq, key, val) —
    the same surface as the batch ``kv.get_results``. State per key
    lives in the executor state store; gets observe the fold state at
    their log position (batch/stream agreement tested across ≥3
    micro-batches in tests/test_streaming.py)."""
    return oplog_stream.groupBy("key").applyInPandasWithState(
        _fold_one_key_serve_gets,
        outputStructType=_GETS_OUTPUT_SCHEMA,
        stateStructType=_FOLD_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_at_most_once_stream(
    oplog_stream: DataFrame,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``kv.dedup_at_most_once``: exactly-once
    ingestion from an at-least-once delivery stream. Seen (client,
    reqid) pairs live in the state store, so the first delivery wins —
    the same winner as the batch min-seq rule under the kvraft retry
    model (client.go retries AFTER the original send; retransmissions
    arrive later).

    At scale, pass ``ts_col`` so dropDuplicatesWithinWatermark can
    expire dedup state instead of holding every id forever — the
    retry window is bounded in practice, the op-log is not.
    """
    if ts_col is not None:
        return oplog_stream.withWatermark(
            ts_col, watermark
        ).dropDuplicatesWithinWatermark(["client", "reqid"])
    return oplog_stream.dropDuplicates(["client", "reqid"])


def stream_stream_errors_after_purchase(
    purchases: DataFrame,
    errors: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: error events within ``horizon``
    after a purchase by the same user — the streaming twin of
    rangejoin.errors_within_hour_of_purchase.

    Both sides carry watermarks and the join condition bounds e_ts
    relative to p_ts on both ends, so Spark can expire join state
    (purchases older than watermark+horizon, errors older than
    watermark) instead of buffering both streams forever — the state
    bound is what makes this viable on an unbounded 100 TB/day feed.
    Output: (purchase_id, user_id, p_ts, e_ts) matched pairs.
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    e = errors.select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    ).withWatermark("e_ts", watermark)
    return p.join(
        e,
        (p["p_user"] == e["e_user"])
        & (e["e_ts"] >= p["p_ts"])
        & (e["e_ts"] <= p["p_ts"] + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select(
        "purchase_id", F.col("p_user").alias("user_id"), "p_ts", "e_ts"
    )


def streaming_dedup_docs(
    doc_stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup for a document ingest: the streaming twin
    of ``dedup.exact_dedup``. The content hash (sha2-256) is the dedup
    key, so the state store holds 32-byte digests — never bodies —
    mirroring the batch operator's narrow-shuffle design. First
    arrival wins (same keep-set as batch keep-min-id whenever ingest
    order follows id order; tested in tests/test_streaming.py).

    At 100 TB pass ``ts_col`` so dropDuplicatesWithinWatermark bounds
    state to the watermark horizon — unbounded exact dedup state is a
    batch job's shape, not a stream's.

    Output: (id_col, content_hash) per first-seen document.
    """
    hashed = doc_stream.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_hash"),
        *([F.col(ts_col)] if ts_col else []),
    )
    if ts_col is not None:
        return (
            hashed.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["content_hash"])
            .drop(ts_col)
        )
    return hashed.dropDuplicates(["content_hash"])


def streaming_trending_terms(
    doc_stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """X4 streaming: watermarked tumbling-window term counts over a
    timestamped document stream — the trending-terms feed. Tokenize
    is map-side (explode in its own select, per the projection rule);
    the windowed agg is the only shuffle and is map-side partial
    first. Output: (win_start, token, n), update mode; consumers
    top-k the (tiny) per-window result."""
    from ..functions.text import ascii_tokens

    toks = doc_stream.withWatermark(ts_col, watermark).select(
        F.col(ts_col), F.explode(ascii_tokens(text_col, lowercase=True)).alias("token")
    )
    return (
        toks.groupBy(F.window(ts_col, window).alias("w"), "token")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "token", "n")
    )


def streaming_cms_counters(
    value_stream: DataFrame,
    value_col: str,
    d: int | None = None,
    w: int | None = None,
) -> DataFrame:
    """Streaming Count-Min counters (sketch-family streaming
    twin): a plain streaming groupBy on (lane, pos) — which means the
    state store holds AT MOST d*w rows no matter how many distinct
    values flow through. That bound is the whole point: an unbounded
    streaming groupBy(value) accumulates state per key forever; the
    sketch monitors frequencies with fixed memory and the batch
    estimator (sketch.cms_heavy_hitters) answers point queries
    against the landed counters. Update mode; counters merge with
    at-rest sketches by cell-sum (law pinned in tests)."""
    from ..operators import sketch

    # the batch builder is a plain groupBy/agg, which streams as-is —
    # ONE copy of the lane/pos derivation, so the twins cannot drift
    return sketch.cms_counters(
        value_stream,
        value_col,
        d if d is not None else sketch.CMS_D,
        w if w is not None else sketch.CMS_W,
    )


def streaming_quantile_cells(
    value_stream: DataFrame,
    group_col: str,
    value_col: str,
    width: int,
) -> DataFrame:
    """Streaming bucketed-quantile cells (sketch-family streaming
    twin, same shape as streaming_cms_counters): the batch cell
    builder is a plain groupBy on (grp, bucket), which streams as-is
    with state bounded by |groups| × domain/width cells — a running
    quantile monitor with fixed memory. Update mode; landed cells
    feed sketch.bucket_quantile_sketch's rank step (or merge with
    at-rest cells by addition — the pinned merge law)."""
    from ..operators import sketch

    return sketch.quantile_cells(
        value_stream, group_col, value_col, width
    )


def streaming_hll_registers(
    value_stream: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Streaming HyperLogLog registers (sketch-family streaming
    twin, same shape as streaming_cms_counters): the batch register
    builder is a plain groupBy max on (grp, j), which streams as-is
    with state bounded by |groups| × HLL_M rows — a running distinct
    monitor with fixed memory. Update mode; landed registers merge
    with at-rest sketches by per-(grp, j) MAX (the pinned merge law)
    and sketch.hll_distinct's estimator answers against them."""
    from ..operators import sketch

    return sketch.hll_registers(value_stream, group_col, value_col)


def streaming_classifier_scores(
    doc_stream: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Streaming twin of classifier_quality_scores: the scorer
    is a stateless map-only projection (hashed-feature integer dot
    product against literal weights), so it streams UNCHANGED in
    append mode with zero state — the ingest-time quality gate a
    100 TB pipeline runs on arriving documents."""
    from ..operators.textstats import classifier_quality_scores

    return classifier_quality_scores(doc_stream, text_col, id_col)


_INC_DEDUP_OUTPUT_SCHEMA = "doc_id long, verdict string, match_id long"
_INC_DEDUP_STATE_SCHEMA = "first_id long"


def _classify_one_fp(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-fingerprint classifier for streaming_incremental_dedup.
    State = smallest stream doc id already seen for this fingerprint
    (one long per distinct fingerprint). Rows carry the static lake
    match (_ex_match, nullable); the lake ALWAYS wins — the batch
    twin's existing-beats-batch priority."""
    first = state.get[0] if state.exists else None
    out_ids, out_v, out_m = [], [], []
    for pdf in pdfs:
        pdf = pdf.sort_values("doc_id")
        ids = pdf["doc_id"].to_numpy()
        exs = pdf["_ex_match"].to_numpy()
        for i in range(len(ids)):
            ex = None if pd.isna(exs[i]) else int(exs[i])
            if ex is not None:
                out_v.append("dup_of_existing")
                out_m.append(ex)
            elif first is not None:
                out_v.append("dup_within_stream")
                out_m.append(first)
            else:
                first = int(ids[i])
                out_v.append("new")
                out_m.append(None)
            out_ids.append(int(ids[i]))
    if first is not None:
        state.update((first,))
    yield pd.DataFrame(
        {"doc_id": out_ids, "verdict": out_v, "match_id": out_m}
    )


def streaming_incremental_dedup(
    doc_stream: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of ``dedup.incremental_dedup_audit``: the
    production ingest-time shape — classify each ARRIVING document
    against the at-rest lake fingerprint index without re-deduping
    the lake, and against the stream's own history.

    Plan: the static side collapses to one (fingerprint, min_id) row
    per distinct fingerprint (the lake index); the stream probes it
    with a stream-static left join keyed on the fingerprint (no text
    moves — the sha2 key is 32 bytes), then applyInPandasWithState
    keyed by fingerprint marks within-stream repeats. State is one
    long per distinct NEW fingerprint; at 100 TB the lake index side
    is the thing that scales, and it is a static DataFrame Spark
    re-broadcasts/joins per micro-batch.

    Verdicts: dup_of_existing (lake wins, always), new (first stream
    arrival, id-ordered within a micro-batch), dup_within_stream
    (later arrival; match_id = the first stream id). Within one
    micro-batch this agrees exactly with the batch twin whenever ids
    arrive in id order (tested); across batches first-seen wins — the
    stream semantics.
    """
    from ..operators.dedup import fingerprint

    ex_min = (
        existing.select(
            F.col(id_col).alias("_eid"), fingerprint(text_col).alias("_fp")
        )
        .groupBy("_fp")
        .agg(F.min("_eid").alias("_ex_match"))
    )
    inc = doc_stream.select(
        F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("_fp")
    )
    return (
        inc.join(ex_min, "_fp", "left")
        .groupBy("_fp")
        .applyInPandasWithState(
            _classify_one_fp,
            outputStructType=_INC_DEDUP_OUTPUT_SCHEMA,
            stateStructType=_INC_DEDUP_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_dsir_scores(
    doc_stream: DataFrame,
    llr: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of ``pipeline.dsir_importance_scores`` (r6s2):
    ingest-time DSIR data selection against a FROZEN per-bucket
    log-ratio table — the production shape: the llr table is built
    once from the lake (``pipeline.dsir_bucket_llr``, 4096 rows) and
    every arriving document is scored against it.

    Plan: gram explode → stream-static broadcast join on the bucket →
    update-mode per-doc aggregate (state = two longs per doc seen; a
    watermarked variant would bound it, but selection normally reads
    each doc's final row anyway). Emits (id, n_grams,
    dsir_score_bits, selected); gram-less docs (< 2 tokens) produce
    no row in the stream — the batch twin's join-back convention
    can't stream, documented divergence."""
    from ..operators.pipeline import _dsir_gram_scores

    scored = _dsir_gram_scores(doc_stream, llr, text_col, id_col)
    return scored.select(
        F.col(id_col),
        "n_grams",
        "dsir_score_bits",
        (F.col("dsir_score_bits") >= 0).alias("selected"),
    )


def streaming_corpus_prep(
    doc_stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the declared ``corpus_prep`` pipeline:
    quality filter (map-side exprs) → exact content dedup (state
    store holds 32-byte digests) → stable md5 split assignment
    (map-side). Ingest-time preprocessing: a document emerges already
    filtered, deduped and split-tagged, one state lookup per doc.

    First-arrival-wins dedup matches batch keep-min-id whenever
    ingest follows id order (same contract as streaming_dedup_docs);
    at scale pass ``ts_col`` so dedup state expires at the watermark.
    Output: (doc_id, split, content_hash) per surviving document.
    """
    from ..operators.pipeline import dataset_split
    from ..operators.textstats import quality_keep

    kept = doc_stream.filter(quality_keep(text_col))
    deduped = streaming_dedup_docs(
        kept, text_col=text_col, id_col=id_col, ts_col=ts_col, watermark=watermark
    )
    return dataset_split(deduped, id_col=id_col).select(
        id_col, "split", "content_hash"
    )


# ---- streaming ANN serve over a persisted IVF index ----------------------


def serve_ann_foreach_batch(
    index,
    query_stream: DataFrame,
    sink,
    k: int = 5,
    n_probe: int = 6,
):
    """X3 streaming, foreachBatch form: every non-empty micro-batch
    of queries runs through ``IVFIndex.query``, which assigns probe
    cells map-only, pins the assigned rows once, collects the batch's
    probe set from the pinned blocks and filters the cell-partitioned
    parquet on it, so the static side gets partition pruning per
    batch and tombstoned ids never reach the sink. The query side is
    read once for the emptiness check and once for the pin.
    ``sink(result_df, batch_id)`` receives the ranked (query_id,
    neighbor_id, score, rank) rows per batch. Returns the
    started-query builder (caller starts/awaits)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sink(index.query(batch_df, k=k, n_probe=n_probe), batch_id)

    return query_stream.writeStream.foreachBatch(_process)


# ---- streaming BM25 serve over a persisted postings index ----------------


def serve_bm25_foreach_batch(index, query_stream: DataFrame, sink, k: int = 10):
    """X4 streaming, foreachBatch form: every micro-batch of query
    terms runs through ``BM25Index.query`` — which collects the
    batch's term-bucket set, partition-prunes the postings scan and
    drops tombstoned docs. ``sink(result_df, batch_id)`` receives
    the fully RANKED (query_id, doc_id, n_terms, score_fp, rank) rows
    per batch. Returns the writeStream builder (caller starts/awaits) — the
    serve_ann_foreach_batch idiom. ``index`` may be a ``BM25Index``
    OR a ``BM25SegmentSet`` (tiered ingestion's live set — same
    ``query`` contract, rankings identical to the merged index), so a
    server can point directly at ``holder["index"]`` while ingestion
    runs."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sink(index.query(batch_df, k=k), batch_id)

    return query_stream.writeStream.foreachBatch(_process)


def ingest_ann_foreach_batch(
    index,
    vec_stream: DataFrame,
    compact_max_files: int | None = 8,
    holder: dict | None = None,
):
    """Streaming ANN INGESTION: the maintenance twin of the
    serve paths — each micro-batch of new (vec_id, embedding) rows is
    appended to the at-rest ``IVFIndex`` against its frozen centroids
    (``IVFIndex.add``): one broadcast-assign pass per batch, appends
    only the batch's cell partitions, idempotent under batch replay
    (the bloom-BOUNDED anti-join + within-batch dedupe — a batch of
    genuinely new ids skips the at-rest id scan entirely), and loud on
    the same id arriving with different vectors WITHIN a batch (the
    conflict guard). ACROSS batches the index wins: an id already at
    rest is anti-joined out even if its vector changed — re-embedding
    an existing id requires a rebuild, by the same
    existing-beats-batch priority incremental_dedup_audit uses (the
    guard cannot see cross-batch conflicts because the anti-join
    removes them first). Grown index == same-centroid assignment of
    the union corpus (add's parity pin).

    Cell-file hygiene (the tiered-BM25 lesson on the ANN side): after
    every add, cells whose parquet file count exceeds
    ``compact_max_files`` are rewritten to one file
    (``IVFIndex.compact_cells`` — threshold-triggered, self-nooping,
    query-parity-pinned), so live file count per cell stays bounded
    at any batch count instead of growing one file per touched cell
    per micro-batch. ``compact_max_files=None`` disables (append
    only). Each performed compaction is recorded in
    ``holder["compactions"]`` as (batch_id, stats) when a holder dict
    is passed. Returns the writeStream builder."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        index.add(batch_df)
        if compact_max_files is not None:
            stats = index.compact_cells(compact_max_files)
            if holder is not None and stats["compacted_cells"]:
                holder.setdefault("compactions", []).append(
                    (batch_id, stats)
                )

    return vec_stream.writeStream.foreachBatch(_process)


def ingest_ann_cdc_foreach_batch(
    index,
    cdc_stream: DataFrame,
    compact_max_files: int | None = 8,
    holder: dict | None = None,
):
    """CDC ingestion for the ANN index: the full
    change-data-capture contract on top of ``ingest_ann_foreach_
    batch``'s append-only story. Input rows are
    (seq long, op ∈ {'add','delete'}, vec_id, embedding) — seq is
    the change-log position, so within a batch the LAST op per id
    wins (standard CDC netting; an add-then-delete nets to delete).

    Per micro-batch, in order:
    1. net-deletes → ``index.delete`` (tombstones; gone from every
       query immediately, unknown ids harmless);
    2. net-adds are classified against the at-rest copies:
       - identical vector already at rest → replay, dropped by
         add's bounded anti-join (zero rewrite cost);
       - DIFFERENT vector at rest (``ingest_conflict_audit``'s
         conflicting_drop — the re-embed add() alone would silently
         lose) → this IS the update path: the stale copy is
         tombstoned and ``expunge_deletes`` physically applies all
         pending tombstones (bloom-pruned cell rewrite), then the
         new vector appends;
       - id tombstoned by an EARLIER batch → same expunge-then-add
         path (add() refuses tombstoned ids by contract);
    3. ``index.add`` of the net-adds;
    4. threshold compaction, as in the append-only loop.

    Replay of any batch is idempotent: re-derived net ops re-append
    duplicate tombstones (harmless), re-expunge finds nothing to
    remove, and the re-add anti-joins out. Every crash window
    inherits the component contracts (tombstone append is
    monotone, expunge is the crash-safe swap, add is
    superset-first). Updates cost a pruned rewrite of the affected
    cells — the honest price of in-place re-embedding in a
    cell-partitioned store; a bulk re-embed should rebuild instead.
    holder records n_deleted / n_replaced / expunges per batch."""
    from pyspark.sql import Window

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = Window.partitionBy("vec_id").orderBy(F.desc("seq"))
        net = (
            batch_df.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .drop("_r")
            .localCheckpoint()
        )
        dels = net.filter(F.col("op") == "delete").select("vec_id")
        n_del = dels.count()
        if n_del:
            index.delete(dels)
        adds = net.filter(F.col("op") == "add").select(
            "vec_id", "embedding"
        )
        # normalize to the at-rest vector width BEFORE the conflict
        # audit (add()'s mixed-type rule): a double-sent replay
        # of a float32-stored vector would otherwise round-trip as a
        # spurious conflicting_drop and trigger a needless rewrite
        at_rest_t = index.spark.read.parquet(
            f"{index.path}/cells"
        ).schema["cvec_"].dataType
        adds = adds.withColumn(
            "embedding", F.col("embedding").cast(at_rest_t)
        ).localCheckpoint(eager=False)
        if adds.isEmpty():
            if holder is not None:
                holder.setdefault("batches", []).append(
                    {"batch_id": batch_id, "n_deleted": n_del,
                     "n_replaced": 0, "expunged": False}
                )
            return
        # updates: live at-rest copies with a DIFFERENT vector
        conflicts = (
            index.ingest_conflict_audit(adds)
            .filter(F.col("verdict") == "conflicting_drop")
            .select(F.col("vec_id"))
        )
        tomb = index._tombstones()
        stale = conflicts
        if tomb is not None:
            stale = stale.unionByName(
                adds.select("vec_id").join(
                    tomb.withColumnRenamed("neighbor_id", "vec_id"),
                    "vec_id",
                )
            )
        stale = stale.distinct().localCheckpoint(eager=False)
        n_replace = stale.count()
        expunged = False
        if n_replace:
            # tombstone the re-embedded live copies, then apply ALL
            # pending tombstones physically so the re-adds are legal
            if conflicts.limit(1).count():
                index.delete(conflicts)
            index.expunge_deletes()
            expunged = True
        index.add(adds)
        if compact_max_files is not None:
            stats = index.compact_cells(compact_max_files)
            if holder is not None and stats["compacted_cells"]:
                holder.setdefault("compactions", []).append(
                    (batch_id, stats)
                )
        if holder is not None:
            holder.setdefault("batches", []).append(
                {"batch_id": batch_id, "n_deleted": n_del,
                 "n_replaced": int(n_replace), "expunged": expunged}
            )

    return cdc_stream.writeStream.foreachBatch(_process)


def _bm25_tier(n_docs: int) -> int:
    """Geometric size tier: integer log2 of the segment's doc count.
    Two segments in the same tier are within 2× of each other, so
    merging them at most doubles the survivor's tier — each document
    is rewritten O(log batches) times total (the Lucene/LSM bound)."""
    return max(int(n_docs), 1).bit_length()


def ingest_bm25_foreach_batch(index, doc_stream: DataFrame, workdir: str):
    """Streaming BM25 INGESTION with TIERED segment merging: each
    micro-batch of NEW documents builds a
    per-batch segment index (the only pass over that batch's TEXT —
    tokenize happens once per document, ever) and enters it into a
    geometric tier structure: at most one live segment per size tier
    (tier = bit_length of doc count); whenever two live segments
    share a tier, the two smallest merge (``BM25Index.merge``) and
    the survivor cascades upward. Total merge I/O over B batches is
    O(index·log B) — a per-batch 2-way chain would rewrite the whole
    accumulated index every batch, O(index·B), a scale-killer at
    minute-level batch cadence on a 100 TB corpus.

    The SERVED surface is a ``BM25SegmentSet`` over the ≤log2(B) live
    segments — rankings identical to the fully merged index (union
    postings/dl + summed df/scalars through the same ``_bm25_rank``
    tail; parity-pinned), at the cost of one pruned scan per live
    segment per query batch (the standard read side of the tradeoff).

    RESTART-SAFE: after every batch the live segment set is written
    to ``workdir/LATEST`` (one path per line, atomic ``os.replace``),
    so on query restart (same checkpointLocation — Spark skips
    committed batches) the builder resumes from the recorded set, not
    the stale base ``index``. A batch redelivered after a crash
    between the LATEST flip and Spark's offset commit is detected via
    the at-rest doc_ids (ALL already present) and skipped — the skip
    is OBSERVABLE: logged and recorded in
    ``holder["skipped"]``, since a genuinely re-sent already-ingested
    corpus takes the same path; a PARTIAL overlap still fails loudly
    inside merge.

    Generation GC (without it, one full index copy per batch would
    leak, unbounded): segments consumed by a merge are deleted ONE
    FLIP LATER (after the NEXT successful LATEST flip), so the
    previous generation stays on disk through the crash window and
    any in-flight queries against the last-served set; on builder
    construction, workdir ``seg_*``/``gen_*`` dirs not referenced by
    LATEST are swept (they are unreachable — LATEST never points
    backwards). Only dirs under ``workdir`` are ever deleted; a
    caller-provided base index outside it is never touched.

    Returns (writeStream builder, holder); ``holder["index"]`` is the
    latest ``BM25SegmentSet``, ``holder["stats"]`` tracks
    rows_written/merges (the write-amplification receipt),
    ``holder["skipped"]`` the (batch_id, rows) replay skips."""
    import os
    import shutil

    from ..operators.retrieval import BM25Index, BM25SegmentSet

    spark = index.spark
    marker = os.path.join(workdir, "LATEST")

    def _gc_ok(p: str) -> bool:
        """Only ingestion-owned dirs under workdir are deletable."""
        rp = os.path.realpath(p)
        wd = os.path.realpath(workdir)
        return rp.startswith(wd + os.sep) and os.path.basename(rp).startswith(
            ("seg_", "gen_")
        )

    if os.path.exists(marker):
        with open(marker) as fh:
            paths = [ln.strip() for ln in fh if ln.strip()]
        segments = [BM25Index(spark, p) for p in paths]
        # startup sweep: unreferenced seg_*/gen_* dirs are unreachable
        # (LATEST never points backwards) — crash leftovers and
        # superseded generations whose deferred GC never ran
        live = {os.path.realpath(p) for p in paths}
        for e in sorted(os.listdir(workdir)):
            full = os.path.join(workdir, e)
            if (
                os.path.isdir(full)
                and _gc_ok(full)
                and os.path.realpath(full) not in live
            ):
                shutil.rmtree(full, ignore_errors=True)
    else:
        segments = [index]
    holder = {
        "index": BM25SegmentSet(segments),
        "skipped": [],
        "stats": {"rows_written": 0, "merges": 0},
        "_sizes": {s.path: s.n_docs() for s in segments},
        "_pending_gc": [],
    }

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cur: BM25SegmentSet = holder["index"]
        sizes: dict = holder["_sizes"]
        # replay guard, checked against the WHOLE live set (a 2-way
        # chain's merge(cur, seg) would implicitly check every
        # batch against the full accumulation; tiered merges only
        # check the PAIR being merged, so a partial overlap with a
        # non-merged live segment would double-count silently — the
        # guard must be loud here instead). ALL doc_ids present =
        # crash replay / full re-delivery → skip, observably; SOME
        # present = genuine upstream duplication → raise.
        ids = batch_df.select("doc_id").distinct()
        n_ids = ids.count()
        n_overlap = ids.join(cur.doc_ids().distinct(), "doc_id").count()
        if n_overlap == n_ids:
            holder["skipped"].append((batch_id, n_ids))
            import sys

            print(
                f"ingest_bm25: skipped batch {batch_id} ({n_ids} ids) "
                f"— all doc_ids already indexed (crash replay or "
                f"upstream full-duplicate delivery)",
                file=sys.stderr,
            )
            return
        if n_overlap:
            raise ValueError(
                f"ingest_bm25: batch {batch_id} partially overlaps the"
                f" index ({n_overlap}/{n_ids} doc_ids already at rest)"
                f" — merging would double-count tf/df/n/tt;"
                f" deduplicate upstream"
            )
        seg = BM25Index.build(batch_df, f"{workdir}/seg_{batch_id}")
        live = list(cur.segments) + [seg]
        sizes[seg.path] = seg.n_docs()
        holder["stats"]["rows_written"] += sizes[seg.path]
        consumed: list[str] = []
        seq = 0
        while True:
            by_tier: dict[int, list] = {}
            for s in live:
                by_tier.setdefault(_bm25_tier(sizes[s.path]), []).append(s)
            pair = None
            for t in sorted(by_tier):
                if len(by_tier[t]) >= 2:
                    pair = sorted(
                        by_tier[t], key=lambda s: (sizes[s.path], s.path)
                    )[:2]
                    break
            if pair is None:
                break
            a, b = pair
            merged = BM25Index.merge(
                a, b, f"{workdir}/gen_{batch_id}_{seq}"
            )
            seq += 1
            sizes[merged.path] = sizes[a.path] + sizes[b.path]
            holder["stats"]["rows_written"] += sizes[merged.path]
            holder["stats"]["merges"] += 1
            consumed.extend([a.path, b.path])
            live = [s for s in live if s.path not in (a.path, b.path)]
            live.append(merged)
        tmp = f"{marker}.tmp"
        with open(tmp, "w") as fh:
            fh.write("\n".join(s.path for s in live) + "\n")
        os.replace(tmp, marker)
        holder["index"] = BM25SegmentSet(live)
        # deferred GC: dirs superseded BEFORE this flip are now two
        # generations old — no reader or crash path can reach them
        for p in holder["_pending_gc"]:
            if _gc_ok(p):
                shutil.rmtree(p, ignore_errors=True)
                sizes.pop(p, None)
        holder["_pending_gc"] = [p for p in consumed if _gc_ok(p)]

    # direct per-batch entry (holder["_ingest"](df, batch_id)): lets a
    # non-streaming caller — or the tier-schedule sweep test — drive
    # the SAME tier/GC/replay logic without the streaming engine's
    # per-micro-batch overhead
    holder["_ingest"] = _process
    return doc_stream.writeStream.foreachBatch(_process), holder


def ingest_corpus_foreach_batch(
    doc_stream: DataFrame,
    bm25_index,
    bm25_workdir: str,
    ann_index,
    lake_fp_path: str,
    compact_max_files: int | None = 8,
):
    """End-to-end corpus ingestion: ONE
    micro-batch pipeline composing the individually-tested legs —
    incremental dedup against the at-rest fingerprint lake →
    surviving docs into the TIERED BM25 ingest → surviving vectors
    into the ANN index → fingerprint-lake flip LAST. Input rows are
    (doc_id, text, embedding); vec_id == doc_id.

    Crash discipline (the bloom-sidecar superset-first rule lifted to
    pipeline level): downstream ingests run BEFORE the lake flip. A
    crash after the ingests but before the flip redelivers the
    batch; the dedup stage re-selects the SAME survivors (their
    fingerprints are not yet in the lake), and the BM25 replay-skip
    (all doc_ids present) plus the ANN bloom anti-join collapse the
    re-run to a no-op. Flipping the lake FIRST would classify the
    redelivered docs dup_of_existing and silently lose them from
    both indexes — the exact loss mode incremental_dedup_audit's
    lake-wins priority exists to prevent. The lake append itself is
    idempotent (anti-join against the at-rest fingerprints).

    Returns (writeStream builder, holder): holder["index"] = live
    BM25SegmentSet, holder["batches"] = per-batch
    {batch_id, n_in, n_new}, holder["_proc"] = the direct per-batch
    entry (the holder["_ingest"] idiom) for redelivery simulation.
    Served-vs-batch-build ranking parity is pinned in
    tests/test_ingestion_e2e.py."""
    import os

    from pyspark.sql import Window as W

    from ..operators import dedup

    spark = bm25_index.spark
    # reuse the tiered ingest's per-batch entry (the builder it
    # returns is unused — this pipeline drives _ingest directly)
    _unused, bm_holder = ingest_bm25_foreach_batch(
        bm25_index, doc_stream.select("doc_id", "text"), bm25_workdir
    )
    holder: dict = {"batches": [], "_bm25": bm_holder}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        inc = batch_df.withColumn(
            "_fp", dedup.fingerprint("text")
        ).withColumn(
            "_bmin", F.min("doc_id").over(W.partitionBy("_fp"))
        )
        if os.path.isdir(lake_fp_path):
            lake_fp = spark.read.parquet(lake_fp_path).select("_fp")
        else:
            lake_fp = None
        surv = inc.filter(F.col("_bmin") == F.col("doc_id"))
        if lake_fp is not None:
            surv = surv.join(lake_fp, "_fp", "left_anti")
        # eager pin: three consumers (both ingests + the lake flip)
        surv = surv.localCheckpoint()
        n_new = surv.count()
        holder["batches"].append(
            {"batch_id": batch_id, "n_in": batch_df.count(),
             "n_new": n_new}
        )
        if n_new == 0:
            return
        bm_holder["_ingest"](surv.select("doc_id", "text"), batch_id)
        holder["index"] = bm_holder["index"]
        ann_index.add(
            surv.select(F.col("doc_id").alias("vec_id"), "embedding")
        )
        if compact_max_files is not None:
            ann_index.compact_cells(compact_max_files)
        # lake flip LAST (see crash discipline above)
        new_fp = surv.select(
            "_fp", F.col("doc_id").alias("min_id")
        )
        if lake_fp is not None:
            new_fp = new_fp.join(lake_fp, "_fp", "left_anti")
        new_fp.write.mode("append").parquet(lake_fp_path)

    holder["index"] = bm_holder["index"]
    holder["_proc"] = _process
    return doc_stream.writeStream.foreachBatch(_process), holder


def serve_hybrid_foreach_batch(
    bm25_index,
    ivf_index,
    query_stream: DataFrame,
    sink,
    k: int = 10,
    n_probe: int = 6,
):
    """Streaming twin of the index-served HYBRID: a
    stream of queries served against BOTH at-rest indexes per
    micro-batch — the lexical leg through ``BM25Index.query`` (the
    batch's term buckets partition-prune the postings scan), the
    semantic leg through ``IVFIndex.query`` (the batch's probe cells
    partition-prune the cell parquet), fused with exact-integer RRF.
    Completes the serving story serve_bm25_foreach_batch /
    serve_ann_foreach_batch tell per leg.

    ``query_stream`` rows: (query_id long, embedding array<float>,
    terms array<string>) — one row per query carrying both
    modalities. ``sink(result_df, batch_id)`` receives the fused
    (query_id, doc_id, n_sources, rrf_score_fp, rank) rows, rank ≤ k
    per query. Returns the writeStream builder (caller starts).

    Scale shape: per batch, each index path touches only the batch's
    buckets/cells (the selective-batch contract); the fuse inputs are
    top-k-per-query bounded, so fusion is batch×k-sized. Nothing in
    the batch path rescans a corpus."""
    from ..operators.retrieval import rrf_fuse

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        qterms = batch_df.select(
            "query_id", F.explode("terms").alias("term")
        )
        lex = bm25_index.query(qterms, k=k).select(
            "query_id", "doc_id", "rank"
        )
        sem = ivf_index.query(
            batch_df, k=k, n_probe=n_probe, id_col="query_id"
        ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
        sink(rrf_fuse([lex, sem], k=k), batch_id)

    return query_stream.writeStream.foreachBatch(_process)


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "update"):
    """Drive a streaming query to completion over the available batch
    of files and land results in an in-memory table (test harness).
    The returned (stopped) query still serves ``lastProgress`` — pair
    with ``state_rows_total`` to pin state-size budgets."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def state_rows_total(q) -> int | None:
    """Total rows in the query's state store(s), from the LAST
    progress event's ``stateOperators`` (numRowsTotal summed across
    operators) — the streaming state-size budget observable
    (the TestSnapshotSize3B analog: every stateful
    twin documents a domain bound for its state; this reads the
    ACTUAL metric so tests can pin it instead of trusting the
    docstring). None when the query produced no progress or holds no
    stateful operator (stateless append paths)."""
    p = q.lastProgress
    if not p:
        return None
    ops = p.get("stateOperators") or []
    if not ops:
        return None
    return sum(int(o.get("numRowsTotal", 0)) for o in ops)


def streaming_transfer_serving(oplog_stream: DataFrame) -> DataFrame:
    """O24 streaming twin: live per-(epoch, gid) transfer-
    window serving counters — the dashboard a reconfiguring
    deployment watches for the Challenge2 invariants (unaffected
    availability 100%, in-transfer gap bounded by arrival offsets).
    The batch body streams as-is (the cms_counters one-copy rule):
    row-local schedule columns + one streaming groupBy; state is
    domain-bounded at |epochs seen| × NGROUPS rows. Update mode.
    Assumes an exactly-once upstream (the at-most-once dedup window
    is a batch construct — the streaming_fold caveat)."""
    from ..operators import kv

    return kv.transfer_serving_counts(oplog_stream)


def streaming_min_k_scores(
    doc_stream: DataFrame,
    model_docs: DataFrame,
    k_pct: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of min_k_prob_audit: the memorization /
    membership monitor scored LIVE against a FROZEN bigram LM
    trained on the static lake — arriving documents whose k% most
    surprising bigrams are still predictable score low and flag as
    already-known (duplicated or memorized upstream).

    Shape: explode the stream's bigrams, stream-static join the
    frozen (big, uni, vocab) tables (UNSEEN grams coalesce to the
    add-one 1/(0+V) case — the lm_bits_col contract), then ONE
    streaming groupBy per doc collecting the bits array; the k%
    tail is array-local (sort + slice + fold), so the per-doc state
    is one doc-length-bounded list. Update mode. Docs are
    self-contained rows, so each emits once per its arrival batch;
    pass a watermark upstream for state cleanup on unbounded
    streams (the streaming_fold caveat). Batch agreement: scoring a
    corpus against ITSELF equals the batch min_k_prob_audit
    (pinned in tests)."""
    from ..operators import textstats

    big, uni, vocab = textstats._bigram_model(
        model_docs, text_col, id_col
    )
    ex = textstats._bigram_occurrences(doc_stream, text_col, id_col)
    occ = (
        ex.join(big, "bg", "left")
        .join(uni, "a", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", textstats.lm_bits_col().alias("bits"))
    )
    agg = occ.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.array_sort(F.collect_list("bits")).alias("_bs"),
    )
    return agg.select(
        "doc_id",
        "n_grams",
        F.expr(
            f"cast(greatest(1, (n_grams * {k_pct}) div 100) as bigint)"
        ).alias("m_tail"),
        F.expr(
            f"aggregate(slice(_bs, 1, cast(greatest(1,"
            f" (n_grams * {k_pct}) div 100) as int)),"
            f" 0L, (acc, x) -> acc + x)"
        ).alias("min_k_bits"),
    ).withColumn(
        "mink_centibits",
        F.expr("cast((-min_k_bits * 100) div m_tail as bigint)"),
    )


def streaming_catchup_serving(oplog_stream: DataFrame) -> DataFrame:
    """Streaming twin of kv.config_catchup_serving: live
    per-(epoch, gid) missed-config catch-up counters (configs
    behind, dropped/stale/served, in-order application witness) —
    the dashboard TestMissChange's operator watches. Same one-copy
    shape as streaming_transfer_serving: row-local schedule columns
    + one streaming groupBy, state domain-bounded at |epochs seen| ×
    NGROUPS rows. Update mode; exactly-once upstream assumed."""
    from ..operators import kv

    return kv.config_catchup_counts(oplog_stream)


def streaming_phrase_matches(
    doc_stream: DataFrame,
    phrase_arrays: DataFrame,
    phrase_len: int = 3,
) -> DataFrame:
    """Live phrase monitor: exact consecutive-token phrase
    matches over a document stream — the compliance/blocklist watch
    (which incoming docs contain any watched phrase, how often).
    Stateless append: the array-local matcher scans each self-
    contained document row against the broadcast phrase table
    (retrieval.phrase_match_counts_local — the one-copy rule), so
    there is NO state store at any stream length. Batch-agreement
    pinned in tests; the postings-join phrase_search is the batch
    form for large phrase dictionaries."""
    from ..operators import retrieval

    return retrieval.phrase_match_counts_local(
        doc_stream, phrase_arrays, phrase_len
    )


def streaming_reward_clip(
    doc_stream: DataFrame,
    lo_cut: int,
    hi_cut: int,
    reward=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lo: int = -2048,
    hi: int = 2047,
) -> DataFrame:
    """Streaming twin of reward_winsorize's CLIP half: the quantile
    cutoffs are corpus statistics a batch sketch froze (a second
    streaming agg over them would be illegal), and the clip itself is a stateless
    map-only projection that streams unchanged in append mode. A
    pipeline re-freezes cutoffs per model/corpus generation, exactly
    like the BM25 scalars. ``reward`` is any integer Column over the
    stream (default: the classifier score over text_col — the
    declared batch entry's reward); the clip formulas are the shared
    pipeline.clip_columns, so the twins cannot drift. Columns match
    the batch op: (id_col, reward_fp, lo_cut, hi_cut, reward_winsor,
    clip)."""
    from pyspark.sql import functions as F

    from ..operators.pipeline import clip_columns
    from ..operators.textstats import classifier_score_col

    if lo_cut > hi_cut:
        raise ValueError(
            f"streaming_reward_clip: lo_cut {lo_cut} > hi_cut {hi_cut}"
        )
    if reward is None:
        reward = classifier_score_col(text_col)
    clamped = F.greatest(
        F.least(reward.cast("long"), F.lit(hi)), F.lit(lo)
    ).alias("reward_fp")
    return clip_columns(
        doc_stream.select(
            F.col(id_col),
            clamped,
            F.lit(lo_cut).cast("long").alias("lo_cut"),
            F.lit(hi_cut).cast("long").alias("hi_cut"),
        ),
        id_col,
    )


def maintain_matview_foreach_batch(
    base_agg: DataFrame,
    delta_stream: DataFrame,
    keys,
    count_col: str,
    sum_cols,
    workdir: str,
):
    """Streaming incremental view maintenance — the
    matview.maintain_groupby fold driven by a CDC stream, with the
    BM25-ingestion durability recipe applied to an AGGREGATE instead
    of an index: the maintained view lives at rest as parquet
    generations under ``workdir``; every batch reads the current
    generation, folds the batch's signed delta (one delta-sized
    shuffle + a domain-sized merge — the base TABLE is never
    touched), writes the next generation, and atomically flips
    ``workdir/LATEST`` (content: "<path> <batch_id>").

    RESTART-SAFE and EXACTLY-ONCE: on construction an existing LATEST
    wins over the caller's ``base_agg`` (the resume rule); a batch
    redelivered after a crash between the flip and Spark's offset
    commit is detected by batch_id equality with the marker —
    re-applying a delta is NOT idempotent (unlike the BM25 doc-id
    skip, which can probe at-rest ids), so the marker carries the
    last applied batch_id and the replay is SKIPPED observably
    (``holder["skipped"]``). Superseded generations are swept one
    flip later (the deferred-GC window keeps in-flight readers and
    the crash window safe).

    Returns (writeStream builder, holder): ``holder["view"]()`` reads
    the current generation; ``holder["_apply"]`` exposes the batch fn
    for non-streaming drivers (the tier-sweep precedent)."""
    import os
    import shutil

    from ..operators import matview

    spark = base_agg.sparkSession
    keys = list(keys)
    sum_cols = list(sum_cols)
    os.makedirs(workdir, exist_ok=True)
    marker = os.path.join(workdir, "LATEST")
    holder = {"skipped": [], "stats": {"batches": 0}, "_pending_gc": []}

    def _read_marker():
        with open(marker) as fh:
            path, bid = fh.read().strip().rsplit(" ", 1)
        return path, int(bid)

    if os.path.exists(marker):
        holder["_cur"], holder["_last_bid"] = _read_marker()
        # construction sweep (the BM25 recipe's other half):
        # _pending_gc is memory-only, so a restart between flips
        # strands the superseded generation forever; any gen_* dir the marker doesn't name is
        # unreachable (LATEST never points backwards) and swept now
        live = os.path.realpath(holder["_cur"])
        for e in sorted(os.listdir(workdir)):
            full = os.path.join(workdir, e)
            if (
                e.startswith("gen_")
                and os.path.isdir(full)
                and os.path.realpath(full) != live
            ):
                shutil.rmtree(full, ignore_errors=True)
    else:
        init = os.path.join(workdir, "gen_base")
        base_agg.write.mode("overwrite").parquet(init)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(f"{init} -1")
        os.replace(tmp, marker)
        holder["_cur"], holder["_last_bid"] = init, -1

    def _view():
        return spark.read.parquet(holder["_cur"])

    holder["view"] = _view

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id == holder["_last_bid"]:
            holder["skipped"].append(batch_id)
            import sys

            print(
                f"maintain_matview: skipped batch {batch_id} — already"
                f" applied (crash replay)",
                file=sys.stderr,
            )
            return
        if batch_df.isEmpty():
            return
        nxt = os.path.join(workdir, f"gen_{batch_id}")
        prev = holder["_cur"]
        updated = matview.maintain_groupby(
            _view(), batch_df, keys, count_col, sum_cols
        )
        updated.write.mode("overwrite").parquet(nxt)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(f"{nxt} {batch_id}")
        os.replace(tmp, marker)
        holder["_cur"], holder["_last_bid"] = nxt, batch_id
        holder["stats"]["batches"] += 1
        # deferred GC: the generation superseded LAST flip is now
        # unreachable through any crash path — sweep it; keep `prev`
        # until the next flip
        for p in holder["_pending_gc"]:
            if os.path.realpath(p).startswith(
                os.path.realpath(workdir) + os.sep
            ):
                shutil.rmtree(p, ignore_errors=True)
        holder["_pending_gc"] = [prev]

    holder["_apply"] = _process
    return delta_stream.writeStream.foreachBatch(_process), holder


def streaming_ring_router(oplog_stream: DataFrame) -> DataFrame:
    """Consistent-hash routing on a live op stream: the
    kv.consistent_ring_stats placement applied per op — a STATELESS
    map (the ring rides as a literal array; no state store at any
    stream length, the streaming_phrase_matches class). Emits
    (seq, key, key_pos, owner); the batch per-key count entry is the
    at-rest twin."""
    from ..operators import kv

    key_pos, owner = kv.ring_owner_exprs()
    return oplog_stream.select("seq", "key").withColumn(
        "key_pos", key_pos
    ).withColumn("owner", owner)

"""Structured Streaming: batch/stream agreement + stateful fold."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from mrgo_spark.operators import kv
from mrgo_spark.sources.tables import load_table
from mrgo_spark.streaming import stream_ops

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_stream(spark, tmp_path):
    # file-source streams read a directory; stage the single fixture file
    d = tmp_path / "events_dir"
    d.mkdir()
    os.symlink(SF + "/events.parquet", d / "events.parquet")
    return stream_ops.read_events_stream(spark, str(d))


def test_tumbling_counts_match_batch(spark, events_stream):
    out = stream_ops.tumbling_counts(events_stream)
    stream_ops.run_to_memory(out, "tumbling_out", output_mode="update")
    got = {
        (r.hour_start, r.event_type): (r.n, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .collect()
    )
    want = {
        (r.hour_start, r.event_type): (r.n, round(r.total_value, 6)) for r in batch
    }
    assert got == want


def test_session_window_count_matches_batch_sessionize(spark, events_stream):
    """Total session count from streaming session_window equals the
    batch lag/cumsum sessionization (same 30 min gap)."""
    out = stream_ops.session_windows(events_stream, gap="30 minutes")
    # session-window aggs don't support update mode
    stream_ops.run_to_memory(out, "sess_out", output_mode="complete")
    n_stream = spark.sql(
        "SELECT COUNT(*) AS n FROM sess_out"
    ).collect()[0].n

    from mrgo_spark.operators.queries_relational import q_sessionize

    n_batch = (
        q_sessionize(spark, SF).agg(F.sum("n_sessions").alias("s")).collect()[0].s
    )
    assert n_stream == n_batch


def test_streaming_fold_matches_batch_fold(spark, tmp_path):
    """O21: streaming applyInPandasWithState state == batch fold state
    (the op-log is written without retransmissions: dedup is a batch
    concern; the streaming fold consumes an exactly-once log)."""
    events = load_table(spark, SF, "events")
    oplog = kv.synth_oplog(events, dup_every=10**9)  # no duplicates
    path = str(tmp_path / "oplog")
    oplog.write.parquet(path)

    stream = spark.readStream.schema(stream_ops.OPLOG_SCHEMA).parquet(path)
    folded = stream_ops.streaming_fold(stream)
    stream_ops.run_to_memory(folded, "fold_out", output_mode="update")
    # update mode may emit a row per micro-batch; keep the last per key
    got = {
        r.key: r.state
        for r in spark.sql(
            """
            SELECT key, state FROM (
              SELECT *, row_number() OVER (PARTITION BY key ORDER BY n_ops DESC) rn
              FROM fold_out
            ) WHERE rn = 1
            """
        ).collect()
    }
    want = {r.key: r.state for r in kv.fold_state(oplog).collect()}
    assert got == want


def _run_chunked(spark, tmp_path, oplog, build_stream, query_name,
                 bounds=None):
    """Deliver ``oplog`` as 3 seq-ordered micro-batches (split at
    ``bounds``, default terciles) through ``build_stream(raw_stream)``
    into an in-memory table."""
    if bounds is None:
        bounds = [
            int(r[0])
            for r in oplog.selectExpr(
                "percentile(seq, array(0.33, 0.66)) AS p"
            ).selectExpr("explode(p)").collect()
        ]
    lo, hi = bounds
    d = tmp_path / "oplog_stream"
    d.mkdir()

    def write_chunk(name, df):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        os.rename(next(stage.glob("part-*.parquet")), d / f"{name}.parquet")

    chunks = [
        ("b1", oplog.filter(F.col("seq") <= lo)),
        ("b2", oplog.filter((F.col("seq") > lo) & (F.col("seq") <= hi))),
        ("b3", oplog.filter(F.col("seq") > hi)),
    ]
    write_chunk(*chunks[0])
    stream = spark.readStream.schema(stream_ops.OPLOG_SCHEMA).parquet(str(d))
    q = (
        build_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    for name, df in chunks[1:]:  # deliver remaining micro-batches in order
        write_chunk(name, df)
        q.processAllAvailable()
    q.stop()


def test_streaming_gets_match_batch_get_results(spark, tmp_path):
    """O18 streaming read path: interleaved gets served from the
    stateful fold equal the batch ``kv.get_results`` output, with the
    op-log delivered across ≥3 micro-batches in seq order (the
    exactly-once total order Raft provides in the reference)."""
    events = load_table(spark, SF, "events")
    # exactly-once log: the streaming fold consumes a deduped total
    # order (synth_oplog still retransmits reqid 0 — 0 % anything == 0)
    oplog = kv.dedup_at_most_once(kv.synth_oplog(events, dup_every=10**9))
    _run_chunked(
        spark, tmp_path, oplog, stream_ops.streaming_get_results, "gets_out"
    )
    got = {
        (r.seq, r.key): r.val
        for r in spark.sql("SELECT * FROM gets_out").collect()
    }
    want = {(r.seq, r.key): r.val for r in kv.get_results(oplog).collect()}
    assert got == want
    assert len(got) > 0


def test_serve_gets_walk_semantics():
    """The per-key Get-serving walk both stateful forms share, without
    Spark: a Get on a missing key reads "", Append before any Put
    appends to "", a Put after an Append replaces, a NULL Append value
    appends nothing, and (cur, n) carries across calls."""
    import pandas as pd

    def ops(rows):
        return pd.DataFrame(rows, columns=["seq", "op", "value"])

    # chunks out of seq order: the walk sorts each chunk by seq
    cur, n, out = stream_ops._serve_gets_walk(
        ("k",),
        iter([
            ops([(3, "append", "b"), (1, "get", None), (2, "append", "a")]),
            ops([(4, "get", None), (5, "put", "x"), (6, "append", None),
                 (7, "get", None)]),
        ]),
        "",
        0,
    )
    assert (cur, n) == ("x", 4)
    assert list(out["seq"]) == [1, 4, 7]
    assert list(out["key"]) == ["k", "k", "k"]
    assert list(out["val"]) == ["", "ab", "x"]
    assert str(out["seq"].dtype) == "int64"
    # state from the first call carries into the second
    cur, n, out = stream_ops._serve_gets_walk(
        ("k",), iter([ops([(8, "get", None), (9, "append", "y"),
                           (10, "get", None)])]), cur, n
    )
    assert (cur, n) == ("xy", 5)
    assert list(out["val"]) == ["x", "xy"]
    # a batch with no gets emits an empty frame with the output columns
    _, _, out = stream_ops._serve_gets_walk(
        ("k",), iter([ops([(11, "put", "z")])]), cur, n
    )
    assert list(out.columns) == ["seq", "key", "val"] and out.empty


def test_streaming_dedup_then_gets_match_batch(spark, tmp_path):
    """At-least-once delivery end-to-end: a log WITH retransmissions,
    streaming-deduped on (client, reqid) then folded, serves the same
    get results as the batch path (whose dedup is the min-seq window).
    Retransmissions carry seq+10M, so they arrive in later
    micro-batches than their originals — the kvraft retry model."""
    events = load_table(spark, SF, "events")
    oplog = kv.synth_oplog(events, dup_every=7)  # plenty of dups
    # Chunk 1/2: originals (split at the base-log median); chunk 3:
    # every retransmission (seq+10M) — strictly after its original,
    # so the first-delivery-wins state is already in the store.
    med = int(
        oplog.filter(F.col("seq") < 10_000_000)
        .selectExpr("percentile(seq, 0.5) AS m")
        .collect()[0].m
    )
    _run_chunked(
        spark,
        tmp_path,
        oplog,
        lambda s: stream_ops.streaming_get_results(
            stream_ops.dedup_at_most_once_stream(s)
        ),
        "dedup_gets_out",
        bounds=[med, 10_000_000],
    )
    got = {
        (r.seq, r.key): r.val
        for r in spark.sql("SELECT * FROM dedup_gets_out").collect()
    }
    want = {(r.seq, r.key): r.val for r in kv.get_results(oplog).collect()}
    assert got == want
    assert len(got) > 0


def test_sliding_avg_matches_batch(spark, events_stream):
    out = stream_ops.sliding_avg(events_stream, window="1 hour", slide="30 minutes")
    stream_ops.run_to_memory(out, "sliding_out", output_mode="update")
    got = {
        (r.win_start, r.event_type): (round(r.avg_value, 6), r.n)
        for r in spark.sql("SELECT * FROM sliding_out").collect()
    }
    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.avg("value").alias("avg_value"), F.count("*").alias("n"))
        .collect()
    )
    want = {
        (r.w.start, r.event_type): (round(r.avg_value, 6), r.n) for r in batch
    }
    assert got == want


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """Late-data handling: with a 1-hour watermark and append mode, a
    window only emits once the watermark passes it; events arriving
    after that are dropped (the streaming contract the reference
    never had — SURVEY §2.5 streaming row)."""
    import pandas as pd

    d = tmp_path / "late_events"
    d.mkdir()
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pdf["ts"].astype("int64")
        spark.createDataFrame(pdf).selectExpr(
            "event_id", "CAST(ts AS LONG) ts", "user_id", "event_type", "value", "props"
        ).coalesce(1).write.mode("append").parquet(str(d))

    h = 3_600_000_000_000  # 1h in ns
    # batch 1: events at hours 0 and 3 → watermark advances to 2h
    write_batch("b1", [(1, 0, 1, "view", 1.0, "{}"), (2, 3 * h, 1, "view", 1.0, "{}")])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .start()
    )
    q.processAllAvailable()
    # batch 2: a LATE event for hour 0 (watermark is now 2h) and an
    # on-time event at hour 4
    write_batch("b2", [(3, 1, 1, "view", 1.0, "{}"), (4, 4 * h, 1, "view", 1.0, "{}")])
    q.processAllAvailable()
    q.stop()

    emitted = {r.ws.hour: r.n for r in spark.sql("SELECT * FROM late_out").collect()}
    # hour-0 window emitted with ONE event (the late one was dropped)
    assert emitted.get(0) == 1


def test_streaming_doc_dedup_matches_batch_exact_dedup(spark, tmp_path):
    """X1 streaming twin: content-hash dropDuplicates over a 3-batch
    document ingest (originals, then exact copies, then reversed
    copies) must keep exactly the batch exact_dedup keep-set —
    arrival order follows id order, so first-arrival == min-id."""
    from mrgo_spark.operators import dedup
    from mrgo_spark.operators.queries_llm import _dup_corpus

    corpus = _dup_corpus(spark, SF)
    expected = {r.doc_id for r in dedup.exact_dedup(corpus).select("doc_id").collect()}

    d = tmp_path / "docs_stream"
    d.mkdir()

    def write_chunk(name, df):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        os.rename(next(stage.glob("part-*.parquet")), d / f"{name}.parquet")

    write_chunk("b1", corpus.filter(F.col("doc_id") < 100000))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(d))
    q = (
        stream_ops.streaming_dedup_docs(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("doc_dedup_out")
        .start()
    )
    q.processAllAvailable()
    for name, flt in [
        ("b2", (F.col("doc_id") >= 100000) & (F.col("doc_id") < 200000)),
        ("b3", F.col("doc_id") >= 200000),
    ]:
        write_chunk(name, corpus.filter(flt))
        q.processAllAvailable()
    q.stop()
    got = {r.doc_id for r in spark.sql("SELECT doc_id FROM doc_dedup_out").collect()}
    assert got == expected


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (watermarked both sides) must
    produce exactly the batch inner interval-join pair set."""
    from mrgo_spark.sources.tables import load_table

    d = tmp_path / "ss_events"
    d.mkdir()
    os.symlink(SF + "/events.parquet", d / "events.parquet")
    raw = stream_ops.read_events_stream(spark, str(d))
    purchases = raw.filter(F.col("event_type") == "purchase")
    errors = raw.filter(F.col("event_type") == "error")
    joined = stream_ops.stream_stream_errors_after_purchase(purchases, errors)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.purchase_id, r.user_id, r.p_ts, r.e_ts)
        for r in spark.sql("SELECT * FROM ss_join_out").collect()
    }

    ev = load_table(spark, SF, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    expected = {
        (r.purchase_id, r.p_user, r.p_ts, r.e_ts)
        for r in p.join(
            e,
            (p["p_user"] == e["e_user"])
            & (e["e_ts"] >= p["p_ts"])
            & (e["e_ts"] <= p["p_ts"] + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_dedup_checkpoint_restart_exactly_once(spark, tmp_path):
    """Crash/restart analog of the reference's fault tests (SURVEY §5
    strategy 3): a checkpointed streaming dedup is stopped after batch
    1, restarted on the same checkpoint for batches 2-3; the file-sink
    output must hold the exact batch keep-set — no lost and no
    duplicated state across the restart."""
    from mrgo_spark.operators import dedup
    from mrgo_spark.operators.queries_llm import _dup_corpus

    corpus = _dup_corpus(spark, SF)
    expected = {r.doc_id for r in dedup.exact_dedup(corpus).select("doc_id").collect()}

    src = tmp_path / "docs_src"
    src.mkdir()
    sink = str(tmp_path / "docs_sink")
    ckpt = str(tmp_path / "docs_ckpt")

    def write_chunk(name, df):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        os.rename(next(stage.glob("part-*.parquet")), src / f"{name}.parquet")

    def start():
        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
        return (
            stream_ops.streaming_dedup_docs(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    write_chunk("b1", corpus.filter(F.col("doc_id") < 100000))
    q = start()
    q.processAllAvailable()
    q.stop()  # "crash" between micro-batches

    write_chunk("b2", corpus.filter((F.col("doc_id") >= 100000) & (F.col("doc_id") < 200000)))
    write_chunk("b3", corpus.filter(F.col("doc_id") >= 200000))
    q = start()  # restart from the same checkpoint
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(sink).select("doc_id").collect()
    ids = [r.doc_id for r in out]
    assert len(ids) == len(set(ids)), "duplicated output after restart"
    assert set(ids) == expected


def _build_query_dir(spark, tmp_path):
    """Stage every-100th embedding as a parquet dir for readStream."""
    emb = load_table(spark, SF, "embeddings")
    d = tmp_path / "ann_queries"
    emb.filter(F.col("vec_id") % 100 == 0).write.parquet(str(d))
    return emb, str(d)


def test_streaming_serve_honours_deletes(spark, tmp_path):
    """Ids deleted from an IVFIndex and a BM25Index before the stream
    starts never reach the sink of ``serve_ann_foreach_batch`` or
    ``serve_bm25_foreach_batch``, and each serve emits exactly the
    rows of its index's ``query`` on the same queries."""
    from mrgo_spark.operators.similarity import IVFIndex

    emb, ann_dir = _build_query_dir(spark, tmp_path)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    ivf = IVFIndex.build(emb, str(tmp_path / "ivf_del"))
    gone_vecs = sorted(
        {r.neighbor_id for r in ivf.query(queries, k=5).collect() if r.rank <= 2}
    )
    ivf.delete(gone_vecs)
    _, bm25, qterms, bm25_dir = _build_bm25_fixture(spark, tmp_path)
    gone_docs = sorted(
        {r.doc_id for r in bm25.query(qterms, k=10).collect() if r.rank == 1}
    )
    bm25.delete(gone_docs)
    assert gone_vecs and gone_docs

    def serve(serve_fn, index, schema, qdir, k):
        got = []
        q = (
            serve_fn(
                index,
                spark.readStream.schema(schema).parquet(qdir),
                lambda df, batch_id: got.extend(df.collect()),
                k=k,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    ann = serve(
        stream_ops.serve_ann_foreach_batch, ivf,
        "vec_id long, embedding array<float>", ann_dir, 5,
    )
    assert ann and not {r.neighbor_id for r in ann} & set(gone_vecs)
    assert sorted(ann) == sorted(ivf.query(queries, k=5).collect())
    lex = serve(
        stream_ops.serve_bm25_foreach_batch, bm25,
        "query_id long, term string", bm25_dir, 10,
    )
    assert lex and not {r.doc_id for r in lex} & set(gone_docs)
    assert sorted(lex) == sorted(bm25.query(qterms, k=10).collect())


def test_serve_ann_foreach_batch_matches_batch(spark, tmp_path):
    """foreachBatch serve: per-micro-batch IVFIndex.query results must
    union to the batch answer (availableNow one-shot here)."""
    from mrgo_spark.operators.similarity import IVFIndex

    emb, qdir = _build_query_dir(spark, tmp_path)
    idx = IVFIndex.build(emb, str(tmp_path / "ivf_fb"))
    qstream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(qdir)
    got = []

    def sink(df, batch_id):
        got.extend((r.query_id, r.neighbor_id, r.rank) for r in df.collect())

    q = (
        stream_ops.serve_ann_foreach_batch(idx, qstream, sink, k=5)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    expected = [
        (r.query_id, r.neighbor_id, r.rank)
        for r in idx.query(queries, k=5).collect()
    ]
    assert sorted(got) == sorted(expected)


def test_streaming_corpus_prep_matches_batch(spark, tmp_path):
    """The ingest-time prep pipeline (filter → dedup → split) over a
    3-batch stream must produce the batch keep-set with identical
    split assignments."""
    from mrgo_spark.operators import dedup, pipeline, textstats
    from mrgo_spark.operators.queries_llm import _dup_corpus

    corpus = _dup_corpus(spark, SF)
    batch_kept = dedup.exact_dedup(
        corpus.filter(textstats.quality_keep("text"))
    )
    expected = {
        (r.doc_id, r.split)
        for r in pipeline.dataset_split(batch_kept)
        .select("doc_id", "split")
        .collect()
    }

    d = tmp_path / "prep_stream"
    d.mkdir()

    def write_chunk(name, df):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        os.rename(next(stage.glob("part-*.parquet")), d / f"{name}.parquet")

    write_chunk("b1", corpus.filter(F.col("doc_id") < 100000))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(d))
    q = (
        stream_ops.streaming_corpus_prep(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("prep_out")
        .start()
    )
    q.processAllAvailable()
    for name, flt in [
        ("b2", (F.col("doc_id") >= 100000) & (F.col("doc_id") < 200000)),
        ("b3", F.col("doc_id") >= 200000),
    ]:
        write_chunk(name, corpus.filter(flt))
        q.processAllAvailable()
    q.stop()
    got = {
        (r.doc_id, r.split)
        for r in spark.sql("SELECT doc_id, split FROM prep_out").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_streaming_trending_terms_matches_batch(spark, tmp_path):
    """Windowed term counts over a timestamped doc stream must equal
    the batch tumbling tokenize+count."""
    from mrgo_spark.functions.text import ascii_tokens
    from mrgo_spark.sources.tables import load_table

    docs = (
        load_table(spark, SF, "documents")
        .limit(200)
        .select(
            "doc_id",
            "text",
            F.timestamp_seconds(
                F.lit(1700000000) + F.col("doc_id") * 600
            ).alias("ts"),
        )
    )
    expected = {
        (r.win_start, r.token): r.n
        for r in docs.select(
            "ts", F.explode(ascii_tokens("text", lowercase=True)).alias("token")
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "token")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "token", "n")
        .collect()
    }
    d = tmp_path / "trend_stream"
    docs.coalesce(1).write.parquet(str(d))
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(str(d))
    out = stream_ops.streaming_trending_terms(stream)
    stream_ops.run_to_memory(out, "trend_out")
    got = {
        (r.win_start, r.token): r.n
        for r in spark.sql("SELECT * FROM trend_out").collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_cms_counters_match_batch(spark, tmp_path):
    """The streaming CMS counters (bounded d*w state) must equal the
    batch sketch over the same token stream."""
    from mrgo_spark.functions.text import ascii_tokens
    from mrgo_spark.operators import sketch
    from mrgo_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").limit(200).select("doc_id", "text")
    toks = docs.select(
        F.explode(ascii_tokens("text", lowercase=True)).alias("tok")
    )
    expected = {
        (r.lane, r.pos): r.cnt
        for r in sketch.cms_counters(toks, "tok").collect()
    }
    d = tmp_path / "cms_stream"
    docs.coalesce(2).write.parquet(str(d))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(d)
    )
    stoks = stream.select(
        F.explode(ascii_tokens("text", lowercase=True)).alias("tok")
    )
    out = stream_ops.streaming_cms_counters(stoks, "tok")
    q = stream_ops.run_to_memory(out, "cms_out")
    got = {
        (r.lane, r.pos): r.cnt
        for r in spark.sql("SELECT * FROM cms_out").collect()
    }
    assert got == expected and len(got) > 0
    # the state bound: never more rows than d*w cells — pinned on the
    # ACTUAL state store, not just the output (VERDICT_r12 #2)
    assert len(got) <= sketch.CMS_D * sketch.CMS_W
    state = stream_ops.state_rows_total(q)
    assert state is not None and state <= sketch.CMS_D * sketch.CMS_W


def test_streaming_quantile_cells_match_batch(spark, tmp_path):
    """The streaming quantile cells (domain-bounded state) must equal
    the batch sketch state over the same rows."""
    from mrgo_spark.operators import sketch
    from mrgo_spark.sources.tables import load_table

    orders = load_table(spark, SF, "orders").select(
        "o_orderpriority", F.round(F.col("o_totalprice") * 100)
        .cast("long").alias("cents")
    )
    expected = {
        (r.grp, r.bucket): r.cnt
        for r in sketch.quantile_cells(
            orders, "o_orderpriority", "cents", 1_000_000
        ).collect()
    }
    d = tmp_path / "q_stream"
    orders.coalesce(2).write.parquet(str(d))
    stream = spark.readStream.schema(
        "o_orderpriority string, cents long"
    ).parquet(str(d))
    out = stream_ops.streaming_quantile_cells(
        stream, "o_orderpriority", "cents", 1_000_000
    )
    q = stream_ops.run_to_memory(out, "qcells_out")
    got = {
        (r.grp, r.bucket): r.cnt
        for r in spark.sql("SELECT * FROM qcells_out").collect()
    }
    assert got == expected and len(got) > 0
    # domain-bounded state: exactly one state row per observed
    # (grp, bucket) cell (VERDICT_r12 #2)
    assert stream_ops.state_rows_total(q) == len(expected)


def test_streaming_hll_registers_match_batch(spark, tmp_path):
    """The streaming HLL registers (|groups|*m bounded state) must
    equal the batch sketch over the same rows."""
    from mrgo_spark.operators import sketch
    from mrgo_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem").select(
        "l_returnflag", "l_partkey"
    )
    expected = {
        (r.grp, r.j): r.m_j
        for r in sketch.hll_registers(
            li, "l_returnflag", "l_partkey"
        ).collect()
    }
    d = tmp_path / "hll_stream"
    li.coalesce(2).write.parquet(str(d))
    stream = spark.readStream.schema(
        "l_returnflag string, l_partkey long"
    ).parquet(str(d))
    out = stream_ops.streaming_hll_registers(
        stream, "l_returnflag", "l_partkey"
    )
    q = stream_ops.run_to_memory(out, "hll_out")
    got = {
        (r.grp, r.j): r.m_j
        for r in spark.sql("SELECT * FROM hll_out").collect()
    }
    assert got == expected and len(got) > 0
    assert len(got) <= 3 * sketch.HLL_M
    # |groups|*m bounded state, pinned on the state store itself
    state = stream_ops.state_rows_total(q)
    assert state == len(expected) and state <= 3 * sketch.HLL_M


def test_streaming_classifier_scores_match_batch(spark, tmp_path):
    """Stateless map-only scoring streams bit-identically in append
    mode with zero state."""
    from mrgo_spark.operators import textstats
    from mrgo_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").limit(100).select(
        "doc_id", "text"
    )
    expected = {
        r.doc_id: (r.n_tokens, r.score, r.label, r.score_per_token_milli)
        for r in textstats.classifier_quality_scores(docs).collect()
    }
    d = tmp_path / "clf_stream"
    docs.coalesce(2).write.parquet(str(d))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(d)
    )
    out = stream_ops.streaming_classifier_scores(stream)
    stream_ops.run_to_memory(out, "clf_out", output_mode="append")
    got = {
        r.doc_id: (r.n_tokens, r.score, r.label, r.score_per_token_milli)
        for r in spark.sql("SELECT * FROM clf_out").collect()
    }
    assert got == expected and len(got) == 100


def test_streaming_incremental_dedup_classifies_against_lake_and_stream(
    spark, tmp_path
):
    """r6 streaming twin of dedup.incremental_dedup_audit: arriving
    docs are classified against the static lake fingerprint index
    (lake always wins) and the stream's own history (first-seen wins,
    state carries across micro-batches)."""
    existing = spark.createDataFrame(
        [(i, f"lake text number {chr(97 + i)} stable") for i in range(10)],
        "doc_id long, text string",
    )
    b1 = [
        (100, "lake text number d stable"),     # dup_of_existing -> 3
        (101, "Stable lake number d text"),      # fingerprint match -> 3
        (102, "fresh stream content alpha"),     # new
        (103, "fresh stream content beta"),      # new
        (104, "alpha content stream fresh"),     # dup_within_stream -> 102
    ]
    b2 = [
        (200, "fresh stream content alpha"),     # cross-batch dup -> 102
        (201, "lake text number h stable"),      # dup_of_existing -> 7
        (202, "entirely novel content gamma"),   # new
    ]
    d = tmp_path / "inc_stream"
    d.mkdir()

    def write_chunk(name, rows):
        stage = tmp_path / f"inc_stage_{name}"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(stage))
        os.rename(next(stage.glob("part-*.parquet")), d / f"{name}.parquet")

    write_chunk("b1", b1)
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(d))
    q = (
        stream_ops.streaming_incremental_dedup(stream, existing)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("inc_dedup_out")
        .start()
    )
    q.processAllAvailable()
    got1 = {
        r.doc_id: (r.verdict, r.match_id)
        for r in spark.sql("SELECT * FROM inc_dedup_out").collect()
    }
    # single-batch agreement with the batch twin (modulo the verdict name)
    from mrgo_spark.operators import dedup

    batch = {
        r.doc_id: (
            r.verdict.replace("dup_within_batch", "dup_within_stream"),
            r.match_id,
        )
        for r in dedup.incremental_dedup_audit(
            existing,
            spark.createDataFrame(b1, "doc_id long, text string"),
        ).collect()
    }
    assert got1 == batch
    assert got1[104] == ("dup_within_stream", 102)

    write_chunk("b2", b2)
    q.processAllAvailable()
    # state bound (VERDICT_r12 #2): at most one long per distinct
    # fingerprint GROUP seen by applyInPandasWithState (8 texts over
    # b1+b2 collapse to 5 fingerprint groups: 101 shares 100's,
    # 104/200 share 102's)
    state = stream_ops.state_rows_total(q)
    assert state is not None and 0 < state <= 5
    q.stop()
    got2 = {
        r.doc_id: (r.verdict, r.match_id)
        for r in spark.sql("SELECT * FROM inc_dedup_out").collect()
    }
    assert got2[200] == ("dup_within_stream", 102)  # state crossed batches
    assert got2[201] == ("dup_of_existing", 7)
    assert got2[202] == ("new", None)


def test_streaming_dsir_scores_agree_with_batch(spark, tmp_path):
    """r6s2 streaming DSIR twin: scoring a doc stream against the
    batch-built llr table reproduces the batch operator's rows for
    every doc with >= 1 gram, across two micro-batches."""
    from mrgo_spark.operators import pipeline as pl
    from mrgo_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang"
    )
    llr = pl.dsir_bucket_llr(docs, F.col("lang") == "en")
    batch = {
        r.doc_id: (r.n_grams, r.dsir_score_bits, r.selected)
        for r in pl.dsir_importance_scores(
            docs, F.col("lang") == "en"
        ).collect()
        if r.n_grams > 0
    }

    d = tmp_path / "dsir_stream"
    d.mkdir()

    def write_chunk(name, df):
        stage = tmp_path / f"dsir_stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        os.rename(next(stage.glob("part-*.parquet")), d / f"{name}.parquet")

    write_chunk("b1", docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text"))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(d))
    q = (
        stream_ops.streaming_dsir_scores(stream, llr)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("dsir_stream_out")
        .start()
    )
    q.processAllAvailable()
    write_chunk("b2", docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text"))
    q.processAllAvailable()
    q.stop()
    got = {
        r.doc_id: (r.n_grams, r.dsir_score_bits, r.selected)
        for r in spark.sql("SELECT * FROM dsir_stream_out").collect()
    }
    assert got == batch


def _build_bm25_fixture(spark, tmp_path):
    """Persisted BM25 index over the fixture corpus + the declared
    query-term table staged as a parquet dir for readStream."""
    from mrgo_spark.operators import retrieval

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    idx = retrieval.BM25Index.build(docs, str(tmp_path / "bm25"))
    qterms = retrieval.query_terms_from_docs(docs, F.col("doc_id") % 100 == 0)
    qdir = tmp_path / "bm25_queries"
    qterms.write.parquet(str(qdir))
    return docs, idx, qterms, str(qdir)


def test_serve_bm25_foreach_batch_matches_batch(spark, tmp_path):
    """foreachBatch serve: per-micro-batch BM25Index.query results
    must union to the batch ranked answer."""
    docs, idx, qterms, qdir = _build_bm25_fixture(spark, tmp_path)
    qstream = spark.readStream.schema("query_id long, term string").parquet(qdir)
    got = []

    def sink(df, batch_id):
        got.extend(
            (r.query_id, r.doc_id, r.score_fp, r.rank) for r in df.collect()
        )

    q = (
        stream_ops.serve_bm25_foreach_batch(idx, qstream, sink, k=10)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    expected = [
        (r.query_id, r.doc_id, r.score_fp, r.rank)
        for r in idx.query(qterms, k=10).collect()
    ]
    assert sorted(got) == sorted(expected)


def test_serve_hybrid_foreach_batch_matches_batch(spark, tmp_path):
    """VERDICT_r8 #3: the streaming served HYBRID — each micro-batch
    of (query_id, embedding, terms) rows runs both at-rest index
    paths (BM25 postings buckets + IVF cells, both partition-pruned)
    and RRF-fuses them. One-shot availableNow batch must equal the
    batch composition rrf_fuse(BM25Index.query, IVFIndex.query), and
    both legs' scans must carry partition filters."""
    from mrgo_spark.operators import retrieval
    from mrgo_spark.operators.retrieval import BM25Index, rrf_fuse
    from mrgo_spark.operators.similarity import IVFIndex

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    emb = load_table(spark, SF, "embeddings")
    bm_idx = BM25Index.build(docs, str(tmp_path / "bm25_hyb"))
    ivf_idx = IVFIndex.build(emb, str(tmp_path / "ivf_hyb"))

    qterms = retrieval.query_terms_from_docs(
        docs, F.col("doc_id") % 100 == 0
    )
    terms_arr = qterms.groupBy("query_id").agg(
        F.array_sort(F.collect_list("term")).alias("terms")
    )
    queries = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .join(terms_arr, "query_id")
    )
    qdir = tmp_path / "hyb_queries"
    queries.write.parquet(str(qdir))

    got, plans = [], []

    def sink(df, batch_id):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        got.extend(
            (r.query_id, r.doc_id, r.n_sources, r.rrf_score_fp, r.rank)
            for r in df.collect()
        )

    qstream = spark.readStream.schema(
        "query_id long, embedding array<float>, terms array<string>"
    ).parquet(str(qdir))
    q = (
        stream_ops.serve_hybrid_foreach_batch(
            bm_idx, ivf_idx, qstream, sink, k=10
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    lex = bm_idx.query(qterms, k=10).select("query_id", "doc_id", "rank")
    sem = ivf_idx.query(
        emb.filter(F.col("vec_id") % 100 == 0), k=10
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    expected = [
        (r.query_id, r.doc_id, r.n_sources, r.rrf_score_fp, r.rank)
        for r in rrf_fuse([lex, sem], k=10).collect()
    ]
    assert sorted(got) == sorted(expected)
    assert got  # non-empty
    # both index scans in the fused plan are partition-pruned
    plan = "\n".join(plans)
    assert "PartitionFilters" in plan
    assert "term_bucket" in plan and "cell_id" in plan


def test_ingest_ann_foreach_batch_matches_batch_add(spark, tmp_path):
    """r9 streaming index maintenance: a 2-batch vector stream
    appended via IVFIndex.add must leave the index identical to a
    one-shot add of the union (same frozen centroids), and replaying
    the stream must be a no-op (idempotent ingestion)."""
    from mrgo_spark.operators.similarity import IVFIndex

    emb = load_table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    b2 = emb.filter(F.col("vec_id") % 3 == 2)
    idx = IVFIndex.build(base, str(tmp_path / "ann_ing"))
    ref = IVFIndex.build(base, str(tmp_path / "ann_ref"))
    ref.add(b1.unionAll(b2))

    d = tmp_path / "vec_stream"
    d.mkdir()
    b1.select("vec_id", "embedding").coalesce(1).write.parquet(
        str(tmp_path / "s1")
    )
    b2.select("vec_id", "embedding").coalesce(1).write.parquet(
        str(tmp_path / "s2")
    )
    os.rename(next((tmp_path / "s1").glob("part-*.parquet")), d / "b1.parquet")
    os.rename(next((tmp_path / "s2").glob("part-*.parquet")), d / "b2.parquet")

    vstream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(str(d))
    q = (
        stream_ops.ingest_ann_foreach_batch(idx, vstream)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ann"))
        .start()
    )
    q.awaitTermination(180)

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = sorted(map(tuple, idx.query(queries, k=5).collect()))
    want = sorted(map(tuple, ref.query(queries, k=5).collect()))
    assert got == want
    n_before = spark.read.parquet(str(tmp_path / "ann_ing") + "/cells").count()
    # replay: fresh stream over the same files, new checkpoint — adds
    # nothing (add() anti-joins existing ids)
    q2 = (
        stream_ops.ingest_ann_foreach_batch(idx, vstream)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ann2"))
        .start()
    )
    q2.awaitTermination(180)
    n_after = spark.read.parquet(str(tmp_path / "ann_ing") + "/cells").count()
    assert n_after == n_before


def test_ingest_bm25_foreach_batch_matches_full_build(spark, tmp_path):
    """r9 streaming BM25 ingestion, r10 tiered: base index + streamed
    segments served as a BM25SegmentSet must rank identically to a
    one-shot build over all docs (merge/union-stats equivalence,
    batch-composed through the tier structure)."""
    from mrgo_spark.operators import retrieval
    from mrgo_spark.operators.retrieval import BM25Index

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    idx = BM25Index.build(base, str(tmp_path / "bm_base"))

    d = tmp_path / "doc_stream"
    d.mkdir()
    b1.coalesce(1).write.parquet(str(tmp_path / "t1"))
    b2.coalesce(1).write.parquet(str(tmp_path / "t2"))
    os.rename(next((tmp_path / "t1").glob("part-*.parquet")), d / "b1.parquet")
    os.rename(next((tmp_path / "t2").glob("part-*.parquet")), d / "b2.parquet")

    dstream = spark.readStream.schema("doc_id long, text string").parquet(
        str(d)
    )
    builder, holder = stream_ops.ingest_bm25_foreach_batch(
        idx, dstream, str(tmp_path / "bm_work")
    )
    q = (
        builder.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_bm"))
        .start()
    )
    q.awaitTermination(180)
    assert holder["index"].paths != [idx.path]  # segments ingested

    full = BM25Index.build(docs, str(tmp_path / "bm_full"))
    qterms = retrieval.query_terms_from_docs(
        docs, F.col("doc_id") % 100 == 0
    )
    got = sorted(map(tuple, holder["index"].query(qterms, k=10).collect()))
    want = sorted(map(tuple, full.query(qterms, k=10).collect()))
    assert got == want

    # RESTART semantics (r9 review finding): a new builder handed the
    # STALE base index + the same workdir must resume from the LATEST
    # manifest, not the base — pre-restart batches stay served.
    _, holder2 = stream_ops.ingest_bm25_foreach_batch(
        idx, dstream, str(tmp_path / "bm_work")
    )
    assert sorted(holder2["index"].paths) == sorted(holder["index"].paths)
    # replay guard: re-delivering an already-applied batch is a no-op
    # (all its doc_ids are at rest), not a merge failure — and the
    # skip is OBSERVABLE (ADVICE r9)
    with open(str(tmp_path / "bm_work" / "LATEST")) as fh:
        before = fh.read()
    rb, rholder = stream_ops.ingest_bm25_foreach_batch(
        idx, dstream, str(tmp_path / "bm_work")
    )
    q3 = (
        rb.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_bm_replay"))
        .start()
    )
    q3.awaitTermination(180)
    with open(str(tmp_path / "bm_work" / "LATEST")) as fh:
        assert fh.read() == before
    assert rholder["skipped"], "full-duplicate delivery must be recorded"
    assert all(n > 0 for _b, n in rholder["skipped"])


def _write_doc_files(spark, tmp_path, docs_rows, dirname="doc_stream"):
    """One parquet file per (doc_id, text) row — one micro-batch each
    under maxFilesPerTrigger=1."""
    d = tmp_path / dirname
    d.mkdir(exist_ok=True)
    for i, (doc_id, text) in enumerate(docs_rows):
        df = spark.createDataFrame([(doc_id, text)], "doc_id long, text string")
        t = tmp_path / f"_t{dirname}{i}"
        df.coalesce(1).write.parquet(str(t))
        os.rename(next(t.glob("part-*.parquet")), d / f"b{i:04d}.parquet")
    return d


def test_ingest_bm25_tiered_write_amplification(spark, tmp_path):
    """VERDICT_r9 #1: merge I/O must be O(index·log B), not
    O(index·B). 8 single-doc batches over a 1-doc base follow the
    binary-counter schedule exactly: 8 build rows + 24 merge rows =
    32, vs the r9 2-way chain's 44 (2+3+...+9) — and the live set
    collapses to the popcount of 9 segments. Equal-size batches make
    the total order-independent, so the assertion is exact."""
    from mrgo_spark.operators.retrieval import BM25Index

    base = spark.createDataFrame(
        [(1000, "base doc words")], "doc_id long, text string"
    )
    idx = BM25Index.build(base, str(tmp_path / "bm_base"))
    rows = [(i, f"alpha beta doc{'x' * (i % 3 + 1)}") for i in range(8)]
    d = _write_doc_files(spark, tmp_path, rows)
    dstream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    builder, holder = stream_ops.ingest_bm25_foreach_batch(
        idx, dstream, str(tmp_path / "bm_work")
    )
    q = (
        builder.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(300)
    st = holder["stats"]
    assert st["rows_written"] == 32, st  # 8 builds + 2+2+4+2+2+4+8 merges
    assert st["rows_written"] < 44  # the O(index·B) chain cost
    # live segments = binary representation of 9 docs: 8 + 1
    sizes = sorted(s.n_docs() for s in holder["index"].segments)
    assert sizes == [1, 8]
    # generation GC: after the final flip, workdir holds ONLY the live
    # segments plus at most the one deferred-GC generation
    live_names = {os.path.basename(p) for p in holder["index"].paths}
    pending = {os.path.basename(p) for p in holder["_pending_gc"]}
    on_disk = {
        e
        for e in os.listdir(str(tmp_path / "bm_work"))
        if e.startswith(("seg_", "gen_"))
    }
    assert on_disk == live_names | pending, (on_disk, live_names, pending)
    # disk growth is bounded: far fewer dirs than batches
    assert len(on_disk) <= 4


def test_ingest_bm25_partial_overlap_fails_loudly(spark, tmp_path):
    """r10 review: the r9 chain's merge(cur, seg) implicitly checked
    every batch against the WHOLE accumulated index; tiered merges
    only check the pair being merged, so the ingest guard itself must
    reject a partial overlap — silently double-counting df/tt against
    a live segment the new one never merges with was the hole."""
    import pytest

    from mrgo_spark.operators.retrieval import BM25Index

    base = spark.createDataFrame(
        [(1, "one words"), (2, "two words")], "doc_id long, text string"
    )
    idx = BM25Index.build(base, str(tmp_path / "bm_base"))
    # doc 2 already at rest, doc 3 new -> partial overlap
    d = _write_doc_files(
        spark, tmp_path, [(2, "two words"), (3, "three words")], "po"
    )
    # both rows in ONE file = one micro-batch
    dstream = spark.readStream.schema("doc_id long, text string").parquet(
        str(d)
    )
    builder, _h = stream_ops.ingest_bm25_foreach_batch(
        idx, dstream, str(tmp_path / "bm_work")
    )
    q = (
        builder.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_po"))
        .start()
    )
    with pytest.raises(Exception, match="partially overlaps"):
        q.awaitTermination(120)
        q.processAllAvailable()


def test_ingest_bm25_restart_across_tier_boundary(spark, tmp_path):
    """VERDICT_r9 #1 restart leg: resume from the LATEST manifest,
    ingest one more batch that triggers a cross-tier merge cascade,
    and still match the one-shot full build. The startup sweep must
    also remove unreferenced crash leftovers."""
    from mrgo_spark.operators import retrieval
    from mrgo_spark.operators.retrieval import BM25Index

    base = spark.createDataFrame(
        [(1000, "base doc words")], "doc_id long, text string"
    )
    idx = BM25Index.build(base, str(tmp_path / "bm_base"))
    rows = [(i, f"gamma delta doc{'y' * (i % 3 + 1)}") for i in range(2)]
    d = _write_doc_files(spark, tmp_path, rows)
    dstream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    b1, h1 = stream_ops.ingest_bm25_foreach_batch(
        idx, dstream, str(tmp_path / "bm_work")
    )
    q = (
        b1.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(300)
    # base 1 + 2 single-doc batches: [1,1]->[2], then [2,1]
    assert sorted(s.n_docs() for s in h1["index"].segments) == [1, 2]

    # plant a crash leftover: an orphaned segment dir not in LATEST
    orphan = tmp_path / "bm_work" / "seg_9999"
    BM25Index.build(
        spark.createDataFrame([(9999, "orphan")], "doc_id long, text string"),
        str(orphan),
    )
    assert orphan.exists()

    # one more single-doc file, then restart the builder (same
    # checkpoint): only the new batch processes; its 1-doc segment
    # triggers the cross-tier cascade [2,1,1] -> [2,2] -> [4]
    df = spark.createDataFrame([(50, "epsilon zeta")], "doc_id long, text string")
    t = tmp_path / "_tmore"
    df.coalesce(1).write.parquet(str(t))
    os.rename(next(t.glob("part-*.parquet")), d / "b9998.parquet")
    b2, h2 = stream_ops.ingest_bm25_foreach_batch(
        idx, dstream, str(tmp_path / "bm_work")
    )
    assert not orphan.exists(), "startup sweep must remove orphans"
    q2 = (
        b2.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q2.awaitTermination(300)
    assert sorted(s.n_docs() for s in h2["index"].segments) == [4]

    all_docs = base.unionByName(
        spark.createDataFrame(
            rows + [(50, "epsilon zeta")], "doc_id long, text string"
        )
    )
    full = BM25Index.build(all_docs, str(tmp_path / "bm_full"))
    qterms = retrieval.query_terms_from_docs(all_docs, F.lit(True), n_terms=3)
    got = sorted(map(tuple, h2["index"].query(qterms, k=5).collect()))
    want = sorted(map(tuple, full.query(qterms, k=5).collect()))
    assert got == want


def test_ingest_bm25_tier_schedule_sweep(spark, tmp_path):
    """VERDICT_r10 #6: the r9 scale-killer stays dead at realistic
    batch counts. 32 single-doc batches over a 1-doc base, driven
    through the SAME _process the stream runs: after EVERY batch the
    live-segment count equals the popcount of the total doc count
    (the binary-counter invariant, ≤ log2(B)+1), and cumulative
    doc-rows rewritten exactly matches a pure-Python replay of the
    tier cascade — the analytic O(index·log B) curve, checked at
    every power-of-two waypoint."""
    from mrgo_spark.operators.retrieval import BM25Index
    from mrgo_spark.streaming import stream_ops

    n_batches = 32
    base = spark.createDataFrame(
        [(1000, "base doc words")], "doc_id long, text string"
    )
    idx = BM25Index.build(base, str(tmp_path / "bm_base"))
    dummy = spark.readStream.format("rate").load()  # builder unused
    _builder, holder = stream_ops.ingest_bm25_foreach_batch(
        idx, dummy, str(tmp_path / "bm_work")
    )

    # pure-Python replay of the tier cascade (tier = bit_length,
    # smallest-first pair merge, cascade until no tier holds 2)
    def model_rows_written(b):
        sizes = [1]  # the base index
        written = 0
        for _ in range(b):
            sizes.append(1)
            written += 1
            while True:
                tiers = {}
                for s in sizes:
                    tiers.setdefault(s.bit_length(), []).append(s)
                t = next(
                    (t for t in sorted(tiers) if len(tiers[t]) >= 2),
                    None,
                )
                if t is None:
                    break
                pair = sorted(tiers[t])[:2]
                sizes.remove(pair[0])
                sizes.remove(pair[1])
                sizes.append(pair[0] + pair[1])
                written += pair[0] + pair[1]
        return written, sorted(sizes)

    waypoints = {}
    for i in range(n_batches):
        batch = spark.createDataFrame(
            [(i, f"alpha beta doc{'x' * (i % 3 + 1)}")],
            "doc_id long, text string",
        )
        holder["_ingest"](batch, i)
        total = i + 2  # base + i+1 batches
        n_live = len(holder["index"].segments)
        assert n_live == bin(total).count("1"), (i, n_live)
        assert n_live <= total.bit_length()  # ≤ log2(B)+1
        if (i + 1) in (8, 16, 32):
            waypoints[i + 1] = holder["stats"]["rows_written"]
    for b, got in waypoints.items():
        want, _ = model_rows_written(b)
        assert got == want, (b, got, want)
    _, want_sizes = model_rows_written(n_batches)
    assert sorted(s.n_docs() for s in holder["index"].segments) == want_sizes
    # the curve is genuinely logarithmic: 192 rewritten rows at B=32
    # vs the r9 chain's 560 (sum of prefix sizes ≈ B²/2) — the ratio
    # shrinks as log(B)/B, so the /2 margin only widens with B
    chain_cost = sum(range(2, n_batches + 2))
    assert holder["stats"]["rows_written"] < chain_cost / 2


def test_streaming_transfer_serving_matches_batch(spark, tmp_path):
    """O24 streaming twin: the live transfer-window counters over an
    exactly-once op stream must equal the batch transfer_serving over
    the same (pre-deduped) oplog — including the unaffected-equality
    invariant in every emitted row."""
    from mrgo_spark.operators import kv
    from mrgo_spark.sources.tables import load_table

    oplog = kv.dedup_at_most_once(
        kv.synth_oplog(load_table(spark, SF, "events"))
    )
    expected = {
        (r.epoch, r.gid): tuple(r)[2:]
        for r in kv.transfer_serving_counts(oplog).collect()
    }
    d = tmp_path / "tso"
    oplog.coalesce(2).write.parquet(str(d))
    stream = spark.readStream.schema(oplog.schema).parquet(str(d))
    out = stream_ops.streaming_transfer_serving(stream)
    q = stream_ops.run_to_memory(out, "transfer_out")
    rows = spark.sql("SELECT * FROM transfer_out").collect()
    got = {(r.epoch, r.gid): tuple(r)[2:] for r in rows}
    assert got == expected and len(got) > 0
    for r in rows:
        assert r.n_unaffected_served == r.n_unaffected_req
    # |epochs seen| x NGROUPS domain bound, on the actual state store
    state = stream_ops.state_rows_total(q)
    n_epochs = len({e for e, _ in expected})
    assert state == len(expected) and state <= n_epochs * kv.NGROUPS


def test_ingest_bm25_delete_then_readd_through_tier_merge(spark, tmp_path):
    """r12 delete integration with the tiered loop: a doc deleted on
    the live SegmentSet vanishes from set-served queries at once; a
    LATER batch may re-add the id with new content (doc_ids() counts
    live ids only), and the cascade merge that consumes the
    tombstoned segment applies the delete physically — the final set
    holds exactly one copy of the id, with the NEW tokens, and the
    fully merged stats match a fresh build of the surviving corpus."""
    from mrgo_spark.operators.retrieval import BM25Index

    base = spark.createDataFrame(
        [(1000, "base anchor words")], "doc_id long, text string"
    )
    idx = BM25Index.build(base, str(tmp_path / "bd_base"))
    # phase 1: ingest docs 10, 11, 12 (one per batch)
    d = _write_doc_files(
        spark, tmp_path,
        [(10, "oldword alpha"), (11, "eleven alpha"), (12, "twelve alpha")],
        "bd1",
    )
    ds = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    builder, holder = stream_ops.ingest_bm25_foreach_batch(
        idx, ds, str(tmp_path / "bd_work")
    )
    q = (
        builder.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "bd_ck"))
        .start()
    )
    q.awaitTermination(300)
    sset = holder["index"]
    sset.delete([10])
    qt = spark.createDataFrame(
        [(1, "oldword"), (2, "newword"), (3, "alpha")],
        "query_id long, term string",
    )
    served = {(r.query_id, r.doc_id) for r in sset.query(qt, k=100).collect()}
    assert (1, 10) not in served and (3, 10) not in served
    # phase 2: re-add doc 10 with NEW content + enough docs to force
    # the cascade through the tombstoned segment
    more = [(10, "newword alpha"), (13, "thirteen alpha"),
            (14, "fourteen alpha"), (15, "fifteen alpha"),
            (16, "sixteen alpha")]
    for i, (doc_id, text) in enumerate(more):
        df = spark.createDataFrame(
            [(doc_id, text)], "doc_id long, text string"
        )
        t = tmp_path / f"_tbd2_{i}"
        df.coalesce(1).write.parquet(str(t))
        os.rename(
            next(t.glob("part-*.parquet")), d / f"c{i:04d}.parquet"
        )
    q2 = (
        builder.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "bd_ck"))
        .start()
    )
    q2.awaitTermination(300)
    sset = holder["index"]
    # exactly one live copy of doc 10, carrying the NEW tokens
    dl_ids = [r.doc_id for r in sset.doc_ids().collect()]
    assert sorted(dl_ids).count(10) == 1
    served = {(r.query_id, r.doc_id) for r in sset.query(qt, k=100).collect()}
    assert (2, 10) in served and (1, 10) not in served
    # no segment still physically holds BOTH copies' postings
    import pyspark.sql.functions as SF

    for s in sset.segments:
        posts = spark.read.parquet(f"{s.path}/postings").filter(
            SF.col("doc_id") == 10
        )
        terms = {r.term for r in posts.collect()}
        assert "oldword" not in terms or s._tombstones() is not None


def test_streaming_catchup_serving_matches_batch(spark, tmp_path):
    """r12 streaming twin of the missed-config catch-up audit: live
    counters over an exactly-once op stream equal the batch
    config_catchup_serving over the same pre-deduped oplog."""
    from mrgo_spark.operators import kv
    from mrgo_spark.sources.tables import load_table

    oplog = kv.dedup_at_most_once(
        kv.synth_oplog(load_table(spark, SF, "events"))
    )
    expected = {
        (r.epoch, r.gid): tuple(r)[2:]
        for r in kv.config_catchup_counts(oplog).collect()
    }
    d = tmp_path / "cco"
    oplog.coalesce(2).write.parquet(str(d))
    stream = spark.readStream.schema(oplog.schema).parquet(str(d))
    out = stream_ops.streaming_catchup_serving(stream)
    q = stream_ops.run_to_memory(out, "catchup_out")
    rows = spark.sql("SELECT * FROM catchup_out").collect()
    got = {(r.epoch, r.gid): tuple(r)[2:] for r in rows}
    assert got == expected and len(got) > 0
    state = stream_ops.state_rows_total(q)
    n_epochs = len({e for e, _ in expected})
    assert state == len(expected) and state <= n_epochs * kv.NGROUPS


def test_streaming_min_k_matches_batch_self_model(spark, tmp_path):
    """r12 memorization monitor: a corpus streamed against ITSELF as
    the frozen model equals the batch min_k_prob_audit; a planted
    rare-token doc arriving later scores HIGHER than the duplicated
    block (the membership signal survives streaming)."""
    from mrgo_spark.operators import textstats

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    model = docs.filter(F.col("doc_id") < 300)
    want = {
        r.doc_id: tuple(r)[1:]
        for r in textstats.min_k_prob_audit(model, k_pct=20).collect()
    }
    d = tmp_path / "mk_stream"
    d.mkdir()
    for i, part in enumerate([model.filter(F.col("doc_id") % 2 == 0),
                              model.filter(F.col("doc_id") % 2 == 1)]):
        stage = tmp_path / f"mk_{i}"
        part.coalesce(1).write.parquet(str(stage))
        os.rename(next(stage.glob("part-*.parquet")), d / f"b{i}.parquet")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(d)
    )
    out = stream_ops.streaming_min_k_scores(stream, model, k_pct=20)
    q = stream_ops.run_to_memory(out, "mink_out", output_mode="update")
    got = {
        r.doc_id: tuple(r)[1:]
        for r in spark.sql("SELECT * FROM mink_out").collect()
    }
    assert got == want and len(got) > 0
    # state = one doc-length-bounded row per streamed doc with >= 1
    # bigram, exactly
    assert stream_ops.state_rows_total(q) == len(want)


def test_maintain_matview_foreach_batch_restart_and_replay(
    spark, tmp_path
):
    """r13 streaming IVM: CDC batches folded into an at-rest
    aggregate == batch recompute; restart resumes from LATEST, a
    redelivered batch is skipped observably (delta application is
    NOT idempotent — the marker, not at-rest probing, is the guard);
    superseded generations are swept one flip later."""
    base = spark.createDataFrame(
        [("a", 2, 100), ("b", 1, 50)], "k string, n long, s long"
    )
    batches = [
        # deltas carry RAW measure values; the sign column applies to
        # both the count and the measures (matview.delta_contributions)
        [("a", 1, 30), ("c", 1, 5)],          # insert a, new group c
        [("b", -1, 50), ("c", 1, 7)],         # delete b entirely
        [("a", -1, 100), ("d", 1, 9)],        # delete one a, new d
    ]
    d = tmp_path / "cdc"
    d.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "k string, sign int, s long")
        t = tmp_path / f"_t{i}"
        df.coalesce(1).write.parquet(str(t))
        os.rename(next(t.glob("part-*.parquet")), d / f"b{i:02d}.parquet")

    dstream = (
        spark.readStream.schema("k string, sign int, s long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    builder, holder = stream_ops.maintain_matview_foreach_batch(
        base, dstream, ["k"], "n", ["s"], str(tmp_path / "mv")
    )
    q = (
        builder.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_mv"))
        .start()
    )
    q.awaitTermination(180)
    assert holder["stats"]["batches"] == 3
    got = {r.k: (r.n, r.s) for r in holder["view"]().collect()}
    # batch recompute: a: 2+1-1=2 n / 100+30-100=30 s; b gone;
    # c: 2/12; d: 1/9
    assert got == {"a": (2, 30), "c": (2, 12), "d": (1, 9)}

    # restart: a fresh holder with the SAME workdir resumes from
    # LATEST, ignoring the stale base_agg
    _, holder2 = stream_ops.maintain_matview_foreach_batch(
        base, dstream, ["k"], "n", ["s"], str(tmp_path / "mv")
    )
    got2 = {r.k: (r.n, r.s) for r in holder2["view"]().collect()}
    assert got2 == got

    # crash-replay of the last batch: marker batch_id equality skips
    last = spark.createDataFrame(batches[-1], "k string, sign int, s long")
    holder2["_apply"](last, holder2["_last_bid"])
    assert holder2["skipped"] == [holder2["_last_bid"]]
    assert {
        r.k: (r.n, r.s) for r in holder2["view"]().collect()
    } == got

    # GC (r13 review fix): holder2's CONSTRUCTION swept every gen_*
    # the marker doesn't name — _pending_gc is memory-only, so
    # without the sweep each restart would strand one generation
    gens = [
        e
        for e in os.listdir(str(tmp_path / "mv"))
        if e.startswith("gen_")
    ]
    assert len(gens) == 1


def test_streaming_ring_router_matches_batch_and_is_stateless(
    spark, tmp_path
):
    """r13 ring routing: per-op owner on the stream matches the
    batch placement per key; append mode with zero state rows."""
    from mrgo_spark.operators import kv
    from mrgo_spark.sources.tables import load_table

    oplog = kv.dedup_at_most_once(
        kv.synth_oplog(load_table(spark, SF, "events"))
    ).select("seq", "key")
    want_owner = {
        r.key: r.owner
        for r in kv.consistent_ring_stats(
            oplog.withColumn("op", F.lit("put"))
        ).collect()
    }
    d = tmp_path / "ring_stream"
    oplog.limit(300).coalesce(2).write.parquet(str(d))
    stream = spark.readStream.schema("seq long, key string").parquet(
        str(d)
    )
    out = stream_ops.streaming_ring_router(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("ring_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # stateless, pinned: no state operator at all (None) — not even
    # an empty state store
    assert stream_ops.state_rows_total(q) in (None, 0)
    rows = spark.sql("SELECT * FROM ring_out").collect()
    assert rows and all(want_owner[r.key] == r.owner for r in rows)

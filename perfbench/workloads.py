"""The benchmark workloads. Each runs against the engine's public
functions only, checks every output against ``ref`` and returns its
end-to-end figures, per-layer figures and the input properties.

Shape shared by both:

1. set-up, three times: session start, worker pool, input generation,
   input write (the first start also launches the JVM);
2. the cold step, the first pass through the workload in the process;
3. the warm phase: the measured passes, then a closed request loop.

Every loop is bounded by a count derived from ``--seconds`` at a fixed
rate, never by the clock, so two commits run the same operations on
the same log lengths. In a traced run the warm phase runs three times:
untraced, traced, untraced. The traced time minus the mean untraced
time is the tracing overhead.
"""

from __future__ import annotations

import threading
import time

import numpy as np

import gen
import ref
from harness import Bench, median, peak_rss_mb, tail

SETUPS = 3
DOC_SCHEMA = "doc_id long, text string"
LOG_SCHEMA = "seq long, client long, reqid long, op string, key string, value string"
VEC_SCHEMA = "vec_id long, embedding array<double>"
RANKED_SCHEMA = "query_id long, doc_id long, rank int"

# (name, unit, better) of every per-layer metric a traced run reports;
# a workload that does not reach a layer reports 0 for it.
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.worker_spawn_s", "s", "lower"),
    ("sources.write_s", "s", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("mrapps.word_count_s", "s", "lower"),
    ("mrapps.inverted_index_s", "s", "lower"),
    ("mr.wc_s", "s", "lower"),
    ("mr.indexer_s", "s", "lower"),
    ("mr.shuffle_write_bytes", "bytes", "lower"),
    ("mr.n_tasks", "count", "lower"),
    ("dedup.exact_s", "s", "lower"),
    ("dedup.minhash_pairs_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.planted_recall", "ratio", "higher"),
    ("dedup.useful_candidate_ratio", "ratio", "higher"),
    ("kv.fold_s", "s", "lower"),
    ("kv.get_results_s", "s", "lower"),
    ("kv.compact_s", "s", "lower"),
    ("kv.shuffle_write_bytes", "bytes", "lower"),
    ("kv.spill_bytes", "bytes", "lower"),
    ("kv.live_op_ratio", "ratio", "higher"),
    ("kvstore.get_many_s", "s", "lower"),
    ("kvstore.log_rows_per_read", "rows/key", "lower"),
    ("retrieval.bm25_build_s", "s", "lower"),
    ("similarity.ivf_build_s", "s", "lower"),
    ("retrieval.bm25_query_s", "s", "lower"),
    ("retrieval.bm25_query.plan_s", "s", "lower"),
    ("retrieval.bm25_query.exec_s", "s", "lower"),
    ("retrieval.bm25_query.n_stages_per_query", "count", "lower"),
    ("retrieval.input_bytes_per_query", "bytes", "lower"),
    ("similarity.ivf_query_s", "s", "lower"),
    ("similarity.ivf_query.plan_s", "s", "lower"),
    ("similarity.ivf_query.exec_s", "s", "lower"),
    ("similarity.ivf_query.n_stages_per_query", "count", "lower"),
    ("similarity.probe_ratio", "ratio", "lower"),
    ("retrieval.rrf_fuse_s", "s", "lower"),
    ("retrieval.rrf_fuse.plan_s", "s", "lower"),
    ("retrieval.rrf_fuse.exec_s", "s", "lower"),
    ("retrieval.rrf_fuse.n_stages_per_query", "count", "lower"),
    ("session.errors", "count", "lower"),
    ("sources.errors", "count", "lower"),
    ("mrapps.errors", "count", "lower"),
    ("mr.errors", "count", "lower"),
    ("dedup.errors", "count", "lower"),
    ("kv.errors", "count", "lower"),
    ("kvstore.errors", "count", "lower"),
    ("retrieval.errors", "count", "lower"),
    ("similarity.errors", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

E2E = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("p50_ms", "ms", "lower"),
    ("qps", "1/s", "higher"),
]

LAYERS = ("session", "sources", "mrapps", "mr", "dedup", "kv", "kvstore", "retrieval", "similarity")


def _clock():
    return time.perf_counter()


def _setups(b: Bench, generate, write) -> tuple[list[float], object, object]:
    """Run set-up SETUPS times; keep the last session and inputs."""
    totals = []
    inputs = frames = None
    for i in range(SETUPS):
        if i:
            b.stop_session()
        t0 = _clock()
        b.start_session()
        inputs = generate()
        frames = write(inputs)
        totals.append(_clock() - t0)
    b.phase("setups")
    return totals, inputs, frames


def _timed(b: Bench, name: str, layer: str, run, ok):
    """Run one call into ``layer`` inside a span; check its output."""
    with b.tr.span(name):
        t0 = _clock()
        out = run()
        dt = _clock() - t0
    b.check(layer, ok(out), name)
    return dt, out


def _warm_phase(b: Bench, warm):
    """Run the warm phase once. A traced run sandwiches one traced run
    between two untraced ones, so the processes' own warm-up drift
    cancels out of the overhead. Returns (result of the measured run,
    traced minus mean untraced time)."""
    if not b.tr.enabled:
        return warm(), None

    def timed(traced: bool):
        b.tr.enabled = traced
        t0 = _clock()
        out = warm()
        return out, _clock() - t0

    _, before = timed(False)
    b.warm_from = len(b.tr.spans)
    res, traced = timed(True)
    _, after = timed(False)
    b.tr.enabled = True
    return res, traced - (before + after) / 2


def _span_median(spans, name, key=None) -> float:
    xs = [
        (s["end"] - s["start"]) if key is None else s["counters"][key]
        for s in spans
        if s["name"] == name
    ]
    return median(xs) if xs else 0.0


def _layers_base(b: Bench, overhead: float) -> tuple[dict, list[dict], list[dict]]:
    """Per-layer figures common to every workload, plus (all spans,
    spans of the traced warm phase) with their stage counters."""
    b.tr.attach_counters(b.spark)
    every = b.tr.spans
    layers = {
        "session.start_s": _span_median(every, "session.start"),
        "session.worker_spawn_s": _span_median(every, "session.worker_spawn"),
        "sources.write_s": _span_median(every, "sources.write"),
        "trace.overhead_s": overhead,
    }
    return layers, every, every[b.warm_from :]


def _requests_e2e(res: dict, lat: list[float], loop_s: float, what: str) -> None:
    t_ms, pct, n = tail([x * 1e3 for x in lat])
    res["e2e"].update({"p50_ms": median(lat) * 1e3, "qps": n / loop_s})
    res["tail"] = f"tail_ms {t_ms} ms (p{pct:.1f} of {n} {what}; not gated, see README)"


# ---- batch: text MapReduce + KV op-log fold + Clerk reads -------------

TEXT_DOCS = 400
KV_OPS = 6000
CLERK_ROUNDS_PER_S = 0.6
CLERK_WRITES_PER_ROUND = 50
CLERK_KEYS_PER_READ = 32
MINHASH_RECALL_FLOOR = 0.9
TEXT_JOBS = (
    "mrapps.word_count",
    "mrapps.inverted_index",
    "mr.wc",
    "mr.indexer",
    "dedup.exact",
    "dedup.minhash_pairs",
)
KV_JOBS = ("kv.fold", "kv.get_results", "kv.compact")


def batch(b: Bench, seed: int, seconds: int) -> dict:
    from mrgo_spark.operators import dedup, kv, mr, mrapps
    from mrgo_spark.operators.kvstore import KVStore

    rounds = max(1, round(seconds * CLERK_ROUNDS_PER_S))

    def generate():
        return gen.text_corpus(seed, TEXT_DOCS), gen.kv_oplog(seed, KV_OPS)

    def write(inputs):
        corpus, g = inputs
        return (
            b.write_table(corpus["docs"], DOC_SCHEMA, "docs"),
            b.write_table(g["log"], LOG_SCHEMA, "oplog"),
        )

    setup, (corpus, g), (docs, log) = _setups(b, generate, write)
    clerk = gen.clerk_script(
        seed, g["zipf"], rounds, CLERK_WRITES_PER_ROUND, CLERK_KEYS_PER_READ
    )
    wc_ref = ref.word_count(corpus["docs"])
    ii_ref = ref.inverted_index(corpus["docs"])
    exact_ref = ref.exact_dedup_ids(corpus["docs"])
    exact_pairs, near_pairs = corpus["exact_pairs"], corpus["near_pairs"]
    planted = exact_pairs | near_pairs
    fold_ref = ref.fold(g["log"])
    gets_ref = ref.get_results(g["log"])
    deduped = ref.dedup_log(g["log"])
    mid_seq = sorted(g["log"])[len(g["log"]) // 2][0]

    def pairs_ok(rows):
        cand = {(r.id_a, r.id_b) for r in rows}
        near = len(cand & near_pairs) / max(1, len(near_pairs))
        return (
            all(r.id_a < r.id_b and 1 <= r.n_bands <= 8 for r in rows)
            and exact_pairs <= cand
            and near >= MINHASH_RECALL_FLOOR
        )

    def one_pass():
        _, wc = _timed(
            b, "mrapps.word_count", "mrapps",
            lambda: {r.word: r.cnt for r in mrapps.word_count(docs).collect()},
            lambda out: out == wc_ref,
        )
        _timed(
            b, "mrapps.inverted_index", "mrapps",
            lambda: [tuple(r) for r in mrapps.inverted_index(docs).collect()],
            lambda out: {w: p for w, _, p in out} == ii_ref
            and all(p.startswith(f"{n} ") for _, n, p in out),
        )
        _timed(
            b, "mr.wc", "mr",
            lambda: {
                r.key: int(r.value)
                for r in mr.MRJob(mr.wc_map, mr.wc_reduce).run_documents(docs).collect()
            },
            lambda out: out == wc_ref and out == wc,
        )
        _timed(
            b, "mr.indexer", "mr",
            lambda: {
                r.key: r.value
                for r in mr.MRJob(mr.indexer_map, mr.indexer_reduce)
                .run_documents(docs)
                .collect()
            },
            lambda out: out == ii_ref,
        )
        _timed(
            b, "dedup.exact", "dedup",
            lambda: {r.doc_id for r in dedup.exact_dedup(docs).select("doc_id").collect()},
            lambda out: out == exact_ref,
        )
        _, pairs = _timed(
            b, "dedup.minhash_pairs", "dedup",
            lambda: dedup.minhash_lsh_pairs(docs).collect(),
            pairs_ok,
        )
        _timed(
            b, "kv.fold", "kv",
            lambda: {r.key: r.state for r in kv.fold_state(log).collect()},
            lambda out: out == fold_ref,
        )
        _timed(
            b, "kv.get_results", "kv",
            lambda: sorted((r.seq, r.key, r.val) for r in kv.get_results(log).collect()),
            lambda out: out == gets_ref,
        )
        _timed(
            b, "kv.compact", "kv",
            lambda: {
                r.key: r.state
                for r in kv.fold_state(
                    kv.compact_oplog(kv.dedup_at_most_once(log), mid_seq)
                ).collect()
            },
            lambda out: out == fold_ref,
        )
        return pairs

    def clerk_loop():
        """One Clerk: preload the deduplicated log, then alternate a
        burst of writes with one batched read."""
        store = KVStore(b.spark, client_id=1)
        state: dict[str, str] = {}
        logged = 0
        for _, _, _, op, key, value in deduped:
            if op != "get":
                getattr(store, op)(key, value)
                ref.apply(state, op, key, value)
                logged += 1
        lat, rows_per_read = [], []
        t0 = _clock()
        for i, (writes, keys) in enumerate(clerk["script"]):
            with b.tr.span("kvstore.write", rid=i):
                for op, key, value in writes:
                    getattr(store, op)(key, value)
            with b.tr.span("kvstore.get_many", rid=i):
                t1 = _clock()
                got = store.get_many(keys)
                lat.append(_clock() - t1)
            logged += len(writes)
            rows_per_read.append(logged / len(keys))
            for op, key, value in writes:
                ref.apply(state, op, key, value)
            b.check("kvstore", got == {k: state.get(k, "") for k in keys}, f"get_many round {i}")
        return lat, _clock() - t0, rows_per_read

    b.phase("references")
    t0 = _clock()
    one_pass()
    cold = _clock() - t0
    b.phase("cold_pass")

    def warm():
        t0 = _clock()
        pairs = one_pass()
        wall = _clock() - t0
        b.phase("warm_pass")
        clerk = clerk_loop()
        b.phase("clerk_loop")
        return wall, pairs, clerk

    (wall, pairs, (lat, loop_s, rows_per_read)), overhead = _warm_phase(b, warm)
    props = {"text": corpus["props"], "oplog": g["props"], "clerk": clerk["props"]}
    props["clerk"]["log_rows_first_read"] = round(rows_per_read[0] * CLERK_KEYS_PER_READ)
    res = {
        "e2e": {
            "setup_s": median(setup),
            "pass_s": wall,
        },
        "cold_pass_s": cold,
        "props": props,
        "counts": {"warm_passes": 1, "clerk_rounds": rounds},
    }
    _requests_e2e(res, lat, loop_s, "Clerk get_many reads")
    if b.tr.enabled:
        layers, _, sp = _layers_base(b, overhead)
        for name in TEXT_JOBS + KV_JOBS:
            layers[f"{name}_s"] = _span_median(sp, name)
        for key, metric in (("shuffle_write", "shuffle_write_bytes"), ("n_tasks", "n_tasks")):
            layers[f"mr.{metric}"] = sum(_span_median(sp, n, key) for n in ("mr.wc", "mr.indexer"))
        layers["kv.shuffle_write_bytes"] = sum(_span_median(sp, n, "shuffle_write") for n in KV_JOBS)
        layers["kv.spill_bytes"] = sum(
            _span_median(sp, n, "spilled_mem") + _span_median(sp, n, "spilled_disk")
            for n in KV_JOBS
        )
        cand = {(r.id_a, r.id_b) for r in pairs}
        found = cand & planted
        layers["dedup.candidate_pairs"] = len(cand)
        layers["dedup.planted_recall"] = len(found) / len(planted)
        layers["dedup.useful_candidate_ratio"] = len(found) / max(1, len(cand))
        layers["kv.live_op_ratio"] = ref.live_ops(g["log"]) / len(g["log"])
        layers["kvstore.get_many_s"] = _span_median(sp, "kvstore.get_many")
        layers["kvstore.log_rows_per_read"] = median(rows_per_read)
        res["layers"] = layers
    return res


# ---- serve_topk: hybrid BM25 + IVF requests fused by RRF --------------

SERVE_DOCS = 1000
SERVE_DIM = 16
SERVE_CLUSTERS = 16
SERVE_POOL = 100
SERVE_REQUESTS_PER_S = 0.4
SERVE_CLIENTS = 2
BM25_BUCKETS = 8
IVF_CELLS = 8
IVF_PROBE = 2
TOPK = 10
IVF_RECALL_FLOOR = 0.5
BM25_TWO_PASS_SAMPLE = 2
SERVE_BATCH = 8
QID0 = 10**9  # query ids never collide with corpus ids
BATCH_QID = 10**6  # batch-pass query ids sit above request ids


def serve_topk(b: Bench, seed: int, seconds: int) -> dict:
    from mrgo_spark.operators import retrieval, similarity

    n_req = max(1, round(seconds * SERVE_REQUESTS_PER_S))
    clients = max(1, min(SERVE_CLIENTS, b.cpus))

    def write(s):
        docs = b.write_table(s["docs"], DOC_SCHEMA, "docs")
        emb = b.write_table(
            [(int(i), [float(x) for x in v]) for i, v in zip(s["ids"], s["vecs"])],
            VEC_SCHEMA,
            "embeddings",
        )
        return docs, emb

    setup, s, (docs, emb) = _setups(
        b,
        lambda: gen.serve_inputs(
            seed, SERVE_DOCS, SERVE_DIM, SERVE_CLUSTERS, SERVE_POOL, n_req
        ),
        write,
    )
    bm25_ref = ref.BM25(s["docs"])
    unit = s["vecs"] / np.linalg.norm(s["vecs"], axis=1, keepdims=True)
    b.phase("references")

    t0 = _clock()
    with b.tr.span("retrieval.bm25_build"):
        bm = retrieval.BM25Index.build(docs, f"{b.work}/index/bm25", n_buckets=BM25_BUCKETS)
    with b.tr.span("similarity.ivf_build"):
        iv = similarity.IVFIndex.build(emb, f"{b.work}/index/ivf", n_cells=IVF_CELLS)
    build_s = _clock() - t0
    b.phase("build")
    spark = b.spark

    def hybrid(queries: list[tuple[int, list[str], np.ndarray]]) -> dict[int, tuple]:
        """BM25 and IVF top-k for ``queries`` (query id, terms, vector),
        each collected, then their RRF fusion, collected. A request is
        one query; a batch pass sends many at once."""
        with b.tr.span("retrieval.bm25_query.plan"):
            qt = spark.createDataFrame(
                [(q, t) for q, terms, _ in queries for t in terms], "query_id long, term string"
            )
            bdf = bm.query(qt, k=TOPK)
        with b.tr.span("retrieval.bm25_query.exec"):
            brows = bdf.collect()
        with b.tr.span("similarity.ivf_query.plan"):
            qv = spark.createDataFrame([(q, [float(x) for x in v]) for q, _, v in queries], VEC_SCHEMA)
            idf = iv.query(qv, k=TOPK, n_probe=IVF_PROBE)
        with b.tr.span("similarity.ivf_query.exec"):
            irows = idf.collect()
        with b.tr.span("retrieval.rrf_fuse.plan"):
            ranked = [
                spark.createDataFrame([(r.query_id, r.doc_id, r.rank) for r in brows], RANKED_SCHEMA),
                spark.createDataFrame([(r.query_id, r.neighbor_id, r.rank) for r in irows], RANKED_SCHEMA),
            ]
            fdf = retrieval.rrf_fuse(ranked, k=TOPK)
        with b.tr.span("retrieval.rrf_fuse.exec"):
            frows = fdf.collect()
        by_q: dict[int, tuple] = {q: ([], [], []) for q, _, _ in queries}
        for j, rows in enumerate((brows, irows, frows)):
            for r in rows:
                by_q[r.query_id][j].append(r)
        return {q: tuple(sorted(x, key=lambda r: r.rank) for x in v) for q, v in by_q.items()}

    # the batch pass: the first SERVE_BATCH pool queries in one call
    batch_queries = [
        (QID0 + BATCH_QID + j, terms, qvec) for j, (terms, qvec) in enumerate(s["pool"][:SERVE_BATCH])
    ]
    answers: dict[int, tuple] = {}  # query id -> (terms, vector, results)

    def batch_pass() -> float:
        t0 = _clock()
        with b.tr.span("serve.batch_pass"):
            got = hybrid(batch_queries)
        dt = _clock() - t0
        for q, terms, qvec in batch_queries:
            answers[q] = (terms, qvec, got.get(q))
        return dt

    cold = batch_pass()
    b.phase("cold_pass")

    def request(i: int) -> tuple[float, tuple]:
        terms, qvec = s["pool"][s["requests"][i]]
        with b.tr.span("serve.request", rid=i):
            t0 = _clock()
            got = hybrid([(QID0 + i, terms, qvec)])
            return _clock() - t0, got[QID0 + i]

    def serve_loop():
        """``clients`` closed-loop clients share the request sequence;
        each sends its next request when its previous one returns."""
        done: dict[int, tuple] = {}
        nxt = iter(range(n_req))
        lock = threading.Lock()

        def client():
            while True:
                with lock:
                    i = next(nxt, None)
                if i is None:
                    return
                try:
                    done[i] = request(i)
                except Exception as e:  # a failed request is counted below
                    b.failures.append(f"request {i}: {type(e).__name__}: {e}")

        threads = [threading.Thread(target=client) for _ in range(clients)]
        t0 = _clock()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return done, _clock() - t0

    def warm():
        wall = batch_pass()
        b.phase("warm_pass")
        done, loop_s = serve_loop()
        b.phase("request_loop")
        return wall, done, loop_s

    (wall, done, loop_s), overhead = _warm_phase(b, warm)
    for i in range(n_req):
        terms, qvec = s["pool"][s["requests"][i]]
        answers[QID0 + i] = (terms, qvec, done[i][1] if i in done else None)

    # ---- checks, outside every timed region ----
    recalls = []
    for q, (terms, qvec, got) in sorted(answers.items()):
        if got is None:
            b.check("retrieval", False, f"query {q} failed")
            continue
        brows, irows, frows = got
        b.check(
            "retrieval",
            [(r.doc_id, r.score_fp, r.rank) for r in brows] == bm25_ref.topk(terms, TOPK),
            f"bm25 query {q}",
        )
        exact = ref.exact_cosine_topk(s["ids"], unit, qvec, TOPK)
        recall = len({r.neighbor_id for r in irows} & exact) / TOPK
        recalls.append(recall)
        b.check("similarity", recall >= IVF_RECALL_FLOOR, f"ivf recall {recall} query {q}")
        fused = ref.rrf(
            [[(r.doc_id, r.rank) for r in brows], [(r.neighbor_id, r.rank) for r in irows]], TOPK
        )
        b.check(
            "retrieval",
            [(r.doc_id, r.rrf_score_fp, r.rank) for r in frows] == fused,
            f"rrf query {q}",
        )
    # the served BM25 must equal the two-pass form on sampled requests
    sample = sorted(done)[:: max(1, len(done) // BM25_TWO_PASS_SAMPLE)][:BM25_TWO_PASS_SAMPLE]
    qt = spark.createDataFrame(
        [(QID0 + i, t) for i in sample for t in answers[QID0 + i][0]],
        "query_id long, term string",
    )
    two_pass: dict[int, list] = {}
    for r in retrieval.bm25_topk(docs, qt, k=TOPK).collect():
        two_pass.setdefault(r.query_id, []).append((r.doc_id, r.score_fp, r.rank))
    for i in sample:
        q = QID0 + i
        b.check(
            "retrieval",
            sorted(two_pass.get(q, []), key=lambda x: x[2])
            == [(r.doc_id, r.score_fp, r.rank) for r in answers[q][2][0]],
            f"two-pass bm25 request {i}",
        )
    b.phase("checks")
    lat = [done[i][0] for i in done]
    props = dict(s["props"])
    props["ivf_recall_mean"] = float(np.mean(recalls)) if recalls else 0.0
    res = {
        "e2e": {
            "setup_s": median(setup),
            "pass_s": wall,
        },
        "cold_pass_s": cold,
        "build_s": build_s,
        "props": props,
        "counts": {"requests": n_req, "batch_pass_queries": SERVE_BATCH, "clients": clients},
    }
    _requests_e2e(res, lat, loop_s, "hybrid requests")
    if b.tr.enabled:
        layers, every, sp = _layers_base(b, overhead)
        sp = [x for x in sp if x["rid"] is not None]  # request spans only
        for name in ("retrieval.bm25_build", "similarity.ivf_build"):
            layers[f"{name}_s"] = _span_median(every, name)
        for name in ("retrieval.bm25_query", "similarity.ivf_query", "retrieval.rrf_fuse"):
            plan = _span_median(sp, f"{name}.plan")
            exe = _span_median(sp, f"{name}.exec")
            layers[f"{name}_s"] = plan + exe
            layers[f"{name}.plan_s"] = plan
            layers[f"{name}.exec_s"] = exe
            layers[f"{name}.n_stages_per_query"] = _span_median(
                sp, f"{name}.plan", "n_stages"
            ) + _span_median(sp, f"{name}.exec", "n_stages")
        layers["retrieval.input_bytes_per_query"] = _span_median(
            sp, "retrieval.bm25_query.plan", "input_bytes"
        ) + _span_median(sp, "retrieval.bm25_query.exec", "input_bytes")
        n_cent = iv.centroids.count()
        layers["similarity.probe_ratio"] = min(IVF_PROBE, n_cent) / n_cent
        res["layers"] = layers
    return res


WORKLOADS = {"batch": batch, "serve_topk": serve_topk}


def finish_layers(b: Bench, res: dict) -> None:
    """Complete the per-layer figures: memory, failures per layer, and
    0 for every layer the workload does not reach."""
    layers = res.get("layers")
    if layers is None:
        return
    layers["session.peak_rss_mb"] = peak_rss_mb(b.spark)
    for layer in LAYERS:
        layers[f"{layer}.errors"] = b.errors.get(layer, 0)
    res["layers"] = {name: layers.get(name, 0) for name, _, _ in PER_LAYER}

"""Seeded input generators for the three benchmark workloads.

Every generator takes a ``random.Random``-compatible seed and returns
plain Python data plus a ``props`` dict recording each input property
it set (sizes, duplicate share, key skew, write/read mix, query repeat
share). The engine only ever sees the generated rows.
"""

from __future__ import annotations

import bisect
import itertools
import random

import numpy as np

LETTERS = "abcdefghijklmnopqrstuvwxyz"


def vocabulary(rng: random.Random, size: int) -> list[str]:
    """``size`` distinct lowercase ASCII words of 3..9 letters."""
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(LETTERS) for _ in range(rng.randint(3, 9))))
    return sorted(words)


class Zipf:
    """Draws ranks 0..n-1 with P(rank r) proportional to 1/(r+1)^s."""

    def __init__(self, n: int, s: float):
        self.n, self.s = n, s
        w = [1.0 / (r + 1) ** s for r in range(n)]
        self.cum = list(itertools.accumulate(w))
        self.top_share = w[0] / self.cum[-1]

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


def _document(rng: random.Random, vocab: list[str], zipf: Zipf, n_words: int) -> str:
    # A mild word skew (s < 1 over a large vocabulary) keeps the corpus
    # from sharing its top 3-word shingles across every document, which
    # would turn MinHash LSH into an all-pairs join.
    words = [vocab[zipf.draw(rng)] for _ in range(n_words)]
    # Capitalised sentence starts and punctuation exercise the
    # non-letter split and the case-sensitive word count.
    out, i = [], 0
    while i < len(words):
        n = rng.randint(6, 14)
        sent = words[i : i + n]
        sent[0] = sent[0].capitalize()
        out.append(" ".join(sent) + rng.choice(".,;!?"))
        i += n
    return " ".join(out)


def text_corpus(
    seed: int,
    n_docs: int,
    words_per_doc: tuple[int, int] = (60, 140),
    vocab_size: int = 20_000,
    word_skew: float = 0.7,
    exact_dup_share: float = 0.05,
    near_dup_share: float = 0.05,
    near_dup_edit: float = 0.03,
) -> dict:
    """Documents ``(doc_id, text)`` with planted exact and near
    duplicates. A near duplicate replaces ``near_dup_edit`` of its
    source's words, which keeps its 3-shingle Jaccard near 0.9.

    Returns ``docs``, ``exact_pairs`` and ``near_pairs`` (each a set of
    ``(source_id, copy_id)`` with source_id < copy_id), ``props``.
    """
    rng = random.Random(seed)
    vocab = vocabulary(rng, vocab_size)
    zipf = Zipf(vocab_size, word_skew)
    n_exact = int(n_docs * exact_dup_share)
    n_near = int(n_docs * near_dup_share)
    n_orig = n_docs - n_exact - n_near
    docs = [
        (i, _document(rng, vocab, zipf, rng.randint(*words_per_doc)))
        for i in range(n_orig)
    ]
    exact_pairs, near_pairs = set(), set()
    # Copies take sources from the originals only, so every planted
    # pair is (original, copy) and no copy-of-a-copy chains form.
    sources = rng.sample(range(n_orig), n_exact + n_near)
    for j, src in enumerate(sources):
        cid = n_orig + j
        text = docs[src][1]
        if j < n_exact:
            exact_pairs.add((src, cid))
        else:
            words = text.split(" ")
            for _ in range(max(1, int(len(words) * near_dup_edit))):
                words[rng.randrange(len(words))] = vocab[rng.randrange(vocab_size)]
            text = " ".join(words)
            near_pairs.add((src, cid))
        docs.append((cid, text))
    # Shuffle row order so copies are not clustered at the tail.
    rng.shuffle(docs)
    props = {
        "n_docs": n_docs,
        "words_per_doc": list(words_per_doc),
        "vocab_size": vocab_size,
        "word_skew_zipf_s": word_skew,
        "top_word_share": round(zipf.top_share, 6),
        "exact_dup_share": exact_dup_share,
        "near_dup_share": near_dup_share,
        "near_dup_edit_share": near_dup_edit,
        "text_bytes": sum(len(t) for _, t in docs),
    }
    return {
        "docs": docs,
        "vocab": vocab,
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
        "props": props,
    }


def kv_oplog(
    seed: int,
    n_ops: int,
    n_keys: int = 2_000,
    key_skew: float = 1.1,
    n_clients: int = 8,
    mix: tuple[float, float, float] = (0.2, 0.6, 0.2),
    retransmit_share: float = 0.05,
) -> dict:
    """An op-log ``(seq, client, reqid, op, key, value)`` with
    Zipf-skewed keys, a Put/Append/Get ``mix`` and retransmitted
    ``(client, reqid)`` duplicates delivered later in the log."""
    rng = random.Random(seed)
    zipf = Zipf(n_keys, key_skew)
    reqids = [0] * n_clients
    log: list[tuple] = []
    pending: list[tuple[int, tuple]] = []  # (deliver_at, op) retransmits
    seq = 0
    ops = ("put", "append", "get")
    while len(log) < n_ops:
        seq += 1
        if pending and pending[0][0] <= seq:
            _, (client, reqid, op, key, value) = pending.pop(0)
        else:
            client = rng.randrange(n_clients)
            reqids[client] += 1
            reqid = reqids[client]
            op = rng.choices(ops, weights=mix)[0]
            key = f"k{zipf.draw(rng)}"
            value = None if op == "get" else f"{op[0]}{seq}."
            if rng.random() < retransmit_share:
                pending.append((seq + rng.randint(1, 200), (client, reqid, op, key, value)))
                pending.sort(key=lambda p: p[0])
        log.append((seq, client, reqid, op, key, value))
    n_dup = len(log) - len({(c, r) for _, c, r, *_ in log})
    props = {
        "n_ops": n_ops,
        "n_keys": n_keys,
        "key_skew_zipf_s": key_skew,
        "top_key_share": round(zipf.top_share, 6),
        "n_clients": n_clients,
        "put_append_get_mix": list(mix),
        "retransmit_share": retransmit_share,
        "retransmitted_ops": n_dup,
    }
    return {"log": log, "zipf": zipf, "props": props}


def clerk_script(
    seed: int,
    zipf: Zipf,
    rounds: int,
    writes_per_round: int,
    keys_per_read: int,
    put_share: float = 0.25,
) -> dict:
    """The Clerk's closed-loop script: ``rounds`` of a burst of
    ``writes_per_round`` Put/Append calls followed by one ``get_many``
    over ``keys_per_read`` keys (one in eight never written)."""
    rng = random.Random(seed ^ 0x5EED)
    script = []
    for r in range(rounds):
        writes = []
        for w in range(writes_per_round):
            op = "put" if rng.random() < put_share else "append"
            writes.append((op, f"k{zipf.draw(rng)}", f"c{r}.{w}{op[0]}"))
        keys = {f"k{zipf.draw(rng)}" for _ in range(keys_per_read)}
        keys.update(f"absent{rng.randrange(10**6)}" for _ in range(max(1, keys_per_read // 8)))
        script.append((writes, sorted(keys)))
    props = {
        "rounds": rounds,
        "writes_per_round": writes_per_round,
        "keys_per_read": keys_per_read,
        "write_read_calls": [rounds * writes_per_round, rounds],
        "clerk_put_share": put_share,
    }
    return {"script": script, "props": props}


def serve_inputs(
    seed: int,
    n_docs: int,
    dim: int,
    n_clusters: int,
    pool_size: int,
    n_requests: int,
    popularity_skew: float = 1.1,
    terms_per_query: tuple[int, int] = (2, 4),
) -> dict:
    """Corpus, one embedding per document (clustered, so IVF cells
    mean something), a fixed pool of hybrid queries and a request
    sequence drawn from the pool with Zipf popularity."""
    corpus = text_corpus(
        seed, n_docs, words_per_doc=(40, 90), exact_dup_share=0.0, near_dup_share=0.0
    )
    rng = random.Random(seed ^ 0xB25)
    nrng = np.random.default_rng(seed)
    centres = nrng.normal(size=(n_clusters, dim))
    ids = np.array([d for d, _ in corpus["docs"]], dtype=np.int64)
    assign = nrng.integers(0, n_clusters, size=len(ids))
    vecs = centres[assign] + 0.35 * nrng.normal(size=(len(ids), dim))
    vecs = np.round(vecs, 4)
    # Query terms come from the middle of the frequency range: common
    # enough to match documents, rare enough to rank them.
    vocab = corpus["vocab"]
    band = vocab[200:4000]
    pool = []
    for q in range(pool_size):
        terms = sorted({rng.choice(band) for _ in range(rng.randint(*terms_per_query))})
        qvec = np.round(
            centres[nrng.integers(0, n_clusters)] + 0.35 * nrng.normal(size=dim), 4
        )
        pool.append((terms, qvec))
    zipf = Zipf(pool_size, popularity_skew)
    requests = [zipf.draw(rng) for _ in range(n_requests)]
    seen: set[int] = set()
    repeats = 0
    for r in requests:
        repeats += r in seen
        seen.add(r)
    props = dict(corpus["props"])
    props.update(
        {
            "n_vectors": len(ids),
            "dim": dim,
            "n_clusters": n_clusters,
            "query_pool": pool_size,
            "n_requests": n_requests,
            "popularity_zipf_s": popularity_skew,
            "request_repeat_share": round(repeats / max(1, n_requests), 6),
            "terms_per_query": list(terms_per_query),
        }
    )
    return {
        "docs": corpus["docs"],
        "ids": ids,
        "vecs": vecs,
        "pool": pool,
        "requests": requests,
        "props": props,
    }

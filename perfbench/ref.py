"""Pure-Python reference computations the benchmark checks the
engine's outputs against. None of them calls the engine."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

import numpy as np

_SPLIT = re.compile("[^A-Za-z]+")
_SPLIT_LOWER = re.compile("[^a-z]+")

BM25_SCALE = 1_000_000
RRF_K = 60
RRF_SCALE = 1_000_000


def words(text: str) -> list[str]:
    return [w for w in _SPLIT.split(text) if w]


# ---- text_batch ------------------------------------------------------


def word_count(docs) -> dict[str, int]:
    c: Counter = Counter()
    for _, text in docs:
        c.update(words(text))
    return dict(c)


def inverted_index(docs) -> dict[str, str]:
    """word -> "<n> <doc1>,<doc2>" with doc ids sorted as strings."""
    post = defaultdict(set)
    for doc_id, text in docs:
        for w in words(text):
            post[w].add(str(doc_id))
    return {w: f"{len(ds)} {','.join(sorted(ds))}" for w, ds in post.items()}


def exact_dedup_ids(docs) -> set[int]:
    first: dict[str, int] = {}
    for doc_id, text in docs:
        if text not in first or doc_id < first[text]:
            first[text] = doc_id
    return set(first.values())


# ---- kv_oplog --------------------------------------------------------


def dedup_log(log) -> list[tuple]:
    """First delivery of each (client, reqid), in seq order."""
    seen, out = set(), []
    for row in sorted(log):
        if (row[1], row[2]) not in seen:
            seen.add((row[1], row[2]))
            out.append(row)
    return out


def apply(state: dict[str, str], op: str, key: str, value: str | None) -> None:
    if op == "put":
        state[key] = value
    elif op == "append":
        state[key] = state.get(key, "") + value


def fold(log) -> dict[str, str]:
    state: dict[str, str] = {}
    for _, _, _, op, key, value in dedup_log(log):
        apply(state, op, key, value)
    return state


def get_results(log) -> list[tuple[int, str, str]]:
    state: dict[str, str] = {}
    out = []
    for seq, _, _, op, key, value in dedup_log(log):
        if op == "get":
            out.append((seq, key, state.get(key, "")))
        else:
            apply(state, op, key, value)
    return out


def live_ops(log) -> int:
    """Mutations that survive dedup and the last-Put cut: the rows
    ``fold_state`` concatenates."""
    by_key = defaultdict(list)
    for _, _, _, op, key, _ in dedup_log(log):
        if op != "get":
            by_key[key].append(op)
    n = 0
    for ops in by_key.values():
        last_put = max((i for i, op in enumerate(ops) if op == "put"), default=0)
        n += len(ops) - last_put
    return n


# ---- serve_topk ------------------------------------------------------


class BM25:
    """Exact-integer Okapi BM25 (k1 = 6/5, b = 3/4) over lowercase
    ASCII-letter tokens, in the engine's fixed-point form."""

    def __init__(self, docs):
        self.tf: dict[str, dict[int, int]] = defaultdict(dict)
        self.dl: dict[int, int] = {}
        for doc_id, text in docs:
            toks = [t for t in _SPLIT_LOWER.split(text.lower()) if t]
            self.dl[doc_id] = len(toks)
            for t, c in Counter(toks).items():
                self.tf[t][doc_id] = c
        self.n = len(self.dl)
        self.tt = sum(self.dl.values())

    def topk(self, terms, k: int) -> list[tuple[int, int, int]]:
        """[(doc_id, score_fp, rank)] for one query."""
        n, tt = self.n, self.tt
        score: dict[int, int] = defaultdict(int)
        for t in set(terms):
            posting = self.tf.get(t, {})
            df = len(posting)
            for d, tf in posting.items():
                num = (2 * n - 2 * df + 1) * (22 * tt * tf) * BM25_SCALE
                den = (2 * df + 1) * (10 * tt * tf + 3 * tt + 9 * self.dl[d] * n)
                score[d] += num // den
        ranked = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [(d, s, r + 1) for r, (d, s) in enumerate(ranked)]


def rrf(lists: list[list[tuple[int, int]]], k: int) -> list[tuple[int, int, int]]:
    """Fuse [(doc_id, rank)] lists: [(doc_id, rrf_score_fp, rank)]."""
    score: dict[int, int] = defaultdict(int)
    for lst in lists:
        for d, rank in lst:
            score[d] += RRF_SCALE // (RRF_K + rank)
    ranked = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(d, s, r + 1) for r, (d, s) in enumerate(ranked)]


def exact_cosine_topk(ids: np.ndarray, unit: np.ndarray, q: np.ndarray, k: int) -> set[int]:
    """Ids of the k corpus vectors nearest ``q`` by cosine; ``unit``
    holds the corpus rows scaled to unit length."""
    s = unit @ (q / np.linalg.norm(q))
    return set(int(i) for i in ids[np.argsort(-s, kind="stable")[:k]])

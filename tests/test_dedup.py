"""Property tests for dedup operators (seed-dependent ones especially:
MinHash LSH and SimHash can't be oracle-declared — SURVEY §2.4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mrgo_spark.operators import dedup
from mrgo_spark.operators.queries_llm import _dup_corpus

SF = "/root/testdata/sf0.001"


def test_exact_dedup_drops_only_exact_copies(spark):
    corpus = _dup_corpus(spark, SF)
    n_orig = corpus.filter(F.col("doc_id") < 100000).count()
    n_rev = corpus.filter(F.col("doc_id") >= 200000).count()
    out = dedup.exact_dedup(corpus)
    # exact copies (id+100000) removed; originals + reversed kept
    assert out.count() == n_orig + n_rev
    assert out.filter((F.col("doc_id") >= 100000) & (F.col("doc_id") < 200000)).count() == 0


def test_fingerprint_dedup_also_drops_reversed(spark):
    corpus = _dup_corpus(spark, SF)
    n_orig = corpus.filter(F.col("doc_id") < 100000).count()
    out = dedup.fingerprint_dedup(corpus)
    assert out.count() == n_orig
    assert out.filter(F.col("doc_id") >= 100000).count() == 0


def test_minhash_lsh_finds_exact_copies(spark):
    """An exact copy has Jaccard 1.0 — every band collides, so LSH
    must surface every (orig, orig+100000) pair."""
    corpus = _dup_corpus(spark, SF)
    pairs = dedup.minhash_lsh_pairs(corpus).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {
        (r.doc_id, r.doc_id + 100000)
        for r in corpus.filter(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)
        ).collect()
    }
    assert expected <= found


def test_minhash_candidates_verified_by_jaccard(spark):
    """LSH candidates → exact n-gram Jaccard: exact copies score 1.0;
    verified survivors at 0.8 are exactly the planted duplicates."""
    corpus = _dup_corpus(spark, SF)
    cand = dedup.minhash_lsh_pairs(corpus)
    scored = dedup.ngram_jaccard_pairs(corpus, cand)
    high = scored.filter(F.col("jaccard") >= 0.999).collect()
    pairs = {(r.id_a, r.id_b) for r in high}
    expected = {
        (i, i + 100000)
        for (i,) in corpus.filter(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)
        ).select("doc_id").collect()
    }
    assert expected <= pairs


def test_simhash_identical_for_exact_and_reversed_copies(spark):
    """SimHash is order-insensitive over the token multiset: exact and
    reversed copies land at hamming distance 0 from their original."""
    corpus = _dup_corpus(spark, SF)
    sh = dedup.simhash_table(corpus).collect()
    by_id = {r.id: r.sh for r in sh}
    for i, h in by_id.items():
        if i >= 100000:
            assert h == by_id[i % 100000], f"copy {i} hash differs"


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    row = df.select(dedup.shingles("text", 3).alias("s")).collect()[0]
    assert row.s == ["one two"]


def _uf_components(n_nodes, edges):
    """Reference union-find: node -> min node id of its component."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for v in range(n_nodes):
        comp.setdefault(find(v), []).append(v)
    return {v: min(vs) for vs in comp.values() for v in vs}


def test_connected_components_vs_union_find(spark):
    """Seeded random graphs: Spark min-label propagation must agree
    with a driver-side union-find on every touched node."""
    import random

    for seed in (1, 42):
        rng = random.Random(seed)
        n = 24
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(26)]
        edges = [(a, b) for a, b in edges if a != b]
        expected = _uf_components(n, edges)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r.id: r.component
            for r in dedup.connected_components(df).collect()
        }
        touched = {v for e in edges for v in e}
        assert got == {v: expected[v] for v in touched}, f"seed {seed}"


def test_connected_components_converge_long_chain(spark):
    """With no arguments, CC must reach the fixpoint on a 13-node path,
    whose diameter (12) exceeds the 10 rounds a fixed round budget
    once defaulted to."""
    chain = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(chain, "src long, dst long")
    got = dedup.connected_components(df).collect()
    assert {r.component for r in got} == {0}
    assert len(got) == 13


def test_dup_clusters_singletons_and_sizes(spark):
    """Every input id appears exactly once; singletons map to
    themselves; cluster_size is consistent with the assignment."""
    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    pairs = spark.createDataFrame([(0, 3), (3, 7), (5, 6)], "id_a long, id_b long")
    rows = dedup.dup_clusters(docs, pairs).collect()
    assert sorted(r.doc_id for r in rows) == list(range(10))
    by_id = {r.doc_id: r for r in rows}
    assert by_id[7].canonical_id == 0 and by_id[3].canonical_id == 0
    assert by_id[6].canonical_id == 5
    for i in (1, 2, 4, 8, 9):
        assert by_id[i].canonical_id == i and by_id[i].cluster_size == 1
    assert by_id[0].cluster_size == 3 and by_id[5].cluster_size == 2
    assert sum(r.keep for r in rows) == 7  # 2 clusters + 5 singletons


def test_canonical_dedup_keeps_full_rows(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 4), (4, 2)], "id_a long, id_b long")
    kept = dedup.canonical_dedup(docs, pairs).collect()
    assert sorted(r.doc_id for r in kept) == [0, 1, 3, 5]
    assert all(r.text == f"t{r.doc_id}" for r in kept)


def test_star_edges_linear_in_block(spark):
    df = spark.createDataFrame(
        [(1, "a"), (5, "a"), (9, "a"), (7, "b"), (2, "c")], "doc_id long, k string"
    )
    edges = dedup.star_edges(df, "k").collect()
    assert sorted((r.src, r.dst) for r in edges) == [(1, 5), (1, 9)]


def test_minhash_pipeline_recovers_exact_copies(spark):
    """The probabilistic end-to-end pipeline must cluster every
    planted exact copy with its original (identical signatures ⇒
    identical LSH buckets — recall 1.0 on exact dups by construction)."""
    from mrgo_spark.operators.queries_llm import q_dedup_pipeline_minhash

    rows = q_dedup_pipeline_minhash(spark, SF).collect()
    by_id = {r.doc_id: r for r in rows}
    originals = [i for i in by_id if i < 100000 and i % 10 == 0]
    assert originals
    for d in originals:
        copy = d + 100000
        assert by_id[copy].canonical_id == by_id[d].canonical_id
        assert not by_id[copy].keep or by_id[d].canonical_id == copy
    assert sum(r.keep for r in rows) <= len(rows) - len(originals)


def test_edit_distance_pairs_blocking_semantics(spark):
    """Tail edits are caught with the exact distance; edits inside the
    blocking prefix escape (documented recall bound); pairs past the
    threshold return nothing."""
    base = "the quick brown fox jumps over the lazy dog and keeps on running"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base[:-3] + "zzz"),        # 3 tail substitutions
            (3, "XX" + base[2:]),          # edit inside blocking prefix
            (4, base[:40] + "Y" * 20),     # tail rewrite beyond max_dist
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.dist
        for r in dedup.edit_distance_pairs(docs, max_dist=5).collect()
    }
    assert pairs == {(1, 2): 3}


def test_line_dedup_drops_copied_lines(spark):
    """Exact copies keep zero lines (every line is a corpus repeat);
    originals keep all theirs; fingerprint of an all-kept doc differs
    from the empty-kept hash."""
    rows = {
        r.doc_id: r
        for r in dedup.line_dedup(_dup_corpus(spark, SF)).collect()
    }
    import hashlib

    empty = hashlib.sha256(b"").hexdigest()
    copies = [d for d in rows if 100000 <= d < 200000]
    assert copies
    for d in copies:
        assert rows[d].n_kept == 0
        assert rows[d].kept_fingerprint == empty
    # Global invariant: exactly one keeper per distinct line — checked
    # against an independent pure-Python tokenize/window pass.
    import re

    corpus = _dup_corpus(spark, SF).collect()
    distinct_lines = set()
    for r in corpus:
        toks = [t for t in re.split(r"[^a-z]+", r.text.lower()) if t]
        lines = [
            " ".join(toks[i : i + 12]) for i in range(0, len(toks), 12)
        ] or ([""] if not toks else [])
        if not toks:
            continue
        distinct_lines.update(lines)
    assert sum(r.n_kept for r in rows.values()) == len(distinct_lines)
    assert all(r.n_kept <= r.n_lines for r in rows.values())


def test_symdelete_catches_early_edits(spark):
    """The exact case prefix blocking documents as its recall gap —
    a single edit inside the blocking prefix — must be recalled by
    symmetric-delete blocking (provable for key distance ≤ 1), with
    the exact window distance; key-distance-2 pairs and
    over-threshold tails stay out."""
    base = "the quick brown fox jumps over the lazy dog and keeps on running"
    short = "short doc text"  # < key_len: key == whole string, no shift
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, "tXe" + base[3:]),          # 1 sub at char 2 (in-prefix)
            (3, "AB" + base[2:]),           # 2 subs in prefix: key dist 2
            (4, base[:1] + base[2:]),       # del at char 2: the window
            # SHIFTS, so the fixed-width key is at distance 2 (del +
            # trailing shift-in) — excluded by the exact predicate.
            (5, base[:40] + "Z" * 30),      # key dist 0, window dist ≫ 5
            (6, short),
            (7, short[:1] + short[2:]),     # deletion, no shift-in
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.dist
        for r in dedup.edit_distance_pairs_symdelete(docs, max_dist=5).collect()
    }
    assert pairs == {(1, 2): 1, (6, 7): 1}


def test_symdelete_equals_bruteforce(spark):
    """Output must equal the O(n²) definition (key dist ≤ 1 AND
    window dist ≤ max_dist) on a corpus of randomly mutated strings —
    blocking is an optimization, not an approximation."""
    import random

    try:
        import Levenshtein  # noqa: F401

        have_lev = True
    except Exception:
        have_lev = False

    def lev(a, b):
        if have_lev:
            return Levenshtein.distance(a, b)
        la, lb = len(a), len(b)
        prev = list(range(lb + 1))
        for i in range(1, la + 1):
            cur = [i] + [0] * lb
            for j in range(1, lb + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[lb]

    rng = random.Random(17)
    alpha = "abcdef ghij"
    bases = [
        "".join(rng.choice(alpha) for _ in range(60)) for _ in range(12)
    ]
    rows = []
    did = 0
    for b in bases:
        for _ in range(3):
            s = list(b)
            for _ in range(rng.randrange(3)):
                pos = rng.randrange(len(s))
                op = rng.randrange(3)
                if op == 0:
                    s[pos] = rng.choice(alpha)
                elif op == 1:
                    s.pop(pos)
                else:
                    s.insert(pos, rng.choice(alpha))
            rows.append((did, "".join(s)))
            did += 1
    key_len, window, max_dist = 30, 200, 5
    expected = {}
    for i, ta in rows:
        for j, tb in rows:
            if i >= j:
                continue
            if lev(ta[:key_len], tb[:key_len]) <= 1:
                d = lev(ta[:window], tb[:window])
                if d <= max_dist:
                    expected[(i, j)] = d
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in dedup.edit_distance_pairs_symdelete(
            docs, key_len=key_len, window=window, max_dist=max_dist,
            max_bucket=None,
        ).collect()
    }
    assert got == expected


# ------------------------------------------- md5-portable MinHash r5


def _py_minhash_sigs(docs: dict[int, str], num_hashes: int = 32):
    """Pure-Python replay of minhash_md5_signatures (third leg next
    to Spark and the DuckDB oracle): ascii 3-gram shingles, 48-bit
    md5 base hash mod 2^31-1, affine permutation mins."""
    import hashlib
    import re

    consts = dedup.minhash_md5_consts(num_hashes)
    M = dedup.MH_MOD
    out = {}
    for doc_id, text in docs.items():
        toks = [t for t in re.split(r"[^a-z]+", text.lower()) if t]
        if len(toks) >= 3:
            sh = sorted({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
        else:
            sh = [" ".join(toks)]
        hs = [
            int(hashlib.md5(s.encode()).hexdigest()[:12], 16) % M for s in sh
        ]
        out[doc_id] = [
            min((h * a + b) % M for h in hs) for (a, b) in consts
        ]
    return out


def test_minhash_md5_signatures_match_python_replay(spark):
    docs = {
        r.doc_id: r.text
        for r in _dup_corpus(spark, SF).limit(200).collect()
    }
    sdf = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {}
    for r in dedup.minhash_md5_signatures(sdf).collect():
        got.setdefault(r.doc_id, [0] * 32)[r.perm] = r.h
    want = _py_minhash_sigs(docs)
    assert got == want


def test_minhash_md5_pairs_recall_exact_copies(spark):
    corpus = _dup_corpus(spark, SF)
    pairs = dedup.minhash_md5_pairs(corpus)
    rows = {(r.id_a, r.id_b): r for r in pairs.collect()}
    planted = {
        (r.doc_id, r.doc_id + 100000)
        for r in corpus.filter(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)
        ).collect()
    }
    # exact copies share every band (identical signatures) and have
    # identical shingle sets -> inter == union, all 8 bands
    assert planted <= set(rows)
    for p in planted:
        assert rows[p].n_bands == 8
        assert rows[p].inter_size == rows[p].union_size


def test_minhash_md5_signature_range(spark):
    sdf = _dup_corpus(spark, SF).limit(50)
    for r in dedup.minhash_md5_signatures(sdf).collect():
        assert 0 <= r.h < dedup.MH_MOD
        assert 0 <= r.perm < 32


def test_incremental_dedup_audit_verdicts(spark):
    from mrgo_spark.operators.queries_llm import q_incremental_dedup_audit

    rows = {r.doc_id: r for r in q_incremental_dedup_audit(spark, SF).collect()}
    assert rows, "fixture produced no incoming docs"
    for doc_id, r in rows.items():
        base = doc_id % 100000
        if doc_id < 300000:  # exact + reversed copies of existing
            assert r.verdict == "dup_of_existing", r
            assert r.match_id == base
        elif doc_id < 400000:  # mutated: genuinely new
            assert r.verdict == "new" and r.match_id is None, r
        else:  # second mutated copy: dup within the batch
            assert r.verdict == "dup_within_batch", r
            assert r.match_id == base + 300000


def test_simhash_md5_matches_python_replay(spark):
    import hashlib
    import re

    docs = {
        r.doc_id: r.text for r in _dup_corpus(spark, SF).limit(100).collect()
    }
    sdf = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r.id: r.sh for r in dedup.simhash_md5_table(sdf).collect()}
    want = {}
    for doc_id, text in docs.items():
        toks = [t for t in re.split(r"[^a-z]+", text.lower()) if t]
        if not toks:
            continue
        votes = [0] * dedup.SIMHASH_MD5_BITS
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:12], 16)
            for b in range(dedup.SIMHASH_MD5_BITS):
                votes[b] += 1 if (h >> b) & 1 else -1
        want[doc_id] = sum(
            (1 << b) for b in range(dedup.SIMHASH_MD5_BITS) if votes[b] > 0
        )
    assert got == want


def test_simhash_md5_pairs_recall_copies(spark):
    # exact AND token-reversed copies share the token multiset ->
    # identical simhash -> hamming 0, guaranteed in the pair set
    corpus = _dup_corpus(spark, SF)
    rows = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_md5_pairs(corpus).collect()}
    planted = [
        r.doc_id
        for r in corpus.filter(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)
        ).collect()
    ]
    for d in planted:
        assert rows.get((d, d + 100000)) == 0
        assert rows.get((d, d + 200000)) == 0


def test_canonical_by_score_picks_best_member(spark):
    """The representative must be the max-score member (ties → min
    id), clusters must match dup_clusters', and exactly one keep per
    cluster."""
    from pyspark.sql import functions as F

    from mrgo_spark.operators import dedup, textstats
    from mrgo_spark.operators.queries_llm import (
        _dup_blocking_pairs,
        _planted_dup_corpus,
    )

    corpus = _planted_dup_corpus(spark, "/root/testdata/sf0.001")
    clusters = dedup.dup_clusters(
        corpus, _dup_blocking_pairs(corpus), id_col="doc_id",
        src="src", dst="dst",
    )
    scored = corpus.select(
        "doc_id", textstats.classifier_score_col("text").alias("score")
    )
    out = dedup.canonical_by_score(clusters, scored).collect()
    assert len(out) == corpus.count()
    by_c = {}
    for r in out:
        by_c.setdefault(r.cluster_id, []).append(r)
    for c, members in by_c.items():
        best = sorted(members, key=lambda r: (-r.score, r.doc_id))[0]
        keeps = [r for r in members if r.keep]
        assert len(keeps) == 1
        assert keeps[0].doc_id == best.doc_id == members[0].rep_id
        assert all(r.rep_id == best.doc_id for r in members)
    # the min-id rule and the quality rule agree on CLUSTERING, not
    # necessarily on the representative
    minid = {r.doc_id: r.canonical_id for r in clusters.collect()}
    for r in out:
        assert minid[r.doc_id] == r.cluster_id


def test_canonical_by_score_partial_scored_frame_is_visible(spark):
    """ADVICE r7: members missing a score row used to vanish silently
    (inner join); now they survive the left join with a NULL score,
    sort last for the rep pick, and still get a keep verdict."""
    from mrgo_spark.operators import dedup

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, canonical_id long",
    )
    # doc 2 (mid cluster) and doc 10 (would-be min-id rep) unscored
    scored = spark.createDataFrame(
        [(1, 5), (3, 9), (11, 4)], "doc_id long, score long"
    )
    out = {r.doc_id: r for r in
           dedup.canonical_by_score(clusters, scored).collect()}
    assert set(out) == {1, 2, 3, 10, 11}          # nobody vanishes
    assert out[2].score is None and out[10].score is None
    # cluster 1: best scored member is 3 (score 9)
    assert all(out[d].rep_id == 3 for d in (1, 2, 3))
    assert [d for d in (1, 2, 3) if out[d].keep] == [3]
    # cluster 10: only 11 is scored -> it beats the NULL-scored 10
    assert out[10].rep_id == 11 and out[11].keep and not out[10].keep

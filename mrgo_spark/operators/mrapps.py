"""DataFrame-native re-expressions of the reference's MapReduce apps.

The reference ships its "queries" as Go plugins over a fixed
(key,value) MR pipeline (reference src/mrapps/); here each app is a
pure DataFrame pipeline over the ``documents`` fixture, so Catalyst
gets partial aggregation, column pruning and codegen that the
reference's shuffle-everything design lacked (SURVEY.md §4.3).

Scale notes (100 TB): every app is a single shuffle
(tokenize/explode is map-side; the groupBy is the only exchange) with
map-side partial aggregation. Nothing is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import ascii_tokens, unicode_tokens


def tokenize(documents: DataFrame) -> DataFrame:
    """One row per (doc, token), split on non-letters.

    Reference: mrapps/wc.go:26-29 (strings.FieldsFunc on !IsLetter).
    Returns columns (doc, word); ``doc`` is the stringified doc_id,
    standing in for the reference's filename key.
    """
    return documents.select(
        F.col("doc_id").cast("string").alias("doc"),
        F.explode(ascii_tokens("text")).alias("word"),
    )


def word_count(documents: DataFrame) -> DataFrame:
    """Word count — reference mrapps/wc.go:24-47.

    The reference has no combiner (reduce counts raw "1"s); Spark's
    map-side partial count is result-identical and shuffle-minimal.
    Columns: (word, cnt).
    """
    return tokenize(documents).groupBy("word").agg(F.count("*").alias("cnt"))


def word_count_unicode(documents: DataFrame) -> DataFrame:
    """Word count with full Unicode-letter tokenization — the exact
    rune classes of the reference's split (mrapps/wc.go:26-29 uses
    unicode.IsLetter = category L*, which ``\\p{L}`` matches; pinned
    to a Python category-L model in tests/test_properties.py).
    Columns: (word, cnt).
    """
    return (
        documents.select(F.explode(unicode_tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def inverted_index(documents: DataFrame) -> DataFrame:
    """Inverted index — reference mrapps/indexer.go:22-41.

    Per-document DISTINCT words, then per word: document count and a
    posting string "<n> <doc1>,<doc2>,..." with docs sorted
    lexicographically (indexer.go:38-41 sorts before joining).
    Columns: (word, n_docs, posting).
    """
    tok = tokenize(documents).distinct()
    return tok.groupBy("word").agg(
        F.count("*").alias("n_docs"),
        F.concat(
            F.count("*").cast("string"),
            F.lit(" "),
            F.array_join(F.array_sort(F.collect_set("doc")), ","),
        ).alias("posting"),
    )


def sorted_concat(df: DataFrame, key: str, value: str) -> DataFrame:
    """Order-independent string aggregation — reference
    mrapps/crash.go:48-58 (copy, sort.Strings, space-join).

    Deterministic regardless of shuffle arrival order because values
    are sorted before joining. Columns: (key, vals).
    """
    return (
        df.select(F.col(key).alias("key"), F.col(value).cast("string").alias("v"))
        .groupBy("key")
        .agg(F.array_join(F.array_sort(F.collect_list("v")), " ").alias("vals"))
    )


def file_metadata(documents: DataFrame) -> DataFrame:
    """Per-file metadata emit — reference mrapps/crash.go:37-46.

    For each document emit four (mkey, mvalue) rows: a=doc name,
    b=len(doc name), c=len(contents), d=literal "xyzzy".
    Columns: (doc, mkey, mvalue).
    """
    doc = F.col("doc_id").cast("string")
    pairs = F.array(
        F.struct(F.lit("a").alias("mkey"), doc.alias("mvalue")),
        F.struct(F.lit("b").alias("mkey"), F.length(doc).cast("string").alias("mvalue")),
        F.struct(
            F.lit("c").alias("mkey"), F.length("text").cast("string").alias("mvalue")
        ),
        F.struct(F.lit("d").alias("mkey"), F.lit("xyzzy").alias("mvalue")),
    )
    return documents.select(
        doc.alias("doc"), F.explode(pairs).alias("kv")
    ).select("doc", F.col("kv.mkey").alias("mkey"), F.col("kv.mvalue").alias("mvalue"))


def file_scan_stats(frames: list[tuple[DataFrame, str]]) -> DataFrame:
    """Per-input-file scan metadata — the O1 whole-file scan as a
    declared, closure-free DataFrame row.

    The reference schedules one map task per input FILE and the map
    UDF receives the filename as its key (mr/worker.go:68-78,
    mr/master.go:395-399). ``MRJob.run_files`` keeps that contract
    imperatively (mr.py), but is closure-based and so barred from the
    driver's ``queries()``; this is the file-granularity surface a
    pure column plan can express: for each scanned file,
    ``input_file_name()`` keys the rows back to their source file and
    we emit (file_name, n_rows, min_key, max_key). A wrong file read,
    a partial scan, or broken filename plumbing all hash-mismatch.

    ``frames`` is [(df, key_col)]; each frame contributes one group
    per underlying file. Scale shape: one partial-agg shuffle per
    frame, grouped on file_name — at 100 TB the group count equals
    the file count, never the row count.
    """
    if not frames:
        raise ValueError("file_scan_stats: need at least one (df, key)")
    outs = []
    for df, key in frames:
        outs.append(
            df.select(
                F.regexp_extract(F.input_file_name(), "([^/]+)$", 1).alias(
                    "file_name"
                ),
                F.col(key).cast("long").alias("k"),
            )
            .groupBy("file_name")
            .agg(
                F.count("*").alias("n_rows"),
                F.min("k").alias("min_key"),
                F.max("k").alias("max_key"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res

"""Keyphrase stage over the interleaved corpus (north_star "keyphrase stack").

Deterministic per-doc top-k 'o'-tagged words by term frequency (semantics
defined by kg/oracle.py:doc_keyphrases — the reference ships no keyphrase
code).  Entirely JVM-side: explode text spans -> whitespace segments ->
rsplit-once word/tag (reference ner/dataset.py:38,44 parse) -> filter
non-entity words of length >= 2 -> TF -> windowed top-k with deterministic
ties (freq desc, phrase asc).  ``keyphrases_local`` computes the same rows on
the driver for an append batch held there.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kg.config import KEYPHRASE_TOP_K, TAGS


def keyphrases_table(docs: DataFrame, top_k: int = KEYPHRASE_TOP_K) -> DataFrame:
    # ONE shuffle total: repartition the compact doc rows by doc_id BEFORE
    # exploding — HashPartitioning(doc_id) satisfies both the (doc_id,
    # phrase) TF aggregation (subset clustering) and the per-doc top-k
    # window, and explode/filter preserve it, so neither re-shuffles the
    # ~60x-larger word rows.  (Previously: two word-row shuffles.)
    # r6 (guide §2.3 "project before the exchange"): only the text strings
    # cross the shuffle — media spans, media_refs, kinds and offsets are
    # dropped by the transform/filter projection first (the repartition of
    # the full span payload alone measured 2.7s at 1M docs).
    texts = F.expr(
        "transform(filter(spans, s -> s.kind = 'text' AND trim(s.text) <> ''),"
        " s -> s.text)"
    )
    sents = (
        docs.select("doc_id", texts.alias("ts"))
        .repartition("doc_id")
        .select("doc_id", F.explode("ts").alias("text"))
    )
    seg = F.explode(F.split(F.trim("text"), r"\s+")).alias("seg")
    segs = sents.select("doc_id", seg).where(F.col("seg") != "")
    tag = F.substring_index("seg", "/", -1)
    word = F.expr("substring(seg, 1, length(seg) - length(substring_index(seg, '/', -1)) - 1)")
    words = segs.select(
        "doc_id", word.alias("phrase"), tag.alias("tag")
    ).where(~F.col("tag").isin(*TAGS) & (F.length("phrase") >= 2))
    tf = words.groupBy("doc_id", "phrase").agg(F.count("*").alias("freq"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("freq"), F.asc("phrase"))
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("doc_id", "phrase", "freq", "rank")
    )


# Java's ``\s`` (no UNICODE_CHARACTER_CLASS), which ``split`` above uses: U+3000
# and NBSP are not whitespace there.
_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


def keyphrases_local(docs, top_k: int = KEYPHRASE_TOP_K):
    """``keyphrases_table`` on the driver: a ``pyarrow.Table`` of documents
    -> the same rows as a ``pyarrow.Table``.  Spark's semantics: ``trim``
    strips only U+0020, segments split on Java's ASCII ``\\s``, a segment
    without '/' has the empty word, and ties rank by phrase in code-point
    (= UTF-8 byte) order."""
    import pyarrow as pa

    tf: dict[str, Counter] = {}
    for doc_id, spans in zip(docs.column("doc_id").to_pylist(), docs.column("spans").to_pylist()):
        for s in spans or ():
            if s is None or s["kind"] != "text" or s["text"] is None:
                continue
            text = s["text"].strip(" ")
            for seg in _JAVA_SPACE.split(text) if text else ():
                word, _, tag = seg.rpartition("/")
                if seg and tag not in TAGS and len(word) >= 2:
                    tf.setdefault(doc_id, Counter())[word] += 1
    rows = [
        (doc_id, phrase, freq, rank)
        for doc_id, counts in tf.items()
        for rank, (phrase, freq) in enumerate(
            sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k], 1
        )
    ]
    doc_ids, phrases, freqs, ranks = zip(*rows) if rows else ((), (), (), ())
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "phrase": pa.array(phrases, pa.string()),
        "freq": pa.array(freqs, pa.int64()),
        "rank": pa.array(ranks, pa.int32()),
    })

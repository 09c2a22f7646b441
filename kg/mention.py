"""Spark mention-detection + relation-extraction stage (fused Arrow kernel).

Architecture (SURVEY.md §3.1 Spark mapping, §4 manual plan choices):

- ``explode_text_spans``: JVM-side posexplode of the interleaved spans array,
  keeping only text spans — media spans never enter the Python kernel (they
  are carried through by the span-sequence invariant, kg/invariant.py).
- ``extract_sentences``: ONE ``mapInPandas`` kernel that fuses parse →
  tokenize → per-tag label projection → decode → within-sentence relation
  pairing.  Tokenization happens once per sentence and is then expanded x3
  tags (the CSE rewrite the reference misses — it re-tokenizes per tag at
  ner/dataset.py:56; SURVEY.md §4).
- Decode uses the *candidate-pruned algebraic form* of the reference
  predicate (metrics.py:18-37): with the gold-projection scorer a span (i,j)
  is predicted iff its span logit, start logit at i and end logit at j are
  all > 0 and (i,j) lies in the masked upper triangle — which reduces to the
  gold offset list filtered by the truncation guard (ner/dataset.py:74-75).
  No O(L^2) tensor is ever materialized (the single biggest perf lever,
  SURVEY.md §4); the unpruned predicate lives in kg/oracle.py and parity is
  asserted in tests/test_parity.py.
- Output is ONE nested row per sentence (mentions + triples arrays), written
  to a checkpoint table once; downstream mention/triple tables are narrow
  explodes of that checkpoint — the kernel never runs twice and nothing
  shuffles until entity linking.

Scale notes (100 TB): the kernel is embarrassingly parallel over input
splits; no shuffle, no driver collection.  Arrow batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (kg/session.py); per-batch
memory is O(batch * sentence_len), not O(L^2).

Each Spark function has a ``*_local`` twin beside it that computes the same
rows from a ``pyarrow.Table`` on the driver, for a documents table or an
append batch small enough to hold there (kg/pipeline.py
``DRIVER_BATCH_MAX_DOCS``): the span explode with Spark's ``trim``, the
extractor through the same kernel body (``extract_batch``), and the
mention/triple explodes as Arrow list flattens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kg.config import MAX_LEN, REL_WINDOW
from kg.oracle import build_tag2query, parse_segments
from kg.tokenizer import Vocab

SENTENCES_SCHEMA = "doc_id string, sent_offset int, text string"

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("sent_offset", T.IntegerType()),
        T.StructField(
            "mentions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("tag", T.StringType()),
                        T.StructField("start", T.IntegerType()),
                        T.StructField("end", T.IntegerType()),
                        T.StructField("mention", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "triples",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("subj", T.StringType()),
                        T.StructField("pred", T.StringType()),
                        T.StructField("obj", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def explode_text_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans[]) -> (doc_id, sent_offset, text); JVM-side only."""
    s = F.explode("spans").alias("s")
    return (
        docs.select("doc_id", s)
        .where((F.col("s.kind") == "text") & (F.trim(F.col("s.text")) != ""))
        .select(
            "doc_id",
            F.col("s.offset").alias("sent_offset"),
            F.col("s.text").alias("text"),
        )
    )


def _explode_local(table, column: str):
    """``F.explode(column)`` of a ``pyarrow.Table`` on the driver: (each
    element's row index in ``table``, the elements' struct fields by name).
    A null or empty list gives no element; a null element gives all-null
    fields."""
    import numpy as np
    import pyarrow.compute as pc

    lists = table.column(column).combine_chunks()
    lengths = pc.fill_null(pc.list_value_length(lists), 0).to_numpy()
    parents = np.repeat(np.arange(len(lists)), lengths)
    items = lists.flatten()
    return parents, dict(zip((f.name for f in items.type), items.flatten()))


def text_spans_local(docs):
    """``explode_text_spans`` on the driver: a ``pyarrow.Table`` of documents
    -> a ``pyarrow.RecordBatch`` (doc_id, sent_offset, text).  Spark's
    ``trim`` strips only U+0020, so a text of tabs or U+3000 is kept, as
    there."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parents, s = _explode_local(docs, "spans")
    keep = pc.fill_null(pc.and_(
        pc.equal(s["kind"], "text"),
        pc.not_equal(pc.utf8_trim(s["text"], characters=" "), ""),
    ), False)
    doc_ids = docs.column("doc_id").combine_chunks().take(parents)
    return pa.RecordBatch.from_arrays(
        [doc_ids.filter(keep), s["offset"].filter(keep), s["text"].filter(keep)],
        names=["doc_id", "sent_offset", "text"],
    )


def _extract_sentence(text: str, vocab: Vocab, tag2query: dict, tok_cache: dict) -> tuple[list, list]:
    """Kernel body for one sentence; candidate-pruned decode (module doc)."""
    context_len = 0
    # per-tag gold offsets in context-token space (ner/dataset.py:47-53)
    offsets: dict[str, list[tuple[int, int]]] = {}
    tokens: list[str] = []
    for word, tag in parse_segments(text):
        sub = tok_cache.get(word)
        if sub is None:
            sub = vocab.tokenize(word)
            tok_cache[word] = sub
        n = len(sub)
        if tag in tag2query and n:
            offsets.setdefault(tag, []).append((context_len, context_len + n - 1))
        tokens.extend(sub)
        context_len += n

    mentions: list[tuple[str, int, int, str]] = []
    for tag in sorted(offsets):
        qlen = len(tag2query[tag])
        # len(start_labels)-1 in context space (truncation guard,
        # ner/dataset.py:57,65-66,74-75): labels run to min(qlen+L, MAX_LEN-1)
        ctx_limit = min(context_len, MAX_LEN - 1 - qlen)
        for s, e in offsets[tag]:
            if e >= ctx_limit:  # span past truncation: dropped
                continue
            surface = "".join(
                t[2:] if t.startswith("##") else t for t in tokens[s : e + 1]
            )
            mentions.append((tag, s, e, surface))
    mentions.sort(key=lambda m: (m[1], m[2], m[0]))

    triples: list[tuple[str, str, str]] = []
    for i, a in enumerate(mentions):
        a_end = a[2]
        for b in mentions[i + 1 :]:
            if b[1] <= a_end:
                continue
            if b[1] - a_end > REL_WINDOW:
                continue
            triples.append((a[3], f"rel_{a[0]}_{b[0]}", b[3]))
    return mentions, triples


def _memos() -> tuple[dict, dict]:
    """The extractor's two memos, bounded (kg/cache.py): words -> sub-tokens
    (distinct words grow without bound on a heterogeneous web corpus,
    VERDICT r3 missing-item 3), and sentences -> extraction (a pure function
    of the text, and web-scale corpora are duplicate-heavy — boilerplate,
    templated sentences; the synthetic corpus is Zipf-skewed the same way —
    so a repeated sentence costs one dict probe instead of a re-parse)."""
    from kg.cache import BoundedCache

    return BoundedCache(262_144), BoundedCache(65_536)


def extract_batch(batch, vocab: Vocab, tag2query: dict, tok_cache: dict, sent_cache: dict):
    """One Arrow batch of sentences (doc_id, sent_offset, text) -> one
    ``pyarrow.RecordBatch`` of extract rows, the mention and triple lists
    built as ``ListArray(StructArray)`` directly.  The body of
    ``extract_sentences``' kernel and of ``extract_local``: one extractor on
    both sides."""
    import pyarrow as pa

    m_tag: list = []; m_s: list = []; m_e: list = []; m_sur: list = []
    t_s: list = []; t_p: list = []; t_o: list = []
    m_off = [0]
    t_off = [0]
    for text in batch.column("text").to_pylist():
        hit = sent_cache.get(text)
        if hit is None:
            hit = _extract_sentence(text, vocab, tag2query, tok_cache)
            sent_cache[text] = hit
        for tg, s, e, sur in hit[0]:
            m_tag.append(tg); m_s.append(s); m_e.append(e)
            m_sur.append(sur)
        m_off.append(len(m_tag))
        for a, b, c in hit[1]:
            t_s.append(a); t_p.append(b); t_o.append(c)
        t_off.append(len(t_s))
    m_struct = pa.StructArray.from_arrays(
        [pa.array(m_tag, pa.string()), pa.array(m_s, pa.int32()),
         pa.array(m_e, pa.int32()), pa.array(m_sur, pa.string())],
        names=["tag", "start", "end", "mention"],
    )
    t_struct = pa.StructArray.from_arrays(
        [pa.array(t_s, pa.string()), pa.array(t_p, pa.string()),
         pa.array(t_o, pa.string())],
        names=["subj", "pred", "obj"],
    )
    return pa.RecordBatch.from_arrays(
        [
            batch.column("doc_id"),
            batch.column("sent_offset"),
            pa.ListArray.from_arrays(pa.array(m_off, pa.int32()), m_struct),
            pa.ListArray.from_arrays(pa.array(t_off, pa.int32()), t_struct),
        ],
        names=["doc_id", "sent_offset", "mentions", "triples"],
    )


def extract_sentences(sentences: DataFrame, vocab: Vocab) -> DataFrame:
    """sentences -> nested (doc_id, sent_offset, mentions[], triples[]).

    The kernel is ``mapInArrow`` building ``ListArray(StructArray)`` output
    directly (r6, guide §4.2): at 1M docs / 3M sentences the
    pandas-object-column detour dominated the stage (~3.5-5s noop-isolated,
    vs ~0.7s for the JVM explode feeding it) — the nested mention/triple
    rows re-walked per row on conversion.  Same extraction semantics,
    same memo discipline, identical output values.
    """
    spark = sentences.sparkSession
    vocab_bc = spark.sparkContext.broadcast(vocab)
    tag2query = build_tag2query(vocab)
    t2q_bc = spark.sparkContext.broadcast(tag2query)

    def kernel(batches):
        v, t2q = vocab_bc.value, t2q_bc.value
        tok_cache, sent_cache = _memos()
        for batch in batches:
            yield extract_batch(batch, v, t2q, tok_cache, sent_cache)

    return sentences.mapInArrow(kernel, EXTRACT_SCHEMA)


def extract_local(sentences, vocab: Vocab):
    """``extract_sentences`` on the driver: the ``pyarrow.RecordBatch`` of
    ``text_spans_local`` -> the extract rows as a ``pyarrow.Table``."""
    import pyarrow as pa

    tok_cache, sent_cache = _memos()
    rows = extract_batch(sentences, vocab, build_tag2query(vocab), tok_cache, sent_cache)
    return pa.Table.from_batches([rows])


def _flatten_local(extracted, column: str, names: list[str]):
    """``column``'s struct lists of the extract rows, one row per element:
    ``names`` taken from the element or, for doc_id and sent_offset, from
    its extract row."""
    import pyarrow as pa

    parents, fields = _explode_local(extracted, column)
    for key in ("doc_id", "sent_offset"):
        fields[key] = extracted.column(key).combine_chunks().take(parents)
    return pa.table([fields[n] for n in names], names=names)


def mentions_table(extracted: DataFrame) -> DataFrame:
    """Narrow explode of the extract checkpoint -> mention rows."""
    m = F.explode("mentions").alias("m")
    return extracted.select("doc_id", "sent_offset", m).select(
        "doc_id",
        "sent_offset",
        F.col("m.tag").alias("tag"),
        F.col("m.start").alias("start"),
        F.col("m.end").alias("end"),
        F.col("m.mention").alias("mention"),
    )


def mentions_local(extracted):
    """``mentions_table`` on the driver, of a ``pyarrow.Table``."""
    return _flatten_local(
        extracted, "mentions", ["doc_id", "sent_offset", "tag", "start", "end", "mention"]
    )


def triples_table(extracted: DataFrame) -> DataFrame:
    """Narrow explode of the extract checkpoint -> triple rows."""
    t = F.explode("triples").alias("t")
    return extracted.select("doc_id", "sent_offset", t).select(
        F.col("t.subj").alias("subj"),
        F.col("t.pred").alias("pred"),
        F.col("t.obj").alias("obj"),
        "doc_id",
        "sent_offset",
    )


def triples_local(extracted):
    """``triples_table`` on the driver, of a ``pyarrow.Table``."""
    return _flatten_local(extracted, "triples", ["subj", "pred", "obj", "doc_id", "sent_offset"])

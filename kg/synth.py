"""Deterministic synthesizer for the interleaved text+media corpus.

Produces the input table mandated by BASELINE.json input_hint:
``(doc_id: string, spans: array<struct<kind, text, media_ref, offset:int>>)``
(FIXTURES.md §1), seeded and fully deterministic.  Text payloads are tagged
sentences in the reference corpus format, sampled Zipf-skewed from a list
of ``word/tag`` lines (duplicate mentions across docs exercise entity
linking; skewed surface forms exercise the salted LSH join); media spans
interleave arbitrarily and must be carried through untouched.

The sentence list is the caller's ``sentences=`` when given, else
``default_sentences()``: the reference eval corpus ``REFERENCE_CORPUS``
(``data/test.txt``) where that file exists, and otherwise
``generated_sentences()``, a seeded corpus in the same format built here,
so the library runs on a machine without the reference checkout.

Each doc is generated from its own RNG seeded by (seed, doc index), so the
corpus is order- and partitioning-independent: the driver-side and
distributed (mapInPandas) generators produce byte-identical documents.  At
the 10^12-doc design point the corpus is never materialized on the driver —
executors synthesize their own doc ranges.

Edge docs always included (FIXTURES.md §1): empty-spans doc, media-only doc,
and a >512-token sentence exercising truncation (ner/dataset.py:57,65-66,74-75).
"""

from __future__ import annotations

import hashlib
import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kg.tokenizer import Vocab, build_vocab

REFERENCE_CORPUS = "/root/reference/data/test.txt"

SPANS_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", SPANS_SCHEMA),
    ]
)

MEDIA_KINDS = ["image", "audio", "video"]


def load_reference_sentences(path: str = REFERENCE_CORPUS) -> list[str]:
    with open(path, encoding="utf-8") as f:
        return [line.strip() for line in f if line.strip()]


FILLER = ["今天", "在", "召开", "会议", "表示", "访问", "合作", "的", "，", "发展"]


def tagged_lines(entities: dict[str, list[str]], n: int, seed: int) -> list[str]:
    """``n`` tagged ``word/tag`` lines; line i carries entity i (every
    surface occurs) plus up to two random ones, between filler words."""
    rng = random.Random(seed)
    pool = [(s, tag) for tag, surfaces in sorted(entities.items()) for s in surfaces]
    lines = []
    for i in range(n):
        picks = [pool[i % len(pool)]] + rng.sample(pool, rng.randint(0, 2))
        segs = [f"{rng.choice(FILLER)}/o"]
        for surface, tag in picks:
            segs += [f"{surface}/{tag}", f"{rng.choice(FILLER)}/o"]
        lines.append(" ".join(segs))
    return lines


# holds every character of the surfaces the test suite spells out (the
# canonical rename case in test_incremental.py, 中共中央 in
# test_tokenizer.py), so a vocab built from the generated corpus covers them
CJK = "中国北京上海广州南京杭州深圳天津人民政府共产党中央委员会致公民主大学市区省县江河山东西南"


def generated_sentences(n_stems: int = 40, n_lines: int = 600, seed: int = 5) -> list[str]:
    """Seeded stand-in for the reference corpus: ``tagged_lines`` over CJK
    stems drawn per tag.  Every other stem has a one-character-longer
    variant that links to it, and a variant only ever follows its stem in
    a line, so no prefix of a corpus holds a variant without its stem."""
    rng = random.Random(seed)
    entities, variants = {}, {}
    for tag in ("nr", "ns", "nt"):
        entities[tag] = ["".join(rng.choices(CJK, k=rng.randint(3, 5))) for _ in range(n_stems)]
        variants.update((s, s + rng.choice(CJK)) for s in entities[tag][::2])
    entities["nt"].append("中共中央")
    lines = []
    for line in tagged_lines(entities, n_lines, seed):
        segs = []
        for seg in line.split(" "):
            segs.append(seg)
            surface, tag = seg.rsplit("/", 1)
            if surface in variants and rng.random() < 0.5:
                segs.append(f"{variants[surface]}/{tag}")
        lines.append(" ".join(segs))
    return lines


def default_sentences() -> list[str]:
    """The sentence source used wherever ``sentences`` is not given: the
    lines of the reference eval corpus ``REFERENCE_CORPUS`` when that file
    exists, else ``generated_sentences()`` (no file, no network)."""
    if os.path.exists(REFERENCE_CORPUS):
        return load_reference_sentences()
    return generated_sentences()


def corpus_digest(sentences: list[str] | None = None) -> str:
    """Short content digest of a sentence list (``default_sentences()``
    when None), for cache keys of anything built from it: a table built
    from one corpus must not satisfy a run on another."""
    if sentences is None:
        sentences = default_sentences()
    return hashlib.sha256("\n".join(sentences).encode("utf-8")).hexdigest()[:10]


def corpus_vocab(sentences: list[str] | None = None) -> Vocab:
    """Deterministic vocab over corpus text + MRC queries (SURVEY.md §7.0)."""
    from kg.config import TAG_QUERIES

    if sentences is None:
        sentences = default_sentences()
    texts = [s.replace("/", " ") for s in sentences] + list(TAG_QUERIES.values())
    return build_vocab(texts)


def _long_sentence(sentences: list[str], min_segments: int = 600) -> str:
    """Concatenate segments until well past max_len tokens (truncation case)."""
    segs: list[str] = []
    i = 0
    while len(segs) < min_segments:
        segs.extend(sentences[i % len(sentences)].split())
        i += 1
    return " ".join(segs[:min_segments])


def _synth_one(d: int, seed: int, sentences: list[str]) -> dict:
    """Doc #d, deterministic in (seed, d) alone."""
    rng = random.Random((seed << 20) ^ d)
    doc_id = f"doc-{d:08d}"
    n_sent = len(sentences)

    def media_span(offset: int) -> dict:
        kind = MEDIA_KINDS[rng.randrange(len(MEDIA_KINDS))]
        return {
            "kind": kind,
            "text": "",
            "media_ref": f"media://{kind}/{rng.randrange(1 << 30):08x}",
            "offset": offset,
        }

    if d == 0:
        return {"doc_id": doc_id, "spans": []}
    if d == 1:
        return {"doc_id": doc_id, "spans": [media_span(0), media_span(1)]}
    if d == 2:
        return {
            "doc_id": doc_id,
            "spans": [
                {"kind": "text", "text": _long_sentence(sentences), "media_ref": "", "offset": 0},
                media_span(1),
            ],
        }
    spans: list[dict] = []
    offset = 0
    for _ in range(rng.randint(1, 5)):
        if rng.random() < 0.25:
            spans.append(media_span(offset))
            offset += 1
        # Zipf-ish skew: quadratic concentration on low sentence indices
        idx = int(n_sent * rng.random() ** 2) % n_sent
        spans.append({"kind": "text", "text": sentences[idx], "media_ref": "", "offset": offset})
        offset += 1
    if rng.random() < 0.15:
        spans.append(media_span(offset))
    return {"doc_id": doc_id, "spans": spans}


def synth_docs(n_docs: int, seed: int = 42, sentences: list[str] | None = None) -> list[dict]:
    """Driver-side corpus (tests / oracle goldens)."""
    if sentences is None:
        sentences = default_sentences()
    return [_synth_one(d, seed, sentences) for d in range(n_docs)]


def _docs_to_arrow(docs: list[dict]):
    """Columnar Arrow construction of the docs table (r6, guide §4.2):
    flatten every span into four plain Python lists + per-doc offsets and
    assemble ListArray(StructArray) directly — the pandas-object /
    pickled-row paths both re-walked the nested structure per row and
    dominated corpus materialization (measured 4.2s of the 1M-doc
    'documents' stage; identical values either way)."""
    import pyarrow as pa

    ids: list[str] = []
    kinds: list[str] = []
    texts: list[str] = []
    refs: list[str] = []
    offs: list[int] = []
    bounds = [0]
    for d in docs:
        ids.append(d["doc_id"])
        for s in d["spans"]:
            kinds.append(s["kind"])
            texts.append(s["text"])
            refs.append(s["media_ref"])
            offs.append(s["offset"])
        bounds.append(len(kinds))
    struct = pa.StructArray.from_arrays(
        [
            pa.array(kinds, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(refs, pa.string()),
            pa.array(offs, pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans = pa.ListArray.from_arrays(pa.array(bounds, pa.int32()), struct)
    return pa.Table.from_arrays([pa.array(ids, pa.string()), spans],
                                names=["doc_id", "spans"])


def docs_to_df(spark: SparkSession, docs: list[dict]) -> DataFrame:
    return spark.createDataFrame(_docs_to_arrow(docs), schema=DOCS_SCHEMA)


def synth_docs_df(
    spark: SparkSession, n_docs: int, seed: int = 42, n_partitions: int | None = None
) -> DataFrame:
    """Distributed synthesis: each partition generates its own doc range
    from ``default_sentences()``."""
    if n_partitions is None:
        n_partitions = max(4, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    sent_bc = spark.sparkContext.broadcast(default_sentences())

    def gen(it):
        sentences = sent_bc.value
        # Yield in bounded chunks: a partition may cover millions of docs
        # (n_docs / n_partitions), and materializing one batch per
        # partition is O(partition) memory — observed worker OOM at 16M
        # docs on local[2].  50k-doc batches keep per-batch memory flat
        # regardless of corpus or partition count.  Batches are built as
        # Arrow directly (_docs_to_arrow, r6): the pandas object-column
        # detour cost ~125us/doc of conversion — 4.2s of the 1M-doc
        # documents stage, vs ~10us/doc for the generation itself.
        chunk = 50_000
        for batch in it:
            for start, stop in zip(
                batch.column("start").to_pylist(), batch.column("stop").to_pylist()
            ):
                lo = int(start)
                while lo < int(stop):
                    hi = min(lo + chunk, int(stop))
                    tbl = _docs_to_arrow(
                        [_synth_one(d, seed, sentences) for d in range(lo, hi)]
                    )
                    for b in tbl.to_batches():
                        yield b
                    lo = hi

    step = max(1, -(-n_docs // n_partitions))
    bounds = [(i, min(i + step, n_docs)) for i in range(0, n_docs, step)]
    ranges = spark.createDataFrame(bounds, "start long, stop long").repartition(len(bounds))
    return ranges.mapInArrow(gen, DOCS_SCHEMA)


def sf_to_n_docs(sf: float) -> int:
    return max(16, int(sf * 100_000))

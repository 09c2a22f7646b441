"""Driver-side dimension tables that make the KG stages DuckDB-replayable.

The correctness harness (driver contract) runs each Spark query next to an
ANSI-SQL oracle over the same inputs.  The KG stages consume the synthetic
interleaved corpus (kg/synth.py), which DuckDB cannot see — so this module
materializes, with plain Python + pyarrow (no Spark anywhere), two parquet
tables the oracle SQL reads directly:

- ``flat_docs``: (doc_id, sent_offset, text) — exactly the rows
  ``explode_text_spans`` feeds the extract kernel (text spans only, blanks
  dropped), generated by the *driver-side* synthesizer (``synth_docs``),
  which is byte-identical to the distributed generator by construction
  (tests/test_sources_streaming.py pins that).
- ``words``: (word, n_tok, surface) — the per-word WordPiece token count
  and ``##``-stripped surface under the corpus vocab.

Honesty note: tokenization is a deterministic *per-word scalar function*
(pinned by tests/test_tokenizer.py); shipping it as a dimension table is the
SQL analogue of shipping the vocab file.  What the oracle then checks
independently is everything distributed and relational: the segment parse,
cumulative context offsets, the tag filter, the truncation guard
(reference ner/dataset.py:57,65-66,74-75), the REL_WINDOW pairing, and the
keyphrase TF/top-k — i.e. the parts the Spark engine could actually get
wrong at scale.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from kg.oracle import parse_segments
from kg.synth import corpus_digest, corpus_vocab, default_sentences, synth_docs
from kg.tokenizer import Vocab

FLAT_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("sent_offset", pa.int32()),
        pa.field("text", pa.string()),
    ]
)

WORDS_SCHEMA = pa.schema(
    [
        pa.field("word", pa.string()),
        pa.field("n_tok", pa.int32()),
        pa.field("surface", pa.string()),
    ]
)


def _atomic_write(table: pa.Table, path: str) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def ensure_simhash_words(
    documents_parquet: str, fingerprint: str = ""
) -> str:
    """(word, h) dimension parquet: Spark-compatible xxhash64 (seed 42) of
    every distinct non-empty space-separated word in the given documents
    table, computed driver-side with the pure-Python XXH64 (kg/xxh64.py).
    DuckDB has no xxHash64; with this dim table the simhash signature
    becomes plain SQL (bit votes + signed wrap)."""
    import hashlib

    from kg.xxh64 import xxh64_str

    # key on path AND file content evidence (size+mtime): a regenerated
    # testdata file at the same path must not reuse a stale dim table
    # (ADVICE r2 — a stale table silently drops words via the inner join).
    st = os.stat(documents_parquet)
    key = hashlib.sha256(
        f"{documents_parquet}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:10]
    base = f"/tmp/kg_oracle_simhash_{key}_{fingerprint or 'dev'}"
    path = os.path.join(base, "words_xxh64.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(base, exist_ok=True)
    tbl = pq.read_table(documents_parquet, columns=["text"])
    words: set[str] = set()
    for text in tbl.column("text").to_pylist():
        for w in (text or "").split(" "):
            if w:
                words.add(w)
    wlist = sorted(words)
    _atomic_write(
        pa.table(
            {"word": wlist, "h": [xxh64_str(w) for w in wlist]},
            schema=pa.schema([pa.field("word", pa.string()), pa.field("h", pa.int64())]),
        ),
        path,
    )
    return path


def ensure_plane_weights(
    dim: int, n_planes: int, n_tables: int, seed: int, fingerprint: str = ""
) -> str:
    """(tbl, p, i, w) dimension parquet of the deterministic hyperplane-LSH
    plane weights (kg/ops/similarity.py _planes, RandomState(seed + tbl)).
    Lets DuckDB re-derive the sign-pattern bucket keys: the projections'
    smallest |value| on the sf0.01 embeddings is ~3e-5 — ten orders of
    magnitude above float64 summation-order noise, so the signs (and hence
    the buckets) are engine-independent."""
    from kg.ops.similarity import _planes

    base = f"/tmp/kg_oracle_planes_{dim}_{n_planes}_{n_tables}_{seed}_{fingerprint or 'dev'}"
    path = os.path.join(base, "planes.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(base, exist_ok=True)
    tbls, ps, idx, ws = [], [], [], []
    for t in range(n_tables):
        planes = _planes(dim, n_planes, seed + t)
        for p in range(n_planes):
            for i in range(dim):
                tbls.append(t)
                ps.append(p)
                idx.append(i + 1)  # 1-based: matches generate_subscripts
                ws.append(float(planes[p, i]))
    _atomic_write(
        pa.table(
            {"tbl": tbls, "p": ps, "i": idx, "w": ws},
            schema=pa.schema(
                [
                    pa.field("tbl", pa.int32()),
                    pa.field("p", pa.int32()),
                    pa.field("i", pa.int32()),
                    pa.field("w", pa.float64()),
                ]
            ),
        ),
        path,
    )
    return path


def ensure_media_tables(
    n_docs: int, seed: int = 42, fingerprint: str = ""
) -> dict[str, str]:
    """Dimension parquets that make ``media_features`` SQL-checkable:

    - ``media_spans``: (doc_id, media_ref, kind) — every media span of the
      driver-side synth corpus (byte-identical to the distributed one).
    - ``media_feats``: (media_ref, i, feature) — the per-ref feature vector
      from the SAME pure scalar functions the kernel uses
      (kg/ops/multimodal.py fake_payload/payload_features).

    Honesty note (same rule as the tokenizer words table): the feature
    vector is a per-ref scalar shipped as data; what the SQL oracle then
    checks independently is the DISTRIBUTED part — explode, the non-text
    filter, ref dedup, the feature join, and posexplode indexing.
    """
    from kg.ops.multimodal import FEATURE_DIM, fake_payload, payload_features

    base = f"/tmp/kg_oracle_media_{n_docs}_{seed}_{FEATURE_DIM}_{fingerprint or 'dev'}"
    spans_path = os.path.join(base, "media_spans.parquet")
    feats_path = os.path.join(base, "media_feats.parquet")
    if os.path.exists(spans_path) and os.path.exists(feats_path):
        return {"spans": spans_path, "feats": feats_path}
    os.makedirs(base, exist_ok=True)

    doc_ids, refs, kinds = [], [], []
    for doc in synth_docs(n_docs, seed):
        for span in doc["spans"]:
            if span["kind"] == "text":
                continue
            doc_ids.append(doc["doc_id"])
            refs.append(span["media_ref"])
            kinds.append(span["kind"])
    _atomic_write(
        pa.table(
            {"doc_id": doc_ids, "media_ref": refs, "kind": kinds},
            schema=pa.schema(
                [
                    pa.field("doc_id", pa.string()),
                    pa.field("media_ref", pa.string()),
                    pa.field("kind", pa.string()),
                ]
            ),
        ),
        spans_path,
    )

    f_refs, f_is, f_vals = [], [], []
    for ref in sorted(set(refs)):
        for i, v in enumerate(payload_features(fake_payload(ref))):
            f_refs.append(ref)
            f_is.append(i)
            f_vals.append(v)
    _atomic_write(
        pa.table(
            {"media_ref": f_refs, "i": f_is, "feature": f_vals},
            schema=pa.schema(
                [
                    pa.field("media_ref", pa.string()),
                    pa.field("i", pa.int32()),
                    pa.field("feature", pa.float32()),
                ]
            ),
        ),
        feats_path,
    )
    return {"spans": spans_path, "feats": feats_path}


def ensure_kg_oracle_tables(
    n_docs: int,
    seed: int = 42,
    fingerprint: str = "",
    vocab: Vocab | None = None,
) -> dict[str, str]:
    """Materialize (or reuse) the two oracle dimension parquets; returns
    {"flat": path, "words": path}.  ``fingerprint`` should version the code
    (stale tables from an older tokenizer/synth must not satisfy a newer
    run — same rule as the pipeline checkpoints); the key also carries the
    default corpus's digest, so tables built from one sentence source are
    not reused on another."""
    sentences = default_sentences()
    base = f"/tmp/kg_oracle_{n_docs}_{seed}_{fingerprint or 'dev'}_{corpus_digest(sentences)}"
    flat_path = os.path.join(base, "flat_docs.parquet")
    words_path = os.path.join(base, "words.parquet")
    if os.path.exists(flat_path) and os.path.exists(words_path):
        return {"flat": flat_path, "words": words_path}
    os.makedirs(base, exist_ok=True)

    docs = synth_docs(n_docs, seed, sentences)
    doc_ids, offsets, texts = [], [], []
    words: set[str] = set()
    for doc in docs:
        for span in doc["spans"]:
            if span["kind"] != "text" or not span["text"].strip():
                continue
            doc_ids.append(doc["doc_id"])
            offsets.append(span["offset"])
            texts.append(span["text"])
            for word, _tag in parse_segments(span["text"]):
                words.add(word)
    _atomic_write(
        pa.table({"doc_id": doc_ids, "sent_offset": offsets, "text": texts}, schema=FLAT_SCHEMA),
        flat_path,
    )

    if vocab is None:
        vocab = corpus_vocab(sentences)
    wlist = sorted(words)
    n_toks, surfaces = [], []
    for w in wlist:
        toks = vocab.tokenize(w)
        n_toks.append(len(toks))
        surfaces.append("".join(t[2:] if t.startswith("##") else t for t in toks))
    _atomic_write(
        pa.table({"word": wlist, "n_tok": n_toks, "surface": surfaces}, schema=WORDS_SCHEMA),
        words_path,
    )
    return {"flat": flat_path, "words": words_path}

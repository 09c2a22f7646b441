from __future__ import annotations

import pytest

from kg.config import LINK_JACCARD, LSH_MAX_BUCKET, MINHASH_PRIME, SHINGLE_K
from kg.linking import _hash_params, band_keys, minhash_signature
from kg.session import get_spark
from kg.synth import corpus_vocab, load_reference_sentences


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kg-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sentences():
    return load_reference_sentences()


@pytest.fixture(scope="session")
def vocab(sentences):
    return corpus_vocab(sentences)


def _fold_shingles(text: str, k: int = SHINGLE_K) -> set[int]:
    """Shingle set by the stepwise polynomial fold the library vectorizes:
    each char k-gram (the whole text when shorter) hashed as
    ``h = (h * 131 + ord(ch)) % P``.  The hash is part of the semantics:
    distinct k-grams can share a value, so text k-grams would differ."""
    grams = [text] if len(text) < k else [text[i : i + k] for i in range(len(text) - k + 1)]
    out = set()
    for gram in grams:
        h = 0
        for ch in gram:
            h = (h * 131 + ord(ch)) % MINHASH_PRIME
        out.add(h)
    return out


def _reference_link(texts, threshold=LINK_JACCARD, max_bucket=LSH_MAX_BUCKET):
    """Independent linker the library's linkers are checked against: the
    same LSH buckets, but its own shingle fold, exact-Jaccard verify and
    union-find, sharing no code with ``link_signatures`` or the distributed
    path."""
    a, b = _hash_params()
    distinct = sorted(set(texts))
    buckets: dict[str, list[str]] = {}
    for t in distinct:
        for key in band_keys(minhash_signature(t, a, b)):
            buckets.setdefault(key, []).append(t)
    parent = {t: t for t in distinct}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in buckets.values():
        if len(members) > max_bucket:
            continue
        for i, m1 in enumerate(members):
            s1 = _fold_shingles(m1)
            for m2 in members[i + 1 :]:
                s2 = _fold_shingles(m2)
                if len(s1 & s2) / len(s1 | s2) >= threshold:
                    r1, r2 = find(m1), find(m2)
                    if r1 != r2:
                        parent[max(r1, r2)] = min(r1, r2)
    return {t: find(t) for t in distinct}


@pytest.fixture(scope="session")
def reference_link():
    return _reference_link

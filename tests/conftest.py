from __future__ import annotations

import os

import pytest

from kg.config import LINK_JACCARD, LSH_MAX_BUCKET, MINHASH_PRIME, SHINGLE_K
from kg.linking import _hash_params, band_keys, minhash_signature
from kg.session import get_spark
from kg.synth import (  # noqa: F401  (tagged_lines: imported by tests from here)
    REFERENCE_CORPUS,
    corpus_vocab,
    default_sentences,
    load_reference_sentences,
    tagged_lines,
)


LINK_BOUND = "kg.linking.DRIVER_LINK_MAX_MENTIONS"
DEDUP_BOUND = "kg.ops.dedup.DRIVER_DEDUP_MAX_ROWS"
BATCH_BOUND = "kg.pipeline.DRIVER_BATCH_MAX_DOCS"
EDGES_BOUND = "kg.pipeline.DRIVER_EDGES_MAX_TRIPLES"


def at_both_bounds(monkeypatch, *bounds: str):
    """Force driver-vs-Spark bounds (dotted module constants, by default
    ``LINK_BOUND``) to each side in turn, all to the same side, and yield
    it: 10**12 (the driver side), then 0 (the Spark side).  Looped over in
    a test body rather than parametrized, so the test's id stays the same;
    ``monkeypatch`` restores the bounds at teardown."""
    for value in (10**12, 0):
        for bound in bounds or (LINK_BOUND,):
            monkeypatch.setattr(bound, value)
        yield value


def at_both_link_and_batch_bounds(monkeypatch):
    """``at_both_bounds`` of the linking bound, with ``EDGES_BOUND`` on the
    same side, and within each side of ``BATCH_BOUND``: the four
    combinations in turn, each yielded as a label ("<link>-<batch>") for
    its own paths."""
    for link in at_both_bounds(monkeypatch, LINK_BOUND, EDGES_BOUND):
        for batch in at_both_bounds(monkeypatch, BATCH_BOUND):
            yield f"{link}-{batch}"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kg-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sentences():
    """The library's default corpus: the reference corpus when present,
    else ``kg.synth.generated_sentences()``."""
    return default_sentences()


@pytest.fixture(scope="session")
def vocab(sentences):
    return corpus_vocab(sentences)


@pytest.fixture(scope="session")
def real_sentences():
    """The reference corpus itself, for tests of facts about it; those
    tests are skipped where the file is absent."""
    if not os.path.exists(REFERENCE_CORPUS):
        pytest.skip(f"{REFERENCE_CORPUS} not present")
    return load_reference_sentences()


@pytest.fixture(scope="session")
def real_vocab(real_sentences):
    return corpus_vocab(real_sentences)


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

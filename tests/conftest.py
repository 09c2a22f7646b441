from __future__ import annotations

import os
import random

import pytest

from kg.config import LINK_JACCARD, LSH_MAX_BUCKET, MINHASH_PRIME, SHINGLE_K
from kg.linking import _hash_params, band_keys, minhash_signature
from kg.session import get_spark
from kg.synth import REFERENCE_CORPUS, corpus_vocab, load_reference_sentences

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


# holds every character of the surfaces tests spell out (the canonical
# rename case in test_incremental.py, 中共中央 in test_tokenizer.py), so
# a vocab built from the generated corpus covers them
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


def at_both_bounds(monkeypatch, bound: str = "kg.linking.DRIVER_LINK_MAX_MENTIONS"):
    """Force a driver-vs-Spark bound (a dotted module constant, by default
    ``kg.linking.DRIVER_LINK_MAX_MENTIONS``) to each side in turn and yield
    it: 10**12 (the driver side), then 0 (the Spark side).  Looped over in
    a test body rather than parametrized, so the test's id stays the same;
    ``monkeypatch`` restores the bound at teardown."""
    for value in (10**12, 0):
        monkeypatch.setattr(bound, value)
        yield value


DEDUP_BOUND = "kg.ops.dedup.DRIVER_DEDUP_MAX_ROWS"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kg-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sentences():
    """The reference corpus when present, else ``generated_sentences()``."""
    if os.path.exists(REFERENCE_CORPUS):
        return load_reference_sentences()
    return generated_sentences()


@pytest.fixture(scope="session")
def vocab(sentences):
    return corpus_vocab(sentences)


@pytest.fixture(scope="session")
def real_sentences():
    """The reference corpus itself, for tests of facts about it."""
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

"""Oracle semantics tests against reference-measured facts (SURVEY.md §1, §5)."""

from kg import oracle
from kg.config import MAX_LEN
from kg.oracle import build_example, build_tag2query, decode_example, encode_sentence


def test_gold_mention_count_matches_reference_corpus(real_sentences, real_vocab):
    # 6181 gold mentions over data/test.txt (SURVEY.md §6 / BASELINE.md)
    total = 0
    for s in real_sentences:
        enc = encode_sentence(s, real_vocab)
        total += sum(len(v) for v in enc.offsets.values())
    assert total == 6181


def test_example_invariants(sentences, vocab):
    # length equality assert of ner/dataset.py:68 + label placement 49-50
    t2q = build_tag2query(vocab)
    for line in sentences[:50]:
        enc = encode_sentence(line, vocab)
        for tag, query in t2q.items():
            ex = build_example(enc, tag, query, vocab)
            n = len(ex["token_ids"])
            assert (
                len(ex["start_labels"]) == len(ex["end_labels"]) == n == len(ex["attention_masks"]) == len(ex["token_type_ids"])
            )
            assert n <= MAX_LEN
            for s, e in ex["span_pairs"]:
                assert ex["start_labels"][s] == 1
                assert ex["end_labels"][e] == 1
                assert s <= e


def test_decode_equals_surviving_gold(sentences, vocab):
    t2q = build_tag2query(vocab)
    for line in sentences[:50]:
        enc = encode_sentence(line, vocab)
        for tag, query in t2q.items():
            ex = build_example(enc, tag, query, vocab)
            assert decode_example(ex) == sorted(ex["span_pairs"])


def test_truncation_drops_overflow_spans(vocab):
    # sentence with an entity far past max_len: decode must drop it
    long_prefix = " ".join(["字/o"] * 600)
    line = long_prefix + " 北京/ns"
    t2q = build_tag2query(vocab)
    enc = encode_sentence(line, vocab)
    assert enc.offsets["ns"]  # gold exists pre-truncation
    ex = build_example(enc, "ns", t2q["ns"], vocab)
    assert ex["span_pairs"] == []
    assert decode_example(ex) == []


def test_truncation_boundary_exact(vocab):
    # entity ending exactly at the last labeled position is dropped
    # (labels[:max_len-1] + [0], ner/dataset.py:65-66,74-75)
    t2q = build_tag2query(vocab)
    qlen = len(t2q["ns"])
    ctx_limit = MAX_LEN - 1 - qlen  # first invalid context index
    keep = " ".join(["字/o"] * (ctx_limit - 2)) + " 北京/ns"  # ends at ctx_limit-1? no: -2+2-1
    enc = encode_sentence(keep, vocab)
    (s, e) = enc.offsets["ns"][0]
    ex = build_example(enc, "ns", t2q["ns"], vocab)
    if e < ctx_limit:
        assert len(ex["span_pairs"]) == 1
    else:
        assert ex["span_pairs"] == []


def test_micro_prf_epsilon_math():
    p, r, f1 = oracle.micro_prf(0, 0, 0)
    assert p == 0.0 and r == 0.0 and f1 == 0.0
    p, r, f1 = oracle.micro_prf(10, 0, 0)
    assert abs(p - 1.0) < 1e-9 and abs(r - 1.0) < 1e-9 and abs(f1 - 1.0) < 1e-9


def test_keyphrases_deterministic(vocab):
    doc = {
        "doc_id": "d",
        "spans": [
            {"kind": "text", "text": "中共中央/nt 的贺词/o 的贺词/o 大会/o", "media_ref": "", "offset": 0},
            {"kind": "image", "text": "", "media_ref": "media://x", "offset": 1},
        ],
    }
    kps = oracle.doc_keyphrases(doc)
    assert kps[0]["phrase"] == "的贺词" and kps[0]["freq"] == 2 and kps[0]["rank"] == 1
    assert kps[1]["phrase"] == "大会"

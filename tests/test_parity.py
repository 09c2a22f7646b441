"""Spark pipeline vs single-node oracle: exact parity (P/R gate, BASELINE.md).

Two independent implementations of one semantics: kg/oracle.py (per-sentence
loops, unpruned decode predicate) vs kg/mention.py (vectorized Arrow kernel,
candidate-pruned decode).  P/R is computed with the exact epsilon math of
ner/trainer.py:49-51 and must clear 0.95; the assertion here is exact 1.0.
"""

import shutil

import pytest

from kg import oracle
from kg.linking import link_from_signatures, link_local, mention_shingle_buckets
from kg.oracle import micro_prf
from kg.pipeline import run_pipeline
from kg.synth import corpus_vocab, docs_to_df, synth_docs

N_DOCS = 80


@pytest.fixture(scope="module")
def docs(sentences):
    return synth_docs(N_DOCS, sentences=sentences)


@pytest.fixture(scope="module")
def result(spark, docs, vocab, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("kgrun"))
    res = run_pipeline(spark, docs_to_df(spark, docs), base, vocab=vocab)
    yield res
    shutil.rmtree(base, ignore_errors=True)


@pytest.fixture(scope="module")
def golden(docs, vocab):
    return oracle.corpus_extract(docs, vocab)


def test_mentions_exact_parity(result, golden):
    om, _ = golden
    got = {
        (r.doc_id, r.sent_offset, r.tag, r.start, r.end, r.mention)
        for r in result.tables["mentions"].collect()
    }
    want = {
        (m["doc_id"], m["sent_offset"], m["tag"], m["start"], m["end"], m["mention"])
        for m in om
    }
    tp = len(got & want)
    p, r, f1 = micro_prf(tp, len(got - want), len(want - got))
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert got == want  # exact


def test_triples_exact_parity(result, golden):
    _, ot = golden
    got = sorted(
        (r.subj, r.pred, r.obj, r.doc_id, r.sent_offset)
        for r in result.tables["triples"].collect()
    )
    want = sorted(
        (t["subj"], t["pred"], t["obj"], t["doc_id"], t["sent_offset"]) for t in ot
    )
    gs, ws = set(got), set(want)
    tp = len(gs & ws)
    p, r, _ = micro_prf(tp, len(gs - ws), len(ws - gs))
    assert p >= 0.95 and r >= 0.95
    assert got == want


def test_linking_parity(spark, result, golden, reference_link):
    om, _ = golden
    texts = sorted({m["mention"] for m in om})
    want = reference_link(texts)
    got = {r.mention: r.canonical for r in result.tables["linked"].collect()}
    assert got == want
    assert link_local(texts) == want
    # the distributed path
    mentions = spark.createDataFrame([(t,) for t in texts], "mention string")
    linked = link_from_signatures(mention_shingle_buckets(mentions))
    distributed = {r.mention: r.canonical for r in linked.collect()}
    assert distributed == want


def test_invariant_zero_violations(result):
    assert result.invariant_violations == 0


def test_nodes_edges_consistent(result):
    nodes = result.tables["nodes"]
    edges = result.tables["edges"]
    node_ids = {r.entity_id for r in nodes.collect()}
    for r in edges.collect():
        assert r.subj in node_ids and r.obj in node_ids
        assert r.weight >= 1.0
    # n_mentions sums to total mention rows
    total = sum(r.n_mentions for r in nodes.collect())
    assert total == result.tables["mentions"].count()

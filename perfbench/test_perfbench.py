"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import time

import pandas as pd
import pytest

from kg.oracle import corpus_extract, parse_segments
from kg.synth import corpus_vocab, synth_docs
from perfbench import metrics, tables
from perfbench import run as bench_run
from perfbench.corpus import TAG_MIX, Generator, entity_surfaces
from perfbench.trace import fold_event_log, spans_inside, union_length
from perfbench.workloads import (
    WORKLOADS, AppendGrowth, ExpectedCounts, Op, QueryLeaves, frame_signature, simhash_words,
    text_spans,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def gen():
    return Generator(7)


@pytest.fixture(scope="module")
def pool(gen):
    return gen.pool(2048)


def test_same_seed_gives_identical_inputs(gen, pool):
    again = Generator(7)
    assert again.pool(2048) == pool
    assert again.batch_sentences(pool, 3) == gen.batch_sentences(pool, 3)
    assert synth_docs(500, seed=7, sentences=again.pool(2048)) == synth_docs(500, seed=7, sentences=pool)
    q = QueryLeaves(None, "", 7)
    assert q.digest(q.generate()) == q.digest(q.generate())
    assert q.digest(q.generate()) != q.digest(QueryLeaves(None, "", 8).generate())
    assert Generator(8).pool(2048) != pool


def test_tag_mix_matches_reference_within_tolerance(pool):
    counts = dict.fromkeys(TAG_MIX, 0)
    for line in pool[:-1]:
        for _word, tag in parse_segments(line):
            counts[tag] += 1
    total = sum(counts.values())
    ref_total = sum(TAG_MIX.values())
    for tag, ref in TAG_MIX.items():
        assert abs(counts[tag] / total - ref / ref_total) < 0.02, tag
    assert 2.9 < total / len(pool[:-1]) < 4.0  # ~3.4 segments a line


def test_surfaces_are_cjk_and_linkable(gen, pool):
    surfaces = entity_surfaces(pool)
    cjk = [s for s in surfaces if any(0x4E00 <= ord(c) <= 0x9FFF for c in s)]
    assert len(cjk) > 0.8 * len(surfaces)
    # near-variants: some surface is another plus one character
    assert any(s[:-1] in surfaces for s in surfaces if len(s) > 3)


def test_per_doc_rates_match_the_reference_corpus_run():
    # a 120-doc synth_docs run (seed 42) over the reference corpus gave 361
    # text spans, 576 mentions and 330 triples
    g = Generator(1)
    pool = g.pool(AppendGrowth.POOL_LINES)
    spans = text_spans(synth_docs(120, seed=42, sentences=pool))
    mentions, triples = ExpectedCounts(corpus_vocab(pool + [g.alphabet_line()]))(spans)
    assert sum(spans.values()) == 361
    assert abs(mentions / 576 - 1) < 0.15 and abs(triples / 330 - 1) < 0.2


def test_long_line_exceeds_max_len(gen, pool):
    vocab = corpus_vocab(pool + [gen.alphabet_line()])
    tokens = sum(len(vocab.tokenize(w)) for w, _t in parse_segments(pool[-1]))
    assert tokens > 512


def test_every_append_batch_has_never_seen_surfaces(gen, pool):
    base = entity_surfaces(text_spans(synth_docs(2000, seed=7, sentences=pool)))
    for k in range(4):
        docs = synth_docs(AppendGrowth.BATCH_DOCS, seed=7000 + k, sentences=gen.batch_sentences(pool, k))
        assert entity_surfaces(text_spans(docs)) - base, k


def test_alphabet_line_covers_every_batch(gen, pool):
    known = set(gen.alphabet_line())
    for k in range(3):
        for line in gen.batch_sentences(pool, k):
            for word, _t in parse_segments(line):
                assert set(word) <= known


def test_expected_counts_equal_oracle_on_whole_docs(gen, pool):
    vocab = corpus_vocab(pool + [gen.alphabet_line()])
    docs = synth_docs(300, seed=3, sentences=pool)
    mentions, triples = corpus_extract(docs, vocab)
    assert ExpectedCounts(vocab)(text_spans(docs)) == (len(mentions), len(triples))


def test_query_tables_have_testdata_shape():
    t = tables.generate(1, 0.01)
    assert t["documents"].num_rows == 500 and t["embeddings"].num_rows == 200
    assert t["orders"].num_rows == 15000 and t["nation"].num_rows == 25
    words = {w for x in t["documents"].column("text").to_pylist() for w in x.split(" ")}
    assert words <= set(tables.WORDS) | {"dup"} and "dup" in words


def test_frame_signature_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert frame_signature(a) == frame_signature(b)
    assert frame_signature(a) != frame_signature(pd.DataFrame({"x": [1, 3], "y": ["a", "b"]}))


def test_simhash_words_equals_the_oracle_table(tmp_path):
    import shutil

    import pyarrow.parquet as pq

    from kg.oracle_tables import ensure_simhash_words

    docs = str(tmp_path / "documents.parquet")
    pq.write_table(tables.generate(2, 0.01)["documents"], docs)
    real = ensure_simhash_words(docs)
    try:
        ours = simhash_words(docs, str(tmp_path / "words.parquet"))
        assert pq.read_table(ours).equals(pq.read_table(real))
    finally:
        shutil.rmtree(os.path.dirname(real), ignore_errors=True)


def test_span_accounting_allows_concurrent_stages():
    # two stages overlapping in [1, 3], a third after a gap: 4 s covered
    spans = [(0.0, 3.0), (1.0, 2.5), (5.0, 6.0)]
    assert union_length(spans) == 4.0
    assert spans_inside(spans, 0.0, 6.0, tol=0.005)
    assert not spans_inside(spans + [(6.0, 6.5)], 0.0, 6.0, tol=0.005)
    assert not spans_inside(spans, 0.5, 6.0, tol=0.005)


def test_fold_event_log_groups_tasks_by_job_group(tmp_path):
    def task(stage, run_ms, cpu_ns):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 10,
            "Memory Bytes Spilled": 3 * 1024 * 1024, "Disk Bytes Spilled": 1024 * 1024,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1024 * 1024},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 0},
        }}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "extract@op0"}},
        task(0, 100, 10**9), task(0, 100, 10**9), task(0, 400, 10**9), task(1, 50, 0),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        task(2, 10, 0),
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    folded = fold_event_log(str(tmp_path))
    g = folded["extract@op0"]
    assert g["tasks"] == 4 and g["cpu_s"] == 3.0 and g["gc_s"] == pytest.approx(0.04)
    assert g["shuffle_mb"] == 4.0 and g["skew"] == 4.0
    assert g["spill_mb"] == 4.0  # on-disk bytes only; the in-memory size is not added
    assert folded["none"]["tasks"] == 1


def test_metric_names_and_benchmark_json_agree():
    names = list(metrics.END_TO_END) + list(metrics.PER_LAYER)
    assert len(names) == len(set(names)) <= 16 + 128
    for name in names:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: u for k, (u, _l, _m) in metrics.PER_LAYER.items()
    }
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert bench["command"] == ["python3", "perfbench/run.py"] and bench["paths"] == ["perfbench"]


def test_payload_reports_every_metric_of_the_mode():
    e2e = metrics.payload({"setup_s": 1.0, "op_cpu_s": 2.0, "peak_rss_mb": 4.0}, False)
    assert set(e2e) == set(metrics.END_TO_END)
    layers = metrics.payload({"graph.nodes_s": 1.5}, True)
    assert set(layers) == set(metrics.PER_LAYER) and layers["graph.nodes_s"]["value"] == 1.5
    assert layers["query.simhash_s"]["value"] == 0.0


def test_tree_cpu_counts_busy_time_not_sleep():
    rss = bench_run.RssSampler()
    c0 = bench_run.tree_cpu_s(rss)
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    busy = bench_run.tree_cpu_s(rss) - c0
    time.sleep(0.3)
    idle = bench_run.tree_cpu_s(rss) - c0 - busy
    assert 0.2 < busy < 1.0 and idle < 0.1


def test_loop_times_a_count_of_ops_set_by_seconds():
    class Fake:
        NOMINAL_OP_S = 8.0

        def op(self, label, tracer, cpu):
            return Op(0.0, True)

    rss = bench_run.RssSampler()
    runs = [bench_run._loop(Fake(), s, rss) for s in (3, 10, 16, 30)]
    assert [len(ops) for ops in runs] == [1, 1, 2, 3]
    assert all(op.ok for ops in runs for op in ops)

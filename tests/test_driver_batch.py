"""Documents held on the driver: the ``*_local`` twins of the six
per-document stages and of the span check give Spark's rows, an append
below ``kg.pipeline.DRIVER_BATCH_MAX_DOCS`` runs no Spark job in them, and
a fresh run below it commits Spark's tables and schemas in one job.  The
span check's damage classes are planted against both sides in
tests/test_invariant.py.

Runs on in-test documents, so it needs no reference corpus file.
"""

import json
import time

import pytest

from kg.invariant import passthrough_docs, passthrough_local, span_violations, span_violations_local
from kg.keyphrase import keyphrases_local, keyphrases_table
from kg.mention import (
    explode_text_spans,
    extract_local,
    extract_sentences,
    mentions_local,
    mentions_table,
    text_spans_local,
    triples_local,
    triples_table,
)
from kg.pipeline import run_pipeline, run_pipeline_append
from kg.synth import DOCS_SCHEMA, corpus_vocab, docs_to_df, synth_docs

from conftest import BATCH_BOUND, at_both_bounds


NINE = (
    "documents", "extract", "mentions", "triples", "linked", "nodes", "edges",
    "keyphrases", "documents_out",
)


def _span(kind, text, offset, media_ref=""):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _text(doc_id, *texts):
    return {"doc_id": doc_id, "spans": [_span("text", t, i) for i, t in enumerate(texts)]}


# Whitespace Spark's trim and \s do not strip (U+3000, NBSP) next to what
# they do (space, tab), blank texts, odd segments, and spans out of order.
EDGE_DOCS = [
    _text("e-ideo", "北京/ns　上海/ns 召开/o 会议/o", "　"),
    _text("e-nbsp", "今天/o 召开/o 北京/ns 会议/o 会议/o", " 上海/ns 北京/ns "),
    _text("e-tab", "今天/o\t召开/o\t北京/ns  会议/o", "\t", "  \t 北京/ns\t "),
    _text("e-blank", "   ", "", " "),
    _text("e-slash", "会议 北京/ns 上海/ns", "a//b c//o 北京//ns 合作//o", "北京/ 会议/o /o 合作/o/o"),
    {"doc_id": "e-media", "spans": [
        _span("image", "", 3, "img://3"),
        _span("text", "北京/ns 召开/o 上海/ns", 1),
        _span("audio", None, 0, "aud://0"),
        _span("text", "广州/ns 会议/o 南京/ns", 2, None),
        _span("video", "", 3, "vid://3b"),
    ]},
    {"doc_id": "e-empty", "spans": []},
]
# Inputs the pipeline's invariant rejects by design: a null span element
# is dropped by the reassembly, and a repeated doc_id merges two documents.
ODD_DOCS = [
    ("e-nullspan", [None, _span("text", "北京/ns 会议/o 上海/ns", 0)]),
    ("e-dup", [_span("text", "上海/ns 会议/o 北京/ns", 0)]),
    ("e-dup", [_span("text", "合作/o 合作/o", 1)]),
]


@pytest.fixture(scope="module")
def edge_vocab(sentences):
    return corpus_vocab(sentences + [t for d in EDGE_DOCS for s in d["spans"] if (t := s["text"])])


def _edge_df(spark, odd=True):
    rows = [(d["doc_id"], d["spans"]) for d in EDGE_DOCS] + [("e-null", None)]
    return spark.createDataFrame(rows + (ODD_DOCS if odd else []), DOCS_SCHEMA)


def _canon(rows) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True, ensure_ascii=False) for r in rows)


def _spark_rows(df) -> list[str]:
    return _canon(r.asDict(recursive=True) for r in df.collect())


def _local_rows(table) -> list[str]:
    return _canon(table.to_pylist())


def test_driver_twins_match_spark_on_edge_documents(spark, edge_vocab):
    """The five computed per-document tables and the span check, each side
    from the same documents (documents is the pulled batch itself)."""
    df = _edge_df(spark)
    docs = df.toArrow()
    assert _local_rows(docs) == _spark_rows(df)
    extract = extract_sentences(explode_text_spans(df), edge_vocab)
    extract_l = extract_local(text_spans_local(docs), edge_vocab)
    pairs = {
        "extract": (extract, extract_l),
        "mentions": (mentions_table(extract), mentions_local(extract_l)),
        "triples": (triples_table(extract), triples_local(extract_l)),
        "keyphrases": (keyphrases_table(df), keyphrases_local(docs)),
        "documents_out": (passthrough_docs(df), passthrough_local(docs)),
    }
    for name, (spark_df, table) in pairs.items():
        assert _local_rows(table) == _spark_rows(spark_df), name
    # the cases are exercised: U+3000 and a blank-but-not-space text make
    # extract rows, U+3000 glues a keyphrase segment, out-of-order spans sort
    texts = {(r["doc_id"], r["sent_offset"]) for r in extract_l.to_pylist()}
    assert ("e-ideo", 1) in texts and ("e-tab", 1) in texts and ("e-blank", 0) not in texts
    assert ("e-nbsp", "会议") in {(r["doc_id"], r["phrase"]) for r in keyphrases_local(docs).to_pylist()}
    out = {r["doc_id"]: r["spans"] for r in passthrough_local(docs).to_pylist()}
    assert [s["offset"] for s in out["e-media"]] == [0, 1, 2, 3, 3]
    assert out["e-null"] == [] and out["e-empty"] == []
    assert len(out["e-dup"]) == 2
    out_df = passthrough_docs(df)
    n = span_violations(df, out_df).count()
    # e-media (its spans are not in offset order), e-nullspan, e-dup twice
    assert n == span_violations_local(docs, out_df.toArrow()) == 4


def test_append_of_edge_documents_equals_on_both_sides(spark, edge_vocab, sentences, tmp_path, monkeypatch):
    """The edge documents (and a null-span one) appended with the batch
    held on the driver and with it on Spark: both sides' span checks flag
    e-media, whose spans are out of offset order, and nothing else; the
    nine tables agree, and equal a fresh run over the union."""
    from kg.catalog import StageCatalog

    base_docs = docs_to_df(spark, synth_docs(40, sentences=sentences))
    edge = _edge_df(spark, odd=False)
    tables = {}
    for bound in at_both_bounds(monkeypatch, BATCH_BOUND):
        base = str(tmp_path / str(bound))
        run_pipeline(spark, base_docs, base, vocab=edge_vocab, input_token="base")
        with pytest.raises(AssertionError, match="violated for 1 docs"):
            run_pipeline_append(spark, edge, base, vocab=edge_vocab, input_token="edge")
        cat = StageCatalog(spark, base)
        assert cat.manifest("documents")["batch_tokens"] == ["base", "edge"]
        tables[bound] = {name: _spark_rows(cat.read(name)) for name in NINE}
    with pytest.raises(AssertionError, match="violated for 1 docs"):
        run_pipeline(
            spark, base_docs.unionByName(edge), str(tmp_path / "fresh"),
            vocab=edge_vocab, input_token="all",
        )
    fresh = StageCatalog(spark, str(tmp_path / "fresh"))
    for name in NINE:
        assert tables[10**12][name] == tables[0][name] == _spark_rows(fresh.read(name)), name


def test_append_below_the_batch_bound_runs_no_job_in_the_per_document_stages(
    spark, sentences, vocab, tmp_path
):
    """Below the bound an append pulls its batch in one job and computes
    and checks its per-document increments on the driver: no Spark job in
    documents ... documents_out or in the span check, counted per stage by
    the job groups perfbench's tracer sets.  The batch renames a component,
    as every ``append_growth`` batch does; edges take their recompute on
    the driver, below ``DRIVER_EDGES_MAX_TRIPLES``.  The pull is the one
    job of the whole append."""
    from perfbench.trace import STAGES, Tracer
    from perfbench.workloads import spans_account

    docs = synth_docs(100, sentences=sentences)
    base = str(tmp_path / "jobs")
    renamed = [_text("r-a0", "中国致公党/ns 中国致公党人/ns"), _text("r-a1", "中国致公党/ns 北京/ns")]
    run_pipeline(spark, docs_to_df(spark, docs[:80] + renamed), base, vocab=vocab, input_token="base")
    # the first append builds nodes_mtc, so the second takes every increment
    run_pipeline_append(spark, docs_to_df(spark, docs[80:]), base, vocab=vocab, input_token="b1")
    tracer = Tracer(spark)
    tracer.install()
    try:
        tracer.begin_op("batchguard")
        t0 = time.perf_counter()
        res = run_pipeline_append(
            spark, docs_to_df(spark, [_text("r-b0", "中国致公/ns 北京/ns")]), base,
            vocab=vocab, input_token="b2",
        )
        t1 = time.perf_counter()
    finally:
        tracer.uninstall()
    tracker = spark.sparkContext.statusTracker()
    jobs = {s: len(tracker.getJobIdsForGroup(f"{s}@batchguard")) for s in ("driver", *STAGES)}
    per_document = ("documents", "extract", "mentions", "triples", "keyphrases", "documents_out")
    assert {f"{s}+append" for s in per_document} <= set(res.executed)
    assert "edges" in res.executed
    assert res.invariant_violations == 0
    assert all(jobs[s] == 0 for s in (*per_document, "invariant")), jobs
    assert jobs["edges"] == 0, jobs
    assert jobs["driver"] == 1, jobs
    assert sum(jobs.values()) == 1, jobs
    # the tracer spans every stage the append ran, nodes and edges through
    # their named tasks, all inside the append's wall
    assert spans_account(tracer, "batchguard", t0, t1, res.executed)
    assert {"nodes", "edges"} <= tracer.op_stages("batchguard")


def _schemas(cat) -> dict[str, dict]:
    """Each published stage's committed schema, nullability included."""
    return {name: json.loads(cat.manifest(name)["schema"]) for name in NINE}


def test_fresh_run_of_edge_documents_equals_on_both_sides(spark, edge_vocab, sentences, tmp_path, monkeypatch):
    """A fresh run over a base plus the edge documents, its input held on
    the driver and on Spark: both span checks flag e-media, and the nine
    tables and their committed schemas agree."""
    from kg.catalog import StageCatalog

    docs = docs_to_df(spark, synth_docs(40, sentences=sentences)).unionByName(_edge_df(spark, odd=False))
    tables, schemas = {}, {}
    for bound in at_both_bounds(monkeypatch, BATCH_BOUND):
        base = str(tmp_path / str(bound))
        with pytest.raises(AssertionError, match="violated for 1 docs"):
            run_pipeline(spark, docs, base, vocab=edge_vocab, input_token="all")
        cat = StageCatalog(spark, base)
        tables[bound] = {name: _spark_rows(cat.read(name)) for name in NINE}
        schemas[bound] = _schemas(cat)
        assert cat.manifest("documents")["rows"] == 48
    for name in NINE:
        assert tables[10**12][name] == tables[0][name], name
        assert schemas[10**12][name] == schemas[0][name], name


def test_fresh_run_below_every_bound_runs_one_job(spark, sentences, vocab, tmp_path):
    """Below every bound a fresh run with an ``input_token`` runs one Spark
    job, the write of its documents stage, and a plain rerun runs none: it
    finds every stage complete and checks the spans on the driver."""
    docs = synth_docs(60, sentences=sentences) + EDGE_DOCS[:5]
    path = str(tmp_path / "docs")
    docs_to_df(spark, docs).write.parquet(path)
    df = spark.read.schema(DOCS_SCHEMA).parquet(path)
    base = str(tmp_path / "ckpt")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    runs = []
    for label in ("fresh", "rerun"):
        sc.setJobGroup(f"{label}@freshguard", label)
        try:
            runs.append(run_pipeline(spark, df, base, vocab=vocab, input_token="t"))
        finally:
            sc.setJobGroup("untraced", "")
    fresh, rerun = runs
    assert [s for s in fresh.executed if s in NINE] == list(NINE)
    assert rerun.executed == []
    assert fresh.invariant_violations == rerun.invariant_violations == 0
    assert fresh.counts()["documents"] == len(docs)
    jobs = {label: len(tracker.getJobIdsForGroup(f"{label}@freshguard")) for label in ("fresh", "rerun")}
    assert jobs == {"fresh": 1, "rerun": 0}, jobs

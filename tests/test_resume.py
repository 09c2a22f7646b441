"""Resume semantics (north_rule): killed job resumes at stage granularity,
stages with unchanged inputs are NOT recomputed, final tables identical."""

import os
import shutil

from kg.pipeline import _NAMES, STAGES, run_pipeline
from kg.synth import docs_to_df, synth_docs

from conftest import BATCH_BOUND, EDGES_BOUND, LINK_BOUND, at_both_bounds

ALL_STAGES = [
    "documents",
    "extract",
    "mentions",
    "triples",
    "linked_cc_sigs",
    "linked",
    "nodes_mtc",
    "nodes",
    "edges",
    "keyphrases",
    "documents_out",
]


def test_every_stage_input_is_an_earlier_stage():
    """``_fold`` runs ``STAGES`` in order, so each stage's inputs come
    before it; the published tables are the stages but the signature
    table and the counts, which only linked and nodes read."""
    seen = set()
    for st in STAGES:
        assert set(st.inputs) <= seen, st.name
        seen.add(st.name)
    assert [st.name for st in STAGES] == ALL_STAGES
    assert list(_NAMES) == [s for s in ALL_STAGES if s not in ("linked_cc_sigs", "nodes_mtc")]
    assert len(_NAMES) == 9


def _table_rows(df):
    return sorted(map(str, df.collect()))


def _main_stages(executed):
    """Drop the CC round commits (linked_cc_iter*, linked_cc_final) the
    distributed linker makes through the same catalog."""
    return [s for s in executed if not s.startswith(("linked_cc_iter", "linked_cc_final"))]


def test_resume_skips_completed_and_recomputes_suffix(
    spark, vocab, sentences, tmp_path, monkeypatch
):
    for bound in at_both_bounds(monkeypatch, LINK_BOUND, EDGES_BOUND, BATCH_BOUND):
        base = str(tmp_path / str(bound) / "run")
        docs = docs_to_df(spark, synth_docs(30, sentences=sentences))

        res1 = run_pipeline(spark, docs, base, vocab=vocab)
        assert _main_stages(res1.executed) == ALL_STAGES
        golden = {n: _table_rows(res1.tables[n]) for n in ("mentions", "nodes", "edges")}

        # clean rerun: everything skipped, outputs identical
        res2 = run_pipeline(spark, docs, base, vocab=vocab)
        assert res2.executed == []
        for n, rows in golden.items():
            assert _table_rows(res2.tables[n]) == rows

        # simulate a kill after 'mentions': wipe 'linked' and downstream manifests
        for stage in ("linked", "nodes", "edges"):
            shutil.rmtree(os.path.join(base, stage))
        res3 = run_pipeline(spark, docs, base, vocab=vocab)
        assert _main_stages(res3.executed) == ["linked", "nodes", "edges"]  # prefix untouched
        for n, rows in golden.items():
            assert _table_rows(res3.tables[n]) == rows


def test_input_change_invalidates_downstream(
    spark, vocab, sentences, tmp_path, monkeypatch
):
    for bound in at_both_bounds(monkeypatch, LINK_BOUND, EDGES_BOUND, BATCH_BOUND):
        base = str(tmp_path / str(bound) / "run2")
        run_pipeline(spark, docs_to_df(spark, synth_docs(20, sentences=sentences)), base, vocab=vocab)
        # new input: documents checkpoint is rewritten -> full recompute
        res = run_pipeline(spark, docs_to_df(spark, synth_docs(25, sentences=sentences)), base, vocab=vocab)
        assert _main_stages(res.executed) == ALL_STAGES


def test_uncommitted_stage_is_recomputed(
    spark, vocab, sentences, tmp_path, monkeypatch
):
    for bound in at_both_bounds(monkeypatch, LINK_BOUND, EDGES_BOUND, BATCH_BOUND):
        base = str(tmp_path / str(bound) / "run3")
        res1 = run_pipeline(spark, docs_to_df(spark, synth_docs(20, sentences=sentences)), base, vocab=vocab)
        golden = _table_rows(res1.tables["triples"])
        # corrupt a manifest mid-DAG (simulates kill between data write and commit)
        os.remove(os.path.join(base, "triples", "manifest.json"))
        res2 = run_pipeline(spark, docs_to_df(spark, synth_docs(20, sentences=sentences)), base, vocab=vocab)
        assert "triples" in res2.executed
        assert "extract" not in res2.executed
        assert _table_rows(res2.tables["triples"]) == golden

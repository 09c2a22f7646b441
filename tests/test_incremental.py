"""Incremental append pipeline: append(A then B) == fresh(A∪B), per-doc
stages appended not recomputed, idempotent repeat, resume coherence."""

import pytest

from kg.pipeline import run_pipeline, run_pipeline_append
from kg.synth import docs_to_df, synth_docs

from conftest import BATCH_BOUND, at_both_bounds, at_both_link_and_batch_bounds


def _rows(df):
    return sorted(map(str, df.collect()))


@pytest.fixture(scope="module")
def split_corpus(sentences):
    docs = synth_docs(150, sentences=sentences)
    return docs[:100], docs[100:], docs


def test_append_equals_fresh(spark, vocab, tmp_path, split_corpus, monkeypatch):
    for batch in at_both_bounds(monkeypatch, BATCH_BOUND):
        old, new, full = split_corpus
        fresh = run_pipeline(
            spark, docs_to_df(spark, full), str(tmp_path / str(batch) / "fresh"),
            vocab=vocab, input_token="t150",
        )
        base = str(tmp_path / str(batch) / "inc")
        run_pipeline(
            spark, docs_to_df(spark, old), base, vocab=vocab, input_token="t100"
        )
        res = run_pipeline_append(
            spark, docs_to_df(spark, new), base, vocab=vocab, input_token="b2"
        )
        for name in fresh.tables:
            assert _rows(res.tables[name]) == _rows(fresh.tables[name]), name
        # the per-document heavy stages were appended, never recomputed
        for stage in ("documents", "extract", "mentions", "triples",
                      "keyphrases", "documents_out"):
            assert f"{stage}+append" in res.executed
            assert stage not in res.executed
        # recomputed tail: linked + nodes; edges took the INCREMENTAL path (r6)
        # on this corpus — batch doc_ids are disjoint and no old mention's
        # canonical changed, so only the canonicalized delta was appended
        assert {"linked", "nodes"} <= set(res.executed)
        assert "edges+append" in res.executed
        assert "edges" not in res.executed


def test_append_is_idempotent(spark, vocab, tmp_path, split_corpus):
    old, new, _ = split_corpus
    base = str(tmp_path / "idem")
    run_pipeline(
        spark, docs_to_df(spark, old), base, vocab=vocab, input_token="t100"
    )
    res1 = run_pipeline_append(
        spark, docs_to_df(spark, new), base, vocab=vocab, input_token="b2"
    )
    golden = _rows(res1.tables["edges"])
    # same batch again: no-op — nothing appended, nothing recomputed
    res2 = run_pipeline_append(
        spark, docs_to_df(spark, new), base, vocab=vocab, input_token="b2"
    )
    assert res2.executed == []
    assert _rows(res2.tables["edges"]) == golden


def test_plain_rerun_after_append_skips_everything(
    spark, vocab, tmp_path, split_corpus, monkeypatch
):
    for batch in at_both_bounds(monkeypatch, BATCH_BOUND):
        old, new, full = split_corpus
        base = str(tmp_path / str(batch) / "rerun")
        run_pipeline(
            spark, docs_to_df(spark, old), base, vocab=vocab, input_token="t100"
        )
        run_pipeline_append(
            spark, docs_to_df(spark, new), base, vocab=vocab, input_token="b2"
        )
        res = run_pipeline(
            spark, docs_to_df(spark, full), base, vocab=vocab,
            input_token="t100+b2",
        )
        assert res.executed == []


def test_torn_append_invisible_to_readers_and_retry_safe(
    spark, vocab, tmp_path, split_corpus, monkeypatch
):
    """Crash between append's file moves and its manifest commit (ADVICE r3):
    readers must still see exactly the pre-append rows (read is
    manifest-driven, not a directory scan), and a retried append must fold
    the batch exactly once — the stray files are reconciled away, never
    double-counted."""
    import os
    import uuid

    from kg.catalog import StageCatalog

    for bound in at_both_link_and_batch_bounds(monkeypatch):
        old, new, full = split_corpus
        base = str(tmp_path / str(bound) / "torn")
        run_pipeline(
            spark, docs_to_df(spark, old), base, vocab=vocab, input_token="t100"
        )
        cat = StageCatalog(spark, base)
        n_before = cat.read("documents").count()

        # simulate the torn append: move the batch's part-files into data/ but
        # crash before the manifest rewrite (monkeypatch-free: do the moves the
        # same way append does, then stop)
        new_df = docs_to_df(spark, new)
        stage_dir = os.path.join(base, "documents")
        tmp = os.path.join(stage_dir, f".tmp-{uuid.uuid4().hex}")
        new_df.write.mode("overwrite").parquet(tmp)
        strays = []
        for name in os.listdir(tmp):
            if name.endswith(".parquet"):
                dst = os.path.join(cat.data_dir("documents"), name)
                os.replace(os.path.join(tmp, name), dst)
                strays.append(dst)
        assert strays, "torn-append simulation moved no files"

        # 1. readers see the OLD committed contents only
        cat2 = StageCatalog(spark, base)
        assert cat2.read("documents").count() == n_before
        assert cat2.is_complete("documents")

        # 2. a retried append folds the batch exactly once and equals fresh
        res = run_pipeline_append(
            spark, new_df, base, vocab=vocab, input_token="b2"
        )
        fresh = run_pipeline(
            spark, docs_to_df(spark, full), str(tmp_path / str(bound) / "torn_fresh"),
            vocab=vocab, input_token="t150",
        )
        assert _rows(res.tables["documents"]) == _rows(fresh.tables["documents"])
        assert _rows(res.tables["edges"]) == _rows(fresh.tables["edges"])
        # 3. the stray files were reconciled off disk
        assert not [p for p in strays if os.path.exists(p)]


def _interrupted_then_append(spark, vocab, sentences, tmp_path, monkeypatch, stage):
    """Append batch A interrupted before ``<stage>+append``, then append a
    different batch B; returns B's result and a fresh run over the
    committed documents."""
    from kg.catalog import StageCatalog

    docs = synth_docs(100, sentences=sentences)
    base = str(tmp_path / stage)
    run_pipeline(
        spark, docs_to_df(spark, docs[:60]), base, vocab=vocab, input_token="base"
    )
    real_append = StageCatalog.append

    def interrupted(cat, name, *a, **kw):
        if name == stage:
            raise RuntimeError(f"interrupted before {stage}+append")
        return real_append(cat, name, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(StageCatalog, "append", interrupted)
        with pytest.raises(RuntimeError, match="interrupted"):
            run_pipeline_append(
                spark, docs_to_df(spark, docs[60:80]), base, vocab=vocab,
                input_token="A",
            )
    res = run_pipeline_append(
        spark, docs_to_df(spark, docs[80:]), base, vocab=vocab, input_token="B"
    )
    fresh = run_pipeline(
        spark, res.tables["documents"], str(tmp_path / f"{stage}_fresh"),
        vocab=vocab, input_token="all",
    )
    return res, fresh


@pytest.mark.parametrize("stage", ["extract", "mentions", "edges"])
def test_append_after_interrupted_append_equals_fresh(
    spark, vocab, sentences, tmp_path, monkeypatch, stage
):
    """An append interrupted before ``<stage>+append`` leaves that stage
    current with the catalog before the append.  The next append, of a
    DIFFERENT batch, must not add only its own rows on top: every table
    must equal a fresh run over the committed documents."""
    for batch in at_both_bounds(monkeypatch, BATCH_BOUND):
        res, fresh = _interrupted_then_append(
            spark, vocab, sentences, tmp_path / str(batch), monkeypatch, stage
        )
        for name in fresh.tables:
            assert _rows(res.tables[name]) == _rows(fresh.tables[name]), name


def test_append_of_a_batch_without_triples_equals_fresh(
    spark, vocab, tmp_path, split_corpus, monkeypatch
):
    """A batch whose sentences hold at most one entity adds no triple, so
    the incremental edges path appends no row and its partitioned write
    leaves no file.  The append must still commit and equal a fresh run."""
    from kg.catalog import StageCatalog

    for bound in at_both_link_and_batch_bounds(monkeypatch):
        old, _, _ = split_corpus
        base = str(tmp_path / str(bound) / "notriples")
        run_pipeline(
            spark, docs_to_df(spark, old), base, vocab=vocab, input_token="t100"
        )
        cat = StageCatalog(spark, base)
        known = cat.read("mentions").select("mention", "tag").first()
        n_triples = cat.manifest("triples")["rows"]
        new = [
            _text_doc("doc-solo0", f"{known['mention']}/{known['tag']} 会议/o"),
            _text_doc("doc-solo1", "今天/o 召开/o 会议/o"),
        ]
        res = run_pipeline_append(
            spark, docs_to_df(spark, new), base, vocab=vocab, input_token="solo"
        )
        assert res.catalog.manifest("triples")["rows"] == n_triples
        assert "edges+append" in res.executed
        fresh = run_pipeline(
            spark, docs_to_df(spark, old + new), str(tmp_path / str(bound) / "notriples_f"),
            vocab=vocab, input_token="tf",
        )
        for name in fresh.tables:
            assert _rows(res.tables[name]) == _rows(fresh.tables[name]), name


def test_reappending_an_older_batch_is_noop(spark, vocab, sentences, tmp_path):
    """Membership in the explicit batch_tokens ledger (ADVICE r3): ANY
    previously folded batch — not just the most recent — is a no-op, and a
    token containing '+' does not false-positive the suffix of another."""
    docs = synth_docs(100, sentences=sentences)
    b0, b1, b2 = docs[:50], docs[50:70], docs[70:90]
    base = str(tmp_path / "ledger")
    run_pipeline(
        spark, docs_to_df(spark, b0), base, vocab=vocab, input_token="base"
    )
    run_pipeline_append(
        spark, docs_to_df(spark, b1), base, vocab=vocab, input_token="x+y"
    )
    res2 = run_pipeline_append(
        spark, docs_to_df(spark, b2), base, vocab=vocab, input_token="z"
    )
    golden = _rows(res2.tables["documents"])
    # re-submission of the OLDER batch b1 (not the latest): must be a no-op
    res3 = run_pipeline_append(
        spark, docs_to_df(spark, b1), base, vocab=vocab, input_token="x+y"
    )
    assert res3.executed == []
    assert _rows(res3.tables["documents"]) == golden
    # a fresh batch whose token is a suffix-with-'+' trap must STILL append:
    # old combined token is "base+x+y+z"; token "y+z" is not folded
    res4 = run_pipeline_append(
        spark, docs_to_df(spark, docs[90:]), base, vocab=vocab,
        input_token="y+z",
    )
    assert "documents+append" in res4.executed


def _soak_chain(spark, vocab, sentences, base, on_driver):
    """VERDICT r4 item 8: corpus growth at 100 TB is a LONG chain of small
    folds, not one or two — soak 8 sequential ~2% appends, asserting after
    EVERY fold that the nine tables equal a fresh run over the union, that
    the batch ledger grows monotonically, and recording per-fold wall
    times to catch tail creep.  ``on_driver``: the side of
    ``DRIVER_LINK_MAX_MENTIONS`` the vocabulary-sized tail runs on."""
    import time as _time

    from kg.linking import links_on_driver

    n_base, n_batch, n_folds = 400, 8, 8
    docs = synth_docs(n_base + n_batch * n_folds, sentences=sentences)
    run_pipeline(
        spark, docs_to_df(spark, docs[:n_base]), f"{base}/soak", vocab=vocab,
        input_token="base",
    )
    fold_secs = []
    off = n_base
    for k in range(n_folds):
        t0 = _time.perf_counter()
        res = run_pipeline_append(
            spark, docs_to_df(spark, docs[off : off + n_batch]), f"{base}/soak",
            vocab=vocab, input_token=f"fold{k}",
        )
        fold_secs.append(round(_time.perf_counter() - t0, 2))
        off += n_batch
        assert links_on_driver(res.catalog, "linked_cc_sigs") == on_driver
        ledger = res.catalog.manifest("documents")["batch_tokens"]
        assert ledger == ["base"] + [f"fold{i}" for i in range(k + 1)]
        fresh = run_pipeline(
            spark, docs_to_df(spark, docs[:off]), f"{base}/fresh{k}",
            vocab=vocab, input_token=f"t{off}",
        )
        for name in fresh.tables:
            assert _rows(res.tables[name]) == _rows(fresh.tables[name]), (
                f"fold {k}, table {name}"
            )
    # per-fold wall times recorded for tail-creep inspection; a fold is a
    # fixed amount of work (constant batch + bounded tail), so the LAST
    # fold must not cost multiples of the median — creep means the tail
    # is silently rescanning the whole history
    med = sorted(fold_secs)[len(fold_secs) // 2]
    print(f"soak fold_secs={fold_secs} median={med}")
    assert fold_secs[-1] < max(4 * med, med + 10)


def test_append_soak_chain_stays_equal_to_fresh(
    spark, vocab, sentences, tmp_path, monkeypatch
):
    """The soak chain with the vocabulary-sized tail on the driver."""
    import kg.linking

    monkeypatch.setattr(kg.linking, "DRIVER_LINK_MAX_MENTIONS", 10**12)
    for batch in at_both_bounds(monkeypatch, BATCH_BOUND):
        _soak_chain(spark, vocab, sentences, str(tmp_path / str(batch)), on_driver=True)


def test_append_soak_chain_distributed_tail_stays_equal_to_fresh(
    spark, vocab, sentences, tmp_path, monkeypatch
):
    """The soak chain with the bound at 0: the distributed tail."""
    import kg.linking

    monkeypatch.setattr(kg.linking, "DRIVER_LINK_MAX_MENTIONS", 0)
    for batch in at_both_bounds(monkeypatch, BATCH_BOUND):
        _soak_chain(spark, vocab, sentences, str(tmp_path / str(batch)), on_driver=False)


def test_append_requires_completed_run(spark, vocab, tmp_path, split_corpus):
    _, new, _ = split_corpus
    with pytest.raises(ValueError, match="completed prior run"):
        run_pipeline_append(
            spark, docs_to_df(spark, new), str(tmp_path / "empty"),
            vocab=vocab, input_token="b2",
        )


def test_append_without_batch_ledger_fails(spark, vocab, sentences, tmp_path):
    """A documents manifest without the batch_tokens ledger cannot tell
    which batches it holds: the append refuses instead of risking folding a
    batch twice."""
    import json
    import os

    docs = synth_docs(30, sentences=sentences)
    base = str(tmp_path / "noledger")
    run_pipeline(
        spark, docs_to_df(spark, docs[:20]), base, vocab=vocab, input_token="base"
    )
    mp = os.path.join(base, "documents", "manifest.json")
    with open(mp) as f:
        m = json.load(f)
    del m["batch_tokens"]
    with open(mp, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="batch_tokens"):
        run_pipeline_append(
            spark, docs_to_df(spark, docs[20:]), base, vocab=vocab, input_token="b1"
        )


def _text_doc(doc_id: str, text: str) -> dict:
    return {
        "doc_id": doc_id,
        "spans": [{"kind": "text", "text": text, "media_ref": "", "offset": 0}],
    }


def test_append_nondisjoint_doc_ids_falls_back_and_stays_equal(
    spark, vocab, tmp_path, split_corpus, monkeypatch
):
    """A batch that REUSES an old doc_id breaks the doc-partitioned-groups
    argument of the incremental edges path (r6): a fresh run MERGES the
    (subj, pred, obj, doc_id) groups across the two same-id docs, a blind
    file-append would keep them split.  The precheck must detect the
    overlap and take the full-recompute fallback ('edges' executed, no
    'edges+append'), whose global groupBy merges them identically to
    fresh.  (Duplicate doc_ids violate the span invariant by construction
    — both runs use check_invariant=False — and per-doc appended tables
    like keyphrases are out of contract for such input; the edge/node/link
    tail is what the fallback guarantees.)"""
    for bound in at_both_link_and_batch_bounds(monkeypatch):
        old, new, _ = split_corpus
        reused = [dict(new[0], doc_id=old[5]["doc_id"])] + new[1:3]
        base = str(tmp_path / str(bound) / "nondisj")
        run_pipeline(
            spark, docs_to_df(spark, old), base, vocab=vocab, input_token="t100",
            check_invariant=False,
        )
        res = run_pipeline_append(
            spark, docs_to_df(spark, reused), base, vocab=vocab, input_token="bx",
            check_invariant=False,
        )
        assert "edges" in res.executed
        assert "edges+append" not in res.executed
        fresh = run_pipeline(
            spark, docs_to_df(spark, old + reused), str(tmp_path / str(bound) / "nondisj_f"),
            vocab=vocab, input_token="tf", check_invariant=False,
        )
        for name in ("documents", "mentions", "triples", "linked", "nodes", "edges"):
            assert _rows(res.tables[name]) == _rows(fresh.tables[name]), name


def test_append_canonical_rename_falls_back_and_stays_equal(
    spark, vocab, tmp_path, monkeypatch
):
    """A new mention that joins an old component AND becomes its new
    (lexicographically smaller) canonical renames every old edge touching
    the component — the stability check must force the full recompute and
    the appended result must equal a fresh run over the union."""
    for bound in at_both_link_and_batch_bounds(monkeypatch):
        old = [
            _text_doc("doc-a0", "中国致公党/ns 中国致公党人/ns"),
            _text_doc("doc-a1", "中国致公党/ns 北京/ns"),
        ]
        new = [_text_doc("doc-b0", "中国致公/ns 北京/ns")]
        base = str(tmp_path / str(bound) / "rename")
        run_pipeline(
            spark, docs_to_df(spark, old), base, vocab=vocab, input_token="tA"
        )
        res = run_pipeline_append(
            spark, docs_to_df(spark, new), base, vocab=vocab, input_token="tB"
        )
        # precondition of the scenario: the canonical actually moved
        linked = {r["mention"]: r["canonical"] for r in res.tables["linked"].collect()}
        assert linked["中国致公党"] == "中国致公"
        assert "edges" in res.executed
        assert "edges+append" not in res.executed
        fresh = run_pipeline(
            spark, docs_to_df(spark, old + new), str(tmp_path / str(bound) / "rename_f"),
            vocab=vocab, input_token="tF",
        )
        for name in fresh.tables:
            assert _rows(res.tables[name]) == _rows(fresh.tables[name]), name

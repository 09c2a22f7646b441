"""Append-only linking signature table (round 5).

The 100-TB growth shape: on append, the only Python in the linking tail —
the Arrow signature kernel — must run over NEVER-BEFORE-SEEN mention
strings only, not the full distinct mention set.  Signatures are pure
per-row functions, so the persisted table stays exactly equal to a fresh
kernel pass.  Every refresh but that delta rebuilds the table, so a
catalog dir reused for a DIFFERENT (non-superset) corpus keeps no stale
row.
"""

import pytest

import kg.linking as L
from kg.pipeline import run_pipeline, run_pipeline_append
from kg.synth import docs_to_df, synth_docs

from conftest import BATCH_BOUND, LINK_BOUND, at_both_bounds


def _rows(df):
    return sorted(map(str, df.collect()))


@pytest.fixture()
def kernel_spy(monkeypatch):
    """Record how many mentions each signature computation signs, on either
    path: the Spark kernel's input rows, or the mentions signed on the
    driver."""
    calls = []
    real_kernel, real_rows = L.mention_shingle_buckets, L.signature_rows

    def kernel(df):
        calls.append(df.count())
        return real_kernel(df)

    def rows(mentions):
        calls.append(len(mentions))
        return real_rows(mentions)

    monkeypatch.setattr(L, "mention_shingle_buckets", kernel)
    monkeypatch.setattr(L, "signature_rows", rows)
    return calls


def test_append_kernel_runs_only_on_new_mentions(
    spark, vocab, sentences, tmp_path, kernel_spy, monkeypatch
):
    for bound in at_both_bounds(monkeypatch):
        docs = synth_docs(160, sentences=sentences)
        old, new = docs[:120], docs[120:]
        base = str(tmp_path / str(bound) / "inc")
        res_old = run_pipeline(
            spark, docs_to_df(spark, old), base, vocab=vocab, input_token="a"
        )
        m_old = {
            r["mention"]
            for r in res_old.tables["mentions"].select("mention").distinct().collect()
        }
        n_fresh_calls = len(kernel_spy)
        res = run_pipeline_append(
            spark, docs_to_df(spark, new), base, vocab=vocab, input_token="b"
        )
        m_all = {
            r["mention"]
            for r in res.tables["mentions"].select("mention").distinct().collect()
        }
        expected_new = len(m_all) - len(m_old)
        assert expected_new > 0, "fixture must introduce new mentions"
        appended_kernel_rows = sum(kernel_spy[n_fresh_calls:])
        assert appended_kernel_rows == expected_new  # signed ONLY the delta
        # the signature stage was appended, not rebuilt, and says so
        assert "linked_cc_sigs+append" in res.executed
        assert "linked_cc_sigs" not in res.executed
        # persisted signature table covers exactly the full distinct mention set
        assert res.catalog.manifest("linked_cc_sigs")["rows"] == len(m_all)


def test_changed_corpus_rebuilds_stale_signature_table(spark, vocab, sentences, tmp_path):
    """A fresh run over a DIFFERENT, non-superset corpus into the same
    base_dir must not let stale signature rows leak into linking: stale
    mentions could bridge CC components and change canonical labels."""
    docs = synth_docs(140, sentences=sentences)
    base = str(tmp_path / "reused")
    run_pipeline(
        spark, docs_to_df(spark, docs[:120]), base, vocab=vocab, input_token="a"
    )
    res = run_pipeline(
        spark, docs_to_df(spark, docs[60:140]), base, vocab=vocab,
        input_token="c",
    )
    clean = run_pipeline(
        spark, docs_to_df(spark, docs[60:140]), str(tmp_path / "clean"),
        vocab=vocab, input_token="c",
    )
    for name in clean.tables:
        assert _rows(res.tables[name]) == _rows(clean.tables[name]), name
    # the stale table was rebuilt (full write), not appended to
    assert "linked_cc_sigs" in res.executed
    assert res.catalog.manifest("linked_cc_sigs")["rows"] == (
        clean.catalog.manifest("linked_cc_sigs")["rows"]
    )


def test_noop_reappend_never_touches_kernel(
    spark, vocab, sentences, tmp_path, kernel_spy
):
    docs = synth_docs(130, sentences=sentences)
    base = str(tmp_path / "idem")
    run_pipeline(
        spark, docs_to_df(spark, docs[:100]), base, vocab=vocab, input_token="a"
    )
    run_pipeline_append(
        spark, docs_to_df(spark, docs[100:]), base, vocab=vocab, input_token="b"
    )
    n_before = len(kernel_spy)
    res2 = run_pipeline_append(
        spark, docs_to_df(spark, docs[100:]), base, vocab=vocab, input_token="b"
    )
    assert res2.executed == []
    assert len(kernel_spy) == n_before  # idempotent no-op: zero kernel work


def test_a_non_delta_refresh_rebuilds_the_table(spark, tmp_path, kernel_spy):
    """Without a catalog ``signature_base`` signs the whole mention list,
    and the table written from those rows holds exactly the list: with a
    committed row the list lacks (stale) and with a plain superset alike.
    A DataFrame of the same mentions gives the same rows.  Only the delta
    against a committed table signs just the never-seen mentions, and
    gives None when there are none; nothing is committed either way."""
    from kg.catalog import StageCatalog

    cat = StageCatalog(spark, str(tmp_path / "sigs"))
    cat.write("sigs", L.signature_base(["北京", "上海", "广州"]))
    for current in (["北京", "上海", "南京"], ["北京", "上海", "南京", "深圳"]):
        del kernel_spy[:]
        rows = L.signature_base(current)
        assert kernel_spy == [len(current)]  # the whole list, not only the new mentions
        assert sorted(rows.column("mention").to_pylist()) == sorted(current)
        cat.write("sigs", rows)
        assert cat.manifest("sigs")["rows"] == len(current)
        df = spark.createDataFrame([(m,) for m in current], "mention string")
        assert _rows(cat.read("sigs")) == _rows(L.signature_base(df))
    del kernel_spy[:]
    delta = L.signature_base(["深圳", "杭州"], cat, stage_name="sigs")
    assert kernel_spy == [1]
    assert delta.column("mention").to_pylist() == ["杭州"]
    df = spark.createDataFrame([("深圳",), ("杭州",)], "mention string")
    assert L.signature_base(df, cat, stage_name="sigs").equals(delta)
    assert L.signature_base(["北京", "深圳"], cat, stage_name="sigs") is None
    assert cat.executed == [] and cat.manifest("sigs")["rows"] == 4


def test_held_mentions_are_signed_on_the_driver_only_below_the_link_bound(
    spark, vocab, sentences, tmp_path, monkeypatch
):
    """A fresh run below the batch bound holds its mentions on the driver,
    but signs them in-process only while they number at most the link
    bound; one mention above it, the Spark kernel signs them, as it does
    when nothing is held."""
    monkeypatch.setattr(BATCH_BOUND, 10**12)
    signed = []
    real_kernel, real_rows = L.mention_shingle_buckets, L.signature_rows
    monkeypatch.setattr(L, "mention_shingle_buckets", lambda df: signed.append("spark") or real_kernel(df))
    monkeypatch.setattr(L, "signature_rows", lambda ms: signed.append(len(ms)) or real_rows(ms))
    docs = docs_to_df(spark, synth_docs(40, sentences=sentences))
    res = run_pipeline(spark, docs, str(tmp_path / "driver"), vocab=vocab, input_token="t")
    n = res.catalog.manifest("linked_cc_sigs")["rows"]
    assert signed == [n]
    del signed[:]
    monkeypatch.setattr(LINK_BOUND, n - 1)
    res = run_pipeline(spark, docs, str(tmp_path / "spark"), vocab=vocab, input_token="t")
    assert signed == ["spark"]
    assert res.catalog.manifest("linked_cc_sigs")["rows"] == n

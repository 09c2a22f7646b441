"""Driver-side linker, its bound, and the signature delta taken from an
appended batch.

Runs on an in-test tagged corpus (``word/tag`` lines, CJK entity surfaces
with near-variants, a few Latin ones), so it needs no reference corpus
file.
"""

import pytest

import kg.linking as L
import kg.pipeline as P
from kg.catalog import StageCatalog
from kg.config import LSH_MAX_BUCKET, MINHASH_PRIME
from kg.pipeline import run_pipeline, run_pipeline_append
from kg.synth import corpus_vocab, docs_to_df, synth_docs

from conftest import at_both_bounds, tagged_lines

BASE_ENTITIES = {
    "ns": ["北京市", "北京市区", "上海市", "上海市区", "南京市", "广州市", "深圳市"],
    "nt": [
        "中国人民解放军总政治部", "中国人民解放军总政治部门",
        "中华人民共和国国务院", "中华人民共和国国务院办公厅",
        "中国致公党第十一次全国代表大会", "中国致公党第十一次全国代表大会主席团",
        "国家统计局", "acme",
    ],
    "nr": ["李小龙", "王晓明", "张三丰", "张三丰先生", "lee"],
}
# surfaces only the appended batch carries: a new component, and variants
# joining old ones
NEW_ENTITIES = {
    "ns": ["杭州市", "杭州市区", "南京市区"],
    "nt": ["中国致公党第十一次全国代表大会代表", "国家统计局办公室", "acme corp"],
    "nr": ["王晓明同志"],
}
BASE_LINES = tagged_lines(BASE_ENTITIES, 40, seed=1)
BATCH_LINES = tagged_lines(NEW_ENTITIES, 8, seed=2) + BASE_LINES[:16]


def _batch(lines: list[str], n: int, seed: int, prefix: str) -> list[dict]:
    docs = synth_docs(n, seed=seed, sentences=lines)
    for d in docs:
        d["doc_id"] = f"{prefix}-{d['doc_id']}"
    return docs


@pytest.fixture(scope="module")
def local_vocab():
    return corpus_vocab(sentences=BASE_LINES + BATCH_LINES)


@pytest.fixture(scope="module")
def corpus():
    return synth_docs(60, seed=1, sentences=BASE_LINES), _batch(BATCH_LINES, 30, 2, "b1")


def _rows(df):
    return sorted(map(str, df.collect()))


def _map(df) -> dict[str, str]:
    return {r["mention"]: r["canonical"] for r in df.collect()}


# one bucket per band holding more than LSH_MAX_BUCKET members: every string
# has the single shingle "aaa", so all share all bands (Jaccard 1.0), and the
# cap drops them
MEGA = ["a" * n for n in range(3, 3 + LSH_MAX_BUCKET + 20)]
EDGE_TEXTS = [
    *(s for surfaces in BASE_ENTITIES.values() for s in surfaces),
    *(s for surfaces in NEW_ENTITIES.values() for s in surfaces),
    "中", "中国", "ab", "x",  # shorter than the shingle size
    *MEGA,
]


def test_driver_linker_equals_distributed(spark, tmp_path, monkeypatch, reference_link):
    df = spark.createDataFrame([(t,) for t in EDGE_TEXTS], "mention string")
    cat = StageCatalog(spark, str(tmp_path / "edge"))
    cat.run("sigs", lambda: L.signature_base(df))
    assert L.links_on_driver(cat, "sigs")
    cat.write("driver", L.link_committed(cat, "sigs", True, stage_prefix="cc"))
    driver = _map(cat.read("driver"))
    assert cat.executed == ["sigs"]  # no CC round or final commit on the driver
    monkeypatch.setattr(L, "DRIVER_LINK_MAX_MENTIONS", 0)
    assert not L.links_on_driver(cat, "sigs")
    distributed = _map(L.link_committed(cat, "sigs", False, stage_prefix="cc"))
    assert "cc_final" in cat.executed
    assert driver == distributed == L.link_local(EDGE_TEXTS) == reference_link(EDGE_TEXTS)
    assert all(driver[t] == t for t in MEGA)  # the capped bucket links nothing
    assert driver["中国人民解放军总政治部门"] == "中国人民解放军总政治部"
    assert driver["中华人民共和国国务院办公厅"] == "中华人民共和国国务院"
    assert driver["中"] == "中" and driver["中国"] == "中国"


def _fold(text: str, k: int) -> list[int]:
    """The stepwise polynomial fold ``shingle_hashes`` vectorizes."""
    def h(cps):
        acc = 0
        for c in cps:
            acc = (acc * 131 + c) % MINHASH_PRIME
        return acc

    cps = [ord(c) for c in text]
    if len(cps) < k:
        return [h(cps)]
    return sorted({h(cps[i : i + k]) for i in range(len(cps) - k + 1)})


def test_shingle_hashes_match_the_fold_up_to_k7():
    for k in range(1, 8):
        for text in ["\U0010ffff" * 9, "中国人民解放军总政治部", "ab"]:
            assert L.shingle_hashes(text, k).tolist() == _fold(text, k), (k, text)
    for bad in (0, 8):
        with pytest.raises(ValueError):
            L.shingle_hashes("abcdefghij", bad)


@pytest.fixture()
def whole_reads(monkeypatch):
    """Record each read of a stage's whole committed table, through Spark
    or Arrow (a read of an increment's files is not recorded)."""
    reads = []
    real_read, real_arrow = StageCatalog.read, StageCatalog.read_arrow

    def read(cat, stage, files=None):
        if files is None:
            reads.append(stage)
        return real_read(cat, stage, files)

    def read_arrow(cat, stage, columns=None, files=None):
        if files is None:
            reads.append(stage)
        return real_arrow(cat, stage, columns, files)

    monkeypatch.setattr(StageCatalog, "read", read)
    monkeypatch.setattr(StageCatalog, "read_arrow", read_arrow)
    return reads


def test_append_equals_fresh_on_both_paths(
    spark, tmp_path, monkeypatch, corpus, local_vocab, reference_link, whole_reads
):
    """Forced to either side of the bound, an append equals a fresh run on
    all nine tables, and the two sides give the same tables: the driver
    tail (signature delta, map, nodes_mtc, nodes) builds what Spark does.
    The base run commits ``nodes_mtc``, so the first append merges its
    batch's counts into it, reading no whole mentions table."""
    old, new = corpus
    tables, maps = {}, {}
    for bound in at_both_bounds(monkeypatch):
        fresh = run_pipeline(
            spark, docs_to_df(spark, old + new), str(tmp_path / f"fresh{bound}"),
            vocab=local_vocab, input_token="all",
        )
        base = str(tmp_path / f"inc{bound}")
        res0 = run_pipeline(
            spark, docs_to_df(spark, old), base, vocab=local_vocab, input_token="old"
        )
        assert "nodes_mtc" in res0.executed
        cat = res0.catalog
        assert cat.manifest("nodes_mtc")["inputs"]["mentions"] == cat.fingerprint("mentions")
        del whole_reads[:]
        res = run_pipeline_append(
            spark, docs_to_df(spark, new), base, vocab=local_vocab, input_token="b1"
        )
        assert "nodes_mtc" in res.executed
        assert "mentions" not in whole_reads, bound
        assert "nodes_mtc" in whole_reads  # merged into, not recounted
        for name in fresh.tables:
            assert _rows(res.tables[name]) == _rows(fresh.tables[name]), (bound, name)
        assert ("linked_cc_final" in fresh.executed) == (bound == 0)
        assert L.links_on_driver(res.catalog, "linked_cc_sigs") == (bound > 0)
        tables[bound] = {name: _rows(res.tables[name]) for name in res.tables}
        maps[bound] = _map(res.tables["linked"])
    assert tables[10**12] == tables[0]
    linked = maps[0]
    assert maps[10**12] == linked == reference_link(linked)
    # a batch variant joined an old component
    assert linked["中国致公党第十一次全国代表大会代表"] == "中国致公党第十一次全国代表大会"


def test_append_below_the_bound_runs_no_job_in_linked_or_nodes(
    spark, tmp_path, corpus, local_vocab
):
    """Below the bound an append's vocabulary-sized tail runs on the driver:
    no Spark job in the linked and nodes stages, nor in edges below
    ``DRIVER_EDGES_MAX_TRIPLES``, and at most 30 in the whole append,
    counted per stage by the job groups perfbench's tracer sets."""
    from perfbench.trace import STAGES, Tracer

    old, new = corpus
    base = str(tmp_path / "jobs")
    run_pipeline(spark, docs_to_df(spark, old), base, vocab=local_vocab, input_token="old")
    # the base run committed nodes_mtc, so the first append, with never-seen
    # surfaces, takes every increment and relinks
    tracer = Tracer(spark)
    tracer.install()
    try:
        tracer.begin_op("jobguard")
        res = run_pipeline_append(
            spark, docs_to_df(spark, new), base, vocab=local_vocab, input_token="b1"
        )
    finally:
        tracer.uninstall()
    tracker = spark.sparkContext.statusTracker()
    jobs = {s: len(tracker.getJobIdsForGroup(f"{s}@jobguard")) for s in ("driver", *STAGES)}
    assert {"linked_cc_sigs+append", "linked", "nodes_mtc", "nodes"} <= set(res.executed)
    assert jobs["linked"] == jobs["nodes"] == jobs["edges"] == 0, jobs
    assert sum(jobs.values()) <= 30, jobs


@pytest.fixture()
def sig_spy(monkeypatch):
    """Record each signature refresh's mode (True for a delta against the
    committed table), the mentions signed (by the Spark kernel or on the
    driver), and which stages the signature and linked stages read
    whole."""
    calls = {"increment": [], "kernel_rows": [], "reads": []}
    in_linked = []
    real_base, real_kernel = P.signature_base, L.mention_shingle_buckets
    real_rows = L.signature_rows
    real_step, real_read = P._Fold.step, StageCatalog.read

    def base(distinct, catalog=None, stage_name=None):
        calls["increment"].append(catalog is not None)
        return real_base(distinct, catalog, stage_name)

    def kernel(df):
        calls["kernel_rows"].append(df.count())
        return real_kernel(df)

    def rows(mentions):
        calls["kernel_rows"].append(len(mentions))
        return real_rows(mentions)

    def step(fold, st):
        if st.name not in ("linked_cc_sigs", "linked"):
            return real_step(fold, st)
        in_linked.append(True)
        try:
            return real_step(fold, st)
        finally:
            in_linked.pop()

    def read(cat, stage, files=None):
        if in_linked and files is None:  # whole stage, not an increment
            calls["reads"].append(stage)
        return real_read(cat, stage, files)

    monkeypatch.setattr(P, "signature_base", base)
    monkeypatch.setattr(L, "mention_shingle_buckets", kernel)
    monkeypatch.setattr(L, "signature_rows", rows)
    monkeypatch.setattr(P._Fold, "step", step)
    monkeypatch.setattr(StageCatalog, "read", read)
    return calls


def _distinct_mentions(res) -> int:
    return res.tables["mentions"].select("mention").distinct().count()


def test_signature_delta_comes_from_the_batch(
    spark, tmp_path, corpus, local_vocab, sig_spy, monkeypatch
):
    for bound in at_both_bounds(monkeypatch):
        for calls in sig_spy.values():
            del calls[:]
        old, new = corpus
        base = str(tmp_path / str(bound) / "delta")
        res0 = run_pipeline(
            spark, docs_to_df(spark, old), base, vocab=local_vocab, input_token="old"
        )
        n_old = _distinct_mentions(res0)
        # a batch of lines the base already holds whole (synth doc 2 is the
        # truncated long line, whose cut could make a new surface: dropped) —
        # the table is re-anchored, not appended, and linking is skipped
        known = sorted({s["text"] for d in old[3:] for s in d["spans"] if s["kind"] == "text"})
        known_docs = [d for d in _batch(known, 20, 3, "k") if d["doc_id"] != "k-doc-00000002"]
        res1 = run_pipeline_append(
            spark, docs_to_df(spark, known_docs), base, vocab=local_vocab, input_token="known",
        )
        cat = res1.catalog
        assert "linked_cc_sigs+append" not in res1.executed
        assert "linked" not in res1.executed
        sigs = cat.manifest("linked_cc_sigs")
        assert sigs["rows"] == n_old
        assert sigs["inputs"]["mentions"] == cat.fingerprint("mentions")
        del sig_spy["kernel_rows"][:], sig_spy["reads"][:]
        # a batch with never-seen surfaces: the kernel sees exactly the delta
        res2 = run_pipeline_append(
            spark, docs_to_df(spark, new), base, vocab=local_vocab, input_token="b1"
        )
        assert sig_spy["increment"] == [False, True, True]
        n_all = _distinct_mentions(res2)
        assert n_all > n_old
        assert sig_spy["kernel_rows"] == [n_all - n_old]
        assert "mentions" not in sig_spy["reads"]  # no full mentions scan
        assert "linked_cc_sigs+append" in res2.executed
        assert cat.manifest("linked_cc_sigs")["rows"] == n_all
        assert cat.manifest("linked_cc_sigs")["inputs"]["mentions"] == cat.fingerprint("mentions")


def test_signature_delta_falls_back_to_a_rebuild(
    spark, tmp_path, corpus, local_vocab, sig_spy
):
    """A table not anchored on the pre-append mentions (a crash between the
    mentions append and the signature commit, or a catalog written before
    the anchor existed) is rebuilt from the full mention set, and append ==
    fresh still holds."""
    old, new = corpus
    base = str(tmp_path / "fallback")
    res0 = run_pipeline(
        spark, docs_to_df(spark, old), base, vocab=local_vocab, input_token="old"
    )
    res0.catalog.reanchor("linked_cc_sigs", {"mentions": "unknown"})
    res = run_pipeline_append(
        spark, docs_to_df(spark, new), base, vocab=local_vocab, input_token="b1"
    )
    assert sig_spy["increment"] == [False, False]
    assert "mentions" in sig_spy["reads"]
    assert "linked_cc_sigs" in res.executed
    assert "linked_cc_sigs+append" not in res.executed
    fresh = run_pipeline(
        spark, docs_to_df(spark, old + new), str(tmp_path / "fresh"),
        vocab=local_vocab, input_token="all",
    )
    for name in fresh.tables:
        assert _rows(res.tables[name]) == _rows(fresh.tables[name]), name
    cat = res.catalog
    assert cat.manifest("linked_cc_sigs")["inputs"]["mentions"] == cat.fingerprint("mentions")

"""Driver-side linker, its bound, and the signature delta taken from an
appended batch.

Runs on an in-test tagged corpus (``word/tag`` lines, CJK entity surfaces
with near-variants, a few Latin ones), so it needs no reference corpus
file.
"""

import random

import pytest

import kg.linking as L
import kg.pipeline as P
from kg.catalog import StageCatalog
from kg.config import LSH_MAX_BUCKET, MINHASH_PRIME
from kg.pipeline import run_pipeline, run_pipeline_append
from kg.synth import corpus_vocab, docs_to_df, synth_docs

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
FILLER = ["今天", "在", "召开", "会议", "表示", "访问", "合作", "的", "，", "发展"]


def _lines(entities: dict[str, list[str]], n: int, seed: int) -> list[str]:
    """``n`` tagged lines; line i carries entity i (every surface occurs)."""
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


BASE_LINES = _lines(BASE_ENTITIES, 40, seed=1)
BATCH_LINES = _lines(NEW_ENTITIES, 8, seed=2) + BASE_LINES[:16]


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
    L.signature_base(df, catalog=cat, stage_name="sigs")
    driver = _map(L.link_committed(cat, "sigs", stage_prefix="cc"))
    assert cat.executed == ["sigs"]  # no CC round or final commit on the driver
    monkeypatch.setattr(L, "DRIVER_LINK_MAX_MENTIONS", 0)
    distributed = _map(L.link_committed(cat, "sigs", stage_prefix="cc"))
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


def test_append_equals_fresh_on_both_paths(
    spark, tmp_path, monkeypatch, corpus, local_vocab, reference_link
):
    old, new = corpus
    linked = {}
    for bound in (L.DRIVER_LINK_MAX_MENTIONS, 0):
        monkeypatch.setattr(L, "DRIVER_LINK_MAX_MENTIONS", bound)
        fresh = run_pipeline(
            spark, docs_to_df(spark, old + new), str(tmp_path / f"fresh{bound}"),
            vocab=local_vocab, input_token="all",
        )
        base = str(tmp_path / f"inc{bound}")
        run_pipeline(
            spark, docs_to_df(spark, old), base, vocab=local_vocab, input_token="old"
        )
        res = run_pipeline_append(
            spark, docs_to_df(spark, new), base, vocab=local_vocab, input_token="b1"
        )
        for name in fresh.tables:
            assert _rows(res.tables[name]) == _rows(fresh.tables[name]), (bound, name)
        assert ("linked_cc_final" in fresh.executed) == (bound == 0)
        linked[bound] = _map(res.tables["linked"])
    driver, distributed = linked.values()
    assert driver == distributed == reference_link(driver)
    # a batch variant joined an old component
    assert driver["中国致公党第十一次全国代表大会代表"] == "中国致公党第十一次全国代表大会"


@pytest.fixture()
def sig_spy(monkeypatch):
    """Record each signature refresh's mode, the kernel's input rows, and
    which stages the linked stage reads."""
    calls = {"increment": [], "kernel_rows": [], "reads": []}
    in_linked = []
    real_base, real_kernel = P.signature_base, L.mention_shingle_buckets
    real_linked, real_read = P._run_linked_stage, StageCatalog.read

    def base(*a, **kw):
        calls["increment"].append(kw.get("increment", False))
        return real_base(*a, **kw)

    def kernel(df):
        calls["kernel_rows"].append(df.count())
        return real_kernel(df)

    def linked(*a, **kw):
        in_linked.append(True)
        try:
            return real_linked(*a, **kw)
        finally:
            in_linked.pop()

    def read(cat, stage):
        if in_linked:
            calls["reads"].append(stage)
        return real_read(cat, stage)

    monkeypatch.setattr(P, "signature_base", base)
    monkeypatch.setattr(L, "mention_shingle_buckets", kernel)
    monkeypatch.setattr(P, "_run_linked_stage", linked)
    monkeypatch.setattr(StageCatalog, "read", read)
    return calls


def _distinct_mentions(res) -> int:
    return res.tables["mentions"].select("mention").distinct().count()


def test_signature_delta_comes_from_the_batch(
    spark, tmp_path, corpus, local_vocab, sig_spy
):
    old, new = corpus
    base = str(tmp_path / "delta")
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


def test_signature_delta_falls_back_to_reconciliation(
    spark, tmp_path, corpus, local_vocab, sig_spy
):
    """A table not anchored on the pre-append mentions (a crash between the
    mentions append and the signature commit, or a catalog written before
    the anchor existed) is reconciled against the full mention set, and
    append == fresh still holds."""
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
    fresh = run_pipeline(
        spark, docs_to_df(spark, old + new), str(tmp_path / "fresh"),
        vocab=local_vocab, input_token="all",
    )
    for name in fresh.tables:
        assert _rows(res.tables[name]) == _rows(fresh.tables[name]), name
    cat = res.catalog
    assert cat.manifest("linked_cc_sigs")["inputs"]["mentions"] == cat.fingerprint("mentions")

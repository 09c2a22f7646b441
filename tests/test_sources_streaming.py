import json
import os
import time

import pytest
from pyspark.sql import functions as F

from kg.keyphrase import keyphrases_table
from kg.oracle import doc_keyphrases
from kg.sources import load_tag_queries, read_tagged_corpus
from kg.streaming import windowed_event_counts
from kg.synth import docs_to_df, synth_docs

EVENTS = "/root/testdata/sf0.001/events.parquet"


def test_read_tagged_corpus_shape(spark, tmp_path):
    p = tmp_path / "corpus.txt"
    p.write_text("中共中央/nt 致/o 贺词/o\n\n北京/ns 上海/ns\n", encoding="utf-8")
    docs = read_tagged_corpus(spark, str(p))
    rows = docs.collect()
    assert len(rows) == 2  # blank line dropped
    for r in rows:
        assert r.doc_id.startswith("line-")
        assert len(r.spans) == 1 and r.spans[0].kind == "text" and r.spans[0].offset == 0
    # pipes straight into the extract path
    from kg.mention import explode_text_spans

    assert explode_text_spans(docs).count() == 2


def test_load_tag_queries_reference_format(tmp_path):
    # data/questions.json format (keys lowercased, ner/dataset.py:31)
    p = tmp_path / "questions.json"
    p.write_text(
        json.dumps({"0": {"tag": "NS", "query": "q1"}, "1": {"tag": "NT", "query": "q2"}}),
        encoding="utf-8",
    )
    assert load_tag_queries(str(p)) == {"ns": "q1", "nt": "q2"}
    questions = "/root/reference/data/questions.json"
    if not os.path.exists(questions):
        pytest.skip(f"{questions} not present")
    got = load_tag_queries(questions)
    assert sorted(got) == ["nr", "ns", "nt"]


def test_keyphrases_match_oracle(spark):
    docs = synth_docs(50)
    want = []
    for d in docs:
        want.extend(
            (k["doc_id"], k["phrase"], k["freq"], k["rank"]) for k in doc_keyphrases(d)
        )
    got = [
        (r.doc_id, r.phrase, r.freq, r.rank)
        for r in keyphrases_table(docs_to_df(spark, docs)).collect()
    ]
    assert sorted(got) == sorted(want)


def test_windowed_event_counts_stream_equals_batch(spark, tmp_path):
    batch = spark.read.parquet(EVENTS)
    want = sorted(map(str, windowed_event_counts(batch).collect()))

    # file-source streams need a directory; stage the single parquet file
    import shutil

    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(EVENTS, stream_dir / "part-0.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(map(str, spark.sql("select * from wincounts").collect()))
    finally:
        q.stop()
    assert got == want


import pytest as _pytest


@_pytest.mark.parametrize("gap_minutes", [30, 10_000])
def test_stateful_sessionize_stream_matches_batch(spark, tmp_path, gap_minutes):
    """Custom stateful operator (applyInPandasWithState): the last update
    per (user, session) must equal the batch sessionize exactly; with the
    long gap, sessions span the trigger boundary and must stitch through
    the group state."""
    import os
    import shutil

    from kg import relational as R
    from kg.streaming import stateful_sessionize_stream

    batch = spark.read.parquet(EVENTS)
    bdir = tmp_path / "batchdir"
    bdir.mkdir()
    shutil.copy(EVENTS, bdir / "events.parquet")
    want = sorted(
        (r.user_id, r.session_id, r.n_events, r.first_event_id)
        for r in R.sessionize(spark, str(bdir), gap_minutes=gap_minutes).collect()
    )

    # split mid-history so many sessions straddle the trigger boundary
    ts_sorted = [r.ts for r in batch.select("ts").orderBy("ts").collect()]
    cut = ts_sorted[len(ts_sorted) // 2]
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()

    def dump(df, name):
        tmp = tmp_path / f"tmp_{name}"
        df.coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        shutil.copy(tmp / part, stream_dir / f"{name}.parquet")

    dump(batch.where(F.col("ts") < cut), "f1")

    acc = []
    stream = spark.readStream.schema(batch.schema).parquet(str(stream_dir))
    q = (
        stateful_sessionize_stream(stream, gap_minutes=gap_minutes)
        .writeStream.foreachBatch(lambda df, bid: acc.append((bid, df.toPandas())))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches_first = len(acc)
        dump(batch.where(F.col("ts") >= cut), "f2")
        q.processAllAvailable()
    finally:
        q.stop()

    assert n_batches_first >= 1 and len(acc) > n_batches_first
    final = {}
    for _bid, pdf in sorted(acc, key=lambda t: t[0]):
        for r in pdf.itertuples(index=False):
            final[(r.user_id, r.session_id)] = (r.n_events, r.first_event_id)
    got = sorted((u, s, n, f) for (u, s), (n, f) in final.items())
    assert got == want

    # cross-boundary stitching actually happened: at least one session was
    # emitted (updated) in both trigger groups
    first_keys = {
        (r.user_id, r.session_id)
        for bid, pdf in acc[:n_batches_first]
        for r in pdf.itertuples(index=False)
    }
    later_keys = {
        (r.user_id, r.session_id)
        for bid, pdf in acc[n_batches_first:]
        for r in pdf.itertuples(index=False)
    }
    if gap_minutes > 30:
        assert first_keys & later_keys, "no session crossed the trigger boundary"


def test_stream_extract_kill_resume_exactly_once(spark, tmp_path, vocab, sentences):
    """VERDICT r2 item 5: the file-source extract stream, stopped after a
    checkpointed trigger and restarted from the same checkpoint over new
    files, must produce each sentence's extraction EXACTLY once, equal to
    the batch extract of the full corpus (file source offsets + parquet
    sink commit log)."""
    import shutil

    from kg.mention import explode_text_spans, extract_sentences
    from kg.streaming import stream_extract
    from kg.synth import docs_to_df, synth_docs

    docs = synth_docs(60, sentences=sentences)
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    in_dir.mkdir()

    def dump(chunk, name):
        tmp = tmp_path / f"tmp_{name}"
        docs_to_df(spark, chunk).coalesce(1).write.parquet(str(tmp))
        import os

        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        shutil.copy(tmp / part, in_dir / f"{name}.parquet")

    for i in range(3):  # first wave: 3 files
        dump(docs[i * 10 : (i + 1) * 10], f"a{i}")

    q = stream_extract(
        spark, str(in_dir), str(out_dir), str(ckpt), vocab, max_files_per_trigger=1
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()  # simulated kill at a trigger boundary
    rows_after_kill = spark.read.parquet(str(out_dir)).count()
    assert rows_after_kill > 0

    for i in range(3):  # second wave arrives while the job is down
        dump(docs[30 + i * 10 : 40 + i * 10], f"b{i}")

    q2 = stream_extract(
        spark, str(in_dir), str(out_dir), str(ckpt), vocab, max_files_per_trigger=1
    ).start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = sorted(
        map(str, spark.read.parquet(str(out_dir)).collect())
    )
    want = sorted(
        map(
            str,
            extract_sentences(
                explode_text_spans(docs_to_df(spark, docs)), vocab
            ).collect(),
        )
    )
    assert got == want  # exactly-once: no gaps, no duplicates
    assert len(got) > rows_after_kill  # the restart genuinely added work


def test_stream_extract_midbatch_failure_idempotent_replay(spark, tmp_path, vocab, sentences):
    """VERDICT r3 item 8: kill DURING a micro-batch, not between them — a
    poisoned partition fails the trigger after sibling tasks may already
    have written sink part-files.  The parquet sink's manifest commit log
    must (a) hide the torn batch from readers while the job is down and
    (b) replay it exactly once on restart from the same checkpoint."""
    import os
    import shutil

    from pyspark.sql import functions as F  # noqa: F811

    from kg.mention import EXTRACT_SCHEMA, explode_text_spans, extract_sentences
    from kg.synth import docs_to_df, synth_docs

    docs = synth_docs(60, sentences=sentences)
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    in_dir.mkdir()
    flag = str(tmp_path / "poison.flag")
    poison_doc = docs[40]["doc_id"]

    def dump(chunk, name):
        tmp = tmp_path / f"tmp_{name}"
        docs_to_df(spark, chunk).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        shutil.copy(tmp / part, in_dir / f"{name}.parquet")

    def poisoned_extract(stream_docs):
        ex = extract_sentences(explode_text_spans(stream_docs), vocab)

        def k(batches):
            import time as _t

            for pdf in batches:
                if os.path.exists(flag) and (pdf["doc_id"] == poison_doc).any():
                    _t.sleep(2)  # let sibling tasks finish + write sink files
                    raise RuntimeError("injected mid-batch partition failure")
                yield pdf

        return ex.mapInPandas(k, EXTRACT_SCHEMA)

    def start():
        stream = (
            spark.readStream.schema(docs_to_df(spark, docs[:1]).schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(str(in_dir))
        )
        return (
            poisoned_extract(stream)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .start()
        )

    # wave A commits cleanly
    dump(docs[:20], "a0")
    dump(docs[20:40], "a1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows_a = spark.read.parquet(str(out_dir)).count()
    assert rows_a > 0

    # wave B: 4 files in ONE trigger, one partition poisoned -> the batch
    # fails mid-flight with sibling task output already on disk
    open(flag, "w").close()
    for i in range(4):
        dump(docs[40 + i * 5 : 45 + i * 5], f"b{i}")
    q2 = start()
    failed = False
    try:
        q2.processAllAvailable()
    except Exception:  # noqa: BLE001 — StreamingQueryException wrapper
        failed = True
    finally:
        try:
            q2.stop()
        except Exception:  # noqa: BLE001
            pass
    assert failed, "poisoned partition must abort the micro-batch"
    # torn batch invisible: the sink's commit log hides any stray files
    assert spark.read.parquet(str(out_dir)).count() == rows_a

    # clear the fault, restart from the same checkpoint: the batch replays
    os.remove(flag)
    q3 = start()
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()

    got = sorted(map(str, spark.read.parquet(str(out_dir)).collect()))
    want = sorted(
        map(
            str,
            extract_sentences(
                explode_text_spans(docs_to_df(spark, docs)), vocab
            ).collect(),
        )
    )
    assert got == want  # exactly once: no gaps, no duplicated replay rows

"""The closed-loop workloads: one client, the next operation starts only
after the previous one returned and was checked.

- ``append_growth``: ``run_pipeline_append`` of 1% batches with disjoint
  doc_ids into a base built from parquet during setup; each batch swaps 5%
  of the sentence pool for lines with never-seen entity surfaces.
- ``query_leaves``: one pass over the ten ``bench.RELATIONAL_BENCH`` leaves
  of ``__spark_entry__.queries()`` with the noop sink, on generated tables.

Each workload has ``generate`` (inputs, a pure function of the seed),
``setup`` (writes inputs, computes the expected outputs, runs and checks
the bulk build or the oracle pass) and ``op`` (one checked operation; the
run times it, or runs it untimed as a warm-up).
"""

from __future__ import annotations

import hashlib
import os
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench.corpus import NOVEL_SHARE, Generator, entity_surfaces
from perfbench.metrics import QUERY_LEAVES
from perfbench.trace import STAGES, Tracer, pipeline_stage, spans_inside, union_length
from tools.check_oracles import table_hash

SENTENCE_MEMO = 65_536  # entries in the extract kernel's sentence memo (kg/mention.py)


@dataclass
class Op:
    """One checked operation: its wall, whether its output matched, and the
    per-layer values of a traced op."""

    wall: float
    ok: bool
    layers: dict[str, float] = field(default_factory=dict)
    executed: list[str] = field(default_factory=list)  # pipeline stages the op ran
    steal: float = 0.0  # host steal share during the op
    cpu: float = 0.0  # CPU seconds of the process tree during the op


def text_spans(docs: list[dict]) -> Counter:
    """Occurrences of each non-blank text span: what the extract stage sees."""
    return Counter(
        s["text"] for d in docs for s in d["spans"] if s["kind"] == "text" and s["text"].strip()
    )


class ExpectedCounts:
    """Mention and triple counts from the reference oracle
    (``kg.oracle.corpus_extract``), memoized per distinct sentence: the
    counts are per-sentence, so a corpus total is the occurrence-weighted
    sum."""

    def __init__(self, vocab):
        self.vocab = vocab
        self._memo: dict[str, tuple[int, int]] = {}

    def __call__(self, spans: Counter) -> tuple[int, int]:
        from kg.oracle import corpus_extract

        todo = [t for t in spans if t not in self._memo]
        pseudo = [
            {"doc_id": str(i), "spans": [{"kind": "text", "text": t, "media_ref": "", "offset": 0}]}
            for i, t in enumerate(todo)
        ]
        mentions, triples = corpus_extract(pseudo, self.vocab)
        nm = Counter(m["doc_id"] for m in mentions)
        nt = Counter(t["doc_id"] for t in triples)
        for i, t in enumerate(todo):
            self._memo[t] = (nm[str(i)], nt[str(i)])
        return (
            sum(n * self._memo[t][0] for t, n in spans.items()),
            sum(n * self._memo[t][1] for t, n in spans.items()),
        )


def write_docs(docs: list[dict], path: str) -> None:
    """The corpus as parquet, one file per core (one scan task each), in
    ``kg.synth``'s docs schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("doc_id", pa.string()),
        ("spans", pa.list_(pa.struct([
            ("kind", pa.string()), ("text", pa.string()),
            ("media_ref", pa.string()), ("offset", pa.int32()),
        ]))),
    ])
    n_files = len(os.sched_getaffinity(0))
    step = -(-len(docs) // n_files)
    os.makedirs(path)
    for i in range(n_files):
        part = docs[i * step : (i + 1) * step]
        pq.write_table(pa.Table.from_pylist(part, schema=schema), os.path.join(path, f"part-{i:03d}.parquet"))


def corpus_properties(docs: list[dict], spans: Counter) -> dict:
    return {
        "docs": len(docs),
        "text_spans": sum(spans.values()),
        "distinct_sentences": len(spans),
        "sentence_memo_entries": SENTENCE_MEMO,
        "distinct_surfaces": len(entity_surfaces(spans)),
    }


def spans_account(tracer: Tracer, label: str, t0: float, t1: float, executed: list[str]) -> bool:
    """The accounting check of a traced pipeline op: every stage the
    pipeline reports executed has a span, and every span lies inside the
    op's wall (5 ms tolerance), so ``pipeline.stage_sum_s`` (their union)
    plus ``pipeline.driver_gap_s`` is the wall."""
    ran = {pipeline_stage(s.removesuffix("+append")) for s in executed}
    return ran <= tracer.op_stages(label) and spans_inside(tracer.op_spans(label), t0, t1, tol=0.005)


def pipeline_layers(tracer: Tracer, label: str, wall: float, n_docs: int,
                    before: dict[str, int], cat, executed: list[str]) -> dict[str, float]:
    """Per-layer values of one traced pipeline operation."""
    walls = tracer.stage_walls(label)
    t = tracer.timers[label]
    after = {s: (cat.manifest(s) or {}).get("rows", 0) for s in ("mentions", "linked_cc_sigs")}
    stage_sum = union_length(tracer.op_spans(label))
    cand = t.get("linking.candidate_pairs", 0.0)
    out = {
        "mention.extract_s": walls.get("extract", 0.0),
        "mention.extract_us_per_doc": walls.get("extract", 0.0) / max(n_docs, 1) * 1e6,
        "mention.explode_s": walls.get("mentions", 0.0) + walls.get("triples", 0.0),
        "mention.rows": float(after["mentions"] - before.get("mentions", 0)),
        "keyphrase.s": walls.get("keyphrases", 0.0),
        "invariant.passthrough_s": walls.get("documents_out", 0.0),
        "linking.distinct_mentions": float(after["linked_cc_sigs"]),
        "linking.delta_mentions": float(after["linked_cc_sigs"] - before.get("linked_cc_sigs", 0)),
        "linking.verify_yield": t.get("linking.verified_edges", 0.0) / cand if cand else 0.0,
        "graph.nodes_s": walls.get("nodes", 0.0),
        "graph.edges_s": walls.get("edges", 0.0),
        "graph.edges_incremental": 1.0 if "edges+append" in executed else 0.0,
        "pipeline.stage_sum_s": stage_sum,
        "pipeline.driver_gap_s": wall - stage_sum,
    }
    for k in ("invariant.check_s", "linking.signatures_s", "linking.candidates_s", "linking.cc_s",
              "linking.candidate_pairs", "linking.verified_edges", "catalog.write_s",
              "catalog.append_s", "catalog.read_s", "catalog.lineage_s"):
        out[k] = t.get(k, 0.0)
    ledger = cat.ledger()
    out["catalog.files"] = float(len(ledger))
    out["catalog.mb"] = sum(r["bytes"] for r in ledger) / (1024 * 1024)
    return out


class AppendGrowth:
    """Setup builds the base corpus (cold JVM); each op folds one 1% batch
    into it."""

    name = "append_growth"
    N_DOCS = 8_000
    POOL_LINES = 4096
    BATCH_DOCS = 80  # 1% of the base corpus
    NOMINAL_OP_S = 10.0  # an append's wall on a quiet 4-core host

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.properties: dict = {}

    def generate(self):
        from kg.synth import synth_docs

        gen = Generator(self.seed)
        pool = gen.pool(self.POOL_LINES)
        return gen, pool, synth_docs(self.N_DOCS, seed=self.seed, sentences=pool)

    def digest(self, inputs) -> str:
        return hashlib.sha256(repr(inputs[2]).encode()).hexdigest()

    def _check(self, cat) -> bool:
        want = {"documents": self.n_docs, "mentions": self.want_mentions, "triples": self.want_triples}
        return all((cat.manifest(s) or {}).get("rows") == n for s, n in want.items())

    def setup(self, inputs) -> Op:
        from kg.pipeline import run_pipeline
        from kg.synth import corpus_vocab

        self.gen, self.pool, docs = inputs
        # one vocab for the base and every batch (append == fresh needs it)
        self.vocab = corpus_vocab(self.pool + [self.gen.alphabet_line()])
        self.expect = ExpectedCounts(self.vocab)
        spans = text_spans(docs)
        self.want_mentions, self.want_triples = self.expect(spans)
        self.n_docs = len(docs)
        self.base_surfaces = entity_surfaces(spans)
        self.properties = corpus_properties(docs, spans) | {
            "batch_docs": self.BATCH_DOCS, "novel_share": NOVEL_SHARE,
            "expected_mentions": self.want_mentions, "expected_triples": self.want_triples,
            "batch_novel_surfaces": [],
        }
        self.base = os.path.join(self.work, "ckpt")
        path = os.path.join(self.work, "base")
        write_docs(docs, path)
        t0 = time.perf_counter()
        res = run_pipeline(
            self.spark, self.spark.read.parquet(path), self.base,
            vocab=self.vocab, input_token=f"perfbench:{self.seed}:base",
        )
        wall = time.perf_counter() - t0
        self.batch = 0
        return Op(wall, res.invariant_violations == 0 and self._check(res.catalog))

    def _batch_docs(self) -> list[dict]:
        from kg.synth import synth_docs

        k = self.batch
        sentences = self.gen.batch_sentences(self.pool, k)
        docs = synth_docs(self.BATCH_DOCS, seed=self.seed * 1000 + k + 1, sentences=sentences)
        for d in docs:
            d["doc_id"] = f"batch{k:03d}-{d['doc_id']}"
        return docs

    def op(self, label: str, tracer: Tracer | None, cpu: Callable[[], float]) -> Op:
        from kg.catalog import StageCatalog
        from kg.pipeline import run_pipeline_append
        from kg.synth import docs_to_df

        docs = self._batch_docs()
        spans = text_spans(docs)
        novel = entity_surfaces(spans) - self.base_surfaces
        self.properties["batch_novel_surfaces"].append(len(novel))
        dm, dt = self.expect(spans)
        self.want_mentions += dm
        self.want_triples += dt
        self.n_docs += len(docs)
        batch_df = docs_to_df(self.spark, docs)
        cat = StageCatalog(self.spark, self.base)
        before = {s: (cat.manifest(s) or {}).get("rows", 0) for s in ("mentions", "linked_cc_sigs")}
        if tracer:
            tracer.begin_op(label)
        c0 = cpu()
        t0 = time.perf_counter()
        res = run_pipeline_append(
            self.spark, batch_df, self.base, vocab=self.vocab,
            input_token=f"perfbench:{self.seed}:batch{self.batch}",
        )
        t1 = time.perf_counter()
        c1 = cpu()
        self.batch += 1
        ok = bool(novel) and res.invariant_violations == 0 and self._check(res.catalog)
        layers = {}
        if tracer:
            layers = pipeline_layers(tracer, label, t1 - t0, len(docs), before, res.catalog, res.executed)
            ok = ok and spans_account(tracer, label, t0, t1, res.executed)
        return Op(t1 - t0, ok, layers, res.executed, cpu=c1 - c0)


class QueryLeaves:
    name = "query_leaves"
    SF = 0.02
    NOMINAL_OP_S = 8.0  # a pass's wall on a quiet 4-core host

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.properties: dict = {}

    def generate(self):
        from perfbench import tables

        return tables.generate(self.seed, self.SF)

    def digest(self, inputs) -> str:
        import pyarrow as pa

        h = hashlib.sha256()
        for name in sorted(inputs):
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, inputs[name].schema) as w:
                w.write_table(inputs[name])
            h.update(name.encode())
            h.update(sink.getvalue())
        return h.hexdigest()

    def setup(self, inputs) -> Op:
        from perfbench import tables

        self.sf_dir = os.path.join(self.work, "tables")
        tables.write(inputs, self.sf_dir)
        self.properties = {"sf": self.SF, "table_rows": {k: t.num_rows for k, t in inputs.items()}}
        import __spark_entry__ as entry

        self.queries = entry.queries()
        t0 = time.perf_counter()
        mismatched = self._check_oracles(entry)
        self.properties["oracle_mismatches"] = mismatched
        return Op(time.perf_counter() - t0, not mismatched)

    def _oracle_sqls(self, entry) -> dict[str, str]:
        """The ten leaves' entries of ``__spark_entry__.oracle_sql()``, built
        from the same helpers it uses.  The full ``oracle_sql()`` also builds
        the kg_* oracles, which need the reference corpus and write dimension
        tables under /tmp; the simhash word table is redirected into the
        run's own directory here."""
        import kg.oracle_tables as oracle_tables

        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.sf_dir
        words = os.path.join(self.work, "simhash_words.parquet")
        saved = oracle_tables.ensure_simhash_words
        oracle_tables.ensure_simhash_words = lambda docs, fingerprint="": simhash_words(docs, words)
        try:
            sqls = entry._oracle_sql_static()
            sqls["simhash"] = entry._simhash_sql()
            sqls["simhash_neardup"] = entry._simhash_neardup_sql()
            sqls["minhash_clusters"] = entry._minhash_clusters_sql()
        finally:
            oracle_tables.ensure_simhash_words = saved
        return {q: sqls[q] for q in QUERY_LEAVES}

    def _check_oracles(self, entry) -> list[str]:
        """Names of leaves whose collected result differs from DuckDB's
        (row count, column names, dtypes, order-insensitive value hash)."""
        import duckdb

        sqls = self._oracle_sqls(entry)
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings", "lineitem", "orders", "customer", "nation"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
            bad = []
            for q in QUERY_LEAVES:
                got = frame_signature(self.queries[q](self.spark, self.sf_dir).toPandas())
                if got != frame_signature(con.execute(sqls[q]).df()):
                    bad.append(q)
            return bad
        finally:
            con.close()

    def op(self, label: str, tracer: Tracer | None, cpu: Callable[[], float]) -> Op:
        walls = {}
        c0 = cpu()
        t0 = time.perf_counter()
        for q in QUERY_LEAVES:
            t = time.perf_counter()
            self.queries[q](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            walls[f"query.{q}_s"] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        return Op(wall, True, walls if tracer else {}, cpu=cpu() - c0)


def simhash_words(documents_parquet: str, path: str) -> str:
    """The (word, h) table ``kg.oracle_tables.ensure_simhash_words`` builds
    for the simhash oracles, written to ``path`` instead of its fixed /tmp
    cache so the run writes only inside its own directory.  A test checks
    that both give the same table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kg.xxh64 import xxh64_str

    if not os.path.exists(path):
        texts = pq.read_table(documents_parquet, columns=["text"]).column("text").to_pylist()
        vocab = sorted({w for t in texts for w in (t or "").split(" ") if w})
        pq.write_table(pa.table({
            "word": pa.array(vocab, pa.string()),
            "h": pa.array([xxh64_str(w) for w in vocab], pa.int64()),
        }), path)
    return path


def frame_signature(df) -> tuple:
    """(row count and order-insensitive value hash, sorted column names,
    dtypes): the comparison ``tools/check_oracles.py`` makes."""
    cols = list(df.columns)
    return (
        table_hash(cols, list(df.itertuples(index=False))), sorted(cols),
        {c: str(t) for c, t in df.dtypes.items()},
    )


WORKLOADS = {w.name: w for w in (AppendGrowth, QueryLeaves)}


def spark_layers(folded: dict[str, dict[str, float]], label: str) -> dict[str, float]:
    """``spark.<stage>.<metric>`` of one traced op from the folded event log."""
    return {
        f"spark.{stage}.{m}": folded.get(f"{stage}@{label}", {}).get(m, 0.0)
        for stage in STAGES
        for m in ("cpu_s", "gc_s", "shuffle_mb", "spill_mb", "skew")
    }

"""End-to-end KG-construction pipeline with checkpointed, resumable stages.

``STAGES`` is the stage DAG; each stage is a committed parquet checkpoint
via kg/catalog.py:

    documents ──> extract ──> mentions ──> linked ──> nodes
        │            └──────> triples ───────┴─────> edges
        ├──────> keyphrases
        └──────> documents_out (span-sequence invariant proof)

One function, ``_fold``, runs the table for a fresh run, an append and a
resume, and takes one path per stage:

1. skip the stage if it is complete for its current inputs;
2. otherwise take its increment if the call has a batch, the stage's
   manifest records its inputs' pre-batch fingerprints, and every input
   took its increment in this call (``documents`` always does: it is the
   batch);
3. otherwise rebuild it from the committed inputs.

The increments: the per-document stages file-append the batch's rows,
``linked`` refreshes its signature table from the batch's mentions
(``_run_linked_stage``), ``nodes`` merges the batch's counts into
``nodes_mtc``, and ``edges`` appends the batch's edges when no old
canonical moved and its doc_ids are new.  A fresh run is ``_fold`` with no
batch, and so is an append whose batch is already folded in (a retried or
interrupted append): every stage left stale by an interrupted append is
rebuilt.

The vocabulary-sized tail — the signature delta, the linked map,
``nodes_mtc`` and nodes, whose inputs are sized by the distinct mentions,
not the corpus — runs on the driver while the signature table holds at
most ``kg.linking.DRIVER_LINK_MAX_MENTIONS`` rows (``links_on_driver``):
the increments are read through Arrow, merged in pandas and committed
from ``pyarrow.Table``s by ``StageCatalog.write``/``append``, so an append
runs no Spark job in linked or nodes.  The side is decided once per call,
from the signature table's manifest: an append reads it before the batch
(so the driver may hold up to the bound plus one batch's new mentions),
a fresh run or resume after the table is refreshed.  A fresh run below
the bound counts mentions in one Spark aggregation and builds nodes from
it on the driver too.  Above the bound all of it is Spark.

Shuffle budget at scale (SURVEY.md §4): documents→extract is shuffle-free
(narrow explode + mapInPandas over input splits); mentions/triples are
narrow explodes of the extract checkpoint; the first shuffles appear at
entity linking (distinct mentions; the LSH bucket join only above the
bound) and the grouping aggregations of edges, and of nodes above the bound
(below it, the one mention-count aggregation of a rebuild) — all keyed,
AQE-coalesced, skew-join protected.

Scheduling: each stage is submitted as soon as its inputs commit, to the
executor ``_stage_executor`` sizes from the committed corpus.
``PipelineResult.executed`` is canonical DAG order whatever the completion
order.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Mapping
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.catalog import StageCatalog
from kg.graph import (
    build_edges,
    build_nodes_from_counts,
    mention_tag_counts,
    merge_counts_local,
    nodes_from_counts_local,
)
from kg.invariant import passthrough_docs, span_violations
from kg.keyphrase import keyphrases_table
from kg.linking import link_committed, links_on_driver, signature_base
from kg.mention import explode_text_spans, extract_sentences, mentions_table, triples_table
from kg.synth import corpus_vocab
from kg.tokenizer import Vocab


class _SerialExecutor:
    """Drop-in ThreadPoolExecutor stand-in that runs submit() inline on the
    calling thread — the serial scheduling path, same code shape."""

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def submit(self, fn, *args, **kwargs) -> Future:
        f: Future = Future()
        try:
            f.set_result(fn(*args, **kwargs))
        except BaseException as e:  # noqa: BLE001 — mirror executor semantics
            f.set_exception(e)
        return f


# Graduated overlap width (r6).  4-way submission wins only in the
# micro-stage regime where per-stage fixed costs dominate; calibrated
# between the measured 4-way win at local[32]/100k docs (3.1k docs/slot:
# 38s -> 21s), the r6 3-pair interleaved win at the 550k-doc append tail
# (17.2k docs/slot: serial [25.4,12.9,13.2]s vs [15.7,12.1,10.0]s), and
# the measured 4-way LOSS at 31k docs/slot (1M fresh run, 39.8s vs 36.9s).
STAGE_OVERLAP_MAX_ROWS_PER_SLOT = 24_000
# Past that, TWO jobs in flight keep winning long after four stop (guide
# §2.6: "2-3 jobs in flight is plenty" — the second job back-fills the
# first's commit tails without the 4-way thrash).  Measured r6, every
# interleaved pair: local[32]/1M (31k docs/slot) serial [26.1,23.2,23.8]s
# vs 2-way [17.9,16.4,16.8]s; local[32]/4M (125k/slot) [61.4,59.1] vs
# [48.4,49.9]; PINNED local[8]/4M (500k/slot) [102.6,114.2] vs
# [88.4,86.0].  Above the measured 512k-docs/slot win boundary the r5
# evidence (4-way collapse at 2M docs/slot, every overlapped stage's wall
# grew to the group total at pinned local[8]/16M; no 2-way measurement
# there) makes serial the conservative 100-TB default.
STAGE_OVERLAP2_MAX_ROWS_PER_SLOT = 512_000
# The r6 figures above were measured with fixed stage groups: extract and
# linked on the calling thread, the four per-document siblings as one pooled
# group, then nodes, edges and the invariant check as another.  ``_fold``
# submits each stage when its inputs commit, so above 8 slots extract and
# linked take pool workers, keyphrases and documents_out may start before
# mentions, and the invariant check can overlap linking.  Those overlap sets
# are unmeasured at these widths (ROADMAP item 3).


def _stage_executor(spark: SparkSession, n_rows: int = 0):
    """How many stages run at once, from the corpus rows per task slot:
    serial below 8 slots and above ``STAGE_OVERLAP2_MAX_ROWS_PER_SLOT``,
    4 up to ``STAGE_OVERLAP_MAX_ROWS_PER_SLOT``, 2 between."""
    slots = spark.sparkContext.defaultParallelism
    per_slot = n_rows / max(slots, 1)
    if slots < 8 or per_slot > STAGE_OVERLAP2_MAX_ROWS_PER_SLOT:
        return _SerialExecutor()
    workers = 4 if per_slot <= STAGE_OVERLAP_MAX_ROWS_PER_SLOT else 2
    return ThreadPoolExecutor(max_workers=workers, thread_name_prefix="kg-stage")


def _run_linked_stage(
    cat: StageCatalog,
    batch: tuple[str, list[str]] | None = None,
    on_driver: bool | None = None,
) -> bool:
    """Refresh the durable signature table, then compute-or-skip the linked
    stage KEYED ON THE SIGNATURE TABLE's fingerprint (r6).  Returns
    ``on_driver``: whether the vocabulary-sized tail (signature delta,
    linked, ``nodes_mtc``, nodes) runs on the driver.  The caller decides it
    once per call (``_Fold``: an append from the pre-batch signature table);
    None decides it here, from the refreshed table (a fresh run or resume).

    The linked map is a pure function of the distinct-mention set, which
    the signature table captures exactly.  Keyed on the signature table, a
    batch that introduces no never-seen mention (the steady-state growth
    mode of a Zipf corpus) skips bucket join + verify + CC outright; any
    new or removed mention changes the signature fingerprint and
    recomputes.

    Signature refresh: every commit of ``linked_cc_sigs`` records the
    mentions fingerprint it covers (``extra_inputs={"mentions": fp}``, the
    ``nodes_mtc`` pattern).  When it matches the current mentions table
    nothing is read at all.  On an append, ``batch`` is (pre-append
    mentions fingerprint, the files of the mentions increment); when the
    table is anchored on that pre-append fingerprint, the delta is the
    batch's distinct mentions left-anti the table — no job scans the full
    mentions table, and on the driver none runs at all: the increment's
    mention column is read through Arrow and the delta signed and appended
    in-process.  Otherwise (first run, changed corpus, a crash between the
    two commits) ``signature_base`` reconciles against the full mention set.

    Linking runs on the driver (one Arrow read, the map committed from a
    ``pyarrow.Table``, no Spark job and no ``linked_cc_*`` round commits)
    while the signature table holds at most
    ``kg.linking.DRIVER_LINK_MAX_MENTIONS`` rows, distributed above
    (``kg.linking.link_committed``).  The bound caps the driver's memory:
    the driver path used less CPU and wall at every measured size (the
    table is at the constant).
    """
    anchor = {"mentions": cat.fingerprint("mentions")}
    if not cat.is_complete("linked_cc_sigs", extra_inputs=anchor):
        grown = batch is not None and cat.is_complete(
            "linked_cc_sigs", extra_inputs={"mentions": batch[0]}
        )
        if not grown:
            mentions = cat.read("mentions").select("mention").distinct()
        elif on_driver:
            batch_mentions = cat.read_arrow("mentions", ["mention"], files=batch[1])
            mentions = batch_mentions.column("mention").unique().to_pylist()
        else:
            mentions = cat.read("mentions", files=batch[1]).select("mention").distinct()
        signature_base(
            mentions, catalog=cat, stage_name="linked_cc_sigs", anchor=anchor, increment=grown,
        )
    if on_driver is None:
        on_driver = links_on_driver(cat, "linked_cc_sigs")
    cat.run(
        "linked",
        lambda: link_committed(cat, "linked_cc_sigs", on_driver, stage_prefix="linked_cc"),
        inputs=["linked_cc_sigs"],
    )
    return on_driver


@dataclass(frozen=True)
class Stage:
    """One node of the DAG.  ``build`` returns the stage's rows from the
    committed inputs (a DataFrame, or a ``pyarrow.Table`` built on the
    driver); ``increment`` returns the batch's rows to file-append, or None
    when a precondition of its own fails (the stage then rebuilds).  A
    stage with ``own_commit`` keys and commits its checkpoint itself, and
    ``build`` returns nothing (its reader opens on first use)."""

    name: str
    inputs: tuple[str, ...]
    build: Callable[[_Fold], object]
    increment: Callable[[_Fold], DataFrame | None] | None = None
    partition_by: tuple[str, ...] | None = None
    own_commit: bool = False


def _per_document(name: str, source: str, rows: Callable) -> Stage:
    """A stage whose rows are a function of each document: ``rows(f, df)``
    over the committed ``source``, or over the rows the batch appended to
    it."""
    return Stage(
        name, (source,),
        lambda f: rows(f, f.read(source)),
        lambda f: rows(f, f.inc(source)),
    )


def _linked(f: _Fold) -> None:
    """linked's signature delta needs the batch's mentions, so it is handed
    the batch only when mentions took its increment; ``_run_linked_stage``
    checks the anchor itself.  linked then counts as incremented."""
    batch = None
    if "mentions" in f.incs:
        batch = (f.pre["mentions"], f.incs["mentions"])
    f.on_driver = _run_linked_stage(f.cat, batch, f.on_driver)
    if batch is not None:
        f.incs["linked"] = []


def _counts(f: _Fold):
    """The (mention, tag, cnt) statistic nodes derive from: a
    ``pyarrow.Table`` on the driver side of the bound (``f.on_driver``), a
    DataFrame otherwise.  A call without a batch counts all mentions in one
    Spark aggregation (pulled through Arrow on the driver side).  A call
    with one keeps the statistic as ``nodes_mtc`` for the next append: the
    batch's counts merged in when rule 2 holds for it (on the driver, the
    committed counts and the increment's mention rows are read through
    Arrow and summed in pandas), counted from all mentions otherwise."""
    cat = f.cat

    def all_counts():
        counts = mention_tag_counts(f.read("mentions"))
        return counts.toArrow() if f.on_driver else counts

    def merged():
        if not f.incremental("nodes_mtc", ("mentions",)):
            return all_counts()
        if not f.on_driver:
            return (
                cat.read("nodes_mtc")
                .unionByName(mention_tag_counts(f.inc("mentions")))
                .groupBy("mention", "tag")
                .agg(F.sum("cnt").cast("long").alias("cnt"))
            )
        rows = cat.read_arrow("mentions", ["mention", "tag"], files=f.incs["mentions"])
        return merge_counts_local(cat.read_arrow("nodes_mtc"), rows)

    if f.batch is None:
        return all_counts()
    counts = cat.run("nodes_mtc", merged, inputs=["mentions"])
    return cat.read_arrow("nodes_mtc") if f.on_driver else counts


def _nodes(f: _Fold):
    """nodes from the additive (mention, tag, cnt) statistic (``_counts``):
    built on the driver as a ``pyarrow.Table`` below the bound, by Spark
    above it — one nodes path on each side."""
    counts = _counts(f)
    if f.on_driver:
        linked = f.cat.read_arrow("linked").to_pandas()
        return nodes_from_counts_local(counts.to_pandas(), linked)
    return build_nodes_from_counts(counts, f.read("linked"))


def _linked_map(cat: StageCatalog) -> dict[str, str]:
    table = cat.read_arrow("linked")
    return dict(zip(table.column("mention").to_pylist(), table.column("canonical").to_pylist()))


def _edges_delta(f: _Fold) -> DataFrame | None:
    """The batch's edges, when appending them equals a rebuild: edges group
    by (subj, pred, obj, doc_id), so a batch whose doc_ids are all new
    touches no old group, and when no old mention's canonical moved (a new
    mention joining an old component can rename it) every old row is
    unchanged.  Canonical stability is checked first — on the driver side
    of the bound from the old and new maps read through Arrow — so a batch
    that renames a component (the common case) never scans the documents
    table for its doc_ids."""
    if f.on_driver:
        new = _linked_map(f.cat)
        moved = any(new.get(m) != c for m, c in f.old_map.items())
    else:
        moved = not (
            f.old_linked.withColumnRenamed("canonical", "old_canonical")
            .join(f.read("linked"), "mention")
            .where(F.col("old_canonical") != F.col("canonical"))
            .isEmpty()
        )
    if moved:
        return None
    old_doc_ids = f.cat.read("documents", files=f.old_docs).select("doc_id")
    if not f.batch.select("doc_id").join(old_doc_ids, "doc_id", "left_semi").isEmpty():
        return None
    return build_edges(f.inc("triples"), f.read("linked"))


# Published hive-partitioned on their dominant access key (VERDICT r2 item
# 6): nodes by entity kind, edges by predicate — low-cardinality columns, so
# file counts stay bounded while kind-/pred-selective readers prune at the
# scan (tests/test_plans.py::test_published_tables_prune_partitions).
STAGES = (
    Stage("documents", (), lambda f: f.docs, lambda f: f.batch),
    _per_document(
        "extract", "documents",
        lambda f, d: extract_sentences(explode_text_spans(d), f.vocab),
    ),
    _per_document("mentions", "extract", lambda f, d: mentions_table(d)),
    _per_document("triples", "extract", lambda f, d: triples_table(d)),
    Stage("linked", ("mentions",), _linked, own_commit=True),
    Stage("nodes", ("mentions", "linked"), _nodes, partition_by=("kind",)),
    Stage(
        "edges", ("triples", "linked"),
        lambda f: build_edges(f.read("triples"), f.read("linked")),
        _edges_delta, partition_by=("pred",),
    ),
    _per_document("keyphrases", "documents", lambda f, d: keyphrases_table(d)),
    _per_document("documents_out", "documents", lambda f, d: passthrough_docs(d)),
)
_NAMES = tuple(st.name for st in STAGES)


class _Fold:
    """One call's state: the batch (None for a fresh run or resume), every
    stage input's fingerprint before the call, the increments taken, and
    the checkpoint readers opened."""

    def __init__(self, cat, vocab, docs, token, tokens, batch):
        self.cat, self.vocab, self.docs, self.batch = cat, vocab, docs, batch
        self.extra = {"documents": {"__input__": token}}
        self.meta = {"documents": {"batch_tokens": tokens}}
        self.pre = {i: cat.fingerprint(i) for st in STAGES for i in st.inputs}
        self.incs: dict[str, list[str]] = {}  # increments taken -> files appended
        self.inc_tables: dict[str, DataFrame] = {}
        self.tables: dict[str, DataFrame] = {}
        self.timings: dict[str, float] = {}
        # which side of the bound the vocabulary-sized tail runs on, decided
        # once per call: for an append, here, from the pre-batch signature
        # table; otherwise by the linked stage, from the refreshed one
        self.on_driver = links_on_driver(cat, "linked_cc_sigs") if batch is not None else None
        self.old_map = self.old_linked = self.old_docs = None
        if batch is not None and self.anchored("edges", ("triples", "linked")):
            # edges' increment compares against the pre-batch map (a driver
            # dict on the driver side) and doc_ids (read only if no
            # canonical moved); the linked dir is overwritten below,
            # documents grows
            docs_dir = cat.data_dir("documents")
            self.old_docs = [
                os.path.join(docs_dir, x["file"]) for x in cat.manifest("documents")["files"]
            ]
            if self.on_driver:
                self.old_map = _linked_map(cat)
            else:
                self.old_linked = cat.read("linked").localCheckpoint()

    def read(self, stage: str) -> DataFrame:
        if stage not in self.tables:
            self.tables[stage] = self.cat.read(stage)
        return self.tables[stage]

    def inc(self, stage: str) -> DataFrame:
        """Reader of the rows ``stage`` appended in this call, opened on first
        use.  An append that wrote no file (a partitioned write of no rows)
        reads as the stage's schema with no rows."""
        if stage not in self.inc_tables:
            self.inc_tables[stage] = self.cat.read(stage, files=self.incs[stage])
        return self.inc_tables[stage]

    def anchored(self, stage: str, inputs) -> bool:
        """The stage's manifest records its inputs' pre-batch fingerprints."""
        return self.cat.is_complete(stage, extra_inputs={i: self.pre[i] for i in inputs})

    def incremental(self, stage: str, inputs) -> bool:
        """Rule 2 (module docstring) for ``stage``."""
        return (
            self.batch is not None
            and all(i in self.incs for i in inputs)
            and self.anchored(stage, inputs)
        )

    def step(self, st: Stage) -> None:
        """Run one stage by the rule; its timing covers the commit (a
        precondition an increment checks runs before the clock starts)."""
        cat, name = self.cat, st.name
        kw = {
            "inputs": st.inputs, "partition_by": st.partition_by,
            "extra_inputs": self.extra.get(name), "meta": self.meta.get(name),
        }
        rows = None
        if st.increment and self.incremental(name, st.inputs):
            if not cat.is_complete(name, st.inputs, kw["extra_inputs"]):
                rows = st.increment(self)
        t0 = time.perf_counter()
        if rows is not None:
            self.incs[name] = cat.append(name, rows, **kw)
            name += "+append"
        elif st.own_commit:
            st.build(self)
        else:
            self.tables[name] = cat.run(name, lambda: st.build(self), **kw)
        self.timings[name] = round(time.perf_counter() - t0, 3)

    def check(self) -> int:
        """Span invariant over what this call wrote: the batch when
        documents_out took its increment, the whole table otherwise (the
        property is per document, so the proofs compose)."""
        t0 = time.perf_counter()
        if "documents_out" in self.incs:
            docs, out = self.inc("documents"), self.inc("documents_out")
        else:
            docs, out = self.read("documents"), self.read("documents_out")
        n = span_violations(docs, out).count()
        self.timings["invariant_check"] = round(time.perf_counter() - t0, 3)
        return n


def _task(name: str, fn, *args):
    """``fn(*args)`` under ``name``: a stage's task is ``_<stage>_stage``, the
    name a tracer attributes its whole run by (perfbench/trace.py spans
    nodes and edges that way)."""
    def task():
        return fn(*args)

    task.__name__ = name
    return task


def _ledger(executed: list[str]) -> list[str]:
    """``executed`` in canonical DAG order: appended stages, then the rest.
    Stages outside the table (signature table, CC rounds, ``nodes_mtc``)
    keep their commit order, placed before linked."""
    aux = [s for s in executed if s.removesuffix("+append") not in _NAMES]
    return [f"{s}+append" for s in _NAMES if f"{s}+append" in executed] + [
        x for s in _NAMES
        for x in (aux if s == "linked" else []) + ([s] if s in executed else [])
    ]


def input_fingerprint(docs: DataFrame) -> str:
    """Order-independent content fingerprint of the input corpus.

    One scan (bit_xor of per-row xxhash64 + count — xor, not sum: ANSI mode
    makes long sums overflow) so a resumed run detects a changed input and
    recomputes from the top; callers that already version their input
    (Iceberg snapshot id) can pass that instead via the stage's
    ``extra_inputs`` and skip the scan.
    """
    row = docs.select(
        F.bit_xor(F.xxhash64("doc_id", F.to_json("spans"))).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


class _LazyTables(Mapping):
    """Mapping of stage name -> committed checkpoint reader that defers the
    ``StageCatalog.read`` (file listing + schema job) until first access."""

    def __init__(self, cat: StageCatalog, stages, seed=None):
        self._cat = cat
        self._stages = tuple(stages)
        self._cache: dict[str, DataFrame] = dict(seed or {})

    def __getitem__(self, key: str) -> DataFrame:
        if key not in self._cache:
            if key not in self._stages:
                raise KeyError(key)
            self._cache[key] = self._cat.read(key)
        return self._cache[key]

    def __iter__(self):
        return iter(self._stages)

    def __len__(self) -> int:
        return len(self._stages)


@dataclass
class PipelineResult:
    """``tables`` maps each of the nine published stages to a reader of its
    committed checkpoint: the readers opened during the run, and for the
    stages the run appended to, a reader opened on first access (one file
    listing + schema job each) of whatever that stage has committed then."""

    tables: Mapping[str, DataFrame]
    catalog: StageCatalog
    executed: list[str] = field(default_factory=list)
    invariant_violations: int = 0
    timings: dict[str, float] = field(default_factory=dict)

    def counts(self) -> dict[str, int]:
        return {name: self.catalog.manifest(name)["rows"] for name in self.tables}


def _fold(cat, vocab, check_invariant, docs, token, tokens, batch=None) -> PipelineResult:
    """Run ``STAGES`` over ``cat`` by the rule in the module docstring.
    ``docs`` is the input a rebuilt documents stage commits, ``token`` its
    ``__input__`` version, ``tokens`` its batch ledger."""
    f = _Fold(cat, vocab or corpus_vocab(), docs, token, tokens, batch)
    f.step(STAGES[0])  # documents first: the width is sized on the committed corpus
    tasks = [(st.name, st.inputs, _task(f"_{st.name}_stage", f.step, st)) for st in STAGES[1:]]
    if check_invariant:
        tasks.append(("invariant", ("documents_out",), _task("_check", f.check)))
    done = {"documents": None}
    running: dict[Future, str] = {}
    with _stage_executor(cat.spark, cat.manifest("documents")["rows"]) as ex:
        while tasks or running:
            for t in [t for t in tasks if set(t[1]) <= done.keys()]:
                tasks.remove(t)
                fut = ex.submit(t[2])
                if fut.done():  # serial: a failed stage stops the fold here
                    done[t[0]] = fut.result()
                else:
                    running[fut] = t[0]
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                done[running.pop(fut)] = fut.result()
    violations = done.get("invariant", 0)
    if violations:
        raise AssertionError(f"span-sequence invariant violated for {violations} docs")
    return PipelineResult(
        tables=_LazyTables(cat, _NAMES, f.tables),
        catalog=cat,
        executed=_ledger(cat.executed),
        invariant_violations=violations,
        timings=f.timings,
    )


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    base_dir: str,
    vocab: Vocab | None = None,
    check_invariant: bool = True,
    input_token: str | None = None,
) -> PipelineResult:
    """``input_token``: caller-supplied input version (Iceberg snapshot id,
    synth parameters, ...).  When given, the change-detection scan of the
    input is skipped — the token is the fingerprint."""
    cat = StageCatalog(spark, base_dir)
    token = input_token or input_fingerprint(docs)
    # explicit folded-batch ledger (ADVICE r3): appended batch identity is
    # tested by list membership, never by substring games on tokens that
    # may themselves contain '+'
    return _fold(cat, vocab, check_invariant, docs, token, [token])


def run_pipeline_append(
    spark: SparkSession,
    new_docs: DataFrame,
    base_dir: str,
    vocab: Vocab | None = None,
    check_invariant: bool = True,
    input_token: str | None = None,
) -> PipelineResult:
    """Incrementally fold a NEW batch of documents into a completed run.

    The 100-TB shape of corpus growth: per-document stages (extract —
    the dominant cost — mentions, triples, keyphrases, the passthrough
    proof) are pure functions of each document, so the increment is
    computed ONLY for the new batch and appended file-wise through
    ``StageCatalog.append``; only the small shared tail is recomputed —
    linking (signatures only for the batch's never-seen mentions; the map
    over distinct mention strings, orders of magnitude smaller than the
    corpus; skipped when the batch adds no mention), nodes from the
    maintained ``nodes_mtc`` counts, and edges.  While the signature table
    holds at most ``kg.linking.DRIVER_LINK_MAX_MENTIONS`` rows, the
    signature delta, the map, ``nodes_mtc`` and nodes are computed and
    committed on the driver through Arrow, with no Spark job; above it they
    run on Spark.  A daily 1% batch therefore costs ~1% of extraction plus
    the tail, instead of a full recompute.

    Equality contract: append(A then B) produces the same nine tables as a
    fresh run over A∪B (tests/test_incremental.py) — entity ids are
    content hashes, linking covers the full distinct-mention set (the
    signature table), and aggregations are order-insensitive.

    ``input_token`` identifies the NEW batch; the documents stage records
    ``old_token+new_token`` and appends it to its ``batch_tokens`` ledger,
    so re-submitting ANY folded batch is a no-op that resumes whatever an
    interrupted append left stale.
    """
    cat = StageCatalog(spark, base_dir)
    for required in ("documents", "extract", "mentions", "triples"):
        if cat.manifest(required) is None:
            raise ValueError(
                f"run_pipeline_append requires a completed prior run; "
                f"stage {required!r} is not committed"
            )
    docs_manifest = cat.manifest("documents")
    old_token = docs_manifest["inputs"]["__input__"]
    folded = docs_manifest.get("batch_tokens")
    if folded is None:
        raise ValueError(
            f"documents manifest in {base_dir!r} has no batch_tokens ledger, "
            f"so the batches it holds are unknown"
        )
    new_token = input_token or input_fingerprint(new_docs)
    if new_token in folded:
        return _fold(
            cat, vocab, check_invariant, cat.read("documents"), old_token, folded
        )
    new_docs = new_docs.localCheckpoint()
    # Data-sized increment width (r6, guide §6 small-files): the batch DF
    # arrives at driver parallelism (32 partitions for a 5k-doc batch), so
    # every appended stage wrote 32 near-empty files per append — file
    # counts, task counts and footer reads all scale with appends instead
    # of data.  Re-width to ~16k docs/partition (floor 1, cap pool width):
    # increments stay wide enough for the extract kernel, and a 1% batch
    # appends 1 file per stage instead of 32.
    n_batch = new_docs.count()
    width = max(1, min(
        spark.sparkContext.defaultParallelism, -(-n_batch // 16_000)
    ))
    if width < new_docs.rdd.getNumPartitions():
        new_docs = new_docs.repartition(width).localCheckpoint()
    return _fold(
        cat, vocab, check_invariant, None, f"{old_token}+{new_token}",
        folded + [new_token], new_docs,
    )


def top_entity_pairs(edges: DataFrame, nodes: DataFrame, k: int = 20) -> DataFrame:
    """Flagship query: top canonical entity pairs by distinct-doc frequency."""
    pair_freq = (
        edges.groupBy("subj", "pred", "obj")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.sum("weight").alias("total_weight"),
        )
    )
    subj_names = nodes.select(
        F.col("entity_id").alias("subj"), F.col("canonical_text").alias("subj_text")
    )
    obj_names = nodes.select(
        F.col("entity_id").alias("obj"), F.col("canonical_text").alias("obj_text")
    )
    return (
        pair_freq.join(F.broadcast(subj_names), "subj")
        .join(F.broadcast(obj_names), "obj")
        .select("subj_text", "pred", "obj_text", "doc_freq", "total_weight")
        .orderBy(F.desc("doc_freq"), F.desc("total_weight"), "subj_text", "obj_text", "pred")
        .limit(k)
    )

"""End-to-end KG-construction pipeline with checkpointed, resumable stages.

``STAGES`` is the stage DAG; each stage is a committed parquet checkpoint
via kg/catalog.py:

    documents ──> extract ──> mentions ──> linked_cc_sigs ──> linked ──┐
        │            │           └──────> nodes_mtc ───────────> nodes <┤
        │            └──────> triples ─────────────────────────> edges <┘
        ├──────> keyphrases
        └──────> documents_out (span-sequence invariant proof)

Nine of them are published (``PipelineResult.tables``); the signature
table (``linked_cc_sigs``) and the (mention, tag, cnt) counts
(``nodes_mtc``) are read only by ``linked`` and ``nodes``.

One function, ``_fold``, runs the table for a fresh run, an append and a
resume, and ``_Fold.step`` takes one path per stage:

1. skip the stage if it is complete for its current inputs;
2. otherwise take its increment if the call has a batch, the stage's
   manifest records its inputs' pre-batch fingerprints, and every input
   took its increment in this call (``documents`` always does: it is the
   batch);
3. otherwise rebuild it from the committed inputs.

The increments: the per-document stages file-append the batch's rows, and
``linked_cc_sigs`` appends the signatures of the batch's never-seen
mentions (``_signature_delta``), or, with none, re-anchors the table on
the current mentions so that it and ``linked`` skip.  ``nodes_mtc``'s
rebuild merges the batch's counts into the committed ones when rule 2
holds for it, and counts all mentions otherwise (``_counts``).
``linked``, ``nodes`` and ``edges`` have no increment: a batch's new
mention can join an old component and rename it, and a reused doc_id
merges into an old group, so every call that changes their inputs
recomputes them.  A fresh run is ``_fold`` with no batch, and so is an
append whose batch is already folded in (a retried or interrupted
append): every stage left stale by an interrupted append is rebuilt.

The vocabulary-sized tail — the signature delta, the linked map,
``nodes_mtc`` and nodes, whose inputs are sized by the distinct mentions,
not the corpus — runs on the driver while the signature table holds at
most ``kg.linking.DRIVER_LINK_MAX_MENTIONS`` rows
(``_Fold.driver_tail``): the increments are read through Arrow, merged in
pandas and committed from ``pyarrow.Table``s by
``StageCatalog.write``/``append``, so an append runs no Spark job in
linked or nodes.  The side is decided once per call, from the signature
table's manifest: an append reads it before the batch (so the driver may
hold up to the bound plus one batch's new mentions), a fresh run or
resume on first use, after the table is refreshed.  A rebuild of
``nodes_mtc`` below the bound reads the mentions whole on the driver below
``DRIVER_BATCH_MAX_DOCS`` documents and counts them in pandas, in one Spark
aggregation pulled through Arrow above it, and builds nodes from the
counts on the driver too.  Above the bound all of it is Spark.

The edges recompute runs on the driver while the triples manifest holds
at most ``DRIVER_EDGES_MAX_TRIPLES`` rows, on a fresh run, an append and a
resume alike: the triples and the linked map are read through Arrow, the
edges built by ``kg.graph.edges_local`` and committed from the
``pyarrow.Table``.  Above the bound ``kg.graph.build_edges`` runs on Spark.

The five per-document stages and the span check run on the driver while
the documents manifest holds at most ``DRIVER_BATCH_MAX_DOCS`` rows, on
every call.  A rebuild reads its source's whole committed table through
Arrow (``StageCatalog.read_arrow``) or takes the one this call already
holds (``_Fold.whole``, where ``step`` holds every rebuild computed on
the driver), computes its rows with the ``*_local`` twin of its Spark
function and commits them from the ``pyarrow.Table``; a fresh run's
documents stage is written by Spark from the input, as above the bound,
and read back whole.  An append pulls its batch once, at most the bound
plus one row through Arrow (``_pull``), and when it fits computes each
increment from its source's increment, held apart from the whole tables
(``_Fold.held``), so a rebuild never reads a batch as its whole source.
From whole mentions, ``linked_cc_sigs`` signs the distinct mentions
in-process while they number at most the link bound, and ``nodes_mtc``
counts them in pandas; the span check compares the two tables exactly.
Below all three bounds a fresh run runs one Spark job, the documents
write (plus the input fingerprint scan when no ``input_token`` is given),
and an append runs the pull only.  Above the bound every stage runs on Spark.

Shuffle budget at scale (SURVEY.md §4): documents→extract is shuffle-free
(narrow explode + mapInPandas over input splits); mentions/triples are
narrow explodes of the extract checkpoint; the first shuffles appear at
entity linking (distinct mentions; the LSH bucket join only above the
bound) and the grouping aggregations of edges and nodes above their bounds
(below the link bound and above the batch bound, the one mention-count
aggregation of a rebuild) —
all keyed, AQE-coalesced, skew-join protected.

Scheduling: ``_fold`` runs the stages one after another in ``STAGES``
order on the calling thread, then the span check; ``STAGES`` lists every
stage after its inputs.  ``PipelineResult.executed`` lists the commits in
the order they were made, so an append's ``+append`` entries stand where
their stages ran, between the tail's rebuilds.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import kg.linking
from kg.catalog import StageCatalog
from kg.graph import (
    build_edges,
    build_nodes_from_counts,
    edges_local,
    mention_tag_counts,
    merge_counts_local,
    nodes_from_counts_local,
)
from kg.invariant import passthrough_docs, passthrough_local, span_violations, span_violations_local
from kg.keyphrase import keyphrases_local, keyphrases_table
from kg.linking import link_committed, links_on_driver, signature_base
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
from kg.synth import corpus_vocab
from kg.tokenizer import Vocab


class _InlineRunner:
    """Runs each submitted task at once on the calling thread and returns
    its result."""

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def submit(self, fn):
        return fn()


def _stage_executor() -> _InlineRunner:
    """The runner ``_fold`` hands each stage's task to.  The stages run in
    ``STAGES`` order on the calling thread; this seam exists only so a
    tracer can wrap the tasks it spans by name (perfbench/trace.py replaces
    this attribute and spans ``_nodes_stage``/``_edges_stage``), until stage
    spans move into ``_Fold.step`` (ROADMAP item 3)."""
    return _InlineRunner()


def _run_linked_stage(f: _Fold):
    """The linked map over the committed signature table: one
    ``link_committed`` call, on the side ``_Fold.driver_tail`` decides.

    The stage is KEYED ON THE SIGNATURE TABLE's fingerprint (r6): the
    linked map is a pure function of the distinct-mention set, which the
    signature table captures exactly, so a batch that introduces no
    never-seen mention (the steady-state growth mode of a Zipf corpus)
    leaves the table's data unchanged (``_signature_delta`` re-anchors
    it) and skips bucket join + verify + CC outright; any new or removed
    mention changes the fingerprint and relinks.

    Linking runs on the driver (one Arrow read, the map returned as a
    ``pyarrow.Table``, no Spark job and no ``linked_cc_*`` round commits)
    while the signature table holds at most
    ``kg.linking.DRIVER_LINK_MAX_MENTIONS`` rows, distributed above
    (``kg.linking.link_committed``).  The bound caps the driver's memory:
    the driver path used less CPU and wall at every measured size (the
    table is at the constant).
    """
    return link_committed(f.cat, "linked_cc_sigs", f.driver_tail(), stage_prefix="linked_cc")


@dataclass(frozen=True)
class Stage:
    """One node of the DAG.  ``build`` returns the stage's rows from the
    committed inputs (a DataFrame, or a ``pyarrow.Table`` built on the
    driver); ``increment`` returns the batch's rows to file-append (a
    DataFrame, or a ``pyarrow.Table`` computed on the driver), or None
    when the stage is already complete without them."""

    name: str
    inputs: tuple[str, ...]
    build: Callable[[_Fold], object]
    increment: Callable[[_Fold], object] | None = None
    partition_by: tuple[str, ...] | None = None


def _per_document(name: str, source: str, rows: Callable, local: Callable) -> Stage:
    """A stage whose rows are a function of each document: ``rows(f, df)``
    over the committed ``source``, or over the rows the batch appended to
    it.  On the driver, ``local(f, table)`` computes them instead: a
    rebuild from ``source``'s whole table (``_Fold.source``), and an
    increment from the batch's increment of ``source`` when that is held
    there (``_Fold.held``)."""

    def build(f: _Fold):
        table = f.source(source)
        return rows(f, f.read(source)) if table is None else local(f, table)

    def increment(f: _Fold):
        if source in f.held:
            return local(f, f.held[source])
        return rows(f, f.inc(source))

    return Stage(name, (source,), build, increment)


def _signatures(f: _Fold):
    """``linked_cc_sigs``' rebuild: the full distinct mention set signed
    (``signature_base``), in-process when this call holds the mentions
    whole (``_Fold.whole``) and they number at most
    ``kg.linking.DRIVER_LINK_MAX_MENTIONS`` (the bound on what the driver
    signs and links), else by the Arrow kernel over the committed
    table."""
    held = f.whole.get("mentions")
    if held is not None:
        distinct = held.column("mention").unique()
        if len(distinct) <= kg.linking.DRIVER_LINK_MAX_MENTIONS:
            return signature_base(distinct.to_pylist())
    return signature_base(f.read("mentions").select("mention").distinct())


def _signature_delta(f: _Fold):
    """``linked_cc_sigs``' increment: the signature rows of the batch's
    never-seen mentions (``signature_base`` against the committed table),
    taken from the batch's mentions on the driver side of the link bound
    (``_Fold.batch_arrow``: no job scans the full mentions table, and on
    the driver none runs at all), by a Spark left-anti join above it.
    With no never-seen mention the table is re-anchored on the current
    mentions and nothing is returned, so ``step`` skips the stage and
    ``linked`` skips too."""
    if f.driver_tail():
        mentions = f.batch_arrow("mentions", ["mention"]).column("mention").unique().to_pylist()
    else:
        mentions = f.inc("mentions").select("mention").distinct()
    rows = signature_base(mentions, f.cat, "linked_cc_sigs")
    if rows is None:
        f.cat.reanchor("linked_cc_sigs", {"mentions": f.cat.fingerprint("mentions")})
    return rows


def _counts(f: _Fold):
    """``nodes_mtc``' rows: the (mention, tag, cnt) statistic nodes derive
    from, a ``pyarrow.Table`` on the driver side of the link bound
    (``_Fold.driver_tail``), a DataFrame otherwise.  When rule 2 holds for
    it, the batch's counts merged into the committed ones (on the driver,
    the committed counts read through Arrow and the batch's mention rows
    (``_Fold.batch_arrow``) summed in pandas); otherwise counted from all
    mentions, on the driver side in pandas when the mentions are held
    whole or small enough to read whole (``_Fold.source``), else in one
    Spark aggregation (pulled through Arrow on the driver side)."""
    if f.incremental("nodes_mtc", ("mentions",)):
        if f.driver_tail():
            batch = f.batch_arrow("mentions", ["mention", "tag"])
            return merge_counts_local(f.cat.read_arrow("nodes_mtc"), batch)
        return (
            f.cat.read("nodes_mtc")
            .unionByName(mention_tag_counts(f.inc("mentions")))
            .groupBy("mention", "tag")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
    held = f.source("mentions") if f.driver_tail() else None
    if held is not None:
        return merge_counts_local(None, held.select(["mention", "tag"]))
    counts = mention_tag_counts(f.read("mentions"))
    return counts.toArrow() if f.driver_tail() else counts


def _nodes(f: _Fold):
    """nodes from the additive (mention, tag, cnt) statistic (``_counts``)
    and the linked map: built on the driver as a ``pyarrow.Table`` below
    the link bound, from the tables this call holds or reads through
    Arrow (``_Fold.arrow``), by Spark above it — one nodes path on each
    side."""
    if f.driver_tail():
        counts, linked = f.arrow("nodes_mtc"), f.arrow("linked")
        return nodes_from_counts_local(counts.to_pandas(), linked.to_pandas())
    return build_nodes_from_counts(f.read("nodes_mtc"), f.read("linked"))


def _edges(f: _Fold):
    """edges from the triples and the linked map, rebuilt on every call that
    changes either: on the driver (both held or read through Arrow, the
    edges built as a ``pyarrow.Table``) while the triples manifest holds
    at most ``DRIVER_EDGES_MAX_TRIPLES`` rows, by Spark above — one edges
    path on each side."""
    if f.cat.manifest("triples")["rows"] <= DRIVER_EDGES_MAX_TRIPLES:
        triples = f.arrow("triples", ["subj", "pred", "obj", "doc_id"])
        return edges_local(triples, f.arrow("linked"))
    return build_edges(f.read("triples"), f.read("linked"))


# Published hive-partitioned on their dominant access key (VERDICT r2 item
# 6): nodes by entity kind, edges by predicate — low-cardinality columns, so
# file counts stay bounded while kind-/pred-selective readers prune at the
# scan (tests/test_plans.py::test_published_tables_prune_partitions).
STAGES = (
    Stage("documents", (), lambda f: f.docs, lambda f: f.batch),
    _per_document(
        "extract", "documents",
        lambda f, d: extract_sentences(explode_text_spans(d), f.vocab),
        lambda f, t: extract_local(text_spans_local(t), f.vocab),
    ),
    _per_document(
        "mentions", "extract", lambda f, d: mentions_table(d), lambda f, t: mentions_local(t),
    ),
    _per_document(
        "triples", "extract", lambda f, d: triples_table(d), lambda f, t: triples_local(t),
    ),
    Stage("linked_cc_sigs", ("mentions",), _signatures, _signature_delta),
    # looked up at call time: perfbench/trace.py spans the linked map by this name
    Stage("linked", ("linked_cc_sigs",), lambda f: _run_linked_stage(f)),
    Stage("nodes_mtc", ("mentions",), _counts),
    Stage("nodes", ("nodes_mtc", "linked"), _nodes, partition_by=("kind",)),
    Stage("edges", ("triples", "linked"), _edges, partition_by=("pred",)),
    _per_document(
        "keyphrases", "documents",
        lambda f, d: keyphrases_table(d), lambda f, t: keyphrases_local(t),
    ),
    _per_document(
        "documents_out", "documents",
        lambda f, d: passthrough_docs(d), lambda f, t: passthrough_local(t),
    ),
)
# the nine published tables: every stage but the signature table and the
# counts, which only linked and nodes read
_NAMES = tuple(st.name for st in STAGES if st.name not in ("linked_cc_sigs", "nodes_mtc"))


class _Fold:
    """One call's state: the batch (None for a fresh run or resume; a
    ``pyarrow.Table`` when it is held on the driver), every stage input's
    fingerprint before the call, the increments taken (and those computed
    on the driver, ``held``), the whole tables held on the driver
    (``whole``: kept apart from ``held``, which holds only a batch's rows),
    and the checkpoint readers opened."""

    def __init__(self, cat, vocab, docs, token, tokens, batch):
        self.cat, self.vocab, self.docs, self.batch = cat, vocab, docs, batch
        self.extra = {"documents": {"__input__": token}}
        self.meta = {"documents": {"batch_tokens": tokens}}
        self.pre = {i: cat.fingerprint(i) for st in STAGES for i in st.inputs}
        self.incs: dict[str, list[str]] = {}  # increments taken -> files appended
        self.held: dict = {}  # increments committed from the driver -> their pyarrow.Table
        self.whole: dict = {}  # whole committed tables held on the driver
        self.inc_tables: dict[str, DataFrame] = {}
        self.tables: dict[str, DataFrame] = {}
        self.timings: dict[str, float] = {}
        # which side of the link bound the vocabulary-sized tail runs on:
        # for an append, decided here, from the pre-batch signature table
        self.on_driver = links_on_driver(cat, "linked_cc_sigs") if batch is not None else None

    def read(self, stage: str) -> DataFrame:
        if stage not in self.tables:
            self.tables[stage] = self.cat.read(stage)
        return self.tables[stage]

    def source(self, stage: str):
        """``stage``'s whole committed table on the driver: the one this call
        holds, else read through Arrow while the documents manifest holds at
        most ``DRIVER_BATCH_MAX_DOCS`` rows; None above the bound."""
        if stage not in self.whole:
            if self.cat.manifest("documents")["rows"] > DRIVER_BATCH_MAX_DOCS:
                return None
            self.whole[stage] = self.cat.read_arrow(stage)
        return self.whole[stage]

    def arrow(self, stage: str, columns=None):
        """``stage``'s whole committed table on the driver: the one this call
        built there, else read through Arrow."""
        if stage not in self.whole:
            return self.cat.read_arrow(stage, columns)
        return self.whole[stage].select(columns) if columns else self.whole[stage]

    def batch_arrow(self, stage: str, columns):
        """The rows ``stage`` appended in this call, on the driver: the ones
        held there, else read through Arrow from the appended files."""
        if stage in self.held:
            return self.held[stage].select(columns)
        return self.cat.read_arrow(stage, columns, files=self.incs[stage])

    def driver_tail(self) -> bool:
        """Whether the vocabulary-sized tail (signature delta, linked,
        ``nodes_mtc``, nodes) runs on the driver, decided once per call:
        an append decided it before the batch (so the driver may hold up
        to the bound plus one batch's new mentions); a fresh run or resume
        decides it on first use, from the refreshed signature table."""
        if self.on_driver is None:
            self.on_driver = links_on_driver(self.cat, "linked_cc_sigs")
        return self.on_driver

    def inc(self, stage: str) -> DataFrame:
        """Reader of the rows ``stage`` appended in this call, opened on first
        use.  An append that wrote no file (a partitioned write of no rows)
        reads as the stage's schema with no rows."""
        if stage not in self.inc_tables:
            self.inc_tables[stage] = self.cat.read(stage, files=self.incs[stage])
        return self.inc_tables[stage]

    def incremental(self, stage: str, inputs) -> bool:
        """Rule 2 (module docstring) for ``stage``."""
        return (
            self.batch is not None
            and all(i in self.incs for i in inputs)
            and self.cat.is_complete(stage, extra_inputs={i: self.pre[i] for i in inputs})
        )

    def step(self, st: Stage) -> None:
        """Run one stage by the rule; its timing covers an increment's
        compute and the commit.  A rebuild computed on the driver (a
        ``pyarrow.Table``) is held whole (``whole``) for the stages after
        it."""
        cat, name = self.cat, st.name
        kw = {
            "inputs": st.inputs, "partition_by": st.partition_by,
            "extra_inputs": self.extra.get(name), "meta": self.meta.get(name),
        }
        t0 = time.perf_counter()
        rows = None
        if st.increment and self.incremental(name, st.inputs):
            if not cat.is_complete(name, st.inputs, kw["extra_inputs"]):
                rows = st.increment(self)
        if rows is not None:
            self.incs[name] = cat.append(name, rows, **kw)
            if not isinstance(rows, DataFrame):
                self.held[name] = rows
            name += "+append"
        else:
            def build():
                table = st.build(self)
                if not isinstance(table, DataFrame):
                    self.whole[st.name] = table
                return table

            self.tables[name] = cat.run(name, build, **kw)
        self.timings[name] = round(time.perf_counter() - t0, 3)

    def check(self) -> int:
        """Span invariant over what this call wrote: the batch when
        documents_out took its increment, the whole table otherwise (the
        property is per document, so the proofs compose).  Compared exactly
        on the driver where the tables are held there or the whole table
        is below ``DRIVER_BATCH_MAX_DOCS`` (``source``), by Spark's checksum
        join otherwise."""
        t0 = time.perf_counter()
        if "documents_out" in self.held:
            n = span_violations_local(self.held["documents"], self.held["documents_out"])
        elif "documents_out" in self.incs:
            n = span_violations(self.inc("documents"), self.inc("documents_out")).count()
        elif (docs := self.source("documents")) is not None:
            n = span_violations_local(docs, self.source("documents_out"))
        else:
            n = span_violations(self.read("documents"), self.read("documents_out")).count()
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
    ``StageCatalog.read`` (a file listing) until first access."""

    def __init__(self, cat: StageCatalog, stages, seed=None):
        self._cat = cat
        self._stages = tuple(stages)
        self._cache: dict[str, DataFrame] = dict(seed or {})

    def __getitem__(self, key: str) -> DataFrame:
        if key not in self._stages:
            raise KeyError(key)
        if key not in self._cache:
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
    stages the run appended to, a reader opened on first access (a file
    listing, no job) of whatever that stage has committed then; the two
    unpublished stages, ``linked_cc_sigs`` and ``nodes_mtc``, are not in
    it.  ``executed`` lists what the call committed, in commit order, the
    two unpublished stages included: ``<stage>`` for a rebuild,
    ``<stage>+append`` for an increment, and the distributed linker's CC
    rounds (``linked_cc_iter*``, ``linked_cc_final``) before ``linked``."""

    tables: Mapping[str, DataFrame]
    catalog: StageCatalog
    executed: list[str] = field(default_factory=list)
    invariant_violations: int = 0
    timings: dict[str, float] = field(default_factory=dict)

    def counts(self) -> dict[str, int]:
        return {name: self.catalog.manifest(name)["rows"] for name in self.tables}


def _fold(cat, vocab, check_invariant, docs, token, tokens, batch=None) -> PipelineResult:
    """Run ``STAGES`` over ``cat`` in order, each by the rule in the module
    docstring, then the span check.  ``docs`` is the input a rebuilt
    documents stage commits, ``token`` its ``__input__`` version, ``tokens``
    its batch ledger."""
    f = _Fold(cat, vocab or corpus_vocab(), docs, token, tokens, batch)
    violations = 0
    with _stage_executor() as ex:
        for st in STAGES:
            ex.submit(_task(f"_{st.name}_stage", f.step, st))
        if check_invariant:
            violations = ex.submit(_task("_check", f.check))
    if violations:
        raise AssertionError(f"span-sequence invariant violated for {violations} docs")
    return PipelineResult(
        tables=_LazyTables(cat, _NAMES, f.tables),
        catalog=cat,
        executed=list(cat.executed),
        invariant_violations=violations,
        timings=f.timings,
    )


# A batch above ``DRIVER_BATCH_MAX_DOCS`` takes the Spark increments at this
# many documents per partition (``_spark_batch``).
INCREMENT_DOCS_PER_PARTITION = 16_000
# An append batch of at most this many documents is pulled to the driver in
# one Arrow job (``_pull``), and while the documents manifest holds at most
# this many rows a rebuild reads its source whole through Arrow; the
# per-document stages and the span check are then computed there
# (``_Fold.held``, ``_Fold.whole``).  The append table below sets it; the
# fresh-build table after it checks it.
# Measured with ``tools/append_profile.py
# --seed 3 --ops 2 --batch-docs N --bound 0 1000000000000`` on a 4-core VM
# (local[4], 1 GB driver heap, as perfbench runs): one append of an N-doc
# batch onto the 8k-doc ``append_growth`` base, the two sides interleaved,
# median of 2 ops after one warm-up (3 at N = 80).  CPU s of the process
# tree / wall s / Spark jobs (the Spark side's include its one-row pull),
# and MB = the Python driver's peak resident size during the op over its
# size before it:
#        N          spark                       driver
#       80     6.57 /  3.38 / 21 /   0      2.23 /  1.37 / 4 /   0
#      800     9.74 /  3.47 / 21 /   0      2.74 /  1.38 / 4 /   0
#    4,000    11.52 /  4.06 / 21.5 / 1      4.59 /  2.50 / 4.5 / 12
#   16,000    18.54 /  7.08 / 22 /   3     12.62 /  7.96 / 5 /  79
#   32,000    22.43 /  8.20 / 22 /  23     20.72 / 13.71 / 5 / 214
# Both sides committed the expected counts in every op.  The driver side
# uses less CPU at every size (it is the benchmark's op_cpu_s), 3x at 80
# docs, but its extract runs on one core: from 16k docs its wall is the
# longer (1.1x there, 1.7x at 32k, where the CPU is a draw and the driver
# holds 214 MB).  Up to 16k docs Spark runs each increment as one task
# anyway (``INCREMENT_DOCS_PER_PARTITION``), so the bound is that constant.
# The fresh build, measured with ``tools/append_profile.py --seed 3 --ops 2
# --fresh-docs 8000 16000 32000 --bound 0 1000000000000`` (same VM,
# local[4], 1 GB driver heap): ``run_pipeline`` of the generator's N-doc
# base into an empty catalog, the sides interleaved, median of 2 builds
# after one warm-up, the sizes in this order in one JVM.  CPU s / wall s /
# jobs / the driver's peak MB (absolute, and over its size before the
# build):
#        N          spark                       driver
#    8,000    13.28 /  4.99 / 16 / 243 +  1    3.36 /  2.90 / 1 / 254 +  19
#   16,000     9.83 /  4.33 / 16 / 293 +  0    6.05 /  5.61 / 1 / 329 +  44
#   32,000    11.52 /  4.36 / 16 / 425 +  0   10.65 / 10.13 / 1 / 489 + 118
# The nine tables were equal on both sides at every size.  The same shape
# as an append's: less CPU on the driver up to 16k docs (4.0x at 8k, 1.6x
# at 16k), the longer wall from 16k, and a draw in CPU at 32k with 2.3x the
# wall.  Cold, as the first build in a new JVM, the driver side's lead is
# wider: 4.44 against 48.68 CPU s at 8k (the warm-ups of this run).
DRIVER_BATCH_MAX_DOCS = INCREMENT_DOCS_PER_PARTITION

# The edges stage builds on the driver (``kg.graph.edges_local``) while the
# triples manifest holds at most this many rows (``_edges``).  Measured with
# ``tools/append_profile.py --seed 3 --edges-tiles 1 40 --bound 0
# 1000000000000 --ops 3``, and the 3.3M row with ``--edges-tiles 160``, on
# a 4-core VM (local[4], 1 GB driver heap, as perfbench runs): the edges
# stage alone, rebuilt from an ``append_growth`` catalog (base and two
# appends) whose triples are tiled K times (doc_ids suffixed per copy, one
# file per core), the two sides interleaved, median of 3 rebuilds after
# one warm-up.  CPU s of the process tree / wall s / the Python driver's
# peak resident MB (about 200 before each build; a Spark row's peak is
# what the driver build before it left, returned within the op):
#      triples      edges       spark                driver
#       20,446     20,101    2.77 /  0.73 /   217    0.60 / 0.08 /  217
#      817,840    804,040    9.54 /  2.73 /   594    1.85 / 1.05 /  960
#    3,271,360  3,216,160   33.59 /  9.33 /   318    7.92 / 4.66 / 2173
# Both sides committed the same edges (order-insensitive digest) at every
# size.  The driver uses 4.2-5.7x less CPU and less wall at every size, so
# the bound is set by its memory, which Spark neither manages nor spills:
# the driver build rose 720-780 MB over its start at 817,840 triples,
# about 0.9 KB per triple (1.9-2.2 GB at 3.3M, about 0.6 KB), some 0.9 GB
# over the baseline at the bound, more than the 0.55 GB
# ``kg.linking.DRIVER_LINK_MAX_MENTIONS`` allows.  The bound stays at 1M:
# it holds the driver near 1.1 GB resident in all, and ``append_growth``
# (about 20k triples) sits far below it.
DRIVER_EDGES_MAX_TRIPLES = 1_000_000


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
    input is skipped — the token is the fingerprint.

    ``docs`` is read only when the documents stage is rebuilt, by the Spark
    job that writes it; at most ``DRIVER_BATCH_MAX_DOCS`` documents are
    then read back whole through Arrow, and every per-document stage and
    the span check run on the driver."""
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
    maintained ``nodes_mtc`` counts, and the edges recompute.  While the
    signature table holds at most ``kg.linking.DRIVER_LINK_MAX_MENTIONS``
    rows, the signature delta, the map, ``nodes_mtc`` and nodes are
    computed and committed on the driver through Arrow, with no Spark job;
    above it they run on Spark.  Edges are recomputed the same way below
    ``DRIVER_EDGES_MAX_TRIPLES`` triples, by Spark above.  A daily 1% batch
    therefore costs ~1% of extraction plus the tail, instead of a full
    recompute.

    The batch is pulled once, at most ``DRIVER_BATCH_MAX_DOCS`` + 1 rows
    through Arrow (one Spark job, ``_pull``).  When it fits, the per-document
    increments and the span check are computed on the driver from that
    table, with no Spark job; an append below all three bounds then runs
    the pull only.  When it does not fit, the batch is checkpointed and
    re-widthed (``_spark_batch``) and the increments run on Spark.

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
    batch = _pull(new_docs)
    if batch is None:
        batch = _spark_batch(spark, new_docs)
    return _fold(
        cat, vocab, check_invariant, None, f"{old_token}+{new_token}",
        folded + [new_token], batch,
    )


def _pull(docs: DataFrame):
    """``docs`` as one ``pyarrow.Table`` when it holds at most
    ``DRIVER_BATCH_MAX_DOCS`` rows, else None: one Spark job pulls at most
    the bound plus one row through Arrow: an append's batch."""
    limit = min(DRIVER_BATCH_MAX_DOCS, 2**31 - 2) + 1  # DataFrame.limit takes an int32
    table = docs.limit(limit).toArrow()
    return table if table.num_rows < limit else None


def _spark_batch(spark: SparkSession, new_docs: DataFrame) -> DataFrame:
    """A batch above ``DRIVER_BATCH_MAX_DOCS``, checkpointed and re-widthed
    for the Spark increments.

    Data-sized increment width (r6, guide §6 small-files): the batch DF
    arrives at driver parallelism (32 partitions for a 5k-doc batch), so
    every appended stage wrote 32 near-empty files per append — file
    counts, task counts and footer reads all scale with appends instead of
    data.  Re-width to ``INCREMENT_DOCS_PER_PARTITION`` (floor 1, cap pool
    width): increments stay wide enough for the extract kernel, and a batch
    appends one file per stage per partition instead of 32."""
    new_docs = new_docs.localCheckpoint()
    n_batch = new_docs.count()
    width = max(1, min(
        spark.sparkContext.defaultParallelism, -(-n_batch // INCREMENT_DOCS_PER_PARTITION)
    ))
    if width < new_docs.rdd.getNumPartitions():
        new_docs = new_docs.repartition(width).localCheckpoint()
    return new_docs


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

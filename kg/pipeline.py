"""End-to-end KG-construction pipeline with checkpointed, resumable stages.

Stage DAG (each stage is a committed parquet checkpoint via kg/catalog.py;
a resumed run recomputes only stages whose inputs changed):

    documents ──> extract ──> mentions ──> linked ──> nodes
        │            └──────> triples ───────┴─────> edges
        └──────> documents_out (span-sequence invariant proof)

Shuffle budget at scale (SURVEY.md §4): documents→extract is shuffle-free
(narrow explode + mapInPandas over input splits); mentions/triples are
narrow explodes of the extract checkpoint; the first shuffles appear at
entity linking (distinct mentions; the LSH bucket join only above
``kg.linking.DRIVER_LINK_MAX_MENTIONS`` distinct mentions — below it the
map is linked on the driver from one Arrow read of the signature table) and
the grouping aggregations of nodes/edges — all keyed, AQE-coalesced,
skew-join protected.  An append takes the signature delta from its batch's
mentions (``_run_linked_stage``), not from the whole mentions table.

Stage scheduling: independent stages of the DAG are submitted CONCURRENTLY
from driver threads (Spark sessions are thread-safe for job submission and
the task scheduler interleaves them across the executor pool).  Serial
execution leaves executors idle during each stage's driver-side tail
(manifest commit, parquet-footer lineage scan) and never overlaps two small
stages that each use a fraction of the cluster — on a 1000-executor cluster
the four post-extract stages and the three post-linking stages are pure
wins.  Concurrency width is GRADUATED on data-per-slot (r6).  4-way pays only
in the MICRO-STAGE regime — single stages cannot saturate the pool and
per-stage fixed costs dominate (measured: local[32]/100k docs 4-way wins
21s vs 38s; it loses by 31k docs/slot).  TWO jobs in flight keep winning
far past that — the second job back-fills the first's commit tails and
stage gaps without 4-way's thrash (measured r6, every interleaved pair:
local[32]/1M 17-18s vs 23-26s serial; local[32]/4M 48-50 vs 59-61;
pinned local[8]/4M 86-88 vs 103-114).  Beyond the measured 512k-docs/slot
win boundary serial remains the default: 4-way collapsed outright at 2M
docs/slot (local[2]/4M 615s vs 390s serial; pinned local[8]/16M pair
efficiency 0.54 vs ~0.84 in round 5) and 2-way is unmeasured there —
conservative wins at 100 TB scale (override:
``SPARK_KG_STAGE_WORKERS``; 0 = serial).
``PipelineResult.executed`` stays deterministic either way: completion
order is canonicalized to DAG order.
"""

from __future__ import annotations

import os
import time
from collections.abc import Mapping
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.catalog import StageCatalog
from kg.graph import (
    build_edges,
    build_nodes,
    build_nodes_from_counts,
    mention_tag_counts,
)
from kg.invariant import passthrough_docs, span_violations
from kg.keyphrase import keyphrases_table
from kg.linking import link_committed, signature_base
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
# evidence (4-way collapse at 2M docs/slot; no 2-way measurement there)
# makes serial the conservative 100-TB default.
STAGE_OVERLAP2_MAX_ROWS_PER_SLOT = 512_000


def _stage_executor(spark: SparkSession, n_rows: int = 0):
    """4-way concurrent stage submission ONLY in the micro-stage regime —
    small per-stage work relative to the pool, where per-stage fixed costs
    (driver commit tails, job-scheduling gaps) dominate and overlapping
    hides them.  When any single stage has enough rows to saturate every
    task slot on its own (the 100-TB regime), concurrent heavy jobs just
    time-slice the same cores — thrash, spill, and GC pressure; measured
    at pinned local[8]/16M docs every overlapped tail stage's wall grew to
    ~the group total.  Serial is the scale default; overlap is the
    small-corpus/giant-pool optimization."""
    env = os.environ.get("SPARK_KG_STAGE_WORKERS")
    if env is not None:
        workers = int(env)
    else:
        slots = spark.sparkContext.defaultParallelism
        per_slot = n_rows / max(slots, 1)
        if slots < 8:
            workers = 0
        elif per_slot <= STAGE_OVERLAP_MAX_ROWS_PER_SLOT:
            workers = 4
        elif per_slot <= STAGE_OVERLAP2_MAX_ROWS_PER_SLOT:
            workers = 2
        else:
            workers = 0
    if workers <= 0:
        return _SerialExecutor()
    return ThreadPoolExecutor(max_workers=workers, thread_name_prefix="kg-stage")


def _run_linked_stage(
    cat: StageCatalog,
    timings: dict[str, float],
    batch: tuple[str, DataFrame] | None = None,
) -> DataFrame:
    """Refresh the durable signature table, then compute-or-skip the linked
    stage KEYED ON THE SIGNATURE TABLE's fingerprint (r6).

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
    mentions fingerprint, the increment's mentions); when the table is
    anchored on that pre-append fingerprint, the delta is the batch's
    distinct mentions left-anti the table — no job scans the full mentions
    table.  Otherwise (first run, changed corpus, a crash between the two
    commits) ``signature_base`` reconciles against the full mention set.

    Linking itself runs on the driver while the signature table holds at
    most ``kg.linking.DRIVER_LINK_MAX_MENTIONS`` rows (one Arrow read, one
    write of the map, no ``linked_cc_*`` round commits), distributed above
    (``kg.linking.link_committed``).  The bound caps the driver's memory:
    the driver path used less CPU and wall at every measured size (the
    table is at the constant).
    """
    t0 = time.perf_counter()
    anchor = {"mentions": cat.fingerprint("mentions")}
    if not cat.is_complete("linked_cc_sigs", extra_inputs=anchor):
        grown = batch is not None and cat.is_complete(
            "linked_cc_sigs", extra_inputs={"mentions": batch[0]}
        )
        mentions = batch[1] if grown else cat.read("mentions")
        signature_base(
            mentions.select("mention").distinct(), catalog=cat,
            stage_name="linked_cc_sigs", anchor=anchor, increment=grown,
        )
    out = cat.run(
        "linked",
        lambda: link_committed(cat, "linked_cc_sigs", stage_prefix="linked_cc"),
        inputs=["linked_cc_sigs"],
    )
    timings["linked"] = round(time.perf_counter() - t0, 3)
    return out


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
    committed checkpoint.  ``run_pipeline`` returns a dict whose readers
    were all opened during the run; ``run_pipeline_append`` returns a
    ``_LazyTables`` mapping that opens ``linked``/``nodes``/``edges``
    during the run and every other stage on first access (one file listing
    + schema job each), reading whatever that stage has committed then."""

    tables: Mapping[str, DataFrame]
    catalog: StageCatalog
    executed: list[str] = field(default_factory=list)
    invariant_violations: int = 0
    timings: dict[str, float] = field(default_factory=dict)

    def counts(self) -> dict[str, int]:
        return {name: self.catalog.manifest(name)["rows"] for name in self.tables}


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
    if vocab is None:
        vocab = corpus_vocab()

    timings: dict[str, float] = {}

    def timed(name: str, fn, **kw):
        t0 = time.perf_counter()
        out = cat.run(name, fn, **kw)
        timings[name] = round(time.perf_counter() - t0, 3)
        return out

    token = input_token or input_fingerprint(docs)
    documents = timed(
        "documents",
        lambda: docs,
        extra_inputs={"__input__": token},
        # explicit folded-batch ledger (ADVICE r3): appended batch identity
        # is tested by list membership, never by substring games on tokens
        # that may themselves contain '+'
        meta={"batch_tokens": [token]},
    )

    extract = timed(
        "extract",
        lambda: extract_sentences(explode_text_spans(cat.read("documents")), vocab),
        inputs=["documents"],
    )
    # Concurrent group 1 — four independent children of documents/extract
    # (module docstring: driver-thread job submission, deterministic ledger).
    # Width decided from the committed corpus size (manifest rows — free).
    with _stage_executor(spark, cat.manifest("documents")["rows"]) as ex:
        f_mentions = ex.submit(
            timed, "mentions", lambda: mentions_table(cat.read("extract")),
            inputs=["extract"],
        )
        f_triples = ex.submit(
            timed, "triples", lambda: triples_table(cat.read("extract")),
            inputs=["extract"],
        )
        f_keyphrases = ex.submit(
            timed, "keyphrases", lambda: keyphrases_table(cat.read("documents")),
            inputs=["documents"],
        )
        f_documents_out = ex.submit(
            timed, "documents_out", lambda: passthrough_docs(cat.read("documents")),
            inputs=["documents"],
        )
        mentions = f_mentions.result()
        # On the distributed linking path, CC iterations checkpoint through
        # the same catalog (stage names linked_cc_iter*/linked_cc_final): a
        # job killed mid-CC resumes label propagation from the last durable
        # round when the "linked" stage itself re-runs.  Linking starts as
        # soon as mentions commits — keyphrases/documents_out may still be
        # in flight.
        linked = _run_linked_stage(cat, timings)
        triples = f_triples.result()
        # Concurrent group 2 — published tables + the invariant proof.
        # Published tables are hive-partitioned on their dominant access key
        # (VERDICT r2 item 6): nodes by entity kind, edges by predicate —
        # low-cardinality columns (|TAGS| and |TAGS|^2), so file counts stay
        # bounded while kind-/pred-selective readers get partition pruning at
        # the scan (tests/test_plans.py::test_published_tables_prune_partitions).
        # At the 10^12-doc design point: ~4*10^12 mention rows -> 3 kinds x
        # O(10k) files per kind for nodes; 9 preds for edges — pruning cuts a
        # one-pred consumer's scan 9x before a single row is read.
        f_nodes = ex.submit(
            timed, "nodes",
            lambda: build_nodes(cat.read("mentions"), cat.read("linked")),
            inputs=["mentions", "linked"],
            partition_by=["kind"],
        )
        f_edges = ex.submit(
            timed, "edges",
            lambda: build_edges(cat.read("triples"), cat.read("linked")),
            inputs=["triples", "linked"],
            partition_by=["pred"],
        )
        keyphrases = f_keyphrases.result()
        documents_out = f_documents_out.result()

        f_violations = None
        if check_invariant:
            def _check() -> int:
                t0 = time.perf_counter()
                n = span_violations(documents, documents_out).count()
                timings["invariant_check"] = round(time.perf_counter() - t0, 3)
                return n
            f_violations = ex.submit(_check)

        nodes = f_nodes.result()
        edges = f_edges.result()
        violations = f_violations.result() if f_violations is not None else 0

    if violations:
        raise AssertionError(
            f"span-sequence invariant violated for {violations} docs"
        )

    tables = {
        "documents": documents,
        "extract": extract,
        "mentions": mentions,
        "triples": triples,
        "linked": linked,
        "nodes": nodes,
        "edges": edges,
        "keyphrases": keyphrases,
        "documents_out": documents_out,
    }
    # Completion order is nondeterministic under concurrent stage groups;
    # the reported ledger is canonical DAG order (CC-internal rounds, which
    # commit serially inside 'linked', keep their own order, placed before it).
    done = set(cat.executed)
    aux = [s for s in cat.executed if s not in tables]
    executed: list[str] = []
    for s in tables:
        if s == "linked":
            executed.extend(aux)
        if s in done:
            executed.append(s)
    return PipelineResult(
        tables=tables,
        catalog=cat,
        executed=executed,
        invariant_violations=violations,
        timings=timings,
    )


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
    corpus, on the driver while the signature table is small; skipped when
    the batch adds no mention) and the nodes/edges aggregations.
    A daily 1% batch therefore costs ~1% of extraction plus the tail,
    instead of a full recompute.

    Equality contract: append(A then B) produces the same nine tables as a
    fresh run over A∪B (tests/test_incremental.py) — entity ids are
    content hashes, linking covers the full distinct-mention set (the
    signature table), and aggregations are order-insensitive.

    ``input_token`` identifies the NEW batch; the documents stage records
    ``old_token+new_token`` so a repeated identical append is a no-op
    (idempotent) and resume semantics stay exact.
    """
    cat = StageCatalog(spark, base_dir)
    for required in ("documents", "extract", "mentions", "triples"):
        if cat.manifest(required) is None:
            raise ValueError(
                f"run_pipeline_append requires a completed prior run; "
                f"stage {required!r} is not committed"
            )
    if vocab is None:
        vocab = corpus_vocab()

    timings: dict[str, float] = {}
    docs_manifest = cat.manifest("documents")
    old_token = docs_manifest["inputs"]["__input__"]
    new_token = input_token or input_fingerprint(new_docs)
    combined = f"{old_token}+{new_token}"
    # Explicit folded-batch ledger (ADVICE r3): membership in the recorded
    # token list, so re-submission of ANY prior batch — not just the latest —
    # is a no-op, and tokens containing '+' can never false-positive.
    folded = docs_manifest.get("batch_tokens")
    if folded is None:
        # Legacy manifest (pre-ledger release): __input__ is the
        # '+'-concatenated batch history (e.g. "base+b1+b2"), so membership
        # must be checked against its SPLIT — treating the whole string as
        # one token would silently double-fold a crash-retried batch into
        # every per-document table (ADVICE r4).
        folded = old_token.split("+")
    if new_token in folded:
        # identical batch already folded in — idempotent no-op
        return run_pipeline(
            spark, cat.read("documents"), base_dir, vocab=vocab,
            check_invariant=check_invariant, input_token=old_token,
        )

    def timed_append(stage: str, df: DataFrame, **kw) -> DataFrame:
        t0 = time.perf_counter()
        paths = cat.append(stage, df, **kw)
        timings[f"{stage}+append"] = round(time.perf_counter() - t0, 3)
        return spark.read.parquet(*paths)

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
    # Incremental-edges preconditions, part 1 (r6): the edges table groups
    # by (subj_c, pred, obj_c, doc_id) — doc_id partitions the groups, so
    # if the batch's doc_ids are DISJOINT from the old corpus, no old group
    # can be touched by new rows and the canonicalized delta can be
    # file-appended instead of recomputing + rewriting the whole table.
    # The check must read the PRE-append documents table (one columnar
    # doc_id scan); non-disjoint batches fall back to the full recompute.
    t0 = time.perf_counter()
    # The overlap scan itself is DEFERRED into the edges stage (it runs
    # overlapped with the tail): cat.read captures the pre-append file
    # list now, append only ever adds files, so the lazy evaluation still
    # sees exactly the old corpus.
    batch_overlap = new_docs.select("doc_id").join(
        cat.read("documents").select("doc_id"), "doc_id", "left_semi"
    )
    # part 2: capture the pre-append mention->canonical map NOW — the
    # linked stage dir is overwritten (old files deleted) by the recompute
    # below.  Bounded by distinct mentions (orders of magnitude below the
    # corpus).
    old_linked = (
        cat.read("linked").localCheckpoint()
        if cat.manifest("linked") is not None
        and cat.manifest("edges") is not None
        else None
    )
    # nodes_mtc incrementality anchor: the (mention, tag, cnt) sufficient
    # statistic is valid for merging iff it matches the PRE-append mentions
    # table (its fingerprint is captured here, before the append commits).
    pre_mentions_fp = cat.fingerprint("mentions")
    timings["edges_precheck"] = round(time.perf_counter() - t0, 3)
    # documents then extract commit SERIALLY: each downstream append records
    # its input stage's manifest fingerprint, which must be the post-append
    # one for resume coherence (a plain re-run must skip everything).
    timed_append(
        "documents", new_docs,
        extra_inputs={"__input__": combined},
        meta={"batch_tokens": folded + [new_token]},
    )
    inc_extract = timed_append(
        "extract",
        extract_sentences(explode_text_spans(new_docs), vocab),
        inputs=["documents"],
    )

    def timed(name: str, fn, **kw):
        t0 = time.perf_counter()
        out = cat.run(name, fn, **kw)
        timings[name] = round(time.perf_counter() - t0, 3)
        return out

    # Same pool-adaptive concurrency as run_pipeline (module docstring): the
    # four sibling increments after extract, and nodes ∥ edges ∥ invariant
    # after linking — without this the append tail ran serial and its fixed
    # cost swamped the per-doc savings at small batch sizes (BENCH_r04).
    # Width decided from the POST-APPEND corpus size, not the batch: the
    # sibling increments are batch-sized, but the recomputed tail
    # (nodes ∥ edges ∥ invariant) scans the full mention/triple tables —
    # at scale those saturate the pool alone and must not be overlapped.
    with _stage_executor(spark, cat.manifest("documents")["rows"]) as ex:
        f_mentions = ex.submit(
            timed_append, "mentions", mentions_table(inc_extract),
            inputs=["extract"],
        )
        f_triples = ex.submit(
            timed_append, "triples", triples_table(inc_extract),
            inputs=["extract"],
        )
        f_keyphrases = ex.submit(
            timed_append, "keyphrases", keyphrases_table(new_docs),
            inputs=["documents"],
        )
        f_docs_out = ex.submit(
            timed_append, "documents_out", passthrough_docs(new_docs),
            inputs=["documents"],
        )
        inc_mentions = f_mentions.result()
        # shared tail: recomputed over the full (old + increment) inputs;
        # linking starts as soon as mentions commits, its signature delta
        # taken from the increment when the table is anchored pre-append
        linked = _run_linked_stage(cat, timings, (pre_mentions_fp, inc_mentions))
        inc_triples = f_triples.result()

        # nodes via the durable (mention, tag, cnt) statistic (r6): counts
        # are additive under growth, so when the committed nodes_mtc stage
        # matches the pre-append mentions table the increment's counts
        # merge into it (vocabulary-sized job) — the O(corpus) mentions
        # re-scan every append paid is gone.  A missing/stale statistic is
        # rebuilt from the full table (same scan nodes always paid).
        def _nodes_stage():
            post_fp = cat.fingerprint("mentions")
            if cat.is_complete("nodes_mtc", extra_inputs={"mentions": pre_mentions_fp}):
                merged = (
                    cat.read("nodes_mtc")
                    .unionByName(mention_tag_counts(inc_mentions))
                    .groupBy("mention", "tag")
                    .agg(F.sum("cnt").cast("long").alias("cnt"))
                )
            else:
                merged = mention_tag_counts(cat.read("mentions"))
            cat.write("nodes_mtc", merged, extra_inputs={"mentions": post_fp})
            cat.executed.append("nodes_mtc")
            return timed(
                "nodes",
                lambda: build_nodes_from_counts(
                    cat.read("nodes_mtc"), cat.read("linked")
                ),
                inputs=["mentions", "linked"],
                partition_by=["kind"],
            )

        f_nodes = ex.submit(_nodes_stage)
        # Incremental edges (r6), part 3 — stability: if no OLD mention's
        # canonical changed (a new mention joining an old component can
        # rename it), every old edges row is byte-identical in a fresh
        # recompute, so only the canonicalized delta (batch triples, whose
        # doc_ids are disjoint — part 1) needs computing, appended
        # file-wise into the pred partitions.  Any failed precondition
        # falls back to the full recompute (equality contract unchanged —
        # tests/test_incremental.py compares against fresh runs either way).
        def _edges_stage():
            if old_linked is not None:
                stable = (
                    batch_overlap.isEmpty()
                    and old_linked.withColumnRenamed("canonical", "old_canonical")
                    .join(cat.read("linked"), "mention")
                    .where(F.col("old_canonical") != F.col("canonical"))
                    .isEmpty()
                )
                if stable:
                    t0 = time.perf_counter()
                    cat.append(
                        "edges",
                        build_edges(inc_triples, cat.read("linked")),
                        inputs=["triples", "linked"],
                        partition_by=["pred"],
                    )
                    timings["edges+append"] = round(time.perf_counter() - t0, 3)
                    return cat.read("edges")
            return timed(
                "edges",
                lambda: build_edges(cat.read("triples"), cat.read("linked")),
                inputs=["triples", "linked"],
                partition_by=["pred"],
            )

        f_edges = ex.submit(_edges_stage)
        f_keyphrases.result()
        inc_docs_out = f_docs_out.result()

        f_violations = None
        if check_invariant:
            # increment-only: the prior run proved the old docs, and the
            # span-sequence property is per-document, so the proofs compose
            # — the append never pays a full-corpus scan for it
            def _check() -> int:
                t0 = time.perf_counter()
                n = span_violations(new_docs, inc_docs_out).count()
                timings["invariant_check"] = round(time.perf_counter() - t0, 3)
                return n

            f_violations = ex.submit(_check)

        nodes = f_nodes.result()
        edges = f_edges.result()
        violations = f_violations.result() if f_violations is not None else 0

    if violations:
        raise AssertionError(
            f"span-sequence invariant violated for {violations} docs"
        )

    # Lazy committed-stage readers (r6): each cat.read costs a file-listing
    # + schema job; the append path built all nine eagerly (~1s of fixed
    # overhead per append) though callers like the bench touch none of
    # them.  Stages already read this run are seeded; the rest resolve on
    # first access.
    tables = _LazyTables(
        cat,
        ("documents", "extract", "mentions", "triples", "linked",
         "nodes", "edges", "keyphrases", "documents_out"),
        {"linked": linked, "nodes": nodes, "edges": edges},
    )
    done = set(cat.executed)
    # non-table (CC/signature) stages stay in the ledger whether computed or
    # appended — e.g. linked_cc_sigs+append is the proof the signature table
    # grew incrementally; table-stage appends are reported via `appended`
    aux = [
        s for s in cat.executed
        if (s[: -len("+append")] if s.endswith("+append") else s) not in tables
    ]
    # concurrent appends complete in nondeterministic order; report them in
    # canonical DAG order (same rule as run_pipeline)
    appended = [
        f"{s}+append" for s in tables if f"{s}+append" in set(cat.executed)
    ]
    executed = appended + [
        x
        for s in tables
        for x in ((aux if s == "linked" else []) + ([s] if s in done else []))
    ]
    return PipelineResult(
        tables=tables,
        catalog=cat,
        executed=executed,
        invariant_violations=violations,
        timings=timings,
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

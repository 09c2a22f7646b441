"""Traced runs: per-layer spans and Spark task metrics, taken from outside
the program.

``Tracer.install`` wraps the layers' public functions and the
``StageCatalog`` methods from here, by patching the names ``kg.pipeline`` and
``kg.linking`` look up at call time; ``uninstall`` restores them, so only the
traced operations pay for the wrappers.  Each pipeline stage's top-level span
sets a Spark job group ``<stage>@<op>``; ``fold_event_log`` then groups the
``SparkListenerTaskEnd`` events of Spark's own event log by that group.
Stages the pipeline runs concurrently have overlapping spans; the time the
op's spans cover together (``union_length``) is what the stages account for
of its wall.

Two wrappers add work the untraced program does not do: the LSH candidate
pairs and the verified edges are materialized once and counted, which is
what splits ``linking.candidates_s`` from ``linking.cc_s`` and gives
``linking.verify_yield``.  The traced wall minus the untraced wall of the
same workload, in the same process, is reported as ``trace.overhead_s``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import ExitStack, contextmanager

# Pipeline stages that get a Spark job group, in DAG order.
STAGES = (
    "documents", "extract", "mentions", "triples", "keyphrases",
    "documents_out", "linked", "nodes", "edges", "invariant",
)


def pipeline_stage(catalog_stage: str) -> str:
    """Catalog stage name -> the pipeline stage that owns it
    (``linked_cc_sigs``/``linked_cc_final`` -> linked, ``nodes_mtc`` -> nodes)."""
    for prefix in ("linked", "nodes"):
        if catalog_stage.startswith(prefix):
            return prefix
    return catalog_stage


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark conf for a plain-JSON, single-file event log in ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Spans and counters for one process; one ``op`` label at a time.
    Spans are per thread, so stages run concurrently get overlapping
    spans."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.op = "setup"
        self.spans: list[tuple[str, str, float, float]] = []  # (op, stage, t0, t1)
        self.timers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def begin_op(self, label: str) -> None:
        self.op = label
        self.sc.setJobGroup(f"driver@{label}", "between stages")

    @contextmanager
    def stage(self, name: str):
        """Top-level stage span; nested stage calls run inside the outer one."""
        if getattr(self._local, "open", False):
            yield
            return
        self._local.open = True
        self.sc.setJobGroup(f"{name}@{self.op}", name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((self.op, name, t0, time.perf_counter()))
            self.sc.setJobGroup(f"driver@{self.op}", "between stages")
            self._local.open = False

    @contextmanager
    def timer(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.timers[self.op][name] += time.perf_counter() - t0

    def count(self, name: str, n: float) -> None:
        self.timers[self.op][name] += n

    def stage_walls(self, op: str) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for o, stage, t0, t1 in self.spans:
            if o == op:
                out[stage] += t1 - t0
        return dict(out)

    def op_spans(self, op: str) -> list[tuple[float, float]]:
        return sorted((t0, t1) for o, _s, t0, t1 in self.spans if o == op)

    def op_stages(self, op: str) -> set[str]:
        return {s for o, s, _t0, _t1 in self.spans if o == op}

    # -- wrappers --------------------------------------------------------
    def _patch(self, owner, name: str, make) -> None:
        orig = owner.__dict__[name]
        self._saved.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def install(self) -> None:
        import kg.linking as linking
        import kg.pipeline as pipeline
        from kg.catalog import StageCatalog

        tr = self

        def catalog_call(timer: str | None, as_stage: bool):
            def make(orig):
                def wrapper(cat, stage, *a, **kw):
                    with ExitStack() as ctx:
                        if timer:
                            ctx.enter_context(tr.timer(timer))
                        if as_stage:
                            ctx.enter_context(tr.stage(pipeline_stage(stage)))
                        return orig(cat, stage, *a, **kw)
                return wrapper
            return make

        self._patch(StageCatalog, "run", catalog_call(None, True))
        self._patch(StageCatalog, "write", catalog_call("catalog.write_s", True))
        self._patch(StageCatalog, "append", catalog_call("catalog.append_s", True))
        self._patch(StageCatalog, "read", catalog_call("catalog.read_s", False))

        def lineage(orig):
            fn = orig.__func__
            def wrapper(path):
                with tr.timer("catalog.lineage_s"):
                    return fn(path)
            return staticmethod(wrapper)

        self._patch(StageCatalog, "_file_lineage", lineage)

        def linked_stage(orig):
            def wrapper(*a, **kw):
                with tr.stage("linked"):
                    return orig(*a, **kw)
            return wrapper

        self._patch(pipeline, "_run_linked_stage", linked_stage)

        class StageSpans:
            """Executor proxy: the append's ``_nodes_stage``/``_edges_stage``
            closures run whole inside their stage's span, so the nodes_mtc
            merge and the edges stability check (doc_id overlap scan, old vs
            new linked map) count toward their stage, not the driver gap."""

            def __init__(self, inner):
                self.inner = inner

            def __enter__(self):
                self.inner.__enter__()
                return self

            def __exit__(self, *exc):
                return self.inner.__exit__(*exc)

            def submit(self, fn, *a, **kw):
                stage = {"_nodes_stage": "nodes", "_edges_stage": "edges"}.get(fn.__name__)
                if stage is None:
                    return self.inner.submit(fn, *a, **kw)

                def spanned():
                    with tr.stage(stage):
                        return fn(*a, **kw)

                return self.inner.submit(spanned)

        self._patch(pipeline, "_stage_executor", lambda orig: lambda *a, **kw: StageSpans(orig(*a, **kw)))

        def signatures(orig):
            def wrapper(*a, **kw):
                with tr.timer("linking.signatures_s"):
                    return orig(*a, **kw)
            return wrapper

        self._patch(pipeline, "signature_base", signatures)

        def violations(orig):
            def wrapper(*a, **kw):
                df = orig(*a, **kw)
                count = df.count

                def timed_count():
                    with tr.stage("invariant"), tr.timer("invariant.check_s"):
                        return count()

                df.count = timed_count
                return df
            return wrapper

        self._patch(pipeline, "span_violations", violations)

        def candidates(orig):
            def wrapper(*a, **kw):
                with tr.timer("linking.candidates_s"):
                    pairs = orig(*a, **kw).localCheckpoint()
                    tr.count("linking.candidate_pairs", pairs.count())
                return pairs
            return wrapper

        self._patch(linking, "candidate_pairs", candidates)

        def components(orig):
            def wrapper(edges, *a, **kw):
                with tr.timer("linking.candidates_s"):
                    edges = edges.localCheckpoint()
                    tr.count("linking.verified_edges", edges.count())
                with tr.timer("linking.cc_s"):
                    return orig(edges, *a, **kw)
            return wrapper

        self._patch(linking, "connected_components", components)

    def uninstall(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)
        self.sc.setJobGroup("untraced", "")


def union_length(spans: list[tuple[float, float]]) -> float:
    """Seconds covered by at least one span: stages the pipeline runs
    concurrently (``kg.pipeline._stage_executor`` on 8+ task slots) count
    once."""
    total, end = 0.0, float("-inf")
    for t0, t1 in sorted(spans):
        if t1 > end:
            total += t1 - max(t0, end)
            end = t1
    return total


def spans_inside(spans: list[tuple[float, float]], t_begin: float, t_end: float, tol: float) -> bool:
    """True when every span lies in [t_begin, t_end], give or take ``tol``."""
    return all(t_begin - tol <= t0 <= t1 <= t_end + tol for t0, t1 in spans)


# -- Spark event log -----------------------------------------------------
_MB = 1024 * 1024


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> {cpu_s, gc_s, shuffle_mb, spill_mb, skew, tasks} from the
    (stopped) application's uncompressed event log.  ``skew`` is the largest
    max/median task run time over the group's Spark stages with >= 2 tasks."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stage_group: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    run_ms: dict[tuple[str, int], list[float]] = defaultdict(list)
    with open(paths[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group or "none")
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                sid = ev["Stage ID"]
                g = acc[stage_group.get(sid, "none")]
                g["tasks"] += 1
                g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics", {})
                wr = m.get("Shuffle Write Metrics", {})
                g["shuffle_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    + wr.get("Shuffle Bytes Written", 0)
                ) / _MB
                # the serialized size on disk; "Memory Bytes Spilled" is the
                # same data's deserialized size, so the two are not summed
                g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
                run_ms[(stage_group.get(sid, "none"), sid)].append(m.get("Executor Run Time", 0))
    for (group, _sid), times in run_ms.items():
        if len(times) >= 2:
            med = statistics.median(times)
            skew = max(times) / med if med > 0 else 1.0
            acc[group]["skew"] = max(acc[group].get("skew", 1.0), skew)
    for g in acc.values():
        g.setdefault("skew", 1.0)
    return {k: dict(v) for k, v in acc.items()}

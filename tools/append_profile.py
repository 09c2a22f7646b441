"""Where an ``append_growth`` op's CPU goes, and how many Spark jobs it runs.

    python3 tools/append_profile.py --seed 3 --ops 3
    python3 tools/append_profile.py --batch-docs 4000 --bound 0 1000000000000

Run from the repository root.  The script builds the perfbench
``append_growth`` workload (same inputs, same checked setup, one warm-up
op) in one ``local[<cpus>]`` session started the way ``perfbench/run.py``
starts it, then runs ``--ops`` untraced ops and one traced op.
``--batch-docs`` sets the documents per appended batch (the workload's 80
by default).  ``--bound`` forces ``kg.pipeline.DRIVER_BATCH_MAX_DOCS`` to
each value given: the untraced ops then cycle through them, ``--ops`` per
value, interleaved so drift and host steal hit every value alike (the
traced op takes the first) — the way the constant's crossover table is
measured.

For each untraced op it reads ``/proc/<pid>/task/*/stat`` of every process
of the tree before and after, and charges the CPU (user + system) to:

- ``driver_python``: this process;
- ``python_workers``: the JVM's Python children (daemon and workers);
- ``executor_tasks``: the JVM's ``Executor task launch worker`` threads;
- ``jit``: the C1/C2 compiler threads and the code sweeper;
- ``gc``: the GC worker threads, G1's concurrent threads and the VM thread;
- ``py4j_planner``: the py4j connection threads (``Thread-<n>``), which
  analyze, optimize and plan what the driver asks for, and AQE's query
  stage threads;
- ``scheduler``: the DAG scheduler, RPC dispatchers, task-result getters,
  listener bus and status store;
- ``jvm_other``: every other JVM thread, and threads that exited during
  the op (a process's own counter minus its live threads').

It also counts each untraced op's Spark jobs (one job group per op), and
the traced op's jobs per pipeline stage through the job groups
``perfbench/trace.py`` sets, and samples the Python driver's peak resident
size during each untraced op, over its size before it (``driver_mb``).  It
prints a table of medians over the ops (per bound), then one JSON line with
everything.  It imports perfbench and changes none
of it; everything it writes goes under ``.append_profile_work/`` in the
current directory, deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

CLASSES = (
    "driver_python", "python_workers", "executor_tasks", "jit", "gc",
    "py4j_planner", "scheduler", "jvm_other",
)
_JVM_THREADS = (  # (class, comm prefix); comm is cut at 15 characters
    ("executor_tasks", ("Executor task l",)),
    ("jit", ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")),
    ("gc", ("GC Thread#", "G1 ", "VM Thread", "VM Periodic Tas")),
    ("py4j_planner", ("Thread-", "shuffle-exchang", "broadcast-excha",
                      "ResultQueryStag", "QueryStageCreat", "subquery-")),
    ("scheduler", ("dag-scheduler-e", "dispatcher-", "task-result-get",
                   "spark-listener-", "element-trackin", "heartbeat-recei",
                   "map-output-disp", "netty-rpc-", "rpc-", "executor-heartb",
                   "driver-heartbea")),
)


def thread_class(comm: str) -> str:
    for cls, prefixes in _JVM_THREADS:
        if comm.startswith(prefixes):
            return cls
    return "jvm_other"


def _ticks(stat_line: str, children: bool) -> int:
    fields = stat_line.rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15 if children else 13])


def _read(path: str) -> str | None:
    try:
        with open(path, encoding="ascii", errors="replace") as f:
            return f.read()
    except OSError:
        return None


def snapshot() -> dict[tuple, int]:
    """Clock ticks per (class, name, pid, tid): every live thread of the JVM
    (name: its comm), and one entry per other process of the tree (own +
    reaped children)."""
    from perfbench.run import RssSampler

    me = os.getpid()
    out: dict[tuple, int] = {}
    for pid in RssSampler.descendants(me):
        stat = _read(f"/proc/{pid}/stat")
        cmd = _read(f"/proc/{pid}/cmdline") or ""
        if stat is None:
            continue
        if pid == me:
            out[("driver_python", "", pid, 0)] = _ticks(stat, children=True)
        elif "java" not in cmd.split("\0", 1)[0]:
            out[("python_workers", "", pid, 0)] = _ticks(stat, children=True)
        else:
            live = 0
            for tid in os.listdir(f"/proc/{pid}/task"):
                tstat = _read(f"/proc/{pid}/task/{tid}/stat")
                comm = _read(f"/proc/{pid}/task/{tid}/comm")
                if tstat is None or comm is None:
                    continue
                n = _ticks(tstat, children=False)
                live += n
                out[(thread_class(comm.strip()), comm.strip(), pid, int(tid))] = n
            # exited threads and reaped children
            out[("jvm_other", "(exited)", pid, -1)] = _ticks(stat, children=True) - live
    return out


def by_class(before: dict[tuple, int], after: dict[tuple, int]) -> tuple[dict, dict]:
    """CPU seconds per class, and per thread name within ``jvm_other``."""
    tick = os.sysconf("SC_CLK_TCK")
    acc: dict[str, float] = dict.fromkeys(CLASSES, 0.0)
    other: dict[str, float] = {}
    for key, n in after.items():
        s = (n - before.get(key, 0)) / tick
        acc[key[0]] += s
        if key[0] == "jvm_other" and s:
            other[key[1]] = other.get(key[1], 0.0) + s
    return acc, other


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=3)
    p.add_argument("--ops", type=int, default=3)
    p.add_argument("--jobs", action="store_true",
                   help="also list the traced op's jobs per stage by call site")
    p.add_argument("--batch-docs", type=int, default=None,
                   help="documents per appended batch (default: the workload's)")
    p.add_argument("--bound", type=int, nargs="+", default=None,
                   help="force kg.pipeline.DRIVER_BATCH_MAX_DOCS to each value in turn")
    return p.parse_args(argv)


def profile(args, work: str) -> dict:
    import kg.pipeline
    from perfbench.run import RssSampler, _start_spark, _stop_spark, tree_cpu_s
    from perfbench.trace import STAGES, Tracer
    from perfbench.workloads import AppendGrowth
    from tools.leaf_profile import DriverPeak

    bounds = args.bound or [kg.pipeline.DRIVER_BATCH_MAX_DOCS]
    spark = _start_spark(work, trace=False)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        with RssSampler(interval=3600) as rss:  # CPU clock only
            wl = AppendGrowth(spark, work, args.seed)
            if args.batch_docs is not None:
                wl.BATCH_DOCS = args.batch_docs
            ok = [wl.setup(wl.generate()).ok]
            cpu = lambda: tree_cpu_s(rss)  # noqa: E731
            ok.append(wl.op("warmup0", None, cpu).ok)
            ops = []
            for i in range(args.ops * len(bounds)):
                label, bound = f"op{i}", bounds[i % len(bounds)]
                kg.pipeline.DRIVER_BATCH_MAX_DOCS = bound
                sc.setJobGroup(f"plain@{label}", label)
                before = snapshot()
                with DriverPeak() as peak:
                    op = wl.op(label, None, cpu)
                classes, other = by_class(before, snapshot())
                ok.append(op.ok)
                ops.append({
                    "bound": bound, "cpu_s": op.cpu, "wall_s": op.wall, "driver_mb": peak.mb,
                    "classes": classes, "jvm_other": other,
                    "jobs": len(tracker.getJobIdsForGroup(f"plain@{label}")),
                })
            kg.pipeline.DRIVER_BATCH_MAX_DOCS = bounds[0]
            tracer = Tracer(spark)
            tracer.install()
            try:
                traced = wl.op("traced", tracer, cpu)
            finally:
                tracer.uninstall()
            ok.append(traced.ok)
            job_ids = {s: tracker.getJobIdsForGroup(f"{s}@traced") for s in ("driver", *STAGES)}
            stage_jobs = {s: len(ids) for s, ids in job_ids.items()}
            call_sites = {s: [_call_site(tracker, j) for j in sorted(ids)] for s, ids in job_ids.items()}
    finally:
        _stop_spark(spark)
    out = {
        "seed": args.seed, "batch_docs": wl.BATCH_DOCS, "correct": all(ok), "ops": ops,
        "traced_stage_jobs": stage_jobs,
    }
    if args.jobs:
        out["traced_call_sites"] = call_sites
    return out


def _call_site(tracker, job_id: int) -> str:
    """The name of a job's last Spark stage: its action's call site."""
    job = tracker.getJobInfo(job_id)
    stage = tracker.getStageInfo(max(job.stageIds)) if job and job.stageIds else None
    return stage.name if stage else "?"


def report(res: dict) -> str:
    med = lambda xs: statistics.median(xs)  # noqa: E731
    lines = [f"append_growth seed {res['seed']}, {res['batch_docs']}-doc batches, correct={res['correct']}"]
    bounds = list(dict.fromkeys(o["bound"] for o in res["ops"]))
    for bound in bounds:
        ops = [o for o in res["ops"] if o["bound"] == bound]
        total = med([o["cpu_s"] for o in ops])
        lines += [f"DRIVER_BATCH_MAX_DOCS={bound}: {len(ops)} ops",
                  f"{'class':<16}{'CPU-s':>8}{'share':>8}"]
        for cls in CLASSES:
            v = med([o["classes"][cls] for o in ops])
            lines.append(f"{cls:<16}{v:8.2f}{v / total:8.0%}")
        lines.append(f"{'op (tree)':<16}{total:8.2f}")
        names = {n for o in ops for n in o["jvm_other"]}
        top = sorted(((med([o["jvm_other"].get(n, 0.0) for o in ops]), n) for n in names), reverse=True)
        lines.append("jvm_other by thread: " + ", ".join(f"{n} {v:.2f}" for v, n in top[:6]))
        lines.append(f"wall {med([o['wall_s'] for o in ops]):.2f} s, driver peak "
                     f"{med([o['driver_mb'] for o in ops]):.0f} MB, "
                     f"jobs per op {med([o['jobs'] for o in ops]):g} (untraced)")
    stage = res["traced_stage_jobs"]
    lines.append(f"jobs per stage (traced op, DRIVER_BATCH_MAX_DOCS={bounds[0]}): " + ", ".join(
        f"{s} {n}" for s, n in stage.items()) + f"; total {sum(stage.values())}")
    for s, sites in res.get("traced_call_sites", {}).items():
        lines += [f"  {s}: {site}" for site in sites]
    return "\n".join(lines)


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "perfbench")):
        print("append_profile: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.run import _isolate

    work = os.path.join(root, ".append_profile_work", str(os.getpid()))
    _isolate(work)
    try:
        res = profile(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(report(res))
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

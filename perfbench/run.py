"""spark-kg benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload append_growth --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run builds its inputs from ``--seed``,
starts one ``local[<cpus>]`` Spark session through ``kg.session.get_spark``,
sets up (inputs, expected outputs, a checked bulk build or oracle pass,
then ``WARMUP_OPS`` untimed operations), then runs checked operations back
to back and prints, as its last stdout line,
``{"correct", "attempted", "failed", "metrics"}``.  The line before it is a
report: input properties and every op's wall and CPU seconds.

``--seconds`` fixes the number of timed operations: as many as take that
long on a quiet 4-core host (``NOMINAL_OP_S`` of the workload), at least
one.  A loaded host takes longer over the same operations, so every run of
a workload times the same ones, at the same point of the JVM's warm-up.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on Spark's
event log, runs three ops after setup (untraced, traced with the
``perfbench/trace.py`` wrappers installed, untraced) and reports the
per-layer metrics (``perfbench/metrics.py``) of the traced one.

Everything the run writes goes under ``.perfbench_work/`` in the current
directory, which is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

SETUP_REPEATS = 3  # input generation runs this often; its median counts
# untimed ops at the end of setup: the CPU an op costs falls by a sixth to
# a quarter from the first op to the second while the JVM compiles its plans
WARMUP_OPS = 1


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler:
    """Peak memory of this process and all its descendants (the JVM and its
    Python workers), sampled from /proc every ``interval`` s.  Each process
    counts its proportional set size (Pss), so pages the forked Python
    workers share are not counted once per worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.cpu = 0.0  # CPU seconds the sampling thread itself has used
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def descendants(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> int:
        total = 0
        for pid in self.descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            t = time.thread_time()
            self.peak = max(self.peak, self.sample())
            self.cpu += time.thread_time() - t
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def _cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal)."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def tree_cpu_s(sampler: RssSampler) -> float:
    """CPU seconds (user + system, own and reaped children) of this process
    tree: the Python driver, the JVM and its Python workers, less what the
    memory sampler used.  The kernel leaves time stolen by the hypervisor
    out of a task's CPU time, so unlike a wall this does not grow with the
    load of other guests on the host."""
    ticks = 0
    for pid in RssSampler.descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK") - sampler.cpu


def _steal_share(before: list[int]) -> float:
    """Share of CPU time since ``before`` that the hypervisor gave to other
    guests: op walls on a shared host grow with it."""
    used = [b - a for a, b in zip(before, _cpu_jiffies())]
    return used[7] / max(sum(used), 1)


def _isolate(work: str) -> None:
    """Keep every file the run writes (Python and JVM temp files, Spark
    local dirs) inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _start_spark(work: str, trace: bool):
    from kg.session import get_spark

    from perfbench.trace import event_log_conf

    conf = {
        # the default 8g heap is pre-touched at start; 1g holds these inputs
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf |= event_log_conf(os.path.join(work, "eventlog"))
    cpus = _cpus()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        shuffle_partitions=max(8, cpus), extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(RssSampler.descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _attempt(wl, label: str, rss: RssSampler, tracer=None):
    """One op; an exception counts as a failed op (traceback on stderr)."""
    from perfbench.workloads import Op

    t0 = time.perf_counter()
    jiffies = _cpu_jiffies()
    try:
        op = wl.op(label, tracer, lambda: tree_cpu_s(rss))
    except Exception:  # noqa: BLE001 - the loop goes on, the op is reported failed
        traceback.print_exc()
        op = Op(time.perf_counter() - t0, False)
    op.steal = _steal_share(jiffies)
    return op


def _loop(wl, seconds: float, rss: RssSampler) -> list:
    """Closed loop: ops back to back, as many as ``seconds`` holds at the
    workload's nominal op wall, at least one."""
    n = max(1, int(seconds // wl.NOMINAL_OP_S))
    return [_attempt(wl, f"op{i}", rss) for i in range(n)]


def run(args, work: str, rss: RssSampler) -> tuple[dict, dict]:
    from perfbench.trace import Tracer, fold_event_log
    from perfbench.workloads import WORKLOADS, spark_layers

    def clock() -> tuple[float, float]:
        return time.perf_counter(), tree_cpu_s(rss)

    jiffies = _cpu_jiffies()
    w0, c0 = clock()
    spark = _start_spark(work, bool(args.trace))
    w1, c1 = clock()
    session = (w1 - w0, c1 - c0)
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        gen, digests = [], set()
        for _ in range(SETUP_REPEATS):
            w0, c0 = clock()
            inputs = wl.generate()
            digests.add(wl.digest(inputs))
            w1, c1 = clock()
            gen.append((w1 - w0, c1 - c0))
        w0, c0 = clock()
        prepared = wl.setup(inputs)
        warm = [_attempt(wl, f"warmup{i}", rss) for i in range(WARMUP_OPS)]
        w1, c1 = clock()
        # set-up in CPU seconds, like op_cpu_s; its wall goes to the report
        setup_s = session[1] + statistics.median(c for _, c in gen) + (c1 - c0)
        setup_wall_s = session[0] + statistics.median(w for w, _ in gen) + (w1 - w0)
        checked = [prepared, *warm]
        if args.trace:
            # untraced, traced, untraced: the traced op is compared with the
            # mean of its neighbours, so warm-up drift cancels
            tracer = Tracer(spark)
            before = _attempt(wl, "op0", rss)
            tracer.install()
            try:
                traced = _attempt(wl, "traced", rss, tracer)
            finally:
                tracer.uninstall()
            plain = [before, _attempt(wl, "op1", rss)]
            checked += plain + [traced]
        else:
            plain = _loop(wl, args.seconds, rss)
            checked += plain
    finally:
        _stop_spark(spark)
    steal = _steal_share(jiffies)

    report = {
        "workload": args.workload, "seed": args.seed, "cpus": _cpus(),
        "inputs": wl.properties, "deterministic_inputs": len(digests) == 1,
        "setup_wall_s": setup_wall_s, "session_s": session[0],
        "generate_s": [w for w, _ in gen], "prepare_s": prepared.wall,
        "warmup_op_walls": [op.wall for op in warm], "warmup_op_cpu_s": [op.cpu for op in warm],
        "op_walls": [op.wall for op in plain],
        "op_cpu_s": [op.cpu for op in plain],
        "op_executed": [op.executed for op in plain],
        "host_steal_share": steal,
        "op_steal_share": [op.steal for op in plain],
    }
    correct = len(digests) == 1 and all(op.ok for op in checked)
    if args.trace:
        values = dict(traced.layers)
        values.update(spark_layers(fold_event_log(os.path.join(work, "eventlog")), "traced"))
        values["trace.overhead_s"] = traced.wall - statistics.fmean(op.wall for op in plain)
        report["traced_op_wall"] = traced.wall
        report["traced_stage_walls"] = tracer.stage_walls("traced")
    else:
        values = {"setup_s": setup_s, "op_cpu_s": statistics.median(op.cpu for op in plain)}
    result = {
        "correct": correct,
        "attempted": len(checked),
        "failed": sum(not op.ok for op in checked),
        "metrics": values,
    }
    return report, result


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    sys.path.insert(0, root)
    try:
        try:
            import kg.pipeline  # noqa: F401
            from perfbench import metrics, workloads
        except ImportError as exc:
            print(f"perfbench: run from the repository root ({exc})", file=sys.stderr)
            return 2
        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        with RssSampler() as rss:
            report, result = run(args, work, rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    result["metrics"]["peak_rss_mb"] = rss.peak / (1024 * 1024)
    result["metrics"] = metrics.payload(result["metrics"], bool(args.trace))
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""CPU, wall and Spark jobs of the ``query_leaves`` leaves, and the two size
rules in front of the near-duplicate leaves.

    python3 tools/leaf_profile.py leaves --seed 1 --passes 3
    python3 tools/leaf_profile.py oracles /root/testdata/sf0.01 /root/testdata/sf0.1
    python3 tools/leaf_profile.py crossover --docs 1000 5000 20000 --shape generator
    python3 tools/leaf_profile.py spread --sf 0.1 0.5 1 2

Run from the repository root.  Each mode starts one ``local[<cpus>]``
session the way ``perfbench/run.py`` starts it; CPU is user + system of the
whole process tree (driver, JVM, Python workers), Spark jobs are counted
per job group through ``sc.statusTracker()``.

- ``leaves``: sets up the perfbench ``query_leaves`` workload (same inputs,
  same oracle check), runs one untimed pass, then ``--passes`` passes of
  the ten leaves with the noop sink, as its op does; prints each leaf's
  median CPU seconds, wall seconds and jobs.
- ``oracles``: runs perfbench's ``QueryLeaves._check_oracles`` against the
  given table directories, with ``kg.ops.dedup.DRIVER_DEDUP_MAX_ROWS`` at
  its value and forced to 0 (the Spark side); prints the leaves that
  differ from their DuckDB oracles.
- ``crossover``: ``simhash_neardup`` and ``minhash_clusters`` at N
  documents with the bound forced to each side, on the generator's
  document shape (``perfbench.tables``: 10-100 words of a 30-word
  vocabulary, 5% planted near-duplicates) or a long-document shape (2,000
  words each from a 20,000-word vocabulary, 5% near-duplicates).  One
  warm-up call, then ``--repeats`` calls; prints median CPU, wall, jobs
  and the Python driver's peak resident MB during the call over its size
  before it.
- ``spread``: the consumers of ``kg.relational.spread_small_scan``
  (``simhash`` and the minhash signature kernel) on the generator's
  ``documents`` at each scale factor, with
  the scan always round-robin repartitioned to the pool's parallelism
  (spread) and never (no spread), interleaved; prints the input's plan
  size estimate (what ``SPREAD_MIN_BYTES`` is compared with), median CPU
  and wall, and the host's steal share over each config's calls (walls
  follow steal; CPU does not).  Both sides are forced: a one-row-group
  file scans as several splits of which one holds every row, so the
  split count does not tell whether a scan is spread.

It imports perfbench and changes none of it.  Everything it writes goes
under ``.leaf_profile_work/`` in the current directory, deleted at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import threading
import time

DEDUP_LEAVES = ("simhash_neardup", "minhash_clusters")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="mode", required=True)
    q = sub.add_parser("leaves")
    q.add_argument("--seed", type=int, default=1)
    q.add_argument("--passes", type=int, default=3)
    o = sub.add_parser("oracles")
    o.add_argument("dirs", nargs="+")
    c = sub.add_parser("crossover")
    c.add_argument("--docs", type=int, nargs="+", default=[1000, 5000, 20000])
    c.add_argument("--shape", choices=("generator", "long"), default="generator")
    c.add_argument("--repeats", type=int, default=3)
    s = sub.add_parser("spread")
    s.add_argument("--sf", type=float, nargs="+", default=[0.1, 0.5, 1, 2])
    s.add_argument("--repeats", type=int, default=3)
    return p.parse_args(argv)


class DriverPeak:
    """Peak resident size of this process while in the ``with`` block, in
    MB over its size on entry (``/proc/self/status``, sampled every 5 ms)."""

    def __enter__(self):
        self.base = self.peak = self._rss()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    @staticmethod
    def _rss() -> int:
        with open("/proc/self/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def _run(self):
        while not self._stop.wait(0.005):
            self.peak = max(self.peak, self._rss())

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._rss())
        self.mb = (self.peak - self.base) / 1024
        return False


class Meter:
    """CPU, wall and Spark jobs of one call, counted under its own job group."""

    def __init__(self, spark, rss):
        from perfbench.run import tree_cpu_s

        self.sc = spark.sparkContext
        self.cpu = lambda: tree_cpu_s(rss)
        self.n = 0

    def __call__(self, fn) -> dict:
        from perfbench.run import _cpu_jiffies, _steal_share

        self.n += 1
        group = f"leaf_profile{self.n}"
        self.sc.setJobGroup(group, group)
        jiffies = _cpu_jiffies()
        c0, t0 = self.cpu(), time.perf_counter()
        fn()
        wall, cpu = time.perf_counter() - t0, self.cpu() - c0
        return {
            "cpu_s": cpu, "wall_s": wall, "steal": _steal_share(jiffies),
            "jobs": len(self.sc.statusTracker().getJobIdsForGroup(group)),
        }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(runs: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in runs)


def leaves(spark, meter, work, args) -> bool:
    from perfbench.metrics import QUERY_LEAVES
    from perfbench.workloads import QueryLeaves

    wl = QueryLeaves(spark, work, args.seed)
    ok = wl.setup(wl.generate()).ok
    runs: dict[str, list[dict]] = {q: [] for q in QUERY_LEAVES}
    for i in range(args.passes + 1):
        for q in QUERY_LEAVES:
            r = meter(lambda: _noop(wl.queries[q](spark, wl.sf_dir)))  # noqa: B023
            if i:  # the first pass warms up
                runs[q].append(r)
    print(f"query_leaves seed {args.seed}, median of {args.passes} passes, oracles ok={ok}")
    print(f"{'leaf':<20}{'CPU-s':>8}{'wall-s':>8}{'jobs':>6}")
    for q in QUERY_LEAVES:
        rs = runs[q]
        print(f"{q:<20}{_median(rs, 'cpu_s'):8.2f}{_median(rs, 'wall_s'):8.2f}{_median(rs, 'jobs'):6g}")
    print(f"{'pass':<20}{sum(_median(rs, 'cpu_s') for rs in runs.values()):8.2f}"
          f"{sum(_median(rs, 'wall_s') for rs in runs.values()):8.2f}")
    return ok


def oracles(spark, meter, work, args) -> bool:
    import __spark_entry__ as entry
    import kg.ops.dedup as dedup
    from perfbench.workloads import QueryLeaves

    default = dedup.DRIVER_DEDUP_MAX_ROWS
    ok = True
    for i, d in enumerate(args.dirs):
        for bound in (default, 0):
            # own work dir per table dir: the oracles' simhash word table is cached there
            wl = QueryLeaves(spark, os.path.join(work, f"oracles{i}-{bound}"), 0)
            os.makedirs(wl.work, exist_ok=True)
            wl.sf_dir, wl.queries = d, entry.queries()
            dedup.DRIVER_DEDUP_MAX_ROWS = bound
            try:
                bad = wl._check_oracles(entry)
            finally:
                dedup.DRIVER_DEDUP_MAX_ROWS = default
            ok = ok and not bad
            print(f"{d} bound {bound}: {'all ten leaves match' if not bad else 'MISMATCH ' + ', '.join(bad)}")
    return ok


def long_documents(n: int, seed: int = 1):
    """``n`` documents of 2,000 words from a 20,000-word vocabulary, 5% of
    them a copy of an earlier one with one word inserted."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng([seed, 0x10C])
    vocab = np.array([f"w{i}" for i in range(20_000)])
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = vocab[rng.integers(0, vocab.size, 2000)].tolist()
        texts.append(" ".join(words))
    return pa.table({"doc_id": pa.array(np.arange(n), pa.int64()), "text": pa.array(texts, pa.string())})


def crossover(spark, meter, work, args) -> bool:
    import numpy as np
    import pyarrow.parquet as pq

    import kg.ops.dedup as dedup
    from perfbench import tables

    default = dedup.DRIVER_DEDUP_MAX_ROWS
    print(f"shape {args.shape}: median of {args.repeats} calls after one warm-up")
    print(f"{'leaf':<18}{'docs':>7}{'side':>8}{'CPU-s':>8}{'wall-s':>8}{'jobs':>6}{'driver MB':>11}{'rows out':>10}")
    ok = True
    for n in args.docs:
        if args.shape == "generator":
            table = tables._documents(np.random.default_rng([1, 0x7AB1E5]), n)
        else:
            table = long_documents(n)
        path = os.path.join(work, f"docs{n}.parquet")
        pq.write_table(table.select(["doc_id", "text"]), path)
        docs = spark.read.parquet(path)
        for leaf in DEDUP_LEAVES:
            fn = getattr(dedup, leaf)
            outs = {}
            for side, bound in (("driver", 10**12), ("spark", 0)):
                dedup.DRIVER_DEDUP_MAX_ROWS = bound
                try:
                    runs = []
                    for i in range(args.repeats + 1):
                        with DriverPeak() as peak:
                            r = meter(lambda: _noop(fn(docs)))  # noqa: B023
                        r["mb"] = peak.mb
                        if i:
                            runs.append(r)
                    outs[side] = sorted(fn(docs).collect())
                finally:
                    dedup.DRIVER_DEDUP_MAX_ROWS = default
                print(f"{leaf:<18}{n:7d}{side:>8}{_median(runs, 'cpu_s'):8.2f}{_median(runs, 'wall_s'):8.2f}"
                      f"{_median(runs, 'jobs'):6g}{_median(runs, 'mb'):11.0f}{len(outs[side]):10d}", flush=True)
            same = outs["driver"] == outs["spark"]
            ok = ok and same
            if not same:
                print(f"{leaf} at {n}: the two sides DIFFER", flush=True)
    return ok


def spread(spark, meter, work, args) -> bool:
    """Interleaves spread / no spread per call, so drift and steal hit both."""
    import numpy as np
    import pyarrow.parquet as pq

    import kg.relational as R
    from kg.ops import dedup
    from perfbench import tables

    default = R.spread_small_scan
    width = spark.sparkContext.defaultParallelism
    sides = (("spread", lambda df: df.repartition(width)), ("no spread", lambda df: df))
    leaves = {
        "simhash": lambda d: dedup.simhash64(d["documents"]),
        "minhash_sigs": lambda d: dedup.doc_shingle_buckets(d["documents"]),
    }
    print(f"median of {args.repeats} interleaved calls per side after one warm-up each")
    print(f"{'leaf':<14}{'sf':>5}{'plan MB':>9}{'side':>11}{'CPU-s':>8}{'wall-s':>8}{'jobs':>6}{'steal':>7}")
    for sf in args.sf:
        # perfbench.tables.generate's first table, without its star schema
        # (millions of lineitem rows at sf 2): the same generator state, so
        # the same rows
        rng = np.random.default_rng([1, 0x7AB1E5])
        path = os.path.join(work, f"documents-{sf}.parquet")
        pq.write_table(tables._documents(rng, max(16, int(sf * 50_000))), path)
        frames = {"documents": spark.read.parquet(path)}
        for leaf, build in leaves.items():
            src = frames["documents"].select("doc_id", "text")
            est = src._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() / 2**20
            runs = {"spread": [], "no spread": []}
            try:
                for i in range(args.repeats + 1):
                    for side, rule in sides:
                        R.spread_small_scan = rule
                        r = meter(lambda: _noop(build(frames)))  # noqa: B023
                        if i:
                            runs[side].append(r)
            finally:
                R.spread_small_scan = default
            for side, rs in runs.items():
                print(f"{leaf:<14}{sf:5g}{est:9.2f}{side:>11}{_median(rs, 'cpu_s'):8.2f}"
                      f"{_median(rs, 'wall_s'):8.2f}{_median(rs, 'jobs'):6g}"
                      f"{max(r['steal'] for r in rs):7.1%}", flush=True)
    return True


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "perfbench")):
        print("leaf_profile: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.run import RssSampler, _isolate, _start_spark, _stop_spark

    work = os.path.join(root, ".leaf_profile_work", str(os.getpid()))
    _isolate(work)
    try:
        spark = _start_spark(work, trace=False)
        try:
            with RssSampler(interval=3600) as rss:  # CPU clock only
                meter = Meter(spark, rss)
                ok = globals()[args.mode](spark, meter, work, args)
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

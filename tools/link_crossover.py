"""Time the linked stage on the driver or the distributed linking path.

Builds a committed signature table of N distinct mentions, then times
``kg.linking.link_committed`` plus the commit of its map, forcing one path
through ``DRIVER_LINK_MAX_MENTIONS``.  One path per process, so each run's
memory is its own; the first round warms the path up and is not counted.

Two mention sets:

- ``generator``: the benchmark's surfaces (``perfbench.corpus.Generator``
  lexicons, scaled to N with the benchmark's tag shares: CJK names with
  suffixes, 30% near-variants, 5% Latin);
- ``prefix``: the shape of a real organisation lexicon, long shared
  prefixes (N // 1000 roots of 6-10 characters, each followed by a 1-4
  character tail), which fills LSH buckets up to and past
  ``LSH_MAX_BUCKET`` and so loads the pair verify;
- ``dense``: the verify's worst case, 150 one-character extensions of each
  20-character root, so nearly every member of a root shares every band's
  bucket (just under ``LSH_MAX_BUCKET``) and every pair verifies.

Prints, per counted run, wall and CPU seconds (user + system of the whole
process tree: driver, JVM, Python workers), the peak proportional set size
of the tree during the run, and the peak resident size of the Python driver
process alone (where the driver linker holds the signatures); then the
medians, the candidate pairs per mention (pairs of bucket members, counted
once per band, in buckets of at most ``LSH_MAX_BUCKET``: what both paths
verify), the largest bucket, and a hash of the linked map (equal across
paths).  The numbers behind ``DRIVER_LINK_MAX_MENTIONS`` come from this
script.

``tail`` measures the rest of an append's driver tail at N mentions
instead (``tail``'s docstring): the driver's peak resident size in each
step, with the pre-batch map held throughout.

Usage, from the repository root:
    python tools/link_crossover.py N generator|prefix|dense driver|distributed [rounds]
    python tools/link_crossover.py N generator|prefix|dense tail
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import kg.linking as L  # noqa: E402
from kg.catalog import StageCatalog  # noqa: E402
from kg.config import LSH_MAX_BUCKET  # noqa: E402
from kg.graph import merge_counts_local, nodes_from_counts_local  # noqa: E402
from kg.session import get_spark  # noqa: E402
from perfbench.corpus import _LEXICON_SIZE, Generator  # noqa: E402
from perfbench.run import RssSampler, tree_cpu_s  # noqa: E402


def generator_mentions(n: int, seed: int = 5) -> list[str]:
    gen = Generator(seed)
    rng = random.Random(f"link-crossover:{seed}")
    total = sum(_LEXICON_SIZE.values())
    out: set[str] = set()
    for tag, size in _LEXICON_SIZE.items():
        out.update(gen._lexicon(rng, tag, -(-n * size // total), out))
    return sorted(out)[:n]


def prefix_mentions(n: int, seed: int = 5) -> list[str]:
    rng = random.Random(f"link-crossover-prefix:{seed}")
    alphabet = [chr(0x4E01 + i) for i in range(3000)]
    roots = ["".join(rng.choices(alphabet, k=rng.randint(6, 10))) for _ in range(max(2, n // 1000))]
    out: set[str] = set()
    while len(out) < n:
        out.add(rng.choice(roots) + "".join(rng.choices(alphabet, k=rng.randint(1, 4))))
    return sorted(out)


def dense_mentions(n: int, seed: int = 5) -> list[str]:
    rng = random.Random(f"link-crossover-dense:{seed}")
    alphabet = [chr(0x4E01 + i) for i in range(3000)]
    out: list[str] = []
    while len(out) < n:
        root = "".join(rng.choices(alphabet, k=20))
        out += [root + c for c in rng.sample(alphabet, 150)]
    return sorted(out[:n])


def bucket_load(cat: StageCatalog, sig_stage: str) -> tuple[float, int]:
    """(candidate pairs per mention, largest bucket) of a signature table."""
    table = cat.read_arrow(sig_stage, ["buckets"])
    sizes = Counter(k for keys in table.column("buckets").to_pylist() for k in keys)
    pairs = sum(s * (s - 1) // 2 for s in sizes.values() if s <= LSH_MAX_BUCKET)
    return pairs / table.num_rows, max(sizes.values())


def driver_peak_mb(reset: bool = False) -> float:
    """Peak resident size of this process since the last reset."""
    if reset:
        with open("/proc/self/clear_refs", "w", encoding="ascii") as f:
            f.write("5")
    with open("/proc/self/status", encoding="ascii") as f:
        return int(re.search(r"VmHWM:\s+(\d+)", f.read()).group(1)) / 1024


def linked_map(cat: StageCatalog) -> dict[str, str]:
    table = cat.read_arrow("linked")
    return dict(zip(table.column("mention").to_pylist(), table.column("canonical").to_pylist()))


def tail(cat: StageCatalog, texts: list[str], seed: int = 5) -> None:
    """An append of 1% never-seen mentions into a base of the other 99%, on
    the driver side of the bound, step by step: the pre-batch map read (and
    held to the end), the signature delta, linking, the ``nodes_mtc``
    merge, the nodes build, and the map comparison that counts the old
    mentions the batch renamed.  Per step: wall seconds and the Python
    driver's peak resident size during it.  The base's (mention, tag, cnt)
    statistic gives each mention one or two of three tags; the batch has 5
    mention rows per new mention, 4 of them of base mentions."""
    import pyarrow as pa

    rng = random.Random(f"link-crossover-tail:{seed}")
    new = set(rng.sample(texts, max(1, len(texts) // 100)))
    base = [t for t in texts if t not in new]
    df = cat.spark.createDataFrame([(m,) for m in base], "mention string")
    L.signature_base(df, catalog=cat, stage_name="sigs", anchor={"mentions": "pre"})
    cat.run("linked", lambda: L.link_committed(cat, "sigs", True, "cc"), inputs=["sigs"])
    tags = ("nr", "ns", "nt")
    counts = [(m, t, rng.randint(1, 50)) for m in base for t in rng.sample(tags, rng.randint(1, 2))]
    cat.write("nodes_mtc", pa.table({
        "mention": [m for m, _, _ in counts], "tag": [t for _, t, _ in counts],
        "cnt": pa.array([c for _, _, c in counts], pa.int64()),
    }))
    batch = sorted(new) + rng.choices(base, k=4 * len(new))
    rows = pa.table({"mention": batch, "tag": [rng.choice(tags) for _ in batch]})
    del df, counts, base

    def step(name, fn):
        driver_peak_mb(reset=True)
        t0 = time.perf_counter()
        out = fn()
        print(f"tail {name}: {time.perf_counter() - t0:.2f} s, driver peak {driver_peak_mb():.0f} MB",
              flush=True)
        return out

    driver_peak_mb(reset=True)
    print(f"tail n={len(texts)}: base {len(texts) - len(new)}, new {len(new)}, "
          f"batch rows {rows.num_rows}, driver before {driver_peak_mb():.0f} MB", flush=True)
    old_map = step("old map", lambda: linked_map(cat))
    step("signature delta", lambda: L.signature_base(
        sorted(set(batch)), catalog=cat, stage_name="sigs", anchor={"mentions": "post"},
        increment=True,
    ))
    step("link", lambda: cat.write(
        "linked", L.link_committed(cat, "sigs", True, "cc"), inputs=["sigs"]
    ))
    step("nodes_mtc", lambda: cat.write(
        "nodes_mtc", merge_counts_local(cat.read_arrow("nodes_mtc"), rows)
    ))
    step("nodes", lambda: cat.write("nodes", nodes_from_counts_local(
        cat.read_arrow("nodes_mtc").to_pandas(), cat.read_arrow("linked").to_pandas()
    ), partition_by=("kind",)))

    def compare():
        now = linked_map(cat)
        return sum(now.get(m) != c for m, c in old_map.items())

    moved = step("map comparison", compare)
    print(f"RESULT tail n={len(texts)}: {moved} old mentions moved, "
          f"nodes {cat.manifest('nodes')['rows']}")


def main(n: int, corpus: str, path: str, rounds: int) -> None:
    texts = {
        "generator": generator_mentions, "prefix": prefix_mentions, "dense": dense_mentions,
    }[corpus](n)
    L.DRIVER_LINK_MAX_MENTIONS = {"driver": 10**12, "distributed": 0, "tail": 10**12}[path]
    work = tempfile.mkdtemp(prefix="link_crossover_")
    spark = get_spark(
        app_name="link-crossover", shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        cat = StageCatalog(spark, work)
        if path == "tail":
            return tail(cat, texts)
        df = spark.createDataFrame([(m,) for m in texts], "mention string")
        L.signature_base(df, catalog=cat, stage_name="sigs")
        per_mention, largest = bucket_load(cat, "sigs")
        runs: list[tuple[float, float, float, float]] = []
        digest = ""
        with RssSampler() as cpu_sampler:
            for r in range(rounds + 1):
                for d in os.listdir(work):
                    if d.startswith("cc_") or d == "linked":
                        shutil.rmtree(os.path.join(work, d))
                driver_peak_mb(reset=True)
                with RssSampler() as rss:
                    c0, t0 = tree_cpu_s(cpu_sampler), time.perf_counter()
                    on_driver = L.links_on_driver(cat, "sigs")
                    out = cat.run(
                        "linked", lambda: L.link_committed(cat, "sigs", on_driver, "cc"),
                        inputs=["sigs"],
                    )
                    wall, cpu = time.perf_counter() - t0, tree_cpu_s(cpu_sampler) - c0
                peak_mb, own_mb = rss.peak / 2**20, driver_peak_mb()
                if r == 0:
                    rows = sorted(map(tuple, out.collect()))
                    digest = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
                else:
                    runs.append((wall, cpu, peak_mb, own_mb))
                print(
                    f"{path} round {r}: wall {wall:.2f} s, cpu {cpu:.2f} s, "
                    f"peak {peak_mb:.0f} MB, driver peak {own_mb:.0f} MB", flush=True,
                )
        med = [statistics.median(v[i] for v in runs) for i in range(4)]
        print(
            f"RESULT {corpus} n={len(texts)} {path}: wall {med[0]:.2f} s, cpu {med[1]:.2f} s, "
            f"peak {med[2]:.0f} MB, driver peak {med[3]:.0f} MB, "
            f"pairs/mention {per_mention:.1f}, "
            f"largest bucket {largest}, map {digest}"
        )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(
        int(sys.argv[1]), sys.argv[2], sys.argv[3],
        int(sys.argv[4]) if len(sys.argv) > 4 else 3,
    )

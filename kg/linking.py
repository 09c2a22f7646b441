"""Entity linking + canonicalization (SURVEY.md §7.1 step 7).

MinHash over char n-grams of the mention surface (vectorized NumPy inside a
``mapInPandas`` kernel), LSH banding into bucket keys, candidate pairs within
buckets (mega-buckets above ``LSH_MAX_BUCKET`` members are dropped — standard
LSH practice), exact-Jaccard verification, then connected components whose
canonical form is the lexicographically smallest mention text.

Two implementations of candidate/verify/CC share the signature table and
every hash function:

- the DRIVER linker (``link_signatures``) for small signature tables: one
  Arrow read of (mention, shingles, buckets), bucket grouping, exact
  Jaccard, ``_union_find``, the map committed from a ``pyarrow.Table`` — no
  Spark job, and no ``{stage_prefix}_final`` commit.  The pipeline takes it
  at or below ``DRIVER_LINK_MAX_MENTIONS`` distinct mentions
  (``links_on_driver``), and keeps the signature delta and the nodes build
  on the driver under the same rule.  It
  used less CPU and wall than the distributed path at every size measured
  on a 4-core VM (up to 200k, on three mention shapes), so the bound caps
  the driver process's memory, not a speed crossover (the table is at the
  constant); ``link_local`` is the same linker over signatures computed
  in-process, and its candidate/verify core (``verified_pairs``) also
  finishes ``kg.ops.dedup.minhash_clusters`` below that module's bound;
- the DISTRIBUTED path (``link_from_signatures``) above the bound: a bucket
  self-equi-join (salted for hot buckets, AQE skew-join as backstop), a
  JVM array_intersect verify, and ``connected_components`` with durable
  round checkpoints.

Skew (north_rule): identical surface forms are deduplicated *before* hashing
(``distinct`` on mention text), which removes the Zipf mass entirely; what
remains is bucket-level skew among distinct strings.

All hash functions are explicit modular arithmetic (no engine-dependent
``hash()``), so both paths compute identical signatures and verdicts.
"""

from __future__ import annotations

from collections.abc import Iterable
from itertools import combinations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg.config import (
    LINK_JACCARD,
    LSH_BANDS,
    LSH_MAX_BUCKET,
    MINHASH_PRIME,
    NUM_HASHES,
    SALT_BUCKETS,
    SHINGLE_K,
)

_P = MINHASH_PRIME

# Signature tables with at most this many rows (distinct mentions) are linked
# on the driver (``link_committed``); larger ones take the distributed path.
# Measured with ``tools/link_crossover.py`` on a 4-core VM (local[4], 8
# shuffle partitions, 2 GB driver heap): the linked stage alone (link +
# commit of the map), one path per process, median of 3 runs after one
# warm-up.  Mention sets: "gen" = the benchmark generator's surfaces
# (perfbench/corpus.py lexicons, scaled), "prefix" = long shared prefixes,
# "dense" = the verify's worst case (every mention in a bucket just under
# LSH_MAX_BUCKET in every band).  pairs = candidate pairs per mention;
# wall s / CPU s of the process tree; MB = peak resident size of the Python
# driver process (~130 MB before linking):
#                          pairs   driver               distributed
#   gen        2,000        0.2    0.21 /  0.68  132    0.99 /   2.83  154
#   gen       20,000        0.2    0.43 /  1.14  181    1.45 /   4.21  173
#   gen      100,000        0.2    1.33 /  1.87  382    2.21 /   5.19  239
#   gen      200,000        0.2    2.62 /  3.27  638    3.44 /   7.81  343
#   prefix     2,000       13.7    0.24 /  0.68  134    1.28 /   3.71  158
#   prefix    20,000       11.2    0.60 /  1.50  193    2.25 /   5.07  199
#   prefix   100,000       14.3    2.50 /  3.09  434   11.32 /  34.96  238
#   prefix   200,000       15.1    5.11 /  5.85  671   28.37 /  79.01  354
#   dense     20,000      194.1    4.08 /  5.07  250   13.21 /  40.84  171
#   dense    100,000      195.2   20.11 / 20.45  693   72.50 / 203.01  245
#   dense    200,000      195.2   40.15 / 40.00 1195   (not run)
# Both paths gave the same map on every row.  CPU decides the path (it is
# the benchmark's end-to-end metric, op_cpu_s), and the driver uses 2.4-13.5x
# less of it, and less wall, on every row: there is no speed crossover in
# this range.  The bound is set by the driver process's memory instead,
# which Spark neither manages nor spills: it grows 2.5 (gen) to 5.6 (dense)
# KB per distinct mention, and 100k keeps the worst measured shape at about
# 0.55 GB over the process's baseline (200k takes it past 1 GB).  No
# benchmark workload sits above the bound (append_growth links under 2k
# distinct mentions), so the benchmark measures only the driver side of
# this selection; the distributed side is covered by tests and this table.
# (Measured when the driver path still committed its map through Spark;
# committing it from a ``pyarrow.Table`` only lowers the driver column.)
# The same bound keeps the rest of an append's vocabulary-sized tail on the
# driver.  ``tools/link_crossover.py 100000 <shape> tail`` runs it step by
# step at the bound (1% never-seen mentions, the pre-batch map held
# throughout); peak resident MB of the Python driver in each step, same VM:
#              before  old map  sig delta  link  nodes_mtc  nodes  map compare
#   gen          180      200        210   355        281    341          324
#   prefix       215      230        240   397        300    342          326
#   dense        202      249        269   663        364    376          342
# Linking sets the tail's peak on every shape; the pandas nodes_mtc merge,
# the nodes build and the map comparison stay under it.
DRIVER_LINK_MAX_MENTIONS = 100_000


def _hash_params(num_hashes: int = NUM_HASHES, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rs = np.random.RandomState(seed)
    a = rs.randint(1, _P, size=num_hashes).astype(np.int64)
    b = rs.randint(0, _P, size=num_hashes).astype(np.int64)
    return a, b


def shingle_hashes(text: str, k: int = SHINGLE_K) -> np.ndarray:
    """Distinct char k-gram polynomial hashes (mod 2^31-1), int64.

    Vectorized (VERDICT r5 item 5): the per-character Python fold
    ``h = (h*131 + ord(ch)) % P`` is replaced by one NumPy expression over
    the codepoint array — for the default k=3 the fold expands to
    ``(c0*131^2 + c1*131 + c2) % P``, whose un-modded intermediate is
    <= 0x10FFFF * (131^2+131+1) < 2^35, so a single final ``% P`` yields
    the identical residue the stepwise fold produced (same identity for
    any k while ``max_cp * (131^k-1)/130`` fits int64: k <= 7, since
    0x10FFFF * (131^8-1)/130 > 2^63; larger k raises).
    Distinctness via ``np.unique`` (sorted — callers treat the array as a
    set).  Hash values are bit-identical to the old fold; the DuckDB
    oracles and the driver-side twins are unchanged.
    """
    if not 1 <= k <= 7:
        raise ValueError(f"shingle size k={k} outside 1..7 (int64 overflow)")
    cps = np.frombuffer(
        text.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    ).astype(np.int64)
    n = cps.size
    if n < k:
        h = 0
        for c in cps:
            h = (h * 131 + int(c)) % _P
        return np.array([h], dtype=np.int64)
    acc = np.zeros(n - k + 1, dtype=np.int64)
    for j in range(k):
        acc += cps[j : n - k + 1 + j] * (131 ** (k - 1 - j))
    return np.unique(acc % _P)


def _minhash(x: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    if x.size == 0:
        return np.full(a.shape[0], _P - 1, dtype=np.int64)
    # (H, M) = a[:,None]*x[None,:] + b ; min over shingles
    return ((a[:, None] * x[None, :] + b[:, None]) % _P).min(axis=1)


def minhash_signature(text: str, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return _minhash(shingle_hashes(text), a, b)


def _signature_row(text: str, a: np.ndarray, b: np.ndarray) -> tuple[list[int], list[str]]:
    """(shingle hashes, LSH bucket keys) of one mention — the signature
    table's row, shared by the Arrow kernel and ``link_local``."""
    x = shingle_hashes(text)
    return x.tolist(), band_keys(_minhash(x, a, b))


def signature_rows(mentions: list[str]):
    """The signature table's rows for ``mentions``, computed in-process as a
    ``pyarrow.Table`` (mention, shingles, buckets) — the kernel's rows
    without a Spark job, for deltas small enough to hold on the driver."""
    import pyarrow as pa

    a, b = _hash_params()
    rows = [_signature_row(m, a, b) for m in mentions]
    return pa.table({
        "mention": pa.array(mentions, pa.string()),
        "shingles": pa.array([x for x, _ in rows], pa.list_(pa.int64())),
        "buckets": pa.array([keys for _, keys in rows], pa.list_(pa.string())),
    })


def band_keys(sig: np.ndarray, bands: int = LSH_BANDS) -> list[str]:
    rows = sig.shape[0] // bands
    keys = []
    for bi in range(bands):
        h = 0
        for v in sig[bi * rows : (bi + 1) * rows]:
            h = (h * 1_000_003 + int(v)) % (1 << 61)
        keys.append(f"{bi}:{h:x}")
    return keys


def jaccard(t1: str, t2: str) -> float:
    s1 = set(shingle_hashes(t1).tolist())
    s2 = set(shingle_hashes(t2).tolist())
    if not s1 and not s2:
        return 1.0
    return len(s1 & s2) / len(s1 | s2)


def mention_shingle_buckets(mention_texts: DataFrame) -> DataFrame:
    """One Arrow pass over DISTINCT mentions: (mention, shingles, buckets).

    Shingle hashes, the MinHash signature, and the banded LSH keys all come
    out of the SAME kernel (the kg/ops/dedup.py doc_shingle_buckets
    discipline, VERDICT r4 item 3): downstream the verify join reuses the
    shingle arrays JVM-side instead of recomputing them from mention text
    per candidate pair.  Empty-shingle mentions still bucket together
    (signature P-1 everywhere) — same semantics as before."""
    a, b = _hash_params()

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = [_signature_row(m, a, b) for m in pdf["mention"]]
            yield pd.DataFrame({
                "mention": list(pdf["mention"]),
                "shingles": [x for x, _ in rows],
                "buckets": [keys for _, keys in rows],
            })

    return mention_texts.select("mention").distinct().mapInPandas(
        kernel, "mention string, shingles array<long>, buckets array<string>"
    )


def signature_base(
    distinct,
    catalog=None,
    stage_name: str = "cc_sigs",
    anchor: dict[str, str] | None = None,
    increment: bool = False,
) -> DataFrame:
    """Durable, append-only signature table over DISTINCT mentions.

    The 100-TB growth shape: signatures are pure per-row functions of the
    mention string, so when the corpus grows, the Arrow kernel only needs
    to run over never-before-seen mentions — the anti-join delta — and the
    new rows are appended file-wise through ``StageCatalog.append``
    (tests/test_incremental_sigs.py pins that only the delta is signed).

    Reconciliation (``increment=False``): ``distinct`` is the FULL current
    mention set.  Rows whose mention is NOT in it mean the catalog dir was
    reused for a different (non-superset) corpus: stale signature rows
    could bridge CC components and corrupt canonical labels, so the table
    is rebuilt from scratch instead.  Both checks are one full-outer pass,
    bounded by the distinct-mention count.

    Delta (``increment=True``): the caller has proven the table covers
    exactly the mentions before a batch, and ``distinct`` holds only the
    batch's mentions.  Nothing can be stale, so the delta is ``distinct``
    left-anti the table — O(batch) instead of O(corpus).  When the table is
    small enough to link on the driver (``links_on_driver``) the caller
    passes the batch's mentions as a list of strings: the delta is taken
    against one Arrow read of the table's mention column, signed in-process
    (``signature_rows``) and appended as a ``pyarrow.Table`` — no Spark job.

    ``distinct`` is a DataFrame, or a list of mention strings held on the
    driver (the distinct values, as ``select("mention").distinct()`` gives
    them, a null included).  A list is signed in-process in every mode: the
    first commit, the delta and the reconciliation, whose stale rows
    rebuild the whole table from the list as they do from a DataFrame.

    ``anchor`` (extra manifest inputs, e.g. ``{"mentions": fingerprint}``)
    is recorded on every commit, and re-recorded when nothing changed, so a
    caller can later prove which mention set the table covers.  Without a
    catalog this is exactly one kernel pass.
    """
    def sign(mentions):
        if isinstance(mentions, list):
            return signature_rows(mentions)
        return mention_shingle_buckets(mentions)

    if catalog is None:
        return sign(distinct)
    if catalog.manifest(stage_name) is None:
        return catalog.run(stage_name, lambda: sign(distinct), extra_inputs=anchor)
    n_stale, delta = 0, None
    if isinstance(distinct, list):
        known = set(catalog.read_arrow(stage_name, ["mention"]).column("mention").to_pylist())
        if not increment:
            n_stale = len(known.difference(distinct))
        fresh = [m for m in distinct if m not in known]
        if fresh and not n_stale:
            delta = signature_rows(fresh)
    elif increment:
        # batch-sized: collect the delta's strings so emptiness costs no extra
        # job; from pandas the kernel input is a local relation (a row list
        # would start a Python worker per partition just to unpickle it)
        import pandas as pd

        existing = catalog.read(stage_name).select("mention")
        fresh = [r["mention"] for r in distinct.join(existing, "mention", "left_anti").collect()]
        if fresh:
            delta = mention_shingle_buckets(catalog.spark.createDataFrame(
                pd.DataFrame({"mention": fresh}), "mention string"
            ))
    else:
        existing = catalog.read(stage_name).select("mention")
        distinct = distinct.localCheckpoint()  # scanned by reconcile + delta
        counts = (
            distinct.withColumn("_new", F.lit(1))
            .join(existing.withColumn("_old", F.lit(1)), "mention", "full_outer")
            .select(
                F.count(F.when(F.col("_old").isNull(), 1)).alias("n_delta"),
                F.count(F.when(F.col("_new").isNull(), 1)).alias("n_stale"),
            )
            .collect()[0]
        )
        n_stale = counts["n_stale"]
        if counts["n_delta"] and not n_stale:
            delta = mention_shingle_buckets(distinct.join(existing, "mention", "left_anti"))
    if n_stale:
        catalog.write(stage_name, sign(distinct), extra_inputs=anchor)
        catalog.executed.append(stage_name)
    elif delta is not None:
        catalog.append(stage_name, delta, extra_inputs=anchor)
    elif anchor:
        catalog.reanchor(stage_name, anchor)
    return catalog.read(stage_name)


def candidate_pairs(
    buckets: DataFrame,
    max_bucket: int = LSH_MAX_BUCKET,
    salt_threshold: int = 32,
    n_salts: int = SALT_BUCKETS,
    key: str = "mention",
) -> DataFrame:
    """Self-join within LSH buckets, skew-managed three ways (north_rule):

    - buckets above ``max_bucket`` members are dropped entirely (standard
      LSH mega-bucket cap — they are non-discriminative);
    - hot buckets (> ``salt_threshold``) go through a SALTED self-join: the
      probe side's join key becomes (bucket, hash(mention) % n_salts) and
      the build side is replicated across all salts, so one hot bucket
      spreads over ``n_salts`` reducers instead of one straggler task —
      every pair is still produced exactly once (at the probe row's salt);
    - everything else is a plain bucket equi-join, with AQE skew-join as
      the runtime backstop.

    ``key`` names the member column (mention text in the legacy tests, a
    compact surrogate id on the production path — link_mentions passes ids
    so no mention text crosses the pair shuffle, VERDICT r4 item 3).
    """
    sized = buckets.join(
        buckets.groupBy("bucket").agg(F.count("*").alias("bsz")), "bucket"
    ).where(F.col("bsz") <= max_bucket)

    cold = sized.where(F.col("bsz") <= salt_threshold)
    pairs_cold = (
        cold.select("bucket", F.col(key).alias("m1"))
        .join(cold.select("bucket", F.col(key).alias("m2")), "bucket")
        .where(F.col("m1") < F.col("m2"))
        .select("m1", "m2")
    )

    hot = sized.where(F.col("bsz") > salt_threshold)
    probe = hot.select(
        "bucket",
        F.col(key).alias("m1"),
        F.pmod(F.xxhash64(key), F.lit(n_salts)).cast("int").alias("salt"),
    )
    build = hot.select(
        "bucket",
        F.col(key).alias("m2"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("salt"),
    )
    pairs_hot = (
        probe.join(build, ["bucket", "salt"])
        .where(F.col("m1") < F.col("m2"))
        .select("m1", "m2")
    )

    return pairs_cold.unionAll(pairs_hot).distinct()


def verified_edge_ids(
    pairs: DataFrame, shingles: DataFrame, threshold: float = LINK_JACCARD
) -> DataFrame:
    """Exact shingle-Jaccard >= threshold on candidate id pairs, pure JVM.

    ``pairs`` is (m1, m2) surrogate ids; ``shingles`` is (mid, shingles
    array<long>).  The per-mention shingle sets were computed ONCE in the
    signature kernel; the verify is ``array_intersect`` over those arrays
    (each array holds distinct hashes, so size(intersect) is the true
    intersection cardinality) — no Python past the kernel, no text in the
    shuffle (mirrors kg/ops/dedup.py minhash_edges, VERDICT r4 item 3).
    Two empty shingle sets count as identical (the old Python verify's
    0/0 := 1.0 rule)."""
    sh_a = shingles.select(F.col("mid").alias("m1"), F.col("shingles").alias("sh_a"))
    sh_b = shingles.select(F.col("mid").alias("m2"), F.col("shingles").alias("sh_b"))
    cand = pairs.join(sh_a, "m1").join(sh_b, "m2")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    n_union = F.size("sh_a") + F.size("sh_b") - n_common
    sim = F.when(n_union == 0, F.lit(1.0)).otherwise(
        n_common.cast("double") / n_union
    )
    return cand.select("m1", "m2", sim.alias("sim")).where(
        F.col("sim") >= threshold
    )


def mention_edge_ids(core: DataFrame, threshold: float = LINK_JACCARD) -> DataFrame:
    """Candidate generation + verify over the text-free signature table
    ``core`` (mid, shingles, buckets) -> verified (m1, m2, sim) id pairs.

    The whole plan downstream of ``core`` references surrogate ids and
    shingle-hash arrays only — pinned by
    tests/test_linking.py::test_linking_verify_join_carries_no_text."""
    buckets = core.select("mid", F.explode("buckets").alias("bucket"))
    pairs = candidate_pairs(buckets, key="mid")
    return verified_edge_ids(pairs, core.select("mid", "shingles"), threshold)


def _committed_cc_iters(catalog, stage_prefix: str, token: str) -> list[int]:
    import os
    import re

    out = []
    pat = re.compile(re.escape(stage_prefix) + r"_iter(\d+)$")
    for d in os.listdir(catalog.base_dir):
        m = pat.match(d)
        if m and catalog.is_complete(d, extra_inputs={"edges": token}):
            out.append(int(m.group(1)))
    return sorted(out)


def _union_find(pairs: Iterable[tuple[str, str]]) -> dict[str, str]:
    """Driver-side union-find with min-label canonicalization — the same
    fixed point as the distributed propagation (component minimum)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    max_iters: int = 25,
    catalog=None,
    stage_prefix: str = "cc",
    checkpoint_every: int = 5,
    small_graph_threshold: int = 500_000,
) -> DataFrame:
    """Min-label propagation with pointer jumping -> (mention, canonical).

    Each iteration does hash-to-min (label(u) <- min over {u} ∪ N(u) of
    labels) followed by one pointer jump (label(u) <- label(label(u))),
    which cuts rounds from O(component diameter) to O(log diameter) — the
    difference between unusable and fine on adversarial chain graphs at
    scale.  Labels only decrease and stay within the component, so the
    fixed point is the component minimum either way.

    Small-graph fast path: LSH-verified near-dup edge sets are usually
    orders of magnitude smaller than the corpus, and each distributed
    round costs several shuffle stages — pure scheduler overhead when the
    whole graph fits on the driver.  When the (already-computed) edge
    count is <= ``small_graph_threshold`` the labels come from one
    driver-side union-find over the collected pairs (bounded memory:
    ~100 MB at the default bound) — the classic adaptive CC strategy; the
    distributed path is unchanged and takes over above the bound.  Both
    paths produce the identical min-label fixed point
    (tests/test_linking.py parametrizes the equivalence).

    Fault tolerance (VERDICT r1 item 7): ``localCheckpoint`` truncates
    lineage between rounds but is executor-local — an executor loss kills
    the whole iteration at cluster scale.  When a ``StageCatalog`` is
    passed, every ``checkpoint_every``-th round (and the converged result)
    is committed through the catalog keyed by a content fingerprint of the
    edge set, so a killed job resumes label propagation from the last
    durable round instead of restarting linking from scratch
    (tests/test_linking.py::test_cc_resumes_from_iteration_checkpoint).
    """
    # Materialize the edge set ONCE up front: it is scanned by the content
    # fingerprint below AND by both union branches of the symmetrization —
    # without this the upstream lineage (LSH candidate join + Jaccard
    # verify kernel) would re-execute per scan.
    edges = edges.localCheckpoint()
    spark = edges.sparkSession

    # Order-insensitive content fingerprint: count + bit_xor + exact decimal
    # sum of the row hashes (ADVICE r2: xor alone cancels duplicate rows
    # pairwise; the sum distinguishes multiplicity, so equal-size edge sets
    # no longer collide).  Also yields the count for the fast-path branch.
    row = edges.select(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("m1", "m2")).alias("hx"),
        F.sum(F.xxhash64("m1", "m2").cast("decimal(28,0)")).alias("hs"),
    ).collect()[0]
    token = f"{row['n']}:{row['hx']}:{row['hs']}"
    final_stage = f"{stage_prefix}_final"
    if catalog is not None and catalog.is_complete(
        final_stage, extra_inputs={"edges": token}
    ):
        return catalog.read(final_stage)

    if row["n"] <= small_graph_threshold:
        # Arrow on both hops (guide §6 "Arrow for driver transfers"): the
        # row-path collect() pickled every edge row and createDataFrame
        # re-pickled every label — measured ~2.5s of pure serialization at
        # 250k edges (r6); the Arrow path moves both as columnar batches.
        import pandas as pd

        pdf = edges.select("m1", "m2").toPandas()
        labels_map = _union_find(list(zip(pdf["m1"], pdf["m2"])))
        items = sorted(labels_map.items())
        frozen = spark.createDataFrame(
            pd.DataFrame(
                {
                    "mention": [k for k, _ in items],
                    "canonical": [v for _, v in items],
                }
            ),
            "mention string, canonical string",
        )
        if catalog is not None:
            return catalog.run(
                final_stage, lambda: frozen, extra_inputs={"edges": token}
            )
        return frozen

    sym = edges.select(F.col("m1").alias("src"), F.col("m2").alias("dst")).union(
        edges.select(F.col("m2").alias("src"), F.col("m1").alias("dst"))
    )
    sym = sym.repartition("src").localCheckpoint()

    nodes = sym.select(F.col("src").alias("mention")).distinct()
    labels = nodes.select("mention", F.col("mention").alias("canonical")).localCheckpoint()

    start_iter = 0
    if catalog is not None:
        done = _committed_cc_iters(catalog, stage_prefix, token)
        if done:
            start_iter = done[-1]
            labels = catalog.read(f"{stage_prefix}_iter{done[-1]:03d}")

    for it in range(start_iter, max_iters):
        nbr_min = (
            sym.join(labels, sym["dst"] == labels["mention"])
            .groupBy("src")
            .agg(F.min("canonical").alias("nbr_canonical"))
        )
        stepped = labels.join(
            nbr_min, labels["mention"] == nbr_min["src"], "left"
        ).select(
            "mention",
            F.least(
                F.col("canonical"), F.coalesce("nbr_canonical", F.col("canonical"))
            ).alias("mid"),
            F.col("canonical").alias("old"),
        )
        # pointer jump: label(u) <- label(label(u))
        parent = stepped.select(
            F.col("mention").alias("p_mention"), F.col("mid").alias("p_label")
        )
        new_label = F.least(F.col("mid"), F.coalesce("p_label", F.col("mid")))
        jumped = (
            stepped.join(parent, stepped["mid"] == parent["p_mention"], "left")
            .select(
                "mention",
                new_label.alias("new_canonical"),
                # labels only decrease: new < old iff anything moved
                (new_label < F.col("old")).alias("changed"),
            )
            .localCheckpoint()
        )
        labels = jumped.select("mention", F.col("new_canonical").alias("canonical"))
        converged = jumped.where("changed").limit(1).count() == 0
        if (
            catalog is not None
            and not converged
            and (it + 1) % checkpoint_every == 0
        ):
            frozen = labels
            labels = catalog.run(
                f"{stage_prefix}_iter{it + 1:03d}",
                lambda: frozen,
                extra_inputs={"edges": token},
            )
        if converged:
            break
    if catalog is not None:
        frozen = labels
        labels = catalog.run(
            final_stage, lambda: frozen, extra_inputs={"edges": token}
        )
    return labels


def link_mentions(
    mentions: DataFrame, catalog=None, stage_prefix: str = "cc"
) -> DataFrame:
    """mentions DF (col ``mention``) -> map (mention, canonical).

    Mentions that never met a similar partner map to themselves.

    The signature kernel runs ONCE over distinct mentions (``base``,
    materialized) — and, when a ``catalog`` is given, once per NEVER-SEEN
    mention across the catalog's lifetime: the signature table persists as
    the ``{stage_prefix}_sigs`` stage and appended corpora only pay the
    kernel for their delta (``signature_base``); the candidate/verify path
    then works entirely on a
    TEXT-FREE projection of it (``core``: surrogate id + shingle arrays +
    bucket keys — its own checkpoint, so the analyzed plan downstream
    carries no mention attribute at all), and mention text re-attaches only
    to the verified edge set — orders of magnitude smaller than the
    candidate pairs — ordered (least, greatest) so edge orientation stays
    the old lexicographic one regardless of id assignment.  Surrogate ids
    are ``monotonically_increasing_id`` frozen by the checkpoint: purely
    internal (never in the output or any catalog token), so their
    partition-layout dependence is harmless.

    ``catalog`` (a StageCatalog) makes the CC iteration durably resumable —
    see ``connected_components``.
    """
    distinct = mentions.select("mention").distinct()
    base = signature_base(
        distinct, catalog=catalog, stage_name=f"{stage_prefix}_sigs"
    )
    return link_from_signatures(base, catalog=catalog, stage_prefix=stage_prefix)


def link_from_signatures(
    signatures: DataFrame, catalog=None, stage_prefix: str = "cc"
) -> DataFrame:
    """Candidate/verify/CC over an already-materialized signature table
    (mention, shingles, buckets) -> (mention, canonical).

    Split out of ``link_mentions`` (r6) so the pipeline can key the linked
    stage on the SIGNATURE TABLE's fingerprint: the linked map is a pure
    function of the distinct-mention set, which the signature table
    captures exactly — an appended batch that introduces no never-seen
    mention leaves the table (and hence this whole computation) unchanged,
    and the stage catalog can skip it outright instead of replaying
    bucket join + verify + CC to rediscover the same fixed point.
    """
    base = (
        signatures
        .withColumn("mid", F.monotonically_increasing_id())
        .localCheckpoint()
    )
    core = base.select("mid", "shingles", "buckets").localCheckpoint()
    edge_ids = mention_edge_ids(core)
    idmap = base.select("mid", "mention")
    edges = (
        edge_ids.join(
            idmap.select(F.col("mid").alias("m1"), F.col("mention").alias("t1")),
            "m1",
        )
        .join(
            idmap.select(F.col("mid").alias("m2"), F.col("mention").alias("t2")),
            "m2",
        )
        .select(
            F.least("t1", "t2").alias("m1"),
            F.greatest("t1", "t2").alias("m2"),
            "sim",
        )
    )
    comp = connected_components(edges, catalog=catalog, stage_prefix=stage_prefix)
    return (
        base.select("mention").join(comp, "mention", "left")
        .select(
            "mention",
            F.coalesce("canonical", F.col("mention")).alias("canonical"),
        )
    )


# ---------------------------------------------------------------------------
# Driver linker — small signature tables (and the in-process ``link_local``).
# ---------------------------------------------------------------------------


def verified_pairs(
    ids: list,
    shingles: list[list[int]],
    buckets: list[list[str]],
    threshold: float,
    max_bucket: int,
):
    """Candidate and verify over signature rows held on the driver: yields
    ``(ids[i], ids[j])`` for each pair that shares a bucket of at most
    ``max_bucket`` members and whose exact shingle Jaccard (two empty sets
    count as identical) is >= ``threshold``, computed in the same double
    division as the JVM verify (``verified_edge_ids``).  A pair met in
    several bands is yielded once per band — cheaper than a pair set sized
    by the candidates; union-find consumers get the same components.
    Shared by ``link_signatures`` and ``kg.ops.dedup.minhash_clusters``."""
    members: dict[str, list[int]] = {}
    for i, keys in enumerate(buckets):
        for key in keys:
            members.setdefault(key, []).append(i)
    sets: dict[int, frozenset] = {}

    def shingle_set(i: int) -> frozenset:
        if i not in sets:
            sets[i] = frozenset(shingles[i])
        return sets[i]

    for idx in members.values():
        if len(idx) > max_bucket:
            continue
        for i, j in combinations(idx, 2):
            s1, s2 = shingle_set(i), shingle_set(j)
            n_common = len(s1 & s2)
            n_union = len(s1) + len(s2) - n_common
            sim = 1.0 if n_union == 0 else n_common / n_union
            if sim >= threshold:
                yield ids[i], ids[j]


def link_signatures(
    mentions: list[str],
    shingles: list[list[int]],
    buckets: list[list[str]],
    threshold: float = LINK_JACCARD,
    max_bucket: int = LSH_MAX_BUCKET,
) -> dict[str, str]:
    """Candidate/verify/CC over signature rows held on the driver ->
    {mention: canonical} for every mention.

    Same semantics as the distributed path: ``verified_pairs`` gives the
    linked pairs, which stream into the union-find, so memory stays
    O(mentions) however many pairs verify; the canonical is the
    component's smallest mention."""
    labels = _union_find(verified_pairs(mentions, shingles, buckets, threshold, max_bucket))
    return {m: labels.get(m, m) for m in mentions}


def links_on_driver(catalog, sig_stage: str) -> bool:
    """Whether the committed signature table is small enough to link on the
    driver: at most ``DRIVER_LINK_MAX_MENTIONS`` rows, read from its
    manifest (free).  The pipeline keeps the whole vocabulary-sized tail —
    signature delta, linked map, ``nodes_mtc`` and nodes — on the driver
    under the same rule, evaluated once per call (``kg.pipeline._Fold``)."""
    m = catalog.manifest(sig_stage)
    return m is not None and m["rows"] <= DRIVER_LINK_MAX_MENTIONS


def link_committed(catalog, sig_stage: str, on_driver: bool, stage_prefix: str = "cc"):
    """(mention, canonical) over a committed signature stage.  ``on_driver``
    (``links_on_driver``): the table is read once through Arrow and linked
    on the driver, and the map is returned as a ``pyarrow.Table`` that
    ``StageCatalog.write`` commits with no Spark job (no surrogate ids,
    bucket join, verify join or ``{stage_prefix}_final`` commit); otherwise
    ``link_from_signatures``."""
    if not on_driver:
        return link_from_signatures(
            catalog.read(sig_stage), catalog=catalog, stage_prefix=stage_prefix
        )
    import pyarrow as pa

    table = catalog.read_arrow(sig_stage, ["mention", "shingles", "buckets"])
    labels = link_signatures(
        table.column("mention").to_pylist(),
        table.column("shingles").to_pylist(),
        table.column("buckets").to_pylist(),
    )
    items = sorted(labels.items())
    return pa.table({
        "mention": pa.array([k for k, _ in items], pa.string()),
        "canonical": pa.array([v for _, v in items], pa.string()),
    })


def link_local(
    texts: list[str], threshold: float = LINK_JACCARD, max_bucket: int = LSH_MAX_BUCKET
) -> dict[str, str]:
    """Link raw strings in-process: signature rows, then ``link_signatures``."""
    a, b = _hash_params()
    distinct = sorted(set(texts))
    rows = [_signature_row(t, a, b) for t in distinct]
    return link_signatures(
        distinct, [x for x, _ in rows], [keys for _, keys in rows], threshold, max_bucket
    )

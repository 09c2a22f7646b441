"""Per-query timing and plans for the relational bench leaves.

  python bench_extra.py queries [sf_dir] [name ...]
      Time each named entry query (default: bench.py's RELATIONAL_BENCH)
      with the noop sink, interleaved reps, medians + spread; write
      ``.explain("formatted")`` for each to plans/r06/<name>_<tag>.txt
      (tag via $BENCH_EXTRA_TAG, default "before").

Pipeline and append runs are ``bench.py``'s (``bench_kg``,
``bench_kg_append``); ``tools/append_profile.py`` profiles an append per
stage.  Every job is labelled via setJobDescription so the plans/UI stay
readable.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kg.session import get_spark  # noqa: E402

PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def _spark(cpus=None):
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    return get_spark(
        app_name="kg-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, int(cpus)),
    )


def bench_queries(sf_dir: str, names: list[str]) -> None:
    import __spark_entry__ as E
    from bench import RELATIONAL_BENCH

    tag = os.environ.get("BENCH_EXTRA_TAG", "before")
    reps = int(os.environ.get("BENCH_EXTRA_REPEATS", "3"))
    names = names or list(RELATIONAL_BENCH)
    spark = _spark()
    qs = E.queries()
    os.makedirs(PLANS_DIR, exist_ok=True)
    samples: dict[str, list[float]] = {}
    # capture plans once (untimed), then interleaved timed reps
    for name in names:
        df = qs[name](spark, sf_dir)
        with open(os.path.join(PLANS_DIR, f"{name}_{tag}.txt"), "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
    for _ in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.setdefault(name, []).append(
                round(time.perf_counter() - t0, 3)
            )
            spark.sparkContext.setJobDescription(None)
    out = {
        "sf_dir": sf_dir,
        "tag": tag,
        "queries": {k: round(_median(v), 3) for k, v in samples.items()},
        "spread": {k: [min(v), max(v)] for k, v in samples.items()},
    }
    print(json.dumps(out, indent=1))
    spark.stop()


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    if mode != "queries":
        raise SystemExit(f"unknown mode {mode!r}")
    bench_queries(sf_dir, sys.argv[3:])


if __name__ == "__main__":
    main()

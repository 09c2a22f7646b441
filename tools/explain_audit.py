"""Formatted physical plans of the ``__spark_entry__`` queries.

    python tools/explain_audit.py SF_DIR                 # -> PLANS.md
    python tools/explain_audit.py SF_DIR NAME [NAME ...] [--tag before]
                                                         # -> plans/NAME[_TAG].txt

Lets a reviewer check pushdown (PushedFilters), column pruning (ReadSchema),
broadcast joins, AQE, and codegen spans without running Spark themselves.
Without names, every query but the heavy ones (``SKIP_HEAVY``: the
pipeline and media queries, which build their tables first) goes into
``PLANS.md`` at the repository root.  With names, each named query's plan
(heavy ones included) is written to its own file under ``plans/`` at the
repository root, ``--tag`` appended to the name, for a before/after diff of
one plan.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as E  # noqa: E402
from kg.session import get_spark  # noqa: E402

SKIP_HEAVY = {"kg_mentions", "kg_triples", "kg_linked", "kg_nodes", "kg_edges",
              "kg_top_pairs", "kg_span_invariant", "kg_keyphrases", "media_features",
              "minhash_clusters", "ann_lsh"}


def plan(spark, fn, sf_dir: str) -> str:
    """``.explain("formatted")`` of one query, as a string."""
    try:
        df = fn(spark, sf_dir)
        text = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    except Exception as exc:  # noqa: BLE001
        text = f"ERROR: {exc}"
    return text.strip()


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("sf_dir", help="a testdata scale-factor directory")
    p.add_argument("names", nargs="*", help="queries to write one file each (default: PLANS.md)")
    p.add_argument("--tag", default="", help="suffix of the per-query file names")
    args = p.parse_args(argv)
    queries = E.queries()
    unknown = set(args.names) - set(queries)
    if unknown:
        raise SystemExit(f"unknown queries: {sorted(unknown)}")
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    try:
        if args.names:
            os.makedirs(os.path.join(ROOT, "plans"), exist_ok=True)
            for name in args.names:
                path = os.path.join(ROOT, "plans", f"{name}_{args.tag}.txt" if args.tag else f"{name}.txt")
                with open(path, "w", encoding="utf-8") as f:
                    f.write(plan(spark, queries[name], args.sf_dir) + "\n")
                print(f"wrote {os.path.relpath(path, ROOT)}")
            return
        out = ["# PLANS — formatted physical plans of the entry queries\n",
               f"Generated against `{args.sf_dir}`. Things to look for: `PushedFilters`",
               "(predicate pushdown), `ReadSchema` (column pruning),",
               "`BroadcastHashJoin` (small dims broadcast), `AdaptiveSparkPlan` (AQE).\n"]
        for name, fn in queries.items():
            if name not in SKIP_HEAVY:
                out.append(f"\n## {name}\n\n```\n{plan(spark, fn, args.sf_dir)}\n```\n")
        with open(os.path.join(ROOT, "PLANS.md"), "w", encoding="utf-8") as f:
            f.write("\n".join(out))
        print("wrote PLANS.md")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

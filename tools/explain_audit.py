"""Dump formatted physical plans of every __spark_entry__ query -> PLANS.md.

Lets a reviewer check pushdown (PushedFilters), column pruning (ReadSchema),
broadcast joins, AQE, and codegen spans without running Spark themselves.
Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from kg.session import get_spark  # noqa: E402

SKIP_HEAVY = {"kg_mentions", "kg_triples", "kg_linked", "kg_nodes", "kg_edges",
              "kg_top_pairs", "kg_span_invariant", "kg_keyphrases", "media_features",
              "minhash_clusters", "ann_lsh"}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    out = ["# PLANS — formatted physical plans of the entry queries\n",
           f"Generated against `{sf_dir}`. Things to look for: `PushedFilters`",
           "(predicate pushdown), `ReadSchema` (column pruning),",
           "`BroadcastHashJoin` (small dims broadcast), `AdaptiveSparkPlan` (AQE).\n"]
    for name, fn in E.queries().items():
        if name in SKIP_HEAVY:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR: {exc}"
        out.append(f"\n## {name}\n\n```\n{plan.strip()}\n```\n")
    with open("/root/repo/PLANS.md", "w", encoding="utf-8") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()

"""The benchmark's metric catalogue: name -> unit, and for each per-layer
metric the layer it measures and the end-to-end metric it should move.

``BENCHMARK.json`` lists the same names (a test keeps the two in step).
Every workload reports every metric of its mode; a layer a workload never
calls reports 0.
"""

from __future__ import annotations

from perfbench.trace import STAGES

QUERY_LEAVES = (
    "seg_wordcount", "range_self_join", "lineitem_agg", "revenue_by_nation",
    "keyphrases_top5", "word_jaccard_pairs", "cosine_topk", "simhash",
    "simhash_neardup", "minhash_clusters",
)

# name -> unit
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}

# name -> (unit, layer, end-to-end metric and workload it should move)
_APPEND = "op_cpu_s on append_growth"
_BULK = "setup_s on append_growth (its cold base build); little of op_cpu_s (batch-sized work)"
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "trace.overhead_s": ("s", "benchmark", "none: traced minus untraced op wall"),
    "mention.extract_s": ("s", "kg.mention", _BULK),
    "mention.extract_us_per_doc": ("us", "kg.mention", _BULK),
    "mention.explode_s": ("s", "kg.mention", _BULK),
    "mention.rows": ("count", "kg.mention", _BULK),
    "keyphrase.s": ("s", "kg.keyphrase", _BULK),
    "invariant.passthrough_s": ("s", "kg.invariant", _BULK),
    "invariant.check_s": ("s", "kg.invariant", _BULK),
    "linking.signatures_s": ("s", "kg.linking", _APPEND),
    "linking.candidates_s": ("s", "kg.linking", _APPEND),
    "linking.cc_s": ("s", "kg.linking", _APPEND),
    "linking.distinct_mentions": ("count", "kg.linking", _APPEND),
    "linking.delta_mentions": ("count", "kg.linking", _APPEND),
    "linking.candidate_pairs": ("count", "kg.linking", _APPEND),
    "linking.verified_edges": ("count", "kg.linking", _APPEND),
    "linking.verify_yield": ("ratio", "kg.linking", _APPEND),
    "graph.nodes_s": ("s", "kg.graph", _APPEND),
    "graph.edges_s": ("s", "kg.graph", _APPEND),
    "graph.edges_incremental": ("ratio", "kg.graph", _APPEND),
    "catalog.write_s": ("s", "kg.catalog", _APPEND),
    "catalog.append_s": ("s", "kg.catalog", _APPEND),
    "catalog.read_s": ("s", "kg.catalog", _APPEND),
    "catalog.lineage_s": ("s", "kg.catalog", _APPEND),
    "catalog.files": ("count", "kg.catalog", _APPEND),
    "catalog.mb": ("MB", "kg.catalog", _APPEND),
    "pipeline.stage_sum_s": ("s", "kg.pipeline", _APPEND),
    "pipeline.driver_gap_s": ("s", "kg.pipeline", _APPEND),
}
for _stage in STAGES:
    for _m, _u in (("cpu_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("skew", "ratio")):
        PER_LAYER[f"spark.{_stage}.{_m}"] = (
            _u, f"spark:{_stage}", f"{_APPEND}, and peak_rss_mb",
        )
for _q in QUERY_LEAVES:
    _layer = "kg.relational" if _q in ("seg_wordcount", "range_self_join", "lineitem_agg",
                                       "revenue_by_nation", "keyphrases_top5") else (
        "kg.ops.similarity" if _q == "cosine_topk" else "kg.ops.dedup")
    PER_LAYER[f"query.{_q}_s"] = ("s", _layer, "op_cpu_s on query_leaves only")


def payload(values: dict[str, float], trace: bool) -> dict[str, dict]:
    """The result line's ``metrics`` object for one mode; absent layers are 0."""
    if trace:
        return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, (u, _l, _m) in PER_LAYER.items()}
    return {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}

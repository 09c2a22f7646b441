"""entity_pagerank: distributed power iteration vs a pure-Python twin,
stochastic-completion invariant (total rank 1.0), self-loop exclusion; the
driver nodes and edges builders against the Spark ones."""

import pandas as pd
import pytest
from pyspark.sql import Row

from kg.catalog import StageCatalog
from kg.graph import (
    build_edges,
    build_nodes_from_counts,
    edges_local,
    entity_pagerank,
    nodes_from_counts_local,
)


def pagerank_local(links, damping=0.85, n_iters=3):
    """Driver-side twin: same fixed-point arithmetic as kg/graph.py."""
    nodes = sorted({x for e in links for x in e})
    n = len(nodes)
    out: dict[str, list[str]] = {}
    for s, t in links:
        out.setdefault(s, []).append(t)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(n_iters):
        dang = sum(pr[v] for v in nodes if v not in out)
        new = {v: (1.0 - damping) / n + damping * dang / n for v in nodes}
        for s, ts in out.items():
            for t in ts:
                new[t] += damping * pr[s] / len(ts)
        pr = new
    return pr


def _edges_df(spark, links):
    return spark.createDataFrame(
        [Row(subj=s, pred="rel", obj=t, doc_id="d0", weight=1.0) for s, t in links]
    )


def test_pagerank_matches_local_twin(spark):
    links = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("d", "a"),
        ("e", "a"), ("e", "b"), ("c", "c"),  # self-loop: must be ignored
    ]
    got = {
        r["entity_id"]: r["pagerank"]
        for r in entity_pagerank(_edges_df(spark, links)).collect()
    }
    want = pagerank_local([(s, t) for s, t in links if s != t])
    assert set(got) == set(want)
    for v, pr in want.items():
        # output quantized to 6 decimals (cross-engine oracle stability)
        assert got[v] == pytest.approx(pr, abs=1e-6)


def test_pagerank_mass_conserved(spark):
    # chain with a dangling tail: without stochastic completion the mass
    # leaks out of 'd' every iteration
    links = [("a", "b"), ("b", "c"), ("c", "d")]
    rows = entity_pagerank(_edges_df(spark, links), n_iters=5).collect()
    # each emitted rank is quantized to 6 decimals, so the mass check's
    # tolerance is n_nodes * half-quantum
    assert sum(r["pagerank"] for r in rows) == pytest.approx(
        1.0, abs=5e-7 * len(rows)
    )


def test_pagerank_sink_accumulates(spark):
    # star into a sink: the sink must outrank every spoke
    links = [("s1", "hub"), ("s2", "hub"), ("s3", "hub")]
    got = {
        r["entity_id"]: r["pagerank"]
        for r in entity_pagerank(_edges_df(spark, links)).collect()
    }
    assert got["hub"] > max(got["s1"], got["s2"], got["s3"])


def test_pagerank_resumes_from_durable_iteration(spark, tmp_path):
    """Kill-between-iterations recovery (VERDICT r3 item 3, mirroring CC):
    with a StageCatalog every iteration commits durably keyed by the
    link-set fingerprint; a rerun after losing the final stage resumes from
    the last committed round instead of restarting, and a completed run is
    returned straight from the final stage with zero recompute."""
    import shutil

    from kg.catalog import StageCatalog

    links = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("e", "a")]
    edges = _edges_df(spark, links)
    plain = {
        r["entity_id"]: r["pagerank"] for r in entity_pagerank(edges).collect()
    }

    cat1 = StageCatalog(spark, str(tmp_path / "pr"))
    got1 = {
        r["entity_id"]: r["pagerank"]
        for r in entity_pagerank(edges, catalog=cat1).collect()
    }
    assert got1 == plain  # durable path is value-identical to the plain one
    iters1 = [s for s in cat1.executed if "_iter" in s]
    assert iters1 == ["pagerank_iter001", "pagerank_iter002"]
    assert cat1.executed[-1] == "pagerank_final"

    # simulated kill after iteration 2: wipe the final stage only
    shutil.rmtree(tmp_path / "pr" / "pagerank_final")
    cat2 = StageCatalog(spark, str(tmp_path / "pr"))
    got2 = {
        r["entity_id"]: r["pagerank"]
        for r in entity_pagerank(edges, catalog=cat2).collect()
    }
    assert got2 == got1
    assert [s for s in cat2.executed if "_iter" in s] == []  # rounds reused
    assert "pagerank_final" in cat2.executed

    # completed run: answered from the final stage, nothing recomputed
    cat3 = StageCatalog(spark, str(tmp_path / "pr"))
    got3 = {
        r["entity_id"]: r["pagerank"]
        for r in entity_pagerank(edges, catalog=cat3).collect()
    }
    assert got3 == got1 and cat3.executed == []

    # a DIFFERENT graph must not reuse this graph's rounds (fingerprint key)
    cat4 = StageCatalog(spark, str(tmp_path / "pr"))
    other = _edges_df(spark, links + [("e", "b")])
    got4 = {
        r["entity_id"]: r["pagerank"]
        for r in entity_pagerank(other, catalog=cat4).collect()
    }
    assert got4 != got1
    assert "pagerank_final" in cat4.executed


def test_driver_nodes_equal_spark_nodes(spark):
    """Same rows from both builders: a component whose modal kind is a
    count tie (the smaller tag wins), one whose members disagree, a
    singleton, and a mention the map does not hold (dropped)."""
    counts = pd.DataFrame({
        "mention": ["北京", "北京市", "北京市", "上海", "上海", "李", "外"],
        "tag": ["ns", "ns", "nt", "nt", "ns", "nr", "ns"],
        "cnt": [2, 1, 4, 2, 2, 5, 1],
    })
    mention_map = pd.DataFrame({
        "mention": ["北京", "北京市", "上海", "李"],
        "canonical": ["北京", "北京", "上海", "李"],
    })
    local = nodes_from_counts_local(counts, mention_map).to_pylist()
    distributed = build_nodes_from_counts(
        spark.createDataFrame(counts, "mention string, tag string, cnt long"),
        spark.createDataFrame(mention_map),
    )
    assert sorted(map(tuple, (r.values() for r in local))) == sorted(
        map(tuple, distributed.collect())
    )
    kinds = {r["canonical_text"]: (r["kind"], r["n_mentions"]) for r in local}
    assert kinds == {"北京": ("nt", 7), "上海": ("ns", 4), "李": ("nr", 5)}


TRIPLES_SCHEMA = "subj string, pred string, obj string, doc_id string, sent_offset int"
EDGE_TRIPLES = [
    ("北京", "rel_ns_ns", "北京市", "d0", 0),  # a self-pair: one component
    ("北京", "rel_ns_ns", "上海", "d0", 1),  # duplicated below: weight 2.0
    ("北京", "rel_ns_ns", "上海", "d0", 2),
    ("北京市", "rel_ns_ns", "上海", "d0", 3),  # two mentions, one canonical
    ("北京", "rel_ns_ns", "上海", "d1", 0),
    ("外", "rel_ns_ns", "上海", "d0", 0),  # subj missing from the map
    ("上海", "rel_ns_ns", "外", "d0", 0),  # obj missing from the map
    ("上海", None, "北京", "d2", 0),  # null pred
    ("上海", "rel_ns_nr", "李", None, 0),  # null doc_id
    ("上海", "rel_ns_nr", "李", None, 1),
]


def test_driver_edges_equal_spark_edges(spark, tmp_path):
    """Same rows and schema from both builders on the edge cases above, and
    from an empty triples table; the edges manifest's schema is the same
    whichever side committed it."""
    from pyspark.sql.pandas.types import from_arrow_schema

    mention_map = spark.createDataFrame(
        [("北京", "北京"), ("北京市", "北京"), ("上海", "上海"), ("李", "李")],
        "mention string, canonical string",
    )
    for rows in (EDGE_TRIPLES, []):
        triples = spark.createDataFrame(rows, TRIPLES_SCHEMA)
        local = edges_local(triples.toArrow(), mention_map.toArrow())
        distributed = build_edges(triples, mention_map)
        assert from_arrow_schema(local.schema) == distributed.schema
        assert sorted(repr(tuple(r.values())) for r in local.to_pylist()) == sorted(
            repr(tuple(r)) for r in distributed.collect()
        )
        schemas = []
        for name, data in (("spark", distributed), ("driver", local)):
            cat = StageCatalog(spark, str(tmp_path / f"{name}{len(rows)}"))
            cat.write("edges", data, partition_by=("pred",))
            schemas.append(cat.manifest("edges")["schema"])
        assert schemas[0] == schemas[1]
    local = edges_local(
        spark.createDataFrame(EDGE_TRIPLES, TRIPLES_SCHEMA).toArrow(), mention_map.toArrow()
    )
    weights = {
        (r["pred"], r["doc_id"], r["subj"] == r["obj"]): r["weight"] for r in local.to_pylist()
    }
    assert weights == {
        ("rel_ns_ns", "d0", True): 1.0, ("rel_ns_ns", "d0", False): 3.0,
        ("rel_ns_ns", "d1", False): 1.0, (None, "d2", False): 1.0,
        ("rel_ns_nr", None, False): 2.0,
    }

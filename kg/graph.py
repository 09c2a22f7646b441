"""Graph materialization: partitioned node/edge tables (SURVEY.md §7.1 step 8).

nodes(entity_id, canonical_text, kind, n_mentions)
edges(subj, pred, obj, doc_id, weight)   — subj/obj are entity_ids

entity_id is a content hash of the canonical surface (sha2/256, 16 hex) so
ids are stable across runs and cluster sizes (no monotonically_increasing_id,
which is partition-layout-dependent and would break resume byte-identity).
``kind`` is the modal mention tag with deterministic ties (count desc, tag asc).

Nodes and edges each have two builders that give the same rows: a Spark
one and a driver one.  Nodes build from the (mention, tag, cnt) statistic,
by ``build_nodes_from_counts`` or, for vocabularies small enough to link on
the driver, by ``nodes_from_counts_local`` (pandas in, ``pyarrow.Table``
out; the statistic counted and merged by ``merge_counts_local``).  Edges
build from the triples and the linked map, by ``build_edges`` or, for
triples tables small enough to hold on the driver, by ``edges_local``
(``pyarrow.Table`` in and out, in the same schema).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def entity_id(col):
    return F.substring(F.sha2(col, 256), 1, 16)


def mention_tag_counts(mentions: DataFrame) -> DataFrame:
    """(mention, tag, cnt) — the vocabulary-sized sufficient statistic the
    nodes table derives from, in ONE scan of the mentions table (r6): every
    mention row carries exactly one tag, so n_mentions per canonical is the
    sum of its per-tag counts, and the groupBy collapses explode-scale rows
    to the (surface x tag) vocabulary before the map join.  Additive under
    corpus growth, so the append path maintains it incrementally
    (run_pipeline_append's nodes_mtc stage) instead of re-scanning all
    mentions per append."""
    return mentions.groupBy("mention", "tag").agg(
        F.count("*").cast("long").alias("cnt")
    )


def build_nodes_from_counts(counts: DataFrame, mention_map: DataFrame) -> DataFrame:
    m = counts.join(mention_map, "mention")
    by_tag = m.groupBy("canonical", "tag").agg(F.sum("cnt").alias("tag_cnt"))
    w = Window.partitionBy("canonical").orderBy(F.desc("tag_cnt"), F.asc("tag"))
    modal = (
        by_tag.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("canonical", F.col("tag").alias("kind"))
    )
    counts = by_tag.groupBy("canonical").agg(
        F.sum("tag_cnt").cast("long").alias("n_mentions")
    )
    return (
        counts.join(modal, "canonical")
        .select(
            entity_id(F.col("canonical")).alias("entity_id"),
            F.col("canonical").alias("canonical_text"),
            "kind",
            "n_mentions",
        )
    )


def merge_counts_local(counts, mention_rows):
    """``mention_tag_counts`` of ``mention_rows`` (mention, tag) added into
    ``counts`` (mention, tag, cnt) on the driver, or counted alone when
    ``counts`` is None: ``pyarrow.Table``s, summed in pandas; returns the
    merged statistic as a ``pyarrow.Table``."""
    import pandas as pd
    import pyarrow as pa

    frames = [mention_rows.to_pandas().assign(cnt=1)]
    if counts is not None:
        frames.insert(0, counts.to_pandas())
    merged = (
        pd.concat(frames)
        .groupby(["mention", "tag"], as_index=False, dropna=False)["cnt"].sum()
    )
    schema = pa.schema([("mention", pa.string()), ("tag", pa.string()), ("cnt", pa.int64())])
    return pa.Table.from_pandas(merged, schema, preserve_index=False)


def nodes_from_counts_local(counts, mention_map):
    """``build_nodes_from_counts`` on the driver: ``counts`` (mention, tag,
    cnt) and ``mention_map`` (mention, canonical) are pandas frames; returns
    the nodes as a ``pyarrow.Table`` in the Spark builder's column order.
    Same rules: inner join on mention, ``kind`` the modal tag with ties to
    the smaller tag (a null tag first, as Spark sorts it), ``entity_id`` the
    first 16 hex digits of sha256(canonical)."""
    import pyarrow as pa

    m = counts.merge(mention_map, on="mention")
    by_tag = m.groupby(["canonical", "tag"], as_index=False, dropna=False)["cnt"].sum()
    modal = by_tag.sort_values(
        ["canonical", "cnt", "tag"], ascending=[True, False, True], na_position="first"
    ).drop_duplicates("canonical")
    n = by_tag.groupby("canonical")["cnt"].sum()
    canonical = modal["canonical"].tolist()
    return pa.table({
        "entity_id": pa.array(
            [hashlib.sha256(c.encode()).hexdigest()[:16] for c in canonical], pa.string()
        ),
        "canonical_text": pa.array(canonical, pa.string()),
        "kind": pa.array(modal["tag"].tolist(), pa.string(), from_pandas=True),
        "n_mentions": pa.array(n.loc[canonical].tolist(), pa.int64()),
    })


def build_edges(triples: DataFrame, mention_map: DataFrame) -> DataFrame:
    subj_map = mention_map.select(
        F.col("mention").alias("subj"), F.col("canonical").alias("subj_canonical")
    )
    obj_map = mention_map.select(
        F.col("mention").alias("obj"), F.col("canonical").alias("obj_canonical")
    )
    return (
        triples.join(subj_map, "subj")
        .join(obj_map, "obj")
        .groupBy("subj_canonical", "pred", "obj_canonical", "doc_id")
        .agg(F.count("*").cast("double").alias("weight"))
        .select(
            entity_id(F.col("subj_canonical")).alias("subj"),
            "pred",
            entity_id(F.col("obj_canonical")).alias("obj"),
            "doc_id",
            "weight",
        )
    )


def edges_local(triples, linked):
    """``build_edges`` on the driver: ``triples`` (subj, pred, obj, doc_id,
    ...) and ``linked`` (mention, canonical) are ``pyarrow.Table``s; returns
    the edges as a ``pyarrow.Table`` in the Spark builder's schema (``weight``
    non-nullable, as Spark's count is).  Same rules: inner joins of subj and
    obj on the map (null keys match nothing), groups with null ``pred`` or
    ``doc_id`` kept, ``entity_id`` hashed once per distinct canonical."""
    import pyarrow as pa
    import pyarrow.compute as pc

    m = linked.select(["mention", "canonical"])
    g = (
        triples.select(["subj", "pred", "obj", "doc_id"])
        .join(m.rename_columns(["subj", "subj_canonical"]), "subj", join_type="inner")
        .join(m.rename_columns(["obj", "obj_canonical"]), "obj", join_type="inner")
        .group_by(["subj_canonical", "pred", "obj_canonical", "doc_id"])
        .aggregate([([], "count_all")])
    )
    subj, obj = g.column("subj_canonical"), g.column("obj_canonical")
    canonical = pc.unique(pa.chunked_array(subj.chunks + obj.chunks, pa.string())).drop_null()
    ids = pa.array(
        [hashlib.sha256(c.encode()).hexdigest()[:16] for c in canonical.to_pylist()], pa.string()
    )
    schema = pa.schema([(c, pa.string()) for c in ("subj", "pred", "obj", "doc_id")])
    return pa.Table.from_arrays([
        ids.take(pc.index_in(subj, value_set=canonical)), g.column("pred"),
        ids.take(pc.index_in(obj, value_set=canonical)), g.column("doc_id"),
        pc.cast(g.column("count_all"), pa.float64()),
    ], schema=schema.append(pa.field("weight", pa.float64(), nullable=False)))


def entity_pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iters: int = 3,
    catalog=None,
    stage_prefix: str = "pagerank",
    checkpoint_every: int = 1,
) -> DataFrame:
    """PageRank over the entity graph -> (entity_id, pagerank).

    Pregel-style power iteration expressed as DataFrame joins (the same
    shape GraphX/GraphFrames compile to): per iteration one shuffle keyed
    by destination (the contribution groupBy) plus a broadcast of the
    1-row dangling-mass aggregate — no driver-side collection of the rank
    vector at any point, so the operator scales with the edge table.
    Dangling nodes (no out-links) donate their mass uniformly, the
    standard stochastic-completion fix, so total rank stays 1.0 every
    iteration (asserted in tests/test_graph.py).

    ``n_iters`` is a FIXED unrolled count (no convergence probe): rank
    after k iterations is a closed-form function of the graph, which is
    what makes the operator independently replayable as unrolled SQL by
    the DuckDB oracle (entity_pagerank in __spark_entry__.py).  Output is
    rounded to 6 SIGNIFICANT figures on both sides (round at scale
    floor(log10(pr))-5): ranks are sums in different orders on different
    engines, so values land ~1e-15 RELATIVE off — a relative quantum of
    ~1e-6 keeps the boundary-straddle probability negligible at every
    graph size, where a fixed 6-DECIMAL quantum (ADVICE r3) collapsed to
    0.000000/one-ulp ties beyond ~10^6 nodes where ranks sit at or below
    1e-6 (ADVICE r4).  Ranks are strictly positive ((1-d)/n floor), so
    log10 is total.

    Fault tolerance (VERDICT r3 item 3, same argument as CC —
    kg/linking.py): ``localCheckpoint`` truncates lineage but dies with an
    executor.  With a ``StageCatalog``, every ``checkpoint_every``-th
    iteration is durably committed keyed by a content fingerprint of the
    link set (+ damping + n_iters), so a killed job resumes the power
    iteration from the last committed round; a completed run is returned
    straight from the final stage (tests/test_graph.py).

    Scale notes (100 TB): ``links``/``outdeg`` are computed once and
    reused every iteration (localCheckpoint; on a cluster: persist).
    """
    links = (
        edges.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    token = None
    final_stage = f"{stage_prefix}_final"
    if catalog is not None:
        # order-insensitive link-set fingerprint (same construction as CC's)
        row = links.select(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("hx"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(28,0)")).alias("hs"),
        ).collect()[0]
        token = f"{row['n']}:{row['hx']}:{row['hs']}:d{damping}:k{n_iters}"
        if catalog.is_complete(final_stage, extra_inputs={"edges": token}):
            return catalog.read(final_stage)
    nodes = (
        links.select(F.col("src").alias("node"))
        .union(links.select("dst"))
        .distinct()
        .localCheckpoint()
    )
    outdeg = links.groupBy("src").agg(F.count("*").cast("double").alias("deg"))
    n = nodes.select(F.count("*").cast("double").alias("n"))

    # state: (node, deg nullable, pr); deg carried so the dangling aggregate
    # and the contribution join never re-join outdeg
    state = (
        nodes.join(outdeg, nodes["node"] == outdeg["src"], "left")
        .crossJoin(F.broadcast(n))
        .select("node", "deg", (F.lit(1.0) / F.col("n")).alias("pr"), "n")
        .localCheckpoint()
    )
    start_iter = 0
    if catalog is not None:
        from kg.linking import _committed_cc_iters

        done = [
            d
            for d in _committed_cc_iters(catalog, stage_prefix, token)
            if d <= n_iters
        ]
        if done:
            start_iter = done[-1]
            state = catalog.read(f"{stage_prefix}_iter{done[-1]:03d}")
    for it in range(start_iter, n_iters):
        dangling = state.where(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dang")
        )
        contribs = (
            links.join(state, links["src"] == state["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("contrib"))
            .select(F.col("dst").alias("node"), "contrib")
        )
        state = (
            state.select("node", "deg", "n")
            .join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "deg",
                (
                    (1.0 - damping) / F.col("n")
                    + damping
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") / F.col("n")
                    )
                ).alias("pr"),
                "n",
            )
            .localCheckpoint()
        )
        if (
            catalog is not None
            and (it + 1) < n_iters
            and (it + 1) % checkpoint_every == 0
        ):
            frozen = state
            state = catalog.run(
                f"{stage_prefix}_iter{it + 1:03d}",
                lambda: frozen,
                extra_inputs={"edges": token},
            )
    # 6 significant figures: quantum = 10^(floor(log10(pr)) - 5).  The
    # round-scale argument must be foldable in Spark, so the per-row scale
    # is expressed arithmetically: round(pr/q) * q — identical double ops
    # in the DuckDB twin (_pagerank_ctes in __spark_entry__.py).
    q = F.pow(F.lit(10.0), F.floor(F.log10("pr")) - F.lit(5))
    result = state.select(
        F.col("node").alias("entity_id"),
        (F.round(F.col("pr") / q, 0) * q).alias("pagerank"),
    )
    if catalog is not None:
        return catalog.run(
            final_stage, lambda: result, extra_inputs={"edges": token}
        )
    return result

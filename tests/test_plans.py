"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the plans (pushdown, pruning, broadcast, codegen)."""

from pyspark.sql import functions as F

from kg.relational import load, revenue_by_nation, threshold_filter

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    df = threshold_filter(spark, SF)
    plan = _formatted(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(value,50.0)" in plan.replace(" ", "")


def test_column_pruning_reads_only_needed_columns(spark):
    df = load(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = _formatted(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_small_dims_are_broadcast(spark):
    plan = _plan(revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_whole_stage_codegen_covers_agg(spark):
    from kg.relational import lineitem_agg

    df = lineitem_agg(spark, SF)
    df.collect()  # AQE finalizes the physical plan only on execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' operator prefix marks WholeStageCodegen spans in the final plan
    assert "*(" in plan


def test_extract_stage_has_no_shuffle(spark, vocab, sentences):
    from kg.mention import explode_text_spans, extract_sentences
    from kg.synth import docs_to_df, synth_docs

    docs = docs_to_df(spark, synth_docs(20, sentences=sentences))
    df = extract_sentences(explode_text_spans(docs), vocab)
    plan = _plan(df)
    assert "Exchange" not in plan  # documents -> extract is shuffle-free


def test_keyphrases_single_shuffle(spark, tmp_path):
    """TF aggregation and the per-doc top-k window must both reuse the
    upfront doc_id repartition: exactly ONE Exchange in the whole plan
    when reading from a parquet checkpoint (the 100-TB shape — word rows
    are ~60x the doc rows and must not shuffle)."""
    from kg.keyphrase import keyphrases_table
    from kg.synth import docs_to_df, synth_docs

    p = str(tmp_path / "docs.parquet")
    docs_to_df(spark, synth_docs(30)).write.parquet(p)
    df = keyphrases_table(spark.read.parquet(p))
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan


def test_passthrough_single_shuffle(spark, tmp_path):
    from kg.invariant import passthrough_docs
    from kg.synth import docs_to_df, synth_docs

    p = str(tmp_path / "docs2.parquet")
    docs_to_df(spark, synth_docs(30)).write.parquet(p)
    df = passthrough_docs(spark.read.parquet(p))
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan


def test_published_tables_prune_partitions(spark, tmp_path, vocab, sentences):
    """VERDICT r2 item 6: nodes/edges are published hive-partitioned
    (kind/pred); a selective reader's filter must become a PartitionFilter
    at the scan — pruned BEFORE any data file is opened — and the data
    files must live under partition directories."""
    import os

    from kg.pipeline import run_pipeline
    from kg.synth import docs_to_df, synth_docs

    res = run_pipeline(
        spark,
        docs_to_df(spark, synth_docs(80, sentences=sentences)),
        str(tmp_path / "pp"),
        vocab=vocab,
        input_token="synth:80:42",
    )
    cat = res.catalog
    edges_dir = cat.data_dir("edges")
    assert any(d.startswith("pred=") for d in os.listdir(edges_dir)), (
        os.listdir(edges_dir)
    )
    assert any(
        d.startswith("kind=") for d in os.listdir(cat.data_dir("nodes"))
    )

    plan = (
        cat.read("edges")
        .where("pred = 'rel_ns_ns'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "rel_ns_ns" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], plan

"""The span invariant's damage classes, each planted against both checks:
Spark's ``span_violations`` and the driver's ``span_violations_local``
(an append batch held on the driver), which must count alike."""

from pyspark.sql import functions as F

from kg.invariant import passthrough_docs, passthrough_local, span_violations, span_violations_local
from kg.synth import docs_to_df, synth_docs


def _violations(docs, out) -> int:
    """The Spark check's count, asserted equal to the driver check's on
    the same tables."""
    n = span_violations(docs, out).count()
    assert span_violations_local(docs.toArrow(), out.toArrow()) == n
    return n


def test_passthrough_preserves_all_docs(spark):
    docs = docs_to_df(spark, synth_docs(40))
    out = passthrough_docs(docs)
    assert _violations(docs, out) == 0
    assert out.count() == 40
    held = docs.toArrow()
    assert span_violations_local(held, passthrough_local(held)) == 0


def test_violation_detected_on_mutation(spark):
    docs = docs_to_df(spark, synth_docs(10))
    # drop media spans — must be flagged for every doc that had one
    mutated = docs.select(
        "doc_id",
        F.filter("spans", lambda s: s["kind"] == "text").alias("spans"),
    )
    n_with_media = docs.where(
        F.exists("spans", lambda s: s["kind"] != "text")
    ).count()
    assert n_with_media > 0
    assert _violations(docs, passthrough_docs(mutated)) == n_with_media
    assert span_violations_local(docs.toArrow(), passthrough_local(mutated.toArrow())) == n_with_media


def test_null_spans_equivalent_to_empty(spark):
    """A NULL spans column round-trips as an empty array — not a violation
    (ADVICE r1: explode_outer + collect_list drops the NULL placeholder)."""
    from kg.synth import DOCS_SCHEMA

    docs = spark.createDataFrame(
        [("doc-null", None), ("doc-empty", [])], DOCS_SCHEMA
    )
    out = passthrough_docs(docs)
    assert out.count() == 2
    assert _violations(docs, out) == 0
    held = docs.toArrow()
    assert span_violations_local(held, passthrough_local(held)) == 0


def test_missing_doc_is_a_violation(spark):
    docs = docs_to_df(spark, synth_docs(10))
    out = passthrough_docs(docs).where(F.col("doc_id") != "doc-00000003")
    assert _violations(docs, out) == 1
    assert _violations(out, docs) == 1  # missing from the input side


def test_violation_detected_on_reorder(spark):
    docs = docs_to_df(spark, synth_docs(10))
    # swap offsets of first two spans in multi-span docs
    mutated = docs.select(
        "doc_id",
        F.transform(
            "spans",
            lambda s, i: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                F.when(F.size("spans") >= 2,
                       F.when(i == 0, F.lit(1)).when(i == 1, F.lit(0)).otherwise(s["offset"]))
                .otherwise(s["offset"]).cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    multi = docs.where(F.size("spans") >= 2).count()
    assert _violations(docs, mutated) >= multi - 1

"""Per-row span-sequence invariant (BASELINE.json input_hint).

Every document that enters the pipeline must come out with an identical span
sequence on (kind, text, media_ref, order) — media spans byte-identical and
in place.  The pipeline proves this non-trivially: ``passthrough_docs``
re-assembles each document from the *exploded* span representation (the same
explode the extract stage consumes), re-sorting by offset, and
``span_violations`` diffs the reassembly against the input table.
``passthrough_local`` and ``span_violations_local`` do the same on the
driver for an append batch held there (kg/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def passthrough_docs(docs: DataFrame) -> DataFrame:
    """Explode all spans, then reassemble per doc ordered by offset.

    Repartition the compact doc rows by doc_id BEFORE the explode: the
    reassembly groupBy then runs shuffle-free on the (larger) span rows —
    one shuffle of 1 row/doc instead of one shuffle of ~4 rows/doc.
    """
    s = F.explode_outer("spans").alias("s")
    exploded = docs.repartition("doc_id").select("doc_id", s)
    # collect_list skips nulls — wrap the struct in when() so the
    # explode_outer placeholder row of an empty-spans doc doesn't become a
    # struct-of-nulls element.
    return exploded.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("s").isNotNull(),
                    F.struct(
                        F.col("s.offset").alias("offset"),
                        F.col("s.kind").alias("kind"),
                        F.col("s.text").alias("text"),
                        F.col("s.media_ref").alias("media_ref"),
                    ),
                )
            )
        ).alias("ordered")
    ).select(
        "doc_id",
        F.transform(
            "ordered",
            lambda x: F.struct(
                x["kind"].alias("kind"),
                x["text"].alias("text"),
                x["media_ref"].alias("media_ref"),
                x["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )


def passthrough_local(docs):
    """``passthrough_docs`` on the driver: a ``pyarrow.Table`` of documents
    -> the reassembled documents as a ``pyarrow.Table``.  Same rules: spans
    grouped by doc_id, null elements dropped, a null span list comes out
    as ``[]``, and spans sorted as Spark sorts the (offset, kind, text,
    media_ref) structs, a null field first."""
    import pyarrow as pa

    spans: dict = {}
    for doc_id, ss in zip(docs.column("doc_id").to_pylist(), docs.column("spans").to_pylist()):
        spans.setdefault(doc_id, []).extend(s for s in ss or () if s is not None)

    def key(s):
        return [(s[k] is not None, s[k]) for k in ("offset", "kind", "text", "media_ref")]

    struct = docs.schema.field("spans").type.value_type
    return pa.table({
        "doc_id": pa.array(list(spans), pa.string()),
        "spans": pa.array(
            [sorted(ss, key=key) for ss in spans.values()],
            pa.list_(pa.struct([struct.field(k) for k in ("kind", "text", "media_ref", "offset")])),
        ),
    })


def span_violations(input_docs: DataFrame, output_docs: DataFrame) -> DataFrame:
    """Docs whose output span sequence differs from the input's.

    NULL and empty-array span lists are equivalent: ``explode_outer`` +
    ``collect_list`` in ``passthrough_docs`` canonically reproduce a NULL
    input as an empty array, which is not a violation — only a *present doc
    whose sequence changed* or a *doc missing from one side* is.  Presence
    is tracked with explicit marker columns because after the full-outer
    join a NULL ``spans`` column cannot distinguish "row absent" from
    "row present with NULL spans".

    The comparison ships an order-sensitive per-doc CHECKSUM through the
    join instead of the span arrays themselves (VERDICT r5 item 9):
    xxhash64 over the canonical JSON of the span sequence — ``to_json``
    renders elements in array order with the fixed struct field order, and
    a NULL span list canonicalizes to the same "[]" an empty one does, so
    the predicate decides exactly the old array-equality (up to a 2^-64
    hash collision; every damage class the mutation tests plant still
    fires — tests/test_invariant.py).  The full_outer join payload drops
    from the whole corpus text to (doc_id, 8-byte hash) per side — at 1M
    docs the check measured 2.7s -> ~1s (r6).
    """
    canon = lambda c: F.xxhash64(F.coalesce(F.to_json(c), F.lit("[]")))  # noqa: E731
    a = input_docs.select(
        "doc_id", canon(F.col("spans")).alias("h_in"),
        F.lit(True).alias("in_present"),
    )
    b = output_docs.select(
        "doc_id", canon(F.col("spans")).alias("h_out"),
        F.lit(True).alias("out_present"),
    )
    joined = a.join(b, "doc_id", "full_outer")
    ok = (
        F.col("in_present").isNotNull()
        & F.col("out_present").isNotNull()
        & (F.col("h_in") == F.col("h_out"))
    )
    return joined.where(~ok)


def span_violations_local(input_docs, output_docs) -> int:
    """``span_violations(...).count()`` on the driver, of two
    ``pyarrow.Table``s: the rows the full outer join on doc_id gives that
    are not a present-on-both-sides pair with equal span lists (a null list
    equal to an empty one).  The lists are compared exactly, so unlike the
    Spark checksum there is no collision bound."""
    sides: tuple[dict, dict] = ({}, {})
    for side, docs in zip(sides, (input_docs, output_docs)):
        for doc_id, spans in zip(docs.column("doc_id").to_pylist(), docs.column("spans").to_pylist()):
            side.setdefault(doc_id, []).append(spans or [])
    n = 0
    for doc_id in sides[0].keys() | sides[1].keys():
        a, b = sides[0].get(doc_id, []), sides[1].get(doc_id, [])
        if doc_id is None or not a or not b:  # a null key joins nothing
            n += len(a) + len(b)
        else:
            n += sum(x != y for x in a for y in b)
    return n

"""Relational operator queries over the driver testdata tables.

One function per operator family from SURVEY.md §2, expressed declaratively
(Catalyst gets pushdown/pruning/broadcast for free); each has a matching
ANSI-SQL oracle in ``__spark_entry__.oracle_sql``.  Column aliases MUST match
the oracle SQL exactly (driver hashes values under sorted column names).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """The table's parquet, opened with the schema Spark would infer, read
    from a footer on the driver: opening runs no schema-inference job."""
    path = f"{sf_dir}/{table}.parquet"
    return spark.read.schema(footer_schema(path)).parquet(path)


def footer_schema(path: str) -> StructType:
    """Spark's inferred schema of the parquet at ``path`` (a file, or a
    directory of part-files: the first one's), from its footer: the schema
    Spark recorded there when Spark wrote it, else the Arrow schema with a
    zone-less timestamp as ``timestamp_ntz``, as Spark infers it."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if os.path.isdir(path):
        path = min(
            os.path.join(root, name)
            for root, _dirs, names in os.walk(path)
            for name in names
            if name.endswith(".parquet")
        )
    schema = pq.read_schema(path)
    written = (schema.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if written is not None:
        return StructType.fromJson(json.loads(written))
    return from_arrow_schema(schema, prefer_timestamp_ntz=True)


# Plan size estimates below this many bytes are not spread.  Measured with
# ``tools/leaf_profile.py spread`` on a 4-core VM (local[4], host steal at
# most 1.1% in every cell): each consumer of ``spread_small_scan`` on the
# generator's one-file tables (``perfbench.tables``), round-robin
# repartitioned to 4 (spread) or not (no spread), interleaved, median of 3
# calls into the noop sink after one warm-up.  MB = the optimized plan's
# ``sizeInBytes`` of the consumer's input; CPU s of the process tree / wall s:
#              MB    simhash                    minhash signature kernel
#   sf                spread      no spread      spread       no spread
#   0.1      0.25   2.71 / 0.75  1.62 / 0.58    2.38 / 0.67   1.65 / 1.10
#   0.5      1.21   2.63 / 0.80  2.19 / 1.03    4.61 / 1.34   4.10 / 3.08
#   1        2.42   3.91 / 1.25  3.10 / 2.02    7.67 / 2.22   6.91 / 5.78
#   2        4.84   6.35 / 2.14  5.46 / 4.28   13.71 / 4.09  10.37 / 9.41
#              MB    cosine_topk
#   0.1      0.76   0.97 / 0.32  0.84 / 0.29
#   0.5      3.10   0.94 / 0.39  1.06 / 0.41
#   1        5.60   0.93 / 0.40  0.71 / 0.41
#   2       10.62   0.85 / 0.42  0.62 / 0.47
# The spread costs CPU in every cell but one (11-67% more on the kernels),
# and buys wall only for the Python kernels.  From 2.4 MB on it saves at
# least as much wall as it adds CPU on both of them (1.6-2.6x less wall);
# at 1.2 MB simhash still loses (0.44 CPU-s more for 0.23 s less wall), and
# at 0.25 MB both lose.  cosine_topk gains no wall at any measured size, so
# ``kg.ops.similarity.cosine_scores`` no longer calls the spread at all.
SPREAD_MIN_BYTES = 2 << 20


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW scan up to the pool's parallelism,
    when it is large enough to pay for the shuffle.

    A small zstd parquet table is one file with one row group — one scan
    task — so a compute-dense consumer (Arrow kernel, big explode) runs on
    a single core no matter the pool (guide §2.5 "input skew: one huge
    unsplittable file ... repartition immediately after the read"; measured
    r6: the minhash shingle kernel over sf1's single-split documents table
    ran 1-core, 4.4s of its 9.7s total).  Below ``SPREAD_MIN_BYTES`` of
    input, read off the optimized plan's ``sizeInBytes`` estimate (no job,
    no physical planning), the input is returned as is: there the exchange
    and its extra job cost more CPU than they save wall (table above).
    Above it, when the source already yields at least pool-parallelism
    splits (every realistic 100-TB table), this is a NO-OP — no shuffle is
    added.  Round-robin keeps Spark's sort-before-repartition determinism
    under task retry.
    """
    if df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() < SPREAD_MIN_BYTES:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# -- P1: whitespace segmentation ------------------------------------------
def seg_wordcount(spark, sf_dir):
    # single-split scan + 1-task explode measured FASTER than spreading the
    # scan first (r6): the corpus vocabulary is tiny (~31 words), so the
    # map-side partial agg collapses the explode in place and a repartition
    # would only add a shuffle of the full texts
    docs = load(spark, sf_dir, "documents").select("text")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


# -- P2: word/tag split (split_part semantics) -----------------------------
def word_tag_split(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    seg = F.concat_ws("/", "lang", "source")
    return (
        docs.select(
            F.split_part(seg, F.lit("/"), F.lit(1)).alias("word"),
            F.split_part(seg, F.lit("/"), F.lit(2)).alias("tag"),
        )
        .groupBy("word", "tag")
        .agg(F.count("*").alias("cnt"))
    )


# -- P3: membership predicate ----------------------------------------------
def tag_filter(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
    )


# -- P4: score-threshold predicate (logits > 0 analog) ----------------------
def threshold_filter(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.where(F.col("value") > 50).select("event_id", "user_id", "value")


# -- P5/J2: range predicate via self-join (start <= end) --------------------
def range_self_join(spark, sf_dir):
    """Pairs (a, b) within an order with ln_a <= ln_b, counted per order.

    Round-6 rewrite (guide §2.4 "remove shuffles outright"): the literal
    self-join shuffled lineitem twice and materialized the ~4x pair fan-out
    (6M rows -> ~24M joined rows at sf1) only to count it.  The count has
    a closed form per row: with rank() ascending (rank = 1 + #rows with a
    strictly smaller l_linenumber, ties share a rank), row ``a`` pairs with
    exactly k - rank_a + 1 rows, duplicates included — so per order
    n_pairs = k^2 + k - sum(rank).  One exchange of the skinny rows, one
    sort, no join, no fan-out; identical to the oracle's join semantics
    (hash-checked at sf0.01/0.1/1, including duplicate-value groups).
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    ranked = li.select("l_orderkey", F.rank().over(w).alias("rk"))
    k = F.count("*")
    return ranked.groupBy("l_orderkey").agg(
        (k * k + k - F.sum("rk")).alias("n_pairs")
    )


# -- J1: broadcast cross-join expansion (sentence x 3 tags) ------------------
def cross_expand(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    tags = spark.createDataFrame([("ns",), ("nt",), ("nr",)], "tag string")
    return docs.crossJoin(F.broadcast(tags)).groupBy("tag").agg(
        F.count("*").alias("cnt")
    )


# -- J2: conjunctive span decode join (start ∧ end ∧ range) ------------------
def span_conjunction(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    starts = ev.where((F.col("value") > 40) & (F.col("event_type") == "click")).select(
        "user_id", F.col("event_id").alias("start_id")
    )
    ends = ev.where((F.col("value") > 40) & (F.col("event_type") == "view")).select(
        "user_id", F.col("event_id").alias("end_id")
    )
    return (
        starts.join(ends, "user_id")
        .where(
            (F.col("start_id") < F.col("end_id"))
            & (F.col("end_id") - F.col("start_id") <= 100)
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_spans"))
    )


# -- J3/A1: tp/fp/fn micro counts -------------------------------------------
def tp_fp_fn(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    pred = F.col("value") > 50
    gold = F.col("event_type") == "click"
    return ev.agg(
        F.sum(F.when(pred & gold, 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(pred & ~gold, 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(~pred & gold, 1).otherwise(0)).cast("bigint").alias("fn"),
    )


# -- A3: P/R/F1 with the reference's exact epsilons (ner/trainer.py:49-51) ---
def prf1(spark, sf_dir):
    c = tp_fp_fn(spark, sf_dir)
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    recall = tp / (tp + fn + F.lit(1e-10))
    precision = tp / (tp + fp + F.lit(1e-10))
    f1 = 2 * recall * precision / (recall + precision + F.lit(1e-10))
    return c.select(
        precision.alias("precision"), recall.alias("recall"), f1.alias("f1")
    )


# -- A1/A2 analog: grouped aggregation sweep (TPC-H Q1 shape) -----------------
def lineitem_agg(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# -- multi-join star chain (broadcast dims) ----------------------------------
def revenue_by_nation(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


# -- window / order enforcement (§2.5) ----------------------------------------
def order_window(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("first_event_id"))
    )


# -- set op: union merge (§2.5 target usage) ----------------------------------
def union_nation_parties(spark, sf_dir):
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    return cust.unionAll(supp).groupBy("nationkey").agg(F.count("*").alias("n_parties"))


# -- keyphrase stage over plain documents (north_star; SQL-checkable twin) ----
def keyphrases_top5(spark, sf_dir):
    # ONE shuffle (kg/keyphrase.py discipline): hash-repartition the compact
    # doc rows by doc_id BEFORE the ~60x explode — HashPartitioning(doc_id)
    # satisfies both the (doc_id, phrase) aggregation (subset clustering)
    # and the per-doc top-k window, so neither re-shuffles the word rows;
    # it also parallelizes the single-split documents scan (guide §2.4/2.5).
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.repartition("doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("phrase")
    ).where(F.col("phrase") != "")
    tf = words.groupBy("doc_id", "phrase").agg(F.count("*").alias("freq"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("freq"), F.asc("phrase"))
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("doc_id", "phrase", "freq", "rank")
    )


# -- as-of join (guide: Spark lacks a native one) -----------------------------
def asof_join(spark, sf_dir):
    """For each click, the most recent error (ts <=) by the same user.

    Implemented JVM-side as the union + last_value(ignore nulls) window
    pattern (no per-group Python): errors sort before clicks at equal ts so
    a same-timestamp error counts; ties broken by event_id.
    """
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(None).cast("long").alias("err_id"), F.lit(1).alias("k")
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", F.col("event_id").alias("err_id"), F.lit(0).alias("k")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "k", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        clicks.unionAll(errors)
        .withColumn("asof_error_id", F.last("err_id", ignorenulls=True).over(w))
        .where(F.col("k") == 1)
        .select("event_id", "user_id", "asof_error_id")
    )


# -- sessionization (window lag + cumulative gap count) ------------------------
def sessionize(spark, sf_dir, gap_minutes: int = 30):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond precision: matches the oracle's epoch_us exactly
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    with_flag = ev.select(
        "user_id", "ts", "event_id",
        F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = with_flag.withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event_id"),
    )


# -- rollup / cube (grouping sets) ---------------------------------------------
def lineitem_rollup(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def events_cube(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hr"), "value"
    )
    return ev.cube("event_type", "hr").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# -- pivot ----------------------------------------------------------------------
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


# -- exact percentiles ------------------------------------------------------------
def value_percentiles(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


# -- distinct counts ---------------------------------------------------------------
def distinct_users(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def approx_distinct_users(spark, sf_dir):
    """HLL sketch path (rows-only: approximate by design)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users")
    )


# -- A2: masked-mean BCE-with-logits as one distributed aggregation -----------
def masked_loss(spark, sf_dir):
    """Masked-mean binary cross-entropy on raw logits (SURVEY §2 A2;
    reference ner/trainer.py:19-23: (loss * masks).sum() / masks.sum()),
    expressed as a single whole-stage-codegen aggregation — the shape a
    training-eval loss takes over a 100-TB logit table.  Logits / targets /
    masks are derived deterministically from ``events`` (the stable
    numerically-safe BCE form max(x,0) - x*t + log1p(exp(-|x|)));
    kg/scoring.py holds the batch/NumPy twin used by tests."""
    ev = load(spark, sf_dir, "events")
    x = (F.col("value") - 50.0) / 10.0
    t = F.when(F.col("event_type") == "click", 1.0).otherwise(0.0)
    m = F.when(F.col("value") > 10.0, 1.0).otherwise(0.0)
    bce = F.greatest(x, F.lit(0.0)) - x * t + F.log1p(F.exp(-F.abs(x)))
    return ev.agg(
        F.round(F.sum(bce * m) / F.sum(m), 6).alias("masked_bce"),
        F.sum(m).cast("bigint").alias("n_masked"),
    )

"""Semantics tests for the extended relational operators on crafted inputs
(the DuckDB oracle harness checks them at sf0.01; these pin the edge cases)."""

import datetime as dt
import os
import shutil

import pytest

from kg import relational as R


def _events(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u, t, float(v), "{}")
            for i, s, u, t, v in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )


@pytest.fixture()
def sf_dir(spark, tmp_path):
    """Write crafted events as a mini sf-dir so the R.* loaders work."""

    def make(rows):
        _events(spark, rows).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
        return str(tmp_path)

    return make


def test_asof_join_semantics(spark, sf_dir):
    rows = [
        # (event_id, sec, user, type, value)
        (1, 0, 7, "error", 1),
        (2, 10, 7, "click", 1),    # -> error 1
        (3, 20, 7, "error", 1),
        (4, 20, 7, "click", 1),    # same-ts error counts -> 3
        (5, 30, 8, "click", 1),    # user 8 has no error -> null
        (6, 40, 7, "click", 1),    # -> 3
    ]
    d = sf_dir(rows)
    got = {r.event_id: r.asof_error_id for r in R.asof_join(spark, d).collect()}
    assert got == {2: 1, 4: 3, 5: None, 6: 3}


def test_sessionize_gap_boundary(spark, sf_dir):
    gap = 30 * 60
    rows = [
        (1, 0, 1, "view", 1),
        (2, gap, 1, "view", 1),        # exactly 30min: same session (> not >=)
        (3, 2 * gap + 1, 1, "view", 1),  # 30min+1s later: new session
        (4, 0, 2, "view", 1),
    ]
    d = sf_dir(rows)
    got = sorted(
        (r.user_id, r.session_id, r.n_events, r.first_event_id)
        for r in R.sessionize(spark, d).collect()
    )
    assert got == [(1, 1, 2, 1), (1, 2, 1, 3), (2, 1, 1, 4)]


def test_rollup_includes_grand_total(spark):
    df = R.lineitem_rollup(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    grand = [r for r in rows if r.l_returnflag is None and r.l_linestatus is None]
    assert len(grand) == 1 and grand[0].n == 6000
    partials = [r for r in rows if r.l_returnflag is not None and r.l_linestatus is None]
    assert sum(p.n for p in partials) == 6000


def test_cube_marginals_consistent(spark):
    rows = R.events_cube(spark, "/root/testdata/sf0.001").collect()
    total = [r for r in rows if r.event_type is None and r.hr is None][0]
    by_type = sum(r.n for r in rows if r.event_type is not None and r.hr is None)
    by_hr = sum(r.n for r in rows if r.event_type is None and r.hr is not None)
    assert total.n == by_type == by_hr == 1000


def test_pivot_row_sums_match_counts(spark):
    rows = R.events_pivot(spark, "/root/testdata/sf0.001").collect()
    total = sum(r.click + r.error + r.purchase + r.signup + r.view for r in rows)
    assert total == 1000


def test_percentiles_ordered(spark):
    for r in R.value_percentiles(spark, "/root/testdata/sf0.001").collect():
        assert r.vmin <= r.p50 <= r.p90 <= r.vmax


def test_approx_distinct_within_5pct_of_exact(spark):
    """HLL tolerance gate (VERDICT r1 item 8): approx_count_distinct's
    default rsd is 0.05; assert the realized relative error stays <= 5%
    per event_type against the exact count on real testdata."""
    exact = {
        r.event_type: r.n_users
        for r in R.distinct_users(spark, "/root/testdata/sf0.01").collect()
    }
    approx = {
        r.event_type: r.approx_users
        for r in R.approx_distinct_users(spark, "/root/testdata/sf0.01").collect()
    }
    assert set(exact) == set(approx)
    for et, n in exact.items():
        assert abs(approx[et] - n) / n <= 0.05, (et, approx[et], n)


def test_load_takes_the_schema_spark_infers(spark, sf_dir, tmp_path):
    """``R.load`` opens a table with the schema read from its footer on the
    driver, and that schema is the one Spark's own inference gives: on the
    benchmark generator's tables (one pyarrow file each, zone-less
    timestamps) and on a Spark-written directory (INT96 timestamps)."""
    import os

    from perfbench import tables

    dirs = [sf_dir([(1, 0, 7, "error", 1)])]
    tables.write(tables.generate(1, 0.0002), str(tmp_path / "gen"))
    dirs.append(str(tmp_path / "gen"))
    seen = set()
    for d in dirs:
        for name in sorted(n for n in os.listdir(d) if n.endswith(".parquet")):
            table = name.removesuffix(".parquet")
            inferred = spark.read.parquet(os.path.join(d, name)).schema
            assert R.load(spark, d, table).schema == inferred, (d, table)
            seen |= {f.dataType.typeName() for f in inferred.fields}
    assert {"timestamp", "timestamp_ntz", "array"} <= seen


def test_spread_counts_row_groups_not_byte_splits(spark, tmp_path, monkeypatch):
    """Above ``SPREAD_MIN_BYTES`` a one-row-group parquet file is spread
    although Spark cuts it into a pool's width of byte-range splits (only
    one of them holds rows), and a file with a pool's width of row groups
    in as many splits is left as it is."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(R, "SPREAD_MIN_BYTES", 1)
    width = spark.sparkContext.defaultParallelism
    n = 4000 * width
    table = pa.table({"doc_id": [f"d{i}" for i in range(n)], "text": [f"t{i} " * 8 for i in range(n)]})
    one, many = str(tmp_path / "one.parquet"), str(tmp_path / "many.parquet")
    pq.write_table(table, one, compression="none")
    pq.write_table(table, many, compression="none", row_group_size=n // width)
    size = max(map(os.path.getsize, (one, many)))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(size // width))
    try:
        one_df, many_df = spark.read.parquet(one), spark.read.parquet(many)
        assert one_df.rdd.getNumPartitions() >= width  # split by bytes
        spread = R.spread_small_scan(one_df)
        assert spread is not one_df
        assert spread.rdd.getNumPartitions() == width
        assert sorted(spread.collect()) == sorted(one_df.collect())
        assert many_df.rdd.getNumPartitions() >= width
        assert R.spread_small_scan(many_df) is many_df
        # footers are read only while they can change the answer: none
        # below a pool's width of splits, and none past a pool's width of
        # row groups
        reads = []
        footer = pq.ParquetFile
        monkeypatch.setattr(pq, "ParquetFile", lambda f: reads.append(f) or footer(f))
        assert R._row_splits(one_df.coalesce(1), width) == 1
        assert reads == []
        (tmp_path / "dir").mkdir()
        for i in range(3):
            shutil.copy(many, tmp_path / "dir" / f"part-{i}.parquet")
        dir_df = spark.read.parquet(str(tmp_path / "dir"))
        assert R.spread_small_scan(dir_df) is dir_df
        assert len(reads) == 1
    finally:
        spark.conf.set(key, old)

"""``StageCatalog.write``/``append`` of a ``pyarrow.Table`` against the same
rows as a DataFrame: what readers see, what the manifest records, the files'
codec and hive layout, an empty table, and a torn Arrow append."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import from_arrow_schema

from kg.catalog import StageCatalog

# partition values Spark escapes, and a null one
ROWS = pa.table({
    "entity_id": pa.array(["e1", "e2", "e3", "e4", "e5"], pa.string()),
    "kind": pa.array(["nr", "ns", "a/b:c=d %e", None, "nr"], pa.string()),
    "n_mentions": pa.array([1, 2, 3, 4, 5], pa.int64()),
    "shingles": pa.array([[1], [], None, [2, 3], [4]], pa.list_(pa.int64())),
})
MORE = pa.table({
    "entity_id": pa.array(["e6", "e7"], pa.string()),
    "kind": pa.array(["nt", "nr"], pa.string()),
    "n_mentions": pa.array([6, 7], pa.int64()),
    "shingles": pa.array([[5, 6], None], pa.list_(pa.int64())),
})
STAGE = "t"
KW = {"extra_inputs": {"source": "fp1"}, "meta": {"note": "x"}}


def _df(spark, table):
    """``table`` as a one-partition DataFrame: Spark writes one file per
    partition value, as the Arrow writer does."""
    rows = [tuple(r.values()) for r in table.to_pylist()]
    return spark.createDataFrame(rows, from_arrow_schema(table.schema)).coalesce(1)


def _rows(cat):
    df = cat.read(STAGE)
    return df.columns, sorted(df.collect(), key=repr)


def _manifest(cat):
    """The manifest without what differs between two writers of the same
    rows: file names (kept: partition directory and rows), bytes, checksum
    and commit time."""
    m = dict(cat.manifest(STAGE))
    files = sorted((os.path.dirname(f["file"]), f["rows"]) for f in m.pop("files"))
    for key in ("checksum", "created_at"):
        m.pop(key)
    return m, files


def _files(cat):
    data = cat.data_dir(STAGE)
    return [os.path.join(data, f["file"]) for f in cat.manifest(STAGE)["files"]]


@pytest.fixture()
def cats(spark, tmp_path):
    return StageCatalog(spark, str(tmp_path / "spark")), StageCatalog(spark, str(tmp_path / "arrow"))


@pytest.mark.parametrize("partition_by", [None, ("kind",)])
def test_arrow_writes_equal_spark_writes(spark, cats, partition_by):
    by_spark, by_arrow = cats
    by_spark.write(STAGE, _df(spark, ROWS), partition_by=partition_by, **KW)
    by_arrow.write(STAGE, ROWS, partition_by=partition_by, **KW)
    assert _rows(by_arrow) == _rows(by_spark)
    assert _manifest(by_arrow) == _manifest(by_spark)
    if partition_by:
        # the partition column is read back last, as a string
        assert by_arrow.read(STAGE).columns[-1] == "kind"
        assert {d for d, _ in _manifest(by_arrow)[1]} == {
            "kind=nr", "kind=ns", "kind=a%2Fb%3Ac%3Dd %25e", "kind=__HIVE_DEFAULT_PARTITION__",
        }
    for a, s in zip(sorted(_files(by_arrow)), sorted(_files(by_spark))):
        assert a.endswith(".zstd.parquet") and s.endswith(".zstd.parquet")
        assert pq.read_schema(a).names == pq.read_schema(s).names
        meta = pq.ParquetFile(a).metadata
        assert {meta.row_group(0).column(i).compression for i in range(meta.num_columns)} == {"ZSTD"}

    new_spark = by_spark.append(STAGE, _df(spark, MORE), partition_by=partition_by, **KW)
    new_arrow = by_arrow.append(STAGE, MORE, partition_by=partition_by, **KW)
    assert len(new_arrow) == len(new_spark) and all(map(os.path.exists, new_arrow))
    assert by_arrow.executed == by_spark.executed == [f"{STAGE}+append"]
    assert _rows(by_arrow) == _rows(by_spark)
    assert _manifest(by_arrow) == _manifest(by_spark)
    assert by_arrow.read_arrow(STAGE, files=new_arrow).num_rows == MORE.num_rows


@pytest.mark.parametrize("partition_by", [None, ("kind",)])
def test_arrow_write_of_an_empty_table(spark, cats, partition_by):
    by_spark, by_arrow = cats
    empty = ROWS.slice(0, 0)
    by_spark.write(STAGE, _df(spark, empty), partition_by=partition_by, **KW)
    by_arrow.write(STAGE, empty, partition_by=partition_by, **KW)
    assert _manifest(by_arrow) == _manifest(by_spark)
    assert by_arrow.manifest(STAGE)["n_files"] == (0 if partition_by else 1)
    assert _rows(by_arrow) == _rows(by_spark) == (_rows(by_spark)[0], [])
    assert by_arrow.read_arrow(STAGE).num_rows == 0


def test_torn_arrow_append_is_invisible_and_reconciled(spark, tmp_path, monkeypatch):
    """A crash between an Arrow ``append``'s file moves and its manifest commit:
    readers see the rows before it, and ``reconcile`` deletes its files."""
    cat = StageCatalog(spark, str(tmp_path / "torn"))
    cat.write(STAGE, ROWS, partition_by=("kind",))
    before = _rows(cat)
    committed = set(_files(cat))

    def crash(*a, **kw):
        raise RuntimeError("crash before the manifest commit")

    with monkeypatch.context() as m:
        m.setattr(StageCatalog, "_commit_manifest", crash)
        with pytest.raises(RuntimeError, match="crash"):
            cat.append(STAGE, MORE, partition_by=("kind",))
    on_disk = {
        os.path.join(root, n)
        for root, _d, names in os.walk(cat.data_dir(STAGE)) for n in names
        if n.endswith(".parquet")
    }
    strays = on_disk - committed
    assert strays
    fresh = StageCatalog(spark, cat.base_dir)
    assert _rows(fresh) == before
    assert fresh.read_arrow(STAGE).num_rows == ROWS.num_rows
    assert set(fresh.reconcile(STAGE)) == strays
    assert not any(map(os.path.exists, strays))
    assert _rows(fresh) == before

"""Checkpointed stage catalog + resume ledger.

The north rule requires every stage to checkpoint to Iceberg with
per-partition lineage and counters so a killed job resumes at
stage/partition granularity.  No Iceberg runtime jars exist in this sandbox
(SURVEY.md §7.0), so this module provides the semantics the rule actually
exercises behind a thin catalog layer:

- atomic committed writes (write to a temp dir, ``os.replace`` into place,
  then commit a JSON manifest — readers only trust manifested data), from a
  DataFrame or, for tables small enough to hold on the driver, from a
  ``pyarrow.Table`` with no Spark job (same files, same commit);
- per-file (= per output partition) row counts and byte sizes recorded in
  the manifest from parquet footers (metadata-only, no data scan — this is
  what keeps the ledger O(files) at 100 TB);
- input fingerprints: a stage's manifest records the checksum of each input
  stage's manifest, so a resumed run recomputes exactly the suffix of the
  DAG whose inputs changed and skips everything else;
- an in-memory execution log (``executed``) that tests use to prove stages
  were *not* recomputed on resume (FIXTURES.md §7).

With Iceberg jars on the cluster classpath the same call sites switch to
``df.writeTo(table).append()`` — config, not code (SURVEY.md §7.0c).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# the characters Spark escapes in a hive partition directory name
# (ExternalCatalogUtils.escapePathName, non-Windows)
_ESCAPED = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + list('"#%\'*/:=?\\\x7f{[]^')
)


def _escape(s: str) -> str:
    return "".join(f"%{ord(ch):02X}" if ch in _ESCAPED else ch for ch in s)


def _spark_files(df: DataFrame, path: str, partition_by: Sequence[str] | None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _schema_json(data) -> str:
    """Spark's schema JSON of a DataFrame or a ``pyarrow.Table``."""
    if isinstance(data, DataFrame):
        return data.schema.json()
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(data.schema).json()


class StageCatalog:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.executed: list[str] = []  # stages computed (not skipped) this run

    # -- paths ------------------------------------------------------------
    def data_dir(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage, "data")

    def manifest_path(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage, "manifest.json")

    # -- manifest ---------------------------------------------------------
    def manifest(self, stage: str) -> dict | None:
        path = self.manifest_path(stage)
        if not os.path.exists(path):
            return None
        with open(path, encoding="utf-8") as f:
            m = json.load(f)
        return m if m.get("status") == "committed" else None

    def fingerprint(self, stage: str) -> str | None:
        m = self.manifest(stage)
        return m["checksum"] if m else None

    def is_complete(
        self,
        stage: str,
        inputs: Sequence[str] = (),
        extra_inputs: dict[str, str] | None = None,
    ) -> bool:
        m = self.manifest(stage)
        if m is None or not os.path.isdir(self.data_dir(stage)):
            return False
        recorded = m.get("inputs", {})
        for dep in inputs:
            if recorded.get(dep) != self.fingerprint(dep):
                return False
        for key, fp in (extra_inputs or {}).items():
            if recorded.get(key) != fp:
                return False
        return True

    # -- io ---------------------------------------------------------------
    def read(self, stage: str, files: Sequence[str] | None = None) -> DataFrame:
        """Read ONLY the files listed in the committed manifest — or
        ``files``, absolute paths of some of them (what ``append``
        returned).

        A directory scan would also return stray part-files left by a crash
        between ``append``'s file moves and its manifest commit (ADVICE r3):
        the manifest is the commit point, so readers must not trust the
        directory listing.  Explicit paths + ``basePath`` keep hive-partition
        column recovery for partitioned stages.  The manifest's schema is
        handed to the reader, so opening a stage runs no schema-inference
        job (partition columns still come last).
        """
        import pyspark.sql.types as T

        m = self.manifest(stage)
        data = self.data_dir(stage)
        if m is None:
            # uncommitted stage: no committed files to trust
            raise ValueError(f"read of uncommitted stage {stage!r}")
        if files is None:
            files = [os.path.join(data, f["file"]) for f in m["files"]]
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).option("basePath", data).parquet(*files)

    def read_arrow(
        self, stage: str, columns: Sequence[str] | None = None, files: Sequence[str] | None = None
    ):
        """The committed files of a stage — or ``files``, absolute paths of
        some of them (what ``append`` returned) — as one ``pyarrow.Table``,
        read on the driver with no Spark job, for tables small enough to
        hold there (unpartitioned only: hive partition columns are not
        recovered)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        import pyspark.sql.types as T
        from pyspark.sql.pandas.types import to_arrow_schema

        m = self.manifest(stage)
        if m is None:
            raise ValueError(f"read of uncommitted stage {stage!r}")
        if files is None:
            files = [os.path.join(self.data_dir(stage), f["file"]) for f in m["files"]]
        tables = [pq.read_table(path, columns=columns) for path in files]
        if tables:
            return pa.concat_tables(tables)
        schema = to_arrow_schema(T.StructType.fromJson(json.loads(m["schema"])))
        empty = schema.empty_table()
        return empty.select(list(columns)) if columns else empty

    def reconcile(self, stage: str) -> list[str]:
        """Delete data files not listed in the committed manifest (strays
        from a torn append) so retries never accumulate garbage.  Returns
        the deleted paths.  Readers are already immune (``read`` is
        manifest-driven); this bounds disk growth under crash/retry loops."""
        m = self.manifest(stage)
        if m is None:
            return []
        data = self.data_dir(stage)
        listed = {f["file"] for f in m["files"]}
        removed = []
        for root, _dirs, names in os.walk(data):
            for name in names:
                full = os.path.join(root, name)
                rel = os.path.relpath(full, data)
                if name.endswith(".parquet") and rel not in listed:
                    os.remove(full)
                    removed.append(full)
        return removed

    def write(
        self,
        stage: str,
        data,
        inputs: Sequence[str] = (),
        partition_by: Sequence[str] | None = None,
        extra_inputs: dict[str, str] | None = None,
        meta: dict | None = None,
    ) -> dict:
        """Replace the stage's data with ``data`` and commit its manifest.
        ``data`` is a DataFrame, or a ``pyarrow.Table`` held on the driver,
        written with no Spark job as the files Spark would write for the
        same rows (``_arrow_files``)."""
        return self._commit(
            stage, data, partition_by, inputs, extra_inputs, meta, append=False
        )

    def append(
        self,
        stage: str,
        data,
        inputs: Sequence[str] = (),
        extra_inputs: dict[str, str] | None = None,
        meta: dict | None = None,
        partition_by: Sequence[str] | None = None,
    ) -> list[str]:
        """Append ``data``'s rows (a DataFrame or a ``pyarrow.Table``, as in
        ``write``) to a committed stage as NEW parquet files,
        recording them in the manifest alongside the existing lineage.
        Returns the absolute paths of the appended files (callers use them
        to derive downstream increments without rescanning the stage).

        Commit point is the manifest rewrite, and it is reader-atomic
        (ADVICE r3): ``read`` only returns manifest-listed files, so a crash
        between the file moves and the manifest commit is invisible to
        readers — the old manifest still describes exactly the old data.
        The stray part-files such a crash leaves behind are deleted by the
        ``reconcile`` pass at the start of the next append (and never read
        meanwhile); a retry then re-appends the batch cleanly
        (tests/test_incremental.py::test_torn_append_*).
        ``partition_by`` appends hive-partitioned increments: new part-files
        land inside their partition subdirectories, the manifest records
        partition-relative paths, and ``read``'s basePath recovery is
        unchanged.  Must match the stage's original partitioning.
        """
        return self._commit(
            stage, data, partition_by, inputs, extra_inputs, meta, append=True
        )

    def _commit(
        self,
        stage: str,
        data,
        partition_by: Sequence[str] | None,
        inputs: Sequence[str],
        extra_inputs: dict[str, str] | None,
        meta: dict | None,
        append: bool,
    ):
        """The one commit of ``write`` and ``append``: ``data``'s files fill a
        temp dir (written by Spark from a DataFrame, by ``_arrow_files`` from
        a ``pyarrow.Table``), whose parquet footers give the per-file
        lineage; the files replace the stage's data (write) or are moved in
        beside it (append); then the manifest commits.  An append reconciles
        first, keeps the stage's schema, logs ``<stage>+append`` in
        ``executed`` and returns the moved files; a write returns the
        manifest."""
        m = self.manifest(stage) if append else None
        if append:
            if m is None:
                raise ValueError(f"append to uncommitted stage {stage!r}")
            self.reconcile(stage)
        stage_dir = os.path.join(self.base_dir, stage)
        os.makedirs(stage_dir, exist_ok=True)
        tmp = os.path.join(stage_dir, f".tmp-{uuid.uuid4().hex}")
        if isinstance(data, DataFrame):
            _spark_files(data, tmp, partition_by)
        else:
            self._arrow_files(data, tmp, partition_by)
        new_files = self._file_lineage(tmp)

        final = self.data_dir(stage)
        moved: list[str] = []
        if append:
            for f in new_files:
                # part-file names embed a fresh write UUID — collision-free
                dst = os.path.join(final, f["file"])
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(os.path.join(tmp, f["file"]), dst)
                moved.append(dst)
            shutil.rmtree(tmp, ignore_errors=True)
            files = m["files"] + new_files
        else:
            if os.path.exists(final):
                shutil.rmtree(final)
            os.replace(tmp, final)
            files = new_files
            m = {"stage": stage, "status": "committed"}

        manifest = dict(
            m,
            rows=sum(f["rows"] for f in files),
            n_files=len(files),
            files=files,
            checksum=hashlib.sha256(
                json.dumps(files, sort_keys=True).encode()
            ).hexdigest()[:16],
            schema=m["schema"] if append else _schema_json(data),
            inputs={dep: self.fingerprint(dep) for dep in inputs}
            | (extra_inputs or {}),
            created_at=time.time(),
            **(meta or {}),
        )
        self._commit_manifest(stage, manifest)
        if not append:
            return manifest
        self.executed.append(f"{stage}+append")
        return moved

    def _arrow_files(self, table, path: str, partition_by: Sequence[str] | None) -> None:
        """Write ``table`` under ``path`` as Spark writes a DataFrame: the
        session's parquet codec, Spark's part-file names, one file per
        partition value in hive directories (``kind=<escaped value>``,
        ``__HIVE_DEFAULT_PARTITION__`` for null) without the partition
        columns, and one empty file for an unpartitioned table of no rows
        (a partitioned one leaves none)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        codec = self.spark.conf.get("spark.sql.parquet.compression.codec", "snappy").lower()
        codec = {"uncompressed": "none", "lz4_raw": "lz4"}.get(codec, codec)
        ext = "" if codec == "none" else f".{codec}"
        job = uuid.uuid4()
        os.makedirs(path)
        if not partition_by:
            pq.write_table(table, os.path.join(path, f"part-00000-{job}-c000{ext}.parquet"),
                           compression=codec)
            return
        # sort the rows on each key's dictionary codes, then write each run
        # of one partition value as a slice: no per-row Python loop
        codes = {c: pc.dictionary_encode(table[c].combine_chunks()).indices for c in partition_by}
        table = table.take(pc.sort_indices(pa.table(codes), [(c, "ascending") for c in codes]))
        runs = [pc.run_end_encode(table[c].combine_chunks()).run_ends for c in codes]
        ends = sorted({e for r in runs for e in r.to_pylist()})
        keys = [pc.cast(table[c], pa.string()) for c in partition_by]
        data = table.select([c for c in table.column_names if c not in partition_by])
        for start, end in zip([0] + ends, ends):
            sub = os.path.join(path, *(
                f"{_escape(c)}={_HIVE_NULL if v is None else _escape(v)}"
                for c, v in zip(partition_by, (k[start].as_py() for k in keys))
            ))
            os.makedirs(sub, exist_ok=True)
            pq.write_table(data.slice(start, end - start),
                           os.path.join(sub, f"part-00000-{job}.c000{ext}.parquet"),
                           compression=codec)

    def reanchor(self, stage: str, extra_inputs: dict[str, str]) -> None:
        """Record that a committed stage's unchanged data is also valid for
        ``extra_inputs`` (merged over its recorded inputs).  Data files and
        checksum stay as they are, so stages keyed on this one still skip."""
        m = self.manifest(stage)
        if m is None:
            raise ValueError(f"reanchor of uncommitted stage {stage!r}")
        self._commit_manifest(stage, dict(m, inputs=m["inputs"] | extra_inputs))

    def _commit_manifest(self, stage: str, manifest: dict) -> None:
        """Atomic manifest replace — the commit point of every write."""
        mtmp = self.manifest_path(stage) + f".tmp-{uuid.uuid4().hex}"
        with open(mtmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f, ensure_ascii=False, indent=1)
        os.replace(mtmp, self.manifest_path(stage))

    @staticmethod
    def _file_lineage(path: str) -> list[dict]:
        """Per-parquet-file (rows, bytes) from footers only — no data scan."""
        import pyarrow.parquet as pq

        out = []
        for root, _dirs, names in os.walk(path):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(root, name)
                rel = os.path.relpath(full, path)
                meta = pq.ParquetFile(full).metadata
                out.append({"file": rel, "rows": meta.num_rows, "bytes": os.path.getsize(full)})
        return out

    # -- orchestration ----------------------------------------------------
    def run(
        self,
        stage: str,
        fn: Callable[[], object],
        inputs: Sequence[str] = (),
        partition_by: Sequence[str] | None = None,
        extra_inputs: dict[str, str] | None = None,
        meta: dict | None = None,
    ) -> DataFrame:
        """Compute-or-skip; ``fn`` returns what ``write`` takes (a DataFrame or
        a ``pyarrow.Table``).  Always returns the committed checkpoint
        reader."""
        if self.is_complete(stage, inputs, extra_inputs):
            return self.read(stage)
        self.write(
            stage, fn(), inputs=inputs, partition_by=partition_by,
            extra_inputs=extra_inputs, meta=meta,
        )
        self.executed.append(stage)
        return self.read(stage)

    def ledger(self) -> list[dict]:
        """FIXTURES.md §7-shaped view of all committed manifests."""
        rows = []
        for stage in sorted(os.listdir(self.base_dir)):
            m = self.manifest(stage)
            if not m:
                continue
            for i, f in enumerate(m["files"]):
                rows.append(
                    {
                        "stage": stage,
                        "partition_id": i,
                        "status": m["status"],
                        "rows_out": f["rows"],
                        "bytes": f["bytes"],
                        "checksum": m["checksum"],
                        "ts": m["created_at"],
                    }
                )
        return rows

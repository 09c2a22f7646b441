"""Checkpointed stage catalog + resume ledger.

The north rule requires every stage to checkpoint to Iceberg with
per-partition lineage and counters so a killed job resumes at
stage/partition granularity.  No Iceberg runtime jars exist in this sandbox
(SURVEY.md §7.0), so this module provides the semantics the rule actually
exercises behind a thin catalog layer:

- atomic committed writes (write to a temp dir, ``os.replace`` into place,
  then commit a JSON manifest — readers only trust manifested data);
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
    def read(self, stage: str) -> DataFrame:
        """Read ONLY the files listed in the committed manifest.

        A directory scan would also return stray part-files left by a crash
        between ``append``'s file moves and its manifest commit (ADVICE r3):
        the manifest is the commit point, so readers must not trust the
        directory listing.  Explicit paths + ``basePath`` keep hive-partition
        column recovery for partitioned stages.
        """
        m = self.manifest(stage)
        data = self.data_dir(stage)
        if m is None:
            # uncommitted stage: no committed files to trust
            raise ValueError(f"read of uncommitted stage {stage!r}")
        paths = [os.path.join(data, f["file"]) for f in m["files"]]
        if not paths:
            import pyspark.sql.types as T

            return self.spark.createDataFrame(
                [], T.StructType.fromJson(json.loads(m["schema"]))
            )
        return self.spark.read.option("basePath", data).parquet(*paths)

    def read_arrow(self, stage: str, columns: Sequence[str] | None = None):
        """The committed files of a stage as one ``pyarrow.Table``, read on
        the driver with no Spark job — for stages small enough to hold there
        (unpartitioned only: hive partition columns are not recovered)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        import pyspark.sql.types as T
        from pyspark.sql.pandas.types import to_arrow_schema

        m = self.manifest(stage)
        if m is None:
            raise ValueError(f"read of uncommitted stage {stage!r}")
        data = self.data_dir(stage)
        tables = [
            pq.read_table(os.path.join(data, f["file"]), columns=columns)
            for f in m["files"]
        ]
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
        df: DataFrame,
        inputs: Sequence[str] = (),
        partition_by: Sequence[str] | None = None,
        extra_inputs: dict[str, str] | None = None,
        meta: dict | None = None,
    ) -> dict:
        stage_dir = os.path.join(self.base_dir, stage)
        os.makedirs(stage_dir, exist_ok=True)
        tmp = os.path.join(stage_dir, f".tmp-{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)

        files = self._file_lineage(tmp)
        checksum = hashlib.sha256(
            json.dumps(files, sort_keys=True).encode()
        ).hexdigest()[:16]

        final = self.data_dir(stage)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.replace(tmp, final)

        manifest = {
            "stage": stage,
            "status": "committed",
            "rows": sum(f["rows"] for f in files),
            "n_files": len(files),
            "files": files,
            "checksum": checksum,
            "schema": df.schema.json(),
            "inputs": {dep: self.fingerprint(dep) for dep in inputs}
            | (extra_inputs or {}),
            "created_at": time.time(),
            **(meta or {}),
        }
        self._commit_manifest(stage, manifest)
        return manifest

    def append(
        self,
        stage: str,
        df: DataFrame,
        inputs: Sequence[str] = (),
        extra_inputs: dict[str, str] | None = None,
        meta: dict | None = None,
        partition_by: Sequence[str] | None = None,
    ) -> list[str]:
        """Append ``df``'s rows to a committed stage as NEW parquet files,
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
        ``partition_by`` appends hive-partitioned increments (r6 — the
        incremental edges path): new part-files land inside their partition
        subdirectories, the manifest records partition-relative paths, and
        ``read``'s basePath recovery is unchanged.  Must match the stage's
        original partitioning.
        """
        m = self.manifest(stage)
        if m is None:
            raise ValueError(f"append to uncommitted stage {stage!r}")
        self.reconcile(stage)
        stage_dir = os.path.join(self.base_dir, stage)
        tmp = os.path.join(stage_dir, f".tmp-{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        new_files = self._file_lineage(tmp)

        final = self.data_dir(stage)
        moved: list[str] = []
        for f in new_files:
            # Spark part-file names embed a fresh job UUID — collision-free
            dst = os.path.join(final, f["file"])
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(os.path.join(tmp, f["file"]), dst)
            moved.append(dst)
        shutil.rmtree(tmp, ignore_errors=True)

        files = m["files"] + new_files
        manifest = dict(
            m,
            rows=sum(f["rows"] for f in files),
            n_files=len(files),
            files=files,
            checksum=hashlib.sha256(
                json.dumps(files, sort_keys=True).encode()
            ).hexdigest()[:16],
            inputs={dep: self.fingerprint(dep) for dep in inputs}
            | (extra_inputs or {}),
            created_at=time.time(),
            **(meta or {}),
        )
        self._commit_manifest(stage, manifest)
        self.executed.append(f"{stage}+append")
        return moved

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
        fn: Callable[[], DataFrame],
        inputs: Sequence[str] = (),
        partition_by: Sequence[str] | None = None,
        extra_inputs: dict[str, str] | None = None,
        meta: dict | None = None,
    ) -> DataFrame:
        """Compute-or-skip; always returns the committed checkpoint reader."""
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

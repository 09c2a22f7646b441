"""SparkSession factory for the KG pipeline.

:func:`get_spark` sets Spark configuration only, ``DEFAULT_CONF`` plus the
shuffle width: no JVM flag and no process environment.  Its docstring gives
each setting's reason.  The SQL settings shape the plans
``tests/test_plans.py`` pins.  None was re-measured at the benchmark's
sizes (8k documents, sf0.02 tables), which are below those they were set
for.
"""

from __future__ import annotations

import os
import tempfile
import uuid
import zipfile

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.driver.memory": "8g",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(512 * 1024),
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def make_pyfiles_zip(dest: str | None = None) -> str:
    """Zip the ``kg`` package for ``spark-submit --py-files`` / addPyFile.

    On a real cluster: ``spark-submit --py-files kg.zip job.py`` (north_rule);
    locally :func:`get_spark` ships the same zip so executor Python workers
    can unpickle our kernels regardless of the driver's cwd.  Each call
    writes its own temp file and renames it over ``dest``, so sessions that
    start at once do not truncate each other's zip.
    """
    import kg

    pkg_dir = os.path.dirname(os.path.abspath(kg.__file__))
    if dest is None:
        dest = os.path.join(tempfile.gettempdir(), "kg_pyfiles.zip")
    tmp = f"{dest}.tmp-{uuid.uuid4().hex}"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                rel = os.path.join("kg", os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    os.replace(tmp, dest)
    return dest


def get_spark(
    app_name: str = "spark-kg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with ``DEFAULT_CONF``.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, else ``local[*]``;
    ``shuffle_partitions`` to 32.  ``extra_conf`` is applied last, so it
    overrides any default.  Why each default:

    - ``spark.driver.memory`` 8g is the heap cap; in local mode one JVM is
      driver and executors.  The JVM reserves the cap but touches only the
      heap it uses, so a high cap costs no resident memory; tools and
      perfbench pass 1-2 GB.
    - AQE coalesces the shuffle partitions to what the data needs and
      splits skewed joins (a few entity blocks hold most mentions).
    - Arrow carries toPandas / createDataFrame(pandas); 8192 rows per Arrow
      batch bound a Python worker's batch for the mention-decode kernel,
      whose memory grows with the batch.
    - Join sides up to 32 MB are broadcast (the default is 10 MB), so
      dimension tables of that size join without a shuffle.
    - zstd writes about half snappy's bytes for every parquet checkpoint at
      about the same CPU.
    - Split sizing for compute-dense scans: a zstd text checkpoint holds
      tens of bytes per document while extract costs tens of microseconds
      per document, so a 128 MB default split would be a task of a minute
      or more.  Splits are 16 MB, and the open cost is 512 KB (4 MB by
      default) so that small checkpoint files are not packed into too few
      splits.
    - No web UI server per session; timestamps in UTC on every host.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = 32
    conf = DEFAULT_CONF | {"spark.sql.shuffle.partitions": str(shuffle_partitions)}
    conf |= extra_conf or {}
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # ship the package to executor Python workers (spark-submit --py-files
    # equivalent) so kernels unpickle no matter where the driver started
    spark.sparkContext.addPyFile(make_pyfiles_zip())
    return spark

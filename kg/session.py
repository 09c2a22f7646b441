"""SparkSession factory tuned for the KG pipeline.

Defaults chosen for 100 TB-scale behavior (AQE on, skew-join on, Arrow on),
tested on local[N].  SURVEY.md §7.1.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def make_pyfiles_zip(dest: str | None = None) -> str:
    """Zip the ``kg`` package for ``spark-submit --py-files`` / addPyFile.

    On a real cluster: ``spark-submit --py-files kg.zip job.py`` (north_rule);
    locally :func:`get_spark` ships the same zip so executor Python workers
    can unpickle our kernels regardless of the driver's cwd.
    """
    import kg

    pkg_dir = os.path.dirname(os.path.abspath(kg.__file__))
    if dest is None:
        dest = os.path.join(tempfile.gettempdir(), "kg_pyfiles.zip")
    tmp = dest + ".tmp"
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


def driver_jvm_conf(extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """Driver heap settings: fixed heap + pre-touch.

    Fault the whole heap once at JVM start (outside any measured window)
    instead of growing it fault-by-fault under load — same rationale as the
    malloc retention in ``get_spark``.  -Xms is derived from the FINAL
    resolved spark.driver.memory (ADVICE r5: an extra_conf override below
    the env default used to yield -Xms8g -Xmx2g and a driver that cannot
    launch).  A caller's own ``spark.driver.extraJavaOptions`` are kept and
    placed last, so on a repeated flag (say -Xms) theirs wins.  On a
    cluster this is spark.executor.extraJavaOptions on long-lived
    executors."""
    extra_conf = extra_conf or {}
    driver_mem = extra_conf.get(
        "spark.driver.memory", os.environ.get("SPARK_KG_DRIVER_MEM", "8g")
    )
    opts = f"-Xms{driver_mem} -XX:+AlwaysPreTouch"
    if extra_conf.get("spark.driver.extraJavaOptions"):
        opts = f"{opts} {extra_conf['spark.driver.extraJavaOptions']}"
    return {"spark.driver.memory": driver_mem, "spark.driver.extraJavaOptions": opts}


def get_spark(
    app_name: str = "spark-kg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with production-shaped defaults.

    - Arrow execution on (all kernels are pandas/Arrow UDFs — no per-row
      Python anywhere, BASELINE.json input_hint).
    - AQE + skew-join handling on (skewed entity blocks, SURVEY.md §4).
    - maxRecordsPerBatch bounds Arrow batch memory for the O(L^2)-ish
      mention-decode kernel (reference cost shape, BASELINE.md).
    """
    if master is None:
        master = os.environ.get("SPARK_KG_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_KG_SHUFFLE_PARTITIONS", "32"))

    # Allocator retention (round 5 scaling root cause #5, BENCH.md): this
    # host's anonymous page-fault path scales NEGATIVELY with concurrency
    # (2 procs 3.5 GB/s -> 8 procs 0.7 GB/s first-touch), while warm-page
    # streaming scales at ~0.9 — so every buffer an allocator returns to
    # the kernel and re-requests is a scalability tax.  glibc munmaps every
    # free() above the (dynamic, <=32MB) mmap threshold, which is exactly
    # the Arrow-batch / numpy-temporary size class our kernels allocate per
    # batch.  Pinning the threshold high and disabling trim makes worker
    # arenas retain their high-water mark: faults are paid once per
    # long-lived worker (what steady-state executors on a real cluster do)
    # instead of once per batch.  Must be in the environment BEFORE the JVM
    # launches: local-mode Python workers fork from the JVM and glibc reads
    # tunables only at process start.  ARROW_DEFAULT_MEMORY_POOL=system
    # routes pyarrow through the same retaining arena (jemalloc's default
    # 1s dirty-page decay re-faults between batches).
    worker_env = {
        "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
        "MALLOC_TRIM_THRESHOLD_": str(1 << 31),
        "ARROW_DEFAULT_MEMORY_POOL": "system",
    }
    for k, v in worker_env.items():
        os.environ.setdefault(k, v)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # zstd instead of snappy for every parquet checkpoint: ~2x fewer
        # bytes through storage for ~equal CPU at level 1.  Storage/network
        # bandwidth is the resource that does NOT scale with cores on a
        # single host (and is the contended resource on a real cluster's
        # network), while compression CPU parallelizes perfectly — measured
        # here (2M docs): local[2] wall 192->183s, local[8] 4-way 66.4->64.7s.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Split sizing for compute-dense scans: maxPartitionBytes' 128MB
        # default assumes scan-bound work, but zstd text checkpoints here
        # measure ~46 BYTES/doc while the extract kernel costs ~25 us/doc —
        # a 128MB split would be a ~130s task, so stage parallelism ends up
        # bytes-quantized (at 2M docs the whole corpus is ~92MB = ONE wave
        # of splits; scan-bound stages measured 2.7-3.0x from 2->8 cores vs
        # 3.5x for post-shuffle stages).  16MB targets ~8s tasks on these
        # columns; openCost drops to 512KB because checkpoint files on
        # tmpfs/distributed storage are cheap to open and the 4MB default
        # otherwise dominates bin-packing of small zstd files.  At 100 TB
        # both only make MORE splits than cores — correct there too.
        # both env-overridable (ADVICE r5): the 16MB/512KB defaults are the
        # compute-dense-checkpoint sizing measured in round 5; scan-bound
        # deployments can widen them without code changes
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_KG_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_KG_OPEN_COST_BYTES", str(512 * 1024)),
        )
        # cluster-mode equivalent of the pre-fork env above (no-op locally)
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", worker_env["MALLOC_MMAP_THRESHOLD_"])
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", worker_env["MALLOC_TRIM_THRESHOLD_"])
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    for k, v in driver_jvm_conf(extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # ship the package to executor Python workers (spark-submit --py-files
    # equivalent) so kernels unpickle no matter where the driver started
    spark.sparkContext.addPyFile(make_pyfiles_zip())
    return spark

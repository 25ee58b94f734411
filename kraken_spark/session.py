"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests / bench / driver entry all
run the same configuration. Numpy BLAS threads are pinned to 1 per Python
worker (the reference caps BLAS pools per stage, /root/reference/kraken/
kraken.py:304,421) so Spark task parallelism is the only parallelism —
required for a clean N vs 4N scaling measurement.

Fixed cost per Python task: Python workers are reused (see
spark.python.worker.reuse below), but PySpark's worker still calls
importlib.invalidate_caches() at the start of every task, and before
Python 3.13 each of a worker's 16 zipimporters on pyspark.zip then
re-reads its 1,328-entry directory: 0.17-0.23 CPU-s per task, even for an
empty partition. Importing kraken_spark (every stage function does)
installs kraken_spark._zipcache, which skips the re-read while the
archive's stat is unchanged: a reused worker's CPU per one-row task
measured 0.28-0.30 -> 0.029 s at local[1] on a 4-vCPU box
(tests/test_worker_overhead.py pins it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PIN_ENV = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
    # glibc malloc: numpy image temporaries (>128 KB) default to
    # mmap-per-allocation; at 32 concurrent Python workers the resulting
    # mmap/munmap + page-fault + TLB-shootdown storm puts the machine at
    # 60-70% *system* CPU and inverts scaling. Raising the thresholds keeps
    # buffers in the arena for reuse (measured: 8->32 cores goes from
    # negative scaling to ~linear on the extraction job).
    #
    # TRIM threshold is deliberately ~2 GB (not the 128 MB of the mmap
    # threshold): a heavy guard-page document peaks a few hundred MB of
    # temporaries, and trimming that back after each heavy doc re-faults
    # the pages on the next one. On hosts where first-touch faults degrade
    # to ~ms/page (overcommit / migration windows measured on this fleet;
    # BASELINE.md round-4 notes), re-faulting turns every heavy document
    # into a 30 s straggler. Keeping the arena at peak (~bounded by the
    # admission cap) pays the fault cost once per long-lived worker —
    # paired with the one-time pre-touch in stages._pretouch_working_set,
    # which runs in the workers that build the built-in recognizer (the
    # image pages it reads; web-HTML, pre-segmented and loaded-model
    # pages never build it).
    "MALLOC_MMAP_THRESHOLD_": "134217728",
    "MALLOC_TRIM_THRESHOLD_": "2147483648",
    "MALLOC_ARENA_MAX": "2",
    # Route pyarrow's allocations through glibc malloc instead of its
    # bundled jemalloc/mimalloc pool: jemalloc aggressively returns pages
    # to the kernel (decay), so every Arrow batch re-faults fresh pages —
    # the exact class of memory the degraded-host windows above serve at
    # ~5 MB/s. Through malloc the batches reuse the retained arena
    # (measured on a degraded window: 25-45 -> 48-67 docs/s at local[8]).
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


def lineage_cut(df, eager: bool = True):
    """Truncate a DataFrame's lineage — the plan-depth cut every iterative
    operator (connected components, PageRank, incremental dedup) needs so
    plans stay O(1) in rounds.

    When the session has a checkpoint directory configured
    (get_spark(checkpoint_dir=...) or env SPARK_GRAFT_CHECKPOINT_DIR),
    this is a RELIABLE df.checkpoint — blocks live in durable storage and
    survive executor loss, the failure-tolerance a real cluster run needs.
    Without one it falls back to localCheckpoint (executor-local blocks,
    fine on local[*] where executor loss means the app died anyway)."""
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def get_spark(
    app: str = "kraken_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    master: str | None = None,
    checkpoint_dir: str | None = None,
) -> SparkSession:
    """``master`` (or env SPARK_GRAFT_MASTER) overrides the default
    local[cores] — e.g. ``local-cluster[4,2,2048]`` runs four REAL
    executor JVMs for multi-executor evidence; pair it with env
    SPARK_GRAFT_PYFILES=<zip> so executors resolve the package (the
    bench's --scaling-cluster mode does both)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(32, cores)
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cores}]"
    for k, v in _PIN_ENV.items():
        os.environ.setdefault(k, v)
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        # AQE: runtime coalescing + skew-join splitting at cluster scale
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transport for pandas/Arrow UDFs — the no-per-row-Python rule
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (ice_datasource's
        # IcePushdownReader refuses to plan without it)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        # page payloads are ~100 KB-1 MB; keep scan partitions ~32 MB so a
        # task holds a few hundred pages, not gigabytes
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.driver.maxResultSize", "4g")
        # NOTE: spark.python.worker.faulthandler.enabled forces a fresh
        # Python worker per task (no reuse) — each task then pays full
        # numpy/pyarrow import + model bootstrap, and the concurrent
        # fork/exec/mmap storm drives the machine to ~70% system CPU.
        # Keep it off; workers must be long-lived for per-executor model
        # caching to mean anything. A reused worker's remaining fixed cost
        # per task is cut by kraken_spark._zipcache (module docstring).
        .config("spark.python.worker.reuse", "true")
    )
    pyfiles = os.environ.get("SPARK_GRAFT_PYFILES")
    if pyfiles:
        builder = builder.config("spark.submit.pyFiles", pyfiles)
    if master.startswith("local-cluster"):
        builder = builder.config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXEC_MEM", "2g"),
        )
    for k, v in _PIN_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    spark = builder.getOrCreate()
    checkpoint_dir = checkpoint_dir or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if checkpoint_dir:
        # reliable-checkpoint root for iterative operators (lineage_cut):
        # on a cluster point this at shared durable storage (HDFS/S3)
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    return spark

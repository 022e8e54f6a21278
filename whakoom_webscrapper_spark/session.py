"""SparkSession factory with scale-oriented defaults.

The reference runs a single-process Twisted reactor with 16 concurrent
requests (reference: settings.py:70-71); the engine's unit of concurrency is
the Spark executor. These configs are the ones that matter at 100 TB:

- AQE on (runtime partition coalescing, skew-join splitting, broadcast
  demotion/promotion) — replaces every hand-tuned knob the reference has.
- Arrow on — every Python-side transform is a vectorized pandas UDF; Arrow
  batch size capped so binary image columns cannot blow executor memory
  (SURVEY.md §7 risk 5).
- shuffle partitions sized for the sandbox; on a real cluster this is set to
  ~2-3x total cores and AQE coalesces down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _default_driver_memory() -> str:
    """A quarter of the host's RAM, at least 1g and at most 16g. Local
    mode runs every executor thread inside the driver JVM; a fixed 16g
    heap on a 16 GB host lets the JVM grow until the kernel OOM-kills
    it. ``SPARK_GRAFT_DRIVER_MEM`` overrides this."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(1, min(16, ram_gb // 4))}g"


# On a 1000-executor cluster these would be per-job spark-submit confs; the
# values here are the local[*] sandbox equivalents of the same ratios.
DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # binary image rows are ~KBs each; cap Arrow batches so a batch stays
    # well under executor memory even at 64x64 RGB
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Local mode runs every executor thread inside the driver JVM, so
    # this heap backs all cores' execution + shuffle + broadcast memory
    # at once. 8g showed 2-3x rep-to-rep GC variance on the shingle/span
    # queries at sf1.0 (round 6); 16g, 1/8 of that host's RAM, removed it
    # and is the RAM/4 default's cap. On a real cluster this value is
    # per-spark-submit and the executors carry their own heaps.
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()
    ),
    "spark.ui.enabled": "false",
    "spark.sql.parquet.compression.codec": "snappy",
    # Hadoop vectored IO (default-on in Spark 4) funnels every parquet
    # range read through SimpleAsynchronousFileChannel's tiny thread pool
    # and allocates a fresh heap buffer per range — thread-dumped under
    # the crawl's image-table scan: all 16 task threads parked on
    # CompletableFuture.timedGet behind 2-4 pool threads, box 85% idle.
    # Positioned reads on the task thread restore full scan parallelism
    # (page-cache reads need no async prefetch anyway).
    "spark.hadoop.parquet.hadoop.vectored.io.enabled": "false",
    # binary image rows average ~15 KB, so the default 4096-row columnar
    # batch reserves ~60 MB of contiguous heap PER scan task per binary
    # column (reserve doubles it transiently while growing) — at 32
    # concurrent scan tasks that is gigabytes of live churn and OOMed a
    # 12 g heap on the epoch-1 image scan (local[32]). 512 rows keeps a
    # per-task batch ~8 MB while still amortizing reader setup; per-core
    # scan memory now stays flat as parallelism grows, which is the
    # property a fixed-memory-per-core cluster needs.
    "spark.sql.parquet.columnarReaderBatchSize": "512",
}


def get_spark(
    app_name: str = "whakoom_webscrapper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) or
    ``local[*]``. ``shuffle_partitions`` defaults to the core count so one
    shuffle wave fills the machine without tiny-partition overhead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        # respect a master set by spark-submit (--master); only fall back
        # to local[...] when launched as a plain python process
        from pyspark import SparkConf

        if not SparkConf().contains("spark.master"):
            master = f"local[{cpus}]" if cpus else "local[*]"
    # one BLAS thread per python worker: Spark already runs one worker per
    # core — nested OpenBLAS threading oversubscribes the box (measured:
    # numpy matmuls in UDFs stop scaling entirely without this)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    confs = dict(DEFAULT_CONFS)
    # GC / JVM tuning hook (e.g. "-XX:+UseTransparentHugePages
    # -XX:+AlwaysPreTouch"): on hosts with expensive first-touch page
    # faults, a right-sized pre-touched THP heap stops G1's young-gen
    # region rotation from faulting fresh 4K pages all run long
    jopts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if jopts:
        confs["spark.driver.extraJavaOptions"] = jopts
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    elif cpus:
        confs["spark.sql.shuffle.partitions"] = str(max(int(cpus), 8))
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

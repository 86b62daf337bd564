"""SparkSession factory tuned for the sandbox (local[N]) and for scale.

The same builder config is what we'd ship to a real cluster via
``spark-submit --py-files`` — only ``master`` and the shuffle-partition
count change (driver flags on a real deployment).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_memory() -> str:
    """Driver heap default: half the host's physical memory, capped at
    48g, so a default session never asks for more heap than the box has.
    Falls back to the cap where ``os.sysconf`` cannot report memory."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return f"{_MAX_DRIVER_MEM_MB}m"
    return f"{max(1, min(_MAX_DRIVER_MEM_MB, total // 2 // (1 << 20)))}m"


def get_spark(
    app_name: str = "crawlspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults: ``local[$SPARK_GRAFT_CPUS or *]``, AQE on (runtime
    re-planning + skew-join splitting — the Spark-native answer to the
    reference's hot-domain throttling, SURVEY.md §4), Arrow on (all four
    kernels are Arrow-batched), shuffle partitions sized to cores rather
    than the 200 default (local mode has no network shuffle).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = 32

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=true (the Spark default): false lets AQE
        # coalesce any shuffle under the 64m advisory size to ONE
        # partition — a ~50 MB shuffle that fans out into CPU-heavy work
        # (t04's 71M generated pairs at sf1.0) ran single-threaded, 159 s
        # instead of seconds. With true, tiny (<1 MB) shuffles STILL
        # coalesce to 1 partition (the 1 MB minPartitionSize floor), so
        # there is no per-stage task tax, while mid-size shuffles keep
        # defaultParallelism — scale-adaptive on any cluster size.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batch memory for binary-heavy rows: 10k rows/batch
        # (the default) of 50-100 KB pages is a 0.5-1 GB batch per python
        # worker. Measured over 24k inflated pages at local[1..32]: big
        # batches × many workers drive allocation churn that shows up as
        # 80-99% SYSTEM time (page-fault/TLB storms) and serialize the
        # whole box; 512 keeps a 100 KB-row batch ~50 MB.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # bloom filters on fingerprint columns: the Parquet-native stand-in
        # for the reference's Redis SET membership probe (SURVEY.md §2.2 D1)
        .config("spark.sql.parquet.filterPushdown", "true")
        # input-split sizing: 128m (the default) is right at 100 TB but
        # caps a small corpus at a handful of tasks (540 MB corpus -> 5
        # splits -> 5-way parallelism no matter how many cores). 16m keeps
        # small-scale runs parallel; override via ``extra_conf`` for big
        # data.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # no locality wait: the default 3 s/locality-level stall is pure
        # loss for this engine — the corpus lives on object storage (no
        # locality to wait for) and per-round stages otherwise idle cores
        # waiting to schedule next to cached blocks. Measured on real
        # separate-JVM executors (local-cluster): ~20% off a full crawl
        # wall at both 1 and 4 executors.
        .config("spark.locality.wait", "0s")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("CRAWLSPARK_DRIVER_MEM", default_driver_memory()))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_input(df, min_partitions: int | None = None):
    """Round-robin repartition a narrow input up to cluster parallelism
    when (and only when) its scan has fewer splits than cores.

    Parquet scans parallelize at row-group granularity: a small
    single-row-group file (the documents/embeddings tables at every
    sandbox SF) is ONE task no matter what maxPartitionBytes says, so
    every CPU-heavy per-row derivation downstream (shingling, hashing,
    cosine algebra) runs single-threaded (guide §2.5 "input skew: one
    huge unsplittable file ... repartition immediately after the read").

    Scale-adaptive by construction: the target is defaultParallelism
    (cluster-derived, never a constant) and the repartition is skipped
    when the input already has enough partitions — at corpus scale file
    splits exceed cores, so this is a no-op there, never an extra
    corpus-wide shuffle. Only safe for consumers whose result is a row
    SET (aggregations, joins, deterministic-keyed rankings): round-robin
    placement changes row order, not content.
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df

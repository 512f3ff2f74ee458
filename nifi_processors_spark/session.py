"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]`` but every setting is chosen so the
same code is correct on a multi-executor cluster: AQE on (runtime re-plan,
skew-join, partition coalescing), Arrow on (vectorized pandas UDF path),
UTC session timezone (oracle comparability), shuffle partitions sized to
the parallelism level instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nifi_processors_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster the master/deploy settings come from spark-submit and the
    ``master`` call here is ignored (builder only sets it if absent).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # ~2 waves of tasks per core is a good default at every scale.
        shuffle_partitions = max(cores * 2, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Scale-adaptive scan splitting (guide §6): when a directory's
        # total bytes are small relative to the parallelism level, derive
        # the split size from totalBytes/minPartitionNum instead of the
        # 128 MB default — many-small-file inputs (changelog epochs,
        # bucketed table dirs) then scan with ~2 waves of tasks instead of
        # 1-2 tasks. At scale totalBytes/minPartitionNum >> 128 MB, so the
        # default split size wins and this setting is a no-op.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # File-listing strategy (guide §7.3 "InMemoryFileIndex ... the
        # driver is listing input files"): icelite reads always pass an
        # EXPLICIT manifest-bounded file list (<= n_buckets x a few files),
        # but above this threshold Spark launches a distributed listing
        # JOB for paths it could stat directly — measured ~200 ms of pure
        # scheduler latency per table read at 64 files vs ~55 ms with
        # driver-side listing (r06). 1024 known paths are trivially
        # stat-able on local/HDFS-class stores; deployments on high-
        # latency object stores (S3 getFileStatus ~20-50 ms) should lower
        # this back via extra_conf — it is a plain runtime SQL conf.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    # Only force a master when not already under spark-submit / an active session.
    if not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        builder = builder.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def fan_out(df, by: list[str] | None = None):
    """Scale-adaptive scan fan-out (optimization guide §2.5, "input skew:
    one huge unsplittable file ... repartition immediately after the
    read"). A parquet file is parallelizable only at row-group
    granularity; a single-row-group file therefore serializes every
    downstream narrow expression (shingling, hashing, regex, cosine) onto
    ONE core no matter how the scan is split. When the plan has fewer
    partitions than the session's parallelism, round-robin repartition up
    to it — a tiny exchange by construction (the condition only fires on
    small inputs), bought back many times over by N-way expression work.

    ``by``: high-cardinality deterministic column(s) (a unique id) to
    HASH-repartition on. Strongly preferred over the keyless form: a
    keyless ``repartition(n)`` pays a local sort of its whole input
    first (``spark.sql.execution.sortBeforeRepartition``, needed so task
    retries reproduce the row->partition assignment) — on the one-task
    input this helper exists for, that is a single-core sort of
    everything (measured 2x on explode-shaped queries, r06). Hash
    partitioning on a deterministic unique key needs no sort and is
    retry-safe by construction (guide §2.5).

    At 100 TB this is a no-op: the scan plans orders of magnitude more
    splits than cores, so no exchange is ever added. Apply it to
    expression-heavy paths only — an aggregation/window query's real work
    already runs parallel after its own exchange, and repartitioning a
    large multi-split input would move the payload for nothing.
    """
    from pyspark.sql import functions as F

    n_parallel = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # non-queryable plan (e.g. streaming): leave as-is
        return df
    if n >= n_parallel:
        return df
    if by:
        # spread by hash of the unique key: unique values >> partitions,
        # so the spread is even (guide §2.5 "20-100x more distinct keys")
        return df.repartition(n_parallel, F.xxhash64(*[F.col(c) for c in by]))
    return df.repartition(n_parallel)

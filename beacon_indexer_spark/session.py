"""SparkSession bootstrap tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); production targets a
multi-executor cluster — all configs below are cluster-safe (AQE, shuffle
partition sizing, Arrow for the few Pandas-UDF paths, dynamic partition
overwrite for the repair path that replaces the reference's
``ALTER TABLE ... DELETE`` mutations, reference
``src/services/maintenance.py:207-275``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "beacon_indexer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's default tuning.

    Defaults respect the driver env: ``SPARK_GRAFT_CPUS`` sets local
    parallelism; on a real cluster, pass ``master=None`` with external
    spark-submit conf and these SQL configs still apply.
    """
    # make this package importable on executor python workers (local mode
    # inherits the driver env; clusters ship the package via --py-files)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores. On a cluster AQE coalesces from a higher start.
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # repair-by-overwrite: replace only the slot partitions being fixed
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # 128 MiB input splits — matches parquet row-group targets at scale
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # bound output file size (wide tables like attestations at 100 TB);
        # ~5M rows ≈ 100-500 MB snappy parquet for these schemas
        .config("spark.sql.files.maxRecordsPerFile", "5000000")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # the 1g pyspark default driver heap is sized for toys: plan/codegen
        # caches across a long session (41 analytic plans, some with
        # unrolled fixed-dim vector arithmetic) overflow it. 8g matches the
        # driver sizing of a production cluster submit; only effective when
        # the JVM is launched by this builder (local mode) — a cluster's
        # spark-submit conf wins otherwise.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def parallel_build(spark: SparkSession, *fns):
    """Construct several INDEPENDENT query fragments from driver threads
    (the overlap-independent-jobs idiom): each fragment's eager
    construction-time jobs (bucket-cap probes, checkpoint
    materializations, CC rounds) interleave on the scheduler instead of
    running serially. Results return in argument order; each fragment is
    still built exactly once. Use ONLY for fragments with no data
    dependency on each other. Each thread inherits the caller's local
    properties and the session's tags."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futs = [
            pool.submit(inheritable_thread_target(spark)(fn)) for fn in fns
        ]
        return [f.result() for f in futs]

"""SparkSession construction with scale-oriented defaults.

Reference parity: the reference builds a plain session and relies on
Catalyst for all optimization (``ARC.scala:86-92``, ``ARC.scala:423-432``).
We additionally turn on AQE (runtime re-plan, skew-join splitting, partition
coalescing) because the 100 TB target demands it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# glibc malloc tuning for the Arrow/pandas UDF workers (inherited from the
# driver env): without this, 10s of Python workers churning multi-KB strings
# mmap/munmap constantly and serialize on the kernel's mmap lock — measured
# ~2x slowdown on the fingerprint stage at 32 workers.
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "134217728")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "134217728")

# Python workers unpickle engine UDF closures that reference arc_spark
# module functions by import; make the package importable in workers no
# matter the driver's cwd by exporting the repo root on PYTHONPATH before
# the JVM (and therefore the worker launch environment) exists.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _PKG_ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _PKG_ROOT + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH")
        else _PKG_ROOT
    )

DEFAULT_SHUFFLE_PARTITIONS = 32
_LISTING_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def get_spark(
    app_name: str = "arc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster this is driven by spark-submit; nothing here assumes
    local mode.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("ARC_SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for pandas UDFs / toPandas — the engine's Python
        # hot paths are all Arrow-vectorized (no row-at-a-time pickling).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Don't let file-bin-packing cap scan parallelism below the core
        # count: with the default 128MB bins, a stage reading 64 × 20MB
        # files collapses to ~10 tasks and the Arrow-UDF fingerprint stage
        # can't use >10 cores. 32MB bins keep CPU-heavy scan stages wide;
        # at real cluster scale there are orders of magnitude more splits
        # than cores and this only affects the small-file tail.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.files.openCostInBytes", "2097152")
        # Joins: prefer shuffle-hash over sort-merge — CDC merge joins carry
        # multi-KB content rows, and sorting fat rows (SMJ) costs far more
        # than hashing the smaller side. AQE still picks broadcast when the
        # runtime size allows; 64MB threshold lets per-epoch winner-key sets
        # broadcast (late-materialization semi join becomes shuffle-free).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "67108864")
        # Deterministic timestamp semantics for oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # Local-mode memory headroom; harmless when overridden by submit.
        .config("spark.driver.memory", os.environ.get("ARC_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Lake reads hand Spark the manifest's exact file list. Past 32 root
    # paths Spark lists them in a distributed job with one task per path
    # (the parallelism default is 10000), so a 96-file read would run a
    # 96-task job just to stat its files. One listing task per core keeps
    # that job to one wave; cluster-scale listings stay distributed. An
    # explicit setting wins: extra_conf, spark-defaults or spark-submit
    # --conf. Use --conf on dynamic-allocation clusters, where
    # defaultParallelism at session start undercounts the executors to come.
    if spark.conf.get(_LISTING_PARALLELISM, None) is None:
        spark.conf.set(_LISTING_PARALLELISM, str(spark.sparkContext.defaultParallelism))
    return spark

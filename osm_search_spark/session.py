"""SparkSession factory tuned for the spatial-join + tiling workload.

Local-mode defaults mirror what we would set on a real multi-executor
cluster: AQE on (runtime re-plan + skew-join splitting), Arrow enabled for
all pandas-UDF exchange, shuffle partitions sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "osm-search-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` controls local[] parallelism; defaults to $SPARK_GRAFT_CPUS or
    all cores. ``shuffle_partitions`` defaults to 2x cpus — small enough to
    avoid tiny-task overhead at test scale, and on a real cluster it would
    be set to ~2-3x total executor cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # floor of 32: with few cores, 2x-cores partitions make huge
        # per-partition sorts that spill (measured superlinear slowdowns);
        # finer partitions keep each sort in memory and cost little
        shuffle_partitions = max(32, 2 * cpus)

    # Python workers import the engine by module path and inherit the
    # JVM's environment, not the driver's sys.path: export the package
    # root before the JVM starts, whatever the working directory
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # coalescing measured 2.6x SLOWER on shuffle-heavy stages in this
        # single-JVM sandbox (BENCH/BASELINE.md); skew splitting stays on.
        # On a real cluster revisit: coalescing trims tiny-task overhead.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # 100 TB posture: never silently collect a huge broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

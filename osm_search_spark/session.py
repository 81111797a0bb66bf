"""SparkSession factory tuned for the spatial-join + tiling workload.

Local-mode defaults mirror what we would set on a real multi-executor
cluster: AQE on (runtime re-plan, partition coalescing, skew-join
splitting), Arrow enabled for all pandas-UDF exchange, and an initial
shuffle width that AQE coalesces down to what each shuffle carries.
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
    """Build a SparkSession, or return the live one untouched.

    ``cpus`` controls local[] parallelism; defaults to $SPARK_GRAFT_CPUS or
    all cores. ``shuffle_partitions`` is the initial shuffle width AQE
    coalesces from; defaults to max(32, 2x cpus).

    A live session keeps its settings: its local[] width cannot change,
    and re-applying another call's shuffle width or ``extra_conf`` would
    silently change every later query in the process.
    """
    live = SparkSession.getActiveSession()
    if live is not None:
        return live
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # floor of 32: with few cores, 2x-cores partitions make huge
        # per-partition sorts that spill (measured superlinear slowdowns);
        # finer partitions keep each sort in memory, and AQE coalesces
        # the ones a small shuffle leaves nearly empty
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
        # coalescing merges adjacent small shuffle partitions, so a shuffle
        # runs as many tasks as its bytes need: cold batch work pays per
        # task, not per byte. At 4 cores the tile_geocode_serve perfbench
        # cycle went 62.7 -> 44.6 s (median of 4 pairs) and its index
        # build 973 -> 31 tasks (BENCH/BASELINE.md, AQE coalescing).
        # Stages that are CPU-heavy over few bytes spread explicitly
        # (repartition(defaultParallelism), which AQE never coalesces).
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
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

"""SparkSession factory tuned for the CDC ingest workload.

Local-mode defaults are sized for the sandbox (local[32], 128 GiB); on a real
cluster every knob here is either harmless or overridden by spark-submit conf.
AQE is on so skewed shuffles re-plan at runtime; Arrow is on so every
pandas-UDF boundary is columnar.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "datacollector_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 in the sandbox).
    ``shuffle_partitions`` defaults to the core count — at cluster scale the
    caller sets it to ~2-3x total cores; AQE coalesces small partitions
    either way.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; on a cluster pass an explicit value.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("", "*") else int(n)

    # Shuffle/spill scratch space. Spark's default local dir (/tmp) sits on
    # the sandbox's ONE virtual disk — the same disk-bound failure mode the
    # bench avoids for table/segment data by pointing its WORKDIR at
    # /dev/shm; shuffle files are the remaining multi-GB-per-batch disk
    # traffic, and a noisy neighbor on the shared disk stalls fetches even
    # when CPU is quiet. Parameterised: DCS_SPARK_LOCAL_DIR overrides; on a
    # real cluster you point this at the node's fast local SSD array (or
    # leave the platform default) — tmpfs is only the local-mode analog of
    # 'fast local scratch'. Spark removes its scratch subdirs on session
    # stop, so tmpfs does not accumulate across runs.
    local_dir = os.environ.get("DCS_SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/dcs-spark-local"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

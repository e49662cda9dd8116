"""SparkSession factory.

Local-mode testing defaults that still express the cluster-scale intent:
AQE on (runtime re-plan, skew-join splitting), Arrow on (pandas UDF path),
shuffle partitions sized to cores (not the 200 default).  On a real
cluster the same conf applies, with shuffle partitions scaled to the
executor count by the submitter.  Python workers fork from
`refine_spark.worker_daemon`, which stops each task from re-reading every
zip archive on the worker's import path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "refine_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cores in ("*",) else int(cores)
        shuffle_partitions = max(8, int(n))

    # local-mode shuffle goes through spark.local.dir; on this box the
    # disk is the scaling bottleneck (32 concurrent shuffle writers
    # thrash it) while RAM is plentiful — prefer tmpfs when present.
    # On a real cluster this knob is the node-local SSD array.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"

    # executor python workers must import refine_spark regardless of the
    # launch cwd (the spark-submit --py-files contract; local-mode workers
    # read spark.executorEnv.PYTHONPATH)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pp = repo_root + (
        ":" + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.executorEnv.PYTHONPATH", worker_pp)
        .config("spark.python.daemon.module", "refine_spark.worker_daemon")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # the adaptive CC driver fast path collects edge frames whose
        # BYTE size can exceed the 1g default at the 2M-edge cutover;
        # the driver has memory to spare
        .config("spark.driver.maxResultSize", os.environ.get("SPARK_DRIVER_MAX_RESULT", "4g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory with the configs every entry point shares.

Local-mode testing stands in for a multi-executor cluster: partitioning,
shuffle and skew decisions are made as if each core were an executor
(SURVEY.md §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _resolve_master(master: str | None, cores: int, env) -> str | None:
    """Which master to set on the builder — None means DON'T set one.

    Under ``spark-submit`` the driver JVM already exists (PythonRunner
    exports the py4j gateway via PYSPARK_GATEWAY_PORT) and carries the
    submit-time ``--master``; forcing ``local[cores]`` there would
    silently demote a cluster submission to single-node local mode —
    the exact opposite of the north rule's spark-submit contract.  An
    explicit ``master`` argument always wins (callers that simulate
    clusters pass local-cluster[...])."""
    if master is not None:
        return master
    if "PYSPARK_GATEWAY_PORT" in env:
        return None  # inherit the submit-time master
    return f"local[{cores}]"


def _default_cores(env) -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the cores this process may run
    on — more would oversubscribe the host."""
    if "SPARK_GRAFT_CPUS" in env:
        return int(env["SPARK_GRAFT_CPUS"])
    return len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "open_source_search_engine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    shuffle partitions default to 2x cores: enough tasks for AQE to
    coalesce, few enough that task-launch overhead stays negligible at
    local scale.  On a real cluster this is ~2-3x total executor cores.

    ``master`` overrides ``local[cores]`` — pass
    ``local-cluster[n,cores,mem_mb]`` for a faithful multi-executor
    simulation (separate executor JVMs + block managers; the topology a
    real cluster has).  ``cores`` should then be the TOTAL core count so
    shuffle sizing stays consistent.
    """
    if cores is None:
        cores = _default_cores(os.environ)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cores)
    master = _resolve_master(master, cores, os.environ)
    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # this sandbox VM shows multi-second scheduler freezes; the 10s
        # default heartbeat causes spurious executor RPC timeouts
        .config("spark.network.timeout", "300s")
        .config("spark.executor.heartbeatInterval", "60s")
        # Spark 4.x routes lower()/upper() under UTF8_BINARY through an ICU
        # case-mapping table whose static init spins for minutes in this VM
        # (CollationAwareUTF8String.<clinit>); the JVM path is correct for
        # our ASCII-token corpus and orders of magnitude faster here.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    # this VM's virtio disk turns shuffle I/O into a syscall storm (35-45%
    # system time, cores idle); tmpfs shuffle dirs restore CPU-bound
    # behavior.  On a real cluster this maps to fast local SSD/NVMe.
    if os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    if master is not None and master.startswith("local-cluster"):
        # separate executor JVMs: they don't inherit the driver's
        # sys.path, and each needs an explicit memory budget
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", repo_root
        ).config(
            "spark.executor.memory", os.environ.get("SPARK_EXECUTOR_MEM", "6g")
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

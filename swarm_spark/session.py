"""SparkSession factory tuned for the swarm-spark engine.

Local-mode defaults are sized to the host this process runs on
(:func:`session_sizing`): every core it may use, half the physical
memory for the driver heap. On a real cluster the same
builder is used with ``master`` unset (taken from spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def session_sizing() -> tuple[str, int, str]:
    """Local master, shuffle partitions and driver heap for this host.

    Cores come from ``SPARK_GRAFT_CPUS``, else the cores this process may
    run on; the heap from ``SPARK_GRAFT_DRIVER_MEM``, else half the
    physical memory. Reads the environment and the host, changes nothing.
    """
    host_cpus = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(host_cpus))
    half_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 31
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(1, half_gb)}g")
    return f"local[{cpus}]", int(cpus) if cpus.isdigit() else host_cpus, mem


def get_spark(
    app_name: str = "swarm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on (runtime coalesce + skew-join handling at 100 TB scale).
    - shuffle partitions sized to cores locally; on a cluster leave AQE's
      coalesce to right-size from ``initialPartitionNum``.
    - UTC session timezone (oracle comparability; BigQuery semantics).
    - Arrow enabled for the few pandas-UDF operators (slow path only).
    """
    # Make the package importable in Python workers (pandas UDFs pickle
    # references to swarm_spark functions; workers start with a fresh
    # sys.path). On a real cluster ship a wheel via --py-files instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    local_master, local_partitions, driver_mem = session_sizing()
    if master is None:
        master = local_master
    if shuffle_partitions is None:
        shuffle_partitions = local_partitions

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's parallelism-first coalescing floors partitions at
        # minPartitionSize (default 1m) — sized for byte-bound stages.
        # This engine's ranking/scoring stages are CPU-dense over tiny
        # shuffle bytes (integer scores, short ids): a ~5 MB exchange
        # coalesced to ceil(5m/1m)=5 partitions ran the 19M-row
        # candidate aggregation of the kw rankers at 3-way parallelism
        # on 32 cores (measured 15.7 s for that one stage; 64k floor →
        # full width, query wall halved). 64k keeps the floor's
        # tiny-exchange protection while letting compute-dense stages
        # reach defaultParallelism on ANY cluster size — byte-heavy
        # exchanges (>1 MB × parallelism) are coalesced identically to
        # the default. Override via SPARK_GRAFT_AQE_MIN_PARTITION.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos type — read as long and convert explicitly (sources.tables)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

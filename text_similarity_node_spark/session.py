"""SparkSession factory.

Local-mode defaults, but every setting is the one you'd also want on a
1000-executor cluster: AQE on (runtime re-planning + skew-join splitting),
Arrow transport for the pandas UDF kernels, UTC session timezone (oracle
comparability), shuffle partitions sized to parallelism rather than the 200
default.

Driver heap: ``spark.driver.memory`` defaults to ``min(24g, physical
memory / 4)`` -- the quarter is the JVM's own default heap fraction
(``-XX:MaxRAMPercentage=25``), the 24g cap keeps the old fixed value on
hosts with 96 GiB or more.  In local mode the driver JVM *is* the whole
cluster: driver, every executor, the shuffle and broadcast blocks all live
in one heap, and G1 grows that heap toward ``-Xmx`` rather than collecting
hard.  A fixed 24g on a 16 GB host with no swap let the JVM plus the Python
workers outgrow RAM and the kernel's OOM killer ended the process mid-run.
``TSN_DRIVER_MEMORY=<size>`` (any Spark size string) overrides the default.

Iceberg: the runtime jars are not present in this sandbox, so the catalog
config is applied only when ``TSN_ICEBERG_JARS`` is set; the pipeline's
checkpoint/lineage layer (sources/catalog.py) degrades to Parquet-dir
tables with the same table-name API either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


_DRIVER_MEMORY_CAP_MIB = 24 * 1024


def _default_driver_memory(phys_bytes: int) -> str:
    """``min(24g, phys_bytes / 4)`` as a Spark size string, rounded down to
    whole MiB so the heap never exceeds a quarter of physical memory."""
    mib = phys_bytes // 4 // (1024 * 1024)
    if mib >= _DRIVER_MEMORY_CAP_MIB:
        return "24g"
    return f"{mib}m"


def _driver_memory(env=os.environ, phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for ``get_spark``: ``TSN_DRIVER_MEMORY`` when
    set, else the host-sized default."""
    override = env.get("TSN_DRIVER_MEMORY")
    if override:
        return override
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return _default_driver_memory(phys_bytes)


def _jvm_fault_opts() -> str:
    """OPT-IN (``TSN_JVM_XMS=<size>``; default off) committed-heap floor +
    THP madvise for the driver JVM.  Measured and REJECTED as a default on
    this host: with ``-Xms8g -XX:+UseTransparentHugePages`` the lazy walk
    over the committed floor lands *inside the first shuffle-heavy stage*
    and serializes at the collapsed fault-service rate — q03 went 5 s ->
    258 s+, with 97% system CPU and thp_fault_alloc advancing at ~80 MB/s
    while user CPU sat near zero.  The idea (pay first-touch once, avoid
    G1 grow/uncommit re-faulting) only helps when the fault path is fast;
    on this virtualized host the fault path IS the bottleneck, so forcing
    an 8 GiB heap walk per session multiplies the damage.  Kept as an env
    knob for A/B on hosts where first-touch is cheap."""
    xms = os.environ.get("TSN_JVM_XMS", "0")
    if xms == "0":
        return ""
    return f"-Xms{xms} -XX:+UseTransparentHugePages"


def _worker_malloc_env() -> dict:
    """glibc malloc tuning for the Python UDF workers: without it every
    >128 KiB numpy/Arrow buffer is mmap'd and munmap'd per batch, so each
    batch re-pays first-touch page faults for its whole working set — the
    same VMM fault-storm the JVM options above avoid.  Raising the mmap
    threshold to its 32 MiB max and disabling trim makes the arena retain
    and reuse those pages: steady-state UDF batches run fault-free."""
    return {
        "MALLOC_MMAP_THRESHOLD_": "33554432",
        "MALLOC_TRIM_THRESHOLD_": "-1",
    }


def get_spark(
    app_name: str = "text_similarity_node_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # Local mode: python daemons inherit the driver JVM's env, which
    # inherits ours — set it before the JVM launches.  Cluster mode:
    # spark.executorEnv.* carries the same settings to executors.
    malloc_env = _worker_malloc_env()
    os.environ.update(malloc_env)
    # Shuffle/spill/localCheckpoint blocks go to spark.local.dir.  On a real
    # cluster every executor writes these to its OWN local disks — that
    # bandwidth scales with executor count.  This sandbox has ONE shared
    # virtio disk, so leaving local.dir on it serializes all "executors'"
    # shuffle writes through a single device (event-log profile: >130
    # core-seconds of Shuffle Write Time per 400k-clip pipeline pass, flat
    # with parallelism).  tmpfs is the honest local stand-in for
    # per-executor disks: RAM bandwidth is the resource a cluster actually
    # scales per node.  Override with TSN_LOCAL_DIR; set to "" to keep the
    # Spark default.
    local_dir = os.environ.get("TSN_LOCAL_DIR", "/dev/shm/tsn-spark")
    if local_dir and os.path.isdir(os.path.dirname(local_dir) or "/"):
        os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        # signature tables (1 KiB/row) up to ~250k rows should broadcast in
        # the prefilter joins — at 64 MB the multi-hundred-MB candidate
        # table was the side being shuffled twice instead.  512 MB was
        # measured WORSE: collecting a 343 MB table to the driver for a
        # broadcast is single-threaded and cost more than the shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", str(256 * 1024 * 1024))
        # JVM<->Python-worker IPC over Unix domain sockets instead of
        # loopback TCP (Spark 4.1+).  With 32 colocated workers streaming
        # Arrow batches, the kernel's TCP receive path is a real cost and
        # a real hazard: under full load this host logged soft lockups in
        # tcp_recvmsg/skb_attempt_defer_free with executor threads burning
        # ~95% system time, serializing pandas-UDF stages for minutes.
        # AF_UNIX bypasses the TCP stack entirely (no skb defer-free, no
        # rcv-space autotuning) — same Arrow framing, fewer syscall cycles.
        # TSN_WORKER_UDS=0 restores TCP for A/B measurement.
        .config(
            "spark.python.unix.domain.socket.enabled",
            "false" if os.environ.get("TSN_WORKER_UDS", "1") == "0" else "true",
        )
        # Committed-heap floor + THP: opt-in only (TSN_JVM_XMS=<size>);
        # measured harmful as a default on this host — see _jvm_fault_opts.
        .config("spark.driver.extraJavaOptions", _jvm_fault_opts())
    )
    if local_dir and os.path.isdir(local_dir):
        builder = builder.config("spark.local.dir", local_dir)
    iceberg_jars = os.environ.get("TSN_ICEBERG_JARS")
    if iceberg_jars:
        builder = (
            builder.config("spark.jars", iceberg_jars)
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config(
                "spark.sql.catalog.local.warehouse",
                os.environ.get("TSN_WAREHOUSE", "/tmp/tsn_warehouse"),
            )
        )
    for k, v in malloc_env.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """An empty DataFrame of ``schema`` (DDL) backed by ``emptyRDD()``.
    Its scan has no partitions, so evaluating it starts no Python task.
    A frame from ``createDataFrame([], schema)`` is a parallelized Python
    RDD whose every evaluation does: a count of it took 0.3-0.5 s on
    4 vCPUs (3.5 s cold, inside a join), against 0.07 s for this one."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)

"""SparkSession factory tuned for the validation workload.

Local-mode settings are derived from the host: ``local[<cores>]`` and a
driver heap of about half the physical RAM. On a real cluster the same
builder is used minus the master/memory overrides — all scale-relevant
behavior (AQE, shuffle partitions, Arrow) is set here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """About half the host's physical RAM (``MemTotal``), in MiB. The
    driver JVM is the whole local-mode cluster, but Python workers and the
    OS need the other half — a fixed size that fits a large host gets the
    JVM OOM-killed on a small one."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys // 2 // (1 << 20)}m"


def get_spark(
    app_name: str = "pysemantic_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). ``shuffle_partitions`` defaults to the core count — at cluster
    scale this should instead be ~2-3x total executor cores; AQE coalesces
    the excess either way.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; leave headroom for AQE to coalesce
        n = cpus if master.startswith("local") else 2 * cpus
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime (AQE) sort-merge→broadcast conversion bound. The STATIC
        # autoBroadcastJoinThreshold stays at its 10 MB default because it
        # acts on size ESTIMATES (often wildly wrong after filters/UDFs);
        # this one acts on MEASURED shuffle sizes, so 128 MB is safe and
        # scale-adaptive by construction: a doc-bounded side (e.g. the
        # shingle-array frame a pair-verify join attaches) broadcasts at
        # bench scale — the pair stream then never exchanges its payload —
        # while at 10^9 docs the measured size exceeds the bound and the
        # join stays a shuffle join. (guide §3.1; round-7 measured: the
        # ngram verify joins shuffled ~19 GB of shingle arrays without it)
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "128m")
        # Scan split size. The fixtures are single files with 2-21 MB row
        # groups, and the 128m default packed each whole table into ONE
        # scan task — every scan-heavy stage ran at parallelism ≤6 on a
        # 32-core host (round-7; guide §6). 4m splits parallelize down to
        # row-group granularity locally; on a real cluster with properly
        # sized inputs raise this to 512m-1g (guide §6 recommends large
        # sequential splits there — hence the env override).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        # wide fused check projections + 64-way sketch aggs generate large
        # methods; default 240m code cache fills and disables the JIT
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

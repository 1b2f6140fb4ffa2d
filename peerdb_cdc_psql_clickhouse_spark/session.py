"""SparkSession factory with scale-oriented defaults.

Tuned for local[$SPARK_GRAFT_CPUS] testing but with settings that
carry to a 1000-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), sane shuffle partition count,
Arrow enabled for the few Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_shuffle_partitions(cpus: int, sf_dir: str | None = None) -> int:
    """Shuffle partitions sized by DATA BYTES, not core count, when
    the two disagree (r19, VERDICT r18 #4). Default = cpus, REDUCED
    only when the entire declared input ($SPARK_GRAFT_SF_DIR) is so
    small that cpus partitions would each hold under
    SPARK_GRAFT_SHUFFLE_TARGET_BYTES (default 2 MiB): per-partition
    fixed costs then dominate the work per task — measured at sf0.1
    on 32 cores, partitions 32 -> 8 took x1d 3.35 -> 2.40 s, x3h
    2.73 -> 2.02, x1g 2.79 -> 1.78 (and 64 partitions took x1d to
    6.3 s), which is also exactly why 8-core runs were BEATING
    32-core runs on these queries. At any production input the
    bytes/target quotient exceeds the core count and the value is
    cpus, unchanged — the reduction is a small-data floor, not a
    local[32] tuning (AQE still coalesces within a run; this fixes
    the map-side bucket count AQE cannot touch)."""
    import contextlib

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or not os.path.isdir(sf_dir):
        return cpus
    target = int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_TARGET_BYTES", str(2 << 20))
    )
    if target <= 0:
        return cpus
    total = 0
    for root, dirs, files in os.walk(sf_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet"):
                with contextlib.suppress(OSError):
                    total += os.path.getsize(os.path.join(root, f))
    if total <= 0:
        return cpus
    return max(1, min(cpus, total // target))


def get_spark(
    app_name: str = "peerdb-cdc-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    import tempfile

    active = SparkSession.getActiveSession()
    if active is not None:
        # Most configs below only apply to a NEW JVM, but
        # spark.sql.shuffle.partitions is runtime-modifiable: honor an
        # EXPLICIT caller request instead of silently returning a
        # session pinned at some other parallelism (ADVICE r5).
        if shuffle_partitions is not None:
            active.conf.set(
                "spark.sql.shuffle.partitions", str(shuffle_partitions)
            )
        return active

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = _default_shuffle_partitions(
            int(cpus) if cpus.isdigit() else 32
        )
    # Per-process scratch for the Derby metastore + SQL warehouse
    # (VERDICT r4 #6): two concurrently-launched local JVMs sharing
    # cwd's derby.log/metastore_db/spark-warehouse race on Derby's
    # single-process lock — the intermittent suite-launch collision.
    # A unique dir per process removes the shared state entirely (and
    # keeps the repo clean of derby droppings). No effect on an
    # existing JVM: getOrCreate reuses the running session.
    scratch = tempfile.mkdtemp(prefix=f"spark_graft_{os.getpid()}_")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r18 opt (guide §3.1): let AQE rewrite sort-merge joins to
        # shuffled-hash at runtime when EVERY post-shuffle partition
        # is under this bound — skips both sort passes with a
        # per-partition hash build bounded at any scale (the bound is
        # measured partition bytes, not a size estimate, so the x1d
        # broadcast-OOM class of failure cannot recur here).
        # Alternating A/B at sf0.1: -4% on the join-heavy queries
        # (x1g 2.40->2.25, x3h 2.16->2.05), no regressions.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", f"{scratch}/warehouse")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={scratch}/derby",
        )
    )
    return builder.getOrCreate()


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path, jvm) for `path` through the session's Hadoop
    configuration, so filesystem calls work on any supported store,
    not only the local disk."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm

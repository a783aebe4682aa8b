"""SparkSession factory tuned for the CDC engine.

Local-mode defaults mirror what we would set per-executor on a real
cluster; the shuffle-partition count scales with cores (the north rule's
"explicit shuffle-partition tuning" — a fixed 200 would destroy scaling
efficiency at local[8] vs local[32]).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "etl_bitcoin_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to 2x cores: enough tasks for AQE to
    coalesce down, not so many that task overhead dominates at small SF.
    On a 1000-executor cluster the same rule of thumb (2-3x total cores)
    applies; AQE handles the rest at runtime.
    """
    n = cores or default_parallelism()
    sp = shuffle_partitions or 2 * n
    # SPARK_GRAFT_MASTER overrides the default local[n] — used by the
    # scaling harness to run local-cluster[N,c,mem] (separate executor
    # JVMs, the faithful sandbox analog of "N executors -> 4N executors"
    # in the north rule; also avoids single-JVM GC contention).
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]")
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        # Engine reads pass EXPLICIT per-file paths from the table
        # manifests (never globs or recursive dirs), so "partition
        # discovery" is just an existence stat per path. Above this
        # threshold Spark launches a whole distributed listing JOB for
        # it — ~140 ms of pure job-roundtrip overhead on every
        # 64-file micro-batch read (profiled: 64-path reader build
        # 172 ms -> 31 ms). 512 driver-side stats are cheap on any
        # filesystem (object stores: parallel HEADs); genuinely large
        # file sets (>512, e.g. a full-table compaction at 100 TB)
        # still flip to the distributed listing exactly as before.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # files.maxPartitionBytes left at 128m: at 100 TB this yields
        # ~800k scan tasks, the right granularity for 1000 executors.
    )
    # Local-mode shuffle goes through spark.local.dir; a single spinning
    # /tmp serializes all executor threads behind one disk. tmpfs keeps
    # the shuffle path parallel — the analog of a cluster's per-node
    # NVMe shuffle volumes. Overridable via SPARK_LOCAL_DIRS.
    if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark_local"
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    if (extra_conf or {}).get("spark.scheduler.mode") == "FAIR" and (
        not (extra_conf or {}).get("spark.scheduler.allocation.file")
    ):
        # Weighted pools for FAIR mode: live micro-batch triggers get
        # 8x the share of background maintenance (async compaction,
        # state IO). Equal-weight FAIR halves the trigger's cores
        # whenever a compaction pass overlaps — measured as 2x p50
        # spikes in BENCH/latency.md; weighting keeps maintenance
        # running without starving the latency path.
        import tempfile

        # Unique per process (mkstemp), never a fixed shared path: on a
        # multi-user host a same-named file owned by someone else would
        # make open(...,'w') raise at session build, and concurrent
        # sessions would clobber each other's allocation file. The one
        # small file leaks per session build — bounded and harmless
        # (tmp reaper territory), unlike either failure mode.
        fd, alloc = tempfile.mkstemp(
            prefix="spark_graft_pools_", suffix=".xml"
        )
        with os.fdopen(fd, "w") as f:
            f.write(
                "<?xml version=\"1.0\"?>\n<allocations>\n"
                "  <pool name=\"live\">\n"
                "    <schedulingMode>FIFO</schedulingMode>\n"
                "    <weight>8</weight>\n    <minShare>1</minShare>\n"
                "  </pool>\n"
                "  <pool name=\"maintenance\">\n"
                "    <schedulingMode>FIFO</schedulingMode>\n"
                "    <weight>1</weight>\n    <minShare>0</minShare>\n"
                "  </pool>\n"
                "</allocations>\n"
            )
        b = b.config("spark.scheduler.allocation.file", alloc)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory tuned for the crawl-frontier workload.

Scale notes (100 TB / 1000-executor design, tested on local[32]):

- AQE on: runtime coalescing of the post-dedup shuffle and skew-join
  splitting for the frontier⋈pages join (hot Zipf hosts).
- ``spark.sql.shuffle.partitions`` defaults to 4× the local cores; on a real
  cluster set it to 2-3× total executor cores (or leave AQE's coalescing to
  shrink an intentionally high number).
- Arrow enabled and batch size raised: the extraction UDF is the dominant
  Python cost, so fewer/larger Arrow batches amortize serialization
  (SURVEY.md §7 risk 5).
- Session timezone pinned to UTC: the reference stores naive-UTC datetimes
  (src/models/__init__.py:77); we make that explicit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """``$SPARK_DRIVER_MEM`` if set, else 64 GB capped at a quarter of
    physical RAM (the JVM's own default heap share): a 64 GB heap on a
    16 GB machine lets the heap grow until the kernel kills the JVM."""
    explicit = os.environ.get("SPARK_DRIVER_MEM")
    if explicit:
        return explicit
    try:
        phys_mb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        )
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return "64g"
    return f"{max(1024, min(64 << 10, phys_mb // 4))}m"


def build_session(
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "mizzounewscrawler-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession.

    ``parallelism`` is the local[] core count; defaults to
    ``$SPARK_GRAFT_CPUS`` or 32.  On a real cluster, drop ``master`` and let
    spark-submit supply it — everything else carries over unchanged.
    """
    cores = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(32, cores * 4)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size trades serialization amortization against heap:
        # rows × avg row bytes × concurrent tasks must fit the executor
        # heap.  20000 suits ~KB rows; override via $SPARK_ARROW_BATCH for
        # heavy binary columns (e.g. 2048 for ~40 KB Common-Crawl pages).
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_ARROW_BATCH", "20000"),
        )
        # scan-split size governs scan parallelism: bytes/split must yield
        # several tasks per core at the largest parallelism level, or wide
        # sessions idle on stragglers (e.g. 4.5 GB / 128 MB = 36 tasks
        # leaves local[32] half-utilized) — tune down for small-but-heavy
        # tables via $SPARK_MAX_PART_BYTES
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PART_BYTES", "128m"),
        )
        # vectorized parquet reader rows/batch: 4096 × row-bytes is held
        # contiguously per task — with ~40 KB binary rows that is ~160 MB a
        # task, an OOM at any useful concurrency; drop via $SPARK_PARQUET_BATCH
        .config(
            "spark.sql.parquet.columnarReaderBatchSize",
            os.environ.get("SPARK_PARQUET_BATCH", "4096"),
        )
        # local mode: the driver JVM IS the executor — size its heap for the
        # workload, not for a thin coordinator.  The crawl bench caches the
        # page store + holds 32 concurrent 40 KB-row scan buffers; a 16 g
        # heap spills the cache to disk and GC-thrashes at high parallelism
        # (the r1 scaling-efficiency killer).  NB: only the FIRST session in
        # a Python process sets this — the JVM outlives spark.stop().
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

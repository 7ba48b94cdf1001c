"""SparkSession profile for the KG-construction engine.

Centralizes the configs SURVEY.md §4.2 pins down:
  - AQE on (runtime re-planning, skew-join splitting for the link-score join)
  - Arrow on, bounded batch size (the engine's analog of char-ner's n_batch;
    ref:src/exper.py:~150-220 sorts/pads per batch — here one Arrow record
    batch is one padded tensor)
  - shuffle partitions sized for the local core count (multi-executor
    clusters override via spark-submit --conf)
  - python worker reuse so broadcast model weights load once per worker
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: rows per Arrow batch handed to the tagger UDF. Since round 5 the NN
#: batch size is decoupled from the Arrow batch (tagger.BATCH_ROWS chunks
#: each call internally, keeping the recurrent scratch L2-resident), so
#: this only sets the Python-crossing granularity: bigger batches amortize
#: Arrow/pandas conversion and give the tagger's in-batch sentence dedup
#: and length-bucketing more rows to work with. Measured on the sf1.0
#: bench corpus (1M pages, local[24]): tag stage 60.3s at 512 → 52.4s at
#: 2048; 4096 regressed (noisy windows, larger per-batch latency).
#: Memory stays bounded: 2048 pages ≈ 2 MB of html in, ~13k mention rows
#: out per batch.
ARROW_BATCH_ROWS = 2048


def driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` when set, else
    half the host's physical memory (MemTotal), capped at 16g, so the
    driver heap fits the host with room left for the Python workers."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    default = f"{min(total // 2, 16 << 30) >> 20}m"
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default


def build_session(
    app_name: str = "char_ner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's config profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` and let spark-submit supply the master.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: one wave; cluster: override to 2-3x total cores
        n = master.split("[")[1].rstrip("]") if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

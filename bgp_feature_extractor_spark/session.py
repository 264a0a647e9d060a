"""SparkSession factory tuned for the engine.

Local-mode defaults target the sandbox (local[32], 128 GiB); on a real
cluster every config here remains valid — shuffle partitions should be
raised to ~2-3x total cores and AQE re-coalesces at runtime.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def default_driver_memory() -> str:
    """48g, or half the host's physical memory where that is less. G1
    grows the heap toward its maximum under allocation bursts rather than
    collecting; a maximum above physical memory lets a long session's JVM
    grow until the kernel's OOM killer ends it (a 48g heap on a 16 GB host
    passed 15 GB resident during the test suite)."""
    try:
        phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    except (ValueError, OSError):
        return "48g"
    return f"{max(1, min(48, phys_gb // 2))}g"


def get_spark(
    app_name: str = "bgp_feature_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = master[len("local[") : -1] if master.startswith("local[") else "32"
    n = os.cpu_count() or 32 if cores == "*" else int(cores)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Joins (guide §3.1/§9): allow shuffled-hash when a build side fits —
        # the matrix tail joins co-partitioned (source, bin) aggregates,
        # where sort-merge pays two wide-row sorts for nothing (measured
        # agg_full 6.5s -> 4.3s at 1M rows). AQE's threshold bounds the
        # build side per partition, and skew-join splitting still applies;
        # both values hold on a cluster (they are per-partition, not
        # per-host, and AQE re-coalesces partitions to the advisory size).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "256m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: the driver heap IS the executor heap — size it for the
        # thread count (32 tasks x wide hash-agg state thrash an 8g heap)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def literal_rows(spark: SparkSession, rows: list[dict], ddl: str) -> DataFrame:
    """A few local Python rows (dicts keyed by the ``ddl`` field names) as a
    DataFrame built inside the JVM: one JSON literal, parsed and inlined
    over a one-row, one-partition range, which the optimizer folds to a
    literal Generate. ``spark.createDataFrame(list)`` would pickle the
    rows through a Python-RDD job instead, starting a second Python worker
    pool beside the Arrow one for a handful of rows."""
    parsed = F.from_json(F.lit(json.dumps(rows)), f"array<struct<{ddl}>>")
    return spark.range(0, 1, 1, numPartitions=1).select(F.inline(parsed))

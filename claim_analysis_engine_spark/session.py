"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench environment (local[N] with
N≈cores, shuffle partitions ≈ cores); on a real cluster the same
builder works — only master/shuffle-partitions change. AQE is left on
so skewed joins and small post-shuffle partitions self-heal at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "claim-analysis-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    # Local mode runs every executor thread inside the DRIVER JVM, so
    # spark.driver.memory is the entire heap 32 concurrent tasks share.
    # The pyspark default (1g) leaves ~380 MB of execution memory for
    # all of them — long bench runs OOM'd in spilling hash aggregates
    # once the query count grew (round 8). Size it to the environment
    # (local[32] / 128 GiB box); harmless when a real cluster manager
    # overrides it. Only effective when this factory LAUNCHES the JVM —
    # on an already-running session (driver harness) it's a no-op conf,
    # which is fine: that harness sets its own heap.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", mem)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # runtime skew-join splitting: oversized post-shuffle partitions
        # split automatically — the safety net behind the explicit
        # salting pattern (operators/scale_patterns.agg_salted)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # dynamic partition overwrite: hub merge-upsert rewrites only
        # touched (year, month) partitions, not the whole hub
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # events.parquet stores TIMESTAMP(NANOS); read nanos as long
        # (tables._load_events converts). Set here so it never has to
        # flip mid-session.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory.

Defaults are chosen for oracle parity and scale-readiness:
  - session timezone pinned to UTC (DuckDB timestamps are UTC-naive);
  - AQE on (runtime shuffle-partition coalescing, skew-join splitting —
    the 100 TB story relies on it);
  - Arrow transfer on (fast toPandas / pandas_udf);
  - shuffle partitions sized to local cores, not the 200 default
    (on a real cluster this is overridden to ~2-3x total executor cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "go-batch-processor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r13 (optimization) NOTE: size-based coalescing
        # (coalescePartitions.parallelismFirst=false, advisory 8-64m)
        # was A/B'd exhaustively and REJECTED: its apparent wins on
        # iterative keys were CPU-contention artifacts of a loaded
        # measurement box — re-run on an idle box, the parallelism-first
        # default won on 13/14 keys (total 0.74x vs the candidate), and
        # size-based coalescing is additionally blind to downstream
        # row amplification (graph_resource_allocation went 3.6x slower
        # even with advisory=16m). Details in OPTIMIZATION_r13.md.
        # r13 (optimization): allow shuffled-hash join when one side is
        # small per partition (guide §3.1/§9) — interleaved A/B at sf0.1
        # measured 0.82x on the join-heavy key set (tpch_q16 0.66x,
        # stats_permutation_test 0.53x, agg_count_min_topk 0.50x), flat
        # elsewhere. Scale-safe: the planner still requires the build
        # side to fit per partition, AQE skew-split still applies, and
        # sort-merge remains the fallback when the size conditions fail.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The current events.parquet fixtures store ts as TIMESTAMP(MICROS).
        # Kept for fixture regenerations that write TIMESTAMP(NANOS), which
        # Spark has no native type for: read as long, and catalog.load_table
        # converts it as well.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Production streaming state store: RocksDB keeps per-key state
        # off-heap with disk spill (the default HDFS-backed provider holds
        # every key in executor heap — a hard wall at 100 TB keyspaces);
        # changelog checkpointing uploads per-batch deltas, not snapshots.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory with the engine's physical-execution defaults.

Pinned for determinism + oracle comparability:
- session timezone UTC (DuckDB timestamps are UTC-naive),
- Arrow enabled for all pandas-UDF stages, bounded batch size
  (payload columns are large — a 10k-row Arrow batch of 50 KB pages
  is 500 MB; we cap records per batch instead),
- AQE on (runtime coalescing + skew-join splitting at scale),
- shuffle partitions sized to the local core count (on a real
  cluster this is set per-job or left to AQE),
- table listing on the driver: ``parallelPartitionDiscovery.threshold``
  is at least the layout's bucket count (``cfg.output_buckets``), so
  reading the bucketed output lists its bucket directories in the
  driver instead of starting a Spark job with one task per directory
  (51-64 tasks per read of a 64-bucket table at Spark's default of
  32). These sessions' tables sit on a local filesystem, where one
  listing is a cheap syscall; the commit protocol relies on that
  filesystem anyway (``os.rename``). The cluster entry point
  (``scripts/run_pipeline.py``) keeps Spark's parallel listing: on an
  object store every directory is one round trip, which a listing job
  spreads over the executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import DEFAULT_CONFIG, EngineConfig


def get_spark(app_name: str = "pdf-ai-mapper-spark",
              master: str | None = None,
              cfg: EngineConfig = DEFAULT_CONFIG,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048 beat 1024, 4096 and 8192 for extraction
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(max(32, cfg.output_buckets)))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def cluster_spark_conf() -> dict[str, str]:
    """Extra conf for REAL multi-executor clusters, applied to the
    session builder of the spark-submit entry point
    (``scripts/run_pipeline.py``), not through ``get_spark``, which
    forces a local master. Deliberately NOT applied in local mode:
    none of these helps a single JVM, and speculation would double-run
    tasks on the very host contention it is meant to dodge.

    - speculation: re-launches straggler tasks. The round-7 drift A/B
      (interleaved runs) measured how badly many-short-stage plans
      (the near-dup family) degrade under task-level contention —
      every stage barrier waits for its slowest task, so p99 task
      latency compounds per stage. On a 1000-executor cluster the
      same math applies to slow/failing nodes; speculation is the
      standard counter (quantile 0.75, multiplier 1.5 = re-launch
      when a task runs 1.5x the stage's 75th percentile).
    - decommissioning: migrates shuffle/RDD blocks off nodes being
      preempted (spot/autoscaled clusters) instead of recomputing.
    - shuffle.io retries: ride out transient fetch failures during
      executor churn rather than failing the stage.
    """
    return {
        'spark.speculation': 'true',
        'spark.speculation.quantile': '0.75',
        'spark.speculation.multiplier': '1.5',
        'spark.decommission.enabled': 'true',
        'spark.storage.decommission.shuffleBlocks.enabled': 'true',
        'spark.shuffle.io.maxRetries': '6',
        'spark.shuffle.io.retryWait': '10s',
        'spark.stage.maxConsecutiveAttempts': '8',
    }

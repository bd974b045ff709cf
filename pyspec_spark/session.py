"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every setting is chosen to also be
the right default on a real multi-executor cluster at large scale:

- AQE on (runtime coalescing, skew-join splitting, broadcast demotion) —
  the gridder (SURVEY.md §2 A4) has natural voxel skew around Bragg peaks,
  and AQE's skew handling is the designed mitigation.
- Arrow enabled for every Python boundary (pandas UDFs, toPandas).
- Shuffle partitions sized for the test box; on a 1000-executor cluster
  this is overridden by AQE's coalescing from a high initial count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pyspec_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        # Local-mode sizing: at test scale (<=1 GB) task-scheduling
        # overhead dominates, so fewer/fatter reduce tasks win (measured:
        # 8 vs 32 cuts the headline suite ~25%).  On a real cluster set
        # SPARK_GRAFT_SHUFFLE high (e.g. 2-3x total cores) and let AQE
        # coalesce down — the initial count here is NOT the scale answer.
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", max(8, int(cpus) // 4))
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 64 MB broadcast budget: right for the 8 GB local driver AND a
        # sane floor on a large-memory cluster (dims like nation/region/
        # customer-slices stay map-side; AQE demotes if stats say no).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # The console progress bar writes \r-terminated frames that get
        # interleaved with stdout when a harness captures both streams —
        # round 5's BENCH JSON line was truncated by exactly this.  The
        # bar carries no information in non-interactive runs.
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()

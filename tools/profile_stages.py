#!/usr/bin/env python
"""Per-stage wall/CPU profile of one query's COLD re-execution (guide
§1.1/§7.1: find where the time actually goes before changing anything).

Builds the same session as pyspec_spark.session.get_spark but with the
UI enabled, runs the query cold (fresh plan, caches cleared, noop sink),
then dumps every stage of that run from the UI REST API: wall span,
executor run/CPU time, shuffle read/write bytes, task count, and the
stage's first line of description — enough to map stages back to plan
operators.

Usage: python tools/profile_stages.py sf_dir query [query ...]
"""
from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args.pop(0)
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", sf_dir)

    from pyspark.sql import SparkSession

    from pyspec_spark import registry

    registry.load_all()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", max(8, int(cpus) // 4))
    spark = (
        SparkSession.builder.appName("profile_stages")
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    for name in args:
        builder = getattr(registry.QUERIES[name], "__wrapped__", registry.QUERIES[name])
        # warmup (JIT + codegen), untimed
        spark.sparkContext.setJobDescription(f"warmup {name}")
        builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        registry.release_persisted()
        spark.catalog.clearCache()

        url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        before = {s["stageId"] for s in json.load(urllib.request.urlopen(url))}

        spark.sparkContext.setJobDescription(f"cold {name}")
        t0 = time.time()
        builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        registry.release_persisted()

        stages = json.load(urllib.request.urlopen(url))
        new = [s for s in stages if s["stageId"] not in before]
        new.sort(key=lambda s: -s.get("executorRunTime", 0))
        print(f"\n=== {name}: cold wall {wall:.2f}s, {len(new)} stages ===")
        print(f"{'stage':>5s} {'run_s':>7s} {'cpu_s':>7s} {'tasks':>5s} "
              f"{'in_MB':>7s} {'sh_r_MB':>7s} {'sh_w_MB':>7s}  first plan line")
        for s in new:
            desc = (s.get("description") or s.get("name") or "")[:80]
            print(
                f"{s['stageId']:5d} {s.get('executorRunTime',0)/1e3:7.2f} "
                f"{s.get('executorCpuTime',0)/1e9:7.2f} {s['numCompleteTasks']:5d} "
                f"{s.get('inputBytes',0)/1e6:7.1f} "
                f"{s.get('shuffleReadBytes',0)/1e6:7.1f} "
                f"{s.get('shuffleWriteBytes',0)/1e6:7.1f}  {desc}"
            )
        sys.stdout.flush()


if __name__ == "__main__":
    main()

"""Write ``twins.json``: the frozen DuckDB twins and op list of
``cold_build``.

The twin SQL is copied out of ``registry.ORACLES`` once, so a later
change to a query's oracle cannot move the denominator of a ratio.  The
DuckDB settings are frozen beside it.

The op list is chosen by a stated rule from measurements taken here, on
seed-0 inputs at the benchmark's scale, over every headline query of
``bench.py``:

- ``twin_ms``: the DuckDB twin, fetched to Arrow as ``cold_build`` times
  it (median of 3 after one warm run).  Twins slower than ``CUTOFF_S``
  are dropped and recorded with their time.
- ``py4j_calls``: py4j round trips of one ``__wrapped__`` build, counted
  the way ``tools/builder_calls.py`` counts them (memory commands
  excluded, after a warm build and ``gc.collect()``).
- ``persists``: tracked persists registered by one build
  (``registry.track_persist``).
- ``op_ms``: the ``cold_build`` op itself, drain + build + noop write
  (median of 3 after the warm build).  Queries whose op takes longer
  than ``OP_CAP_S`` are left out, so a pass fits the run's budget and
  every op type gets several samples in a run.

The rule, over the queries kept, applied in order, each step skipping
queries already chosen:

1. the ``N_WIDE`` builders with the most py4j round trips (plan-building
   cost, ROADMAP item 5);
2. the ``N_PERSIST`` persisting builders with the cheapest twins (the
   persist lifecycle, ROADMAP item 4; cheapest, to fit the run budget);
3. the ``N_FLOOR`` queries with the cheapest twins (the floor class,
   where per-op fixed costs dominate).

Every measurement is written to ``twins.json`` beside the chosen list.

Usage (from the repository root): python3 perfbench/freeze.py
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CUTOFF_S = 0.5
OP_CAP_S = 1.0
N_WIDE, N_PERSIST, N_FLOOR = 2, 1, 3


def twin_ms(con, sql: str) -> float:
    con.execute(sql).arrow()
    ts = []
    for _ in range(3):
        t = time.perf_counter()
        con.execute(sql).arrow()
        ts.append(time.perf_counter() - t)
    return round(statistics.median(ts) * 1000, 1)


def builder_stats(spark, registry, name: str, data: str) -> tuple[int, int, float]:
    """(py4j round trips, tracked persists, op ms) of ``name``."""
    import py4j.clientserver as cs

    build = registry.QUERIES[name].__wrapped__
    build(spark, data)  # warm analysis caches
    registry.release_persisted()
    ts = []
    for _ in range(3):
        spark.catalog.clearCache()
        registry.release_persisted()
        t = time.perf_counter()
        build(spark, data).write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t)
    spark.catalog.clearCache()
    registry.release_persisted()
    gc.collect()
    n = {"calls": 0}
    orig = cs.ClientServerConnection.send_command

    def counted(conn, command, *a, **k):
        if not command.startswith("m"):
            n["calls"] += 1
        return orig(conn, command, *a, **k)

    cs.ClientServerConnection.send_command = counted
    try:
        build(spark, data)
    finally:
        cs.ClientServerConnection.send_command = orig
    persists = registry.release_persisted()
    return n["calls"], persists, round(statistics.median(ts) * 1000, 1)


def choose(stats: dict[str, dict]) -> list[str]:
    """The rule in the module docstring, over the kept queries."""
    chosen: list[str] = []

    def take(names, k):
        chosen.extend([n for n in names if n not in chosen][:k])

    by_twin = sorted(stats, key=lambda n: (stats[n]["twin_ms"], n))
    take(sorted(stats, key=lambda n: (-stats[n]["py4j_calls"], n)), N_WIDE)
    take([n for n in by_twin if stats[n]["persists"]], N_PERSIST)
    take(by_twin, N_FLOOR)
    return chosen


def main() -> None:
    sys.path[:0] = [ROOT, HERE]
    import bench
    import gen
    from pyspec_spark import registry
    from pyspec_spark.oracle import duckdb_connect
    from pyspec_spark.session import get_spark
    from workloads import SF

    registry.load_all()
    data = os.path.join(ROOT, ".perfbench_run", "freeze")
    shutil.rmtree(data, ignore_errors=True)
    gen.make_tables(data, 0, SF)
    threads = len(os.sched_getaffinity(0))
    con = duckdb_connect(data)
    con.execute(f"SET threads = {threads}")
    spark = get_spark("perfbench-freeze")
    spark.sparkContext.setLogLevel("ERROR")
    stats, dropped = {}, {}
    for name in bench.HEADLINE:
        ms = twin_ms(con, registry.ORACLES[name])
        if ms > CUTOFF_S * 1000:
            dropped[name] = f"twin {ms} ms > cutoff"
            continue
        calls, persists, op_ms = builder_stats(spark, registry, name, data)
        stats[name] = {"twin_ms": ms, "py4j_calls": calls, "persists": persists,
                       "op_ms": op_ms}
        print(name, stats[name], flush=True)
    kept = {n: v for n, v in stats.items() if v["op_ms"] <= OP_CAP_S * 1000}
    spark.stop()
    chosen = choose(kept)
    out = {
        "duckdb": {"threads": "all cores the process may use"},
        "inputs": f"perfbench/gen.py make_tables, seed 0, sf {SF}",
        "twin_cutoff_ms": CUTOFF_S * 1000,
        "op_cap_ms": OP_CAP_S * 1000,
        "rule": {"most_py4j_calls": N_WIDE, "cheapest_persisting": N_PERSIST,
                 "cheapest_twins": N_FLOOR},
        "dropped_slow_twins": dropped,
        "measured": stats,
        "cold_build": {n: registry.ORACLES[n] for n in chosen},
    }
    with open(os.path.join(HERE, "twins.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    shutil.rmtree(data, ignore_errors=True)
    print(json.dumps(chosen))


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Run every registered query against the DuckDB oracle (driver mimic).

Usage: python tools/check.py [--json OUT.json] [--driver-session] [sf_dir] [query ...]

With --json, also writes a CORRECTNESS_r{N}-shaped report (one object
per query: rows/schema/hash match booleans + row counts) so self-check
runs at driver scale can be committed as evidence.

With --driver-session, the Spark session is a PLAIN
``SparkSession.builder.master(...).getOrCreate()`` — none of
session.py's confs (no arrow flag, no AQE/broadcast tuning).  This mimics the driver's default-conf session, the
environment class that produced two only-visible-in-the-driver reds
(r6/r7 q_embed_cov, r8 q_spec_roundtrip DATA_SOURCE_PUSHDOWN_DISABLED):
any query that silently depends on a session conf fails HERE first.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspec_spark import registry
from pyspec_spark.oracle import check_query, duckdb_connect
from pyspec_spark.session import get_spark


def main() -> int:
    args = [a for a in sys.argv[1:]]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print(
                "usage: check.py [--json OUT.json] [sf_dir] [query ...]",
                file=sys.stderr,
            )
            return 2
        json_out = args[i + 1]
        del args[i : i + 2]
    driver_session = "--driver-session" in args
    if driver_session:
        args.remove("--driver-session")
    sf_dir = args.pop(0) if args and "/" in args[0] else "/root/testdata/sf0.01"
    registry.load_all()
    names = args or sorted(registry.QUERIES)
    if driver_session:
        import os

        from pyspark.sql import SparkSession

        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        spark = (
            SparkSession.builder.appName("pyspec_check_driver_parity")
            .master(f"local[{cpus}]")
            # process PROVISIONING, not SQL semantics: a bare
            # getOrCreate gets the 1g default heap and OOMs mid-sweep
            # (r9, after 128 green queries) — the real driver harness
            # provisions its JVM at launch; what this mode must leave
            # at defaults is every spark.sql.* conf, and it does.
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            )
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        try:
            pd = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
        except Exception:
            pd = "<unset>"
        print(f"[driver-session] plain getOrCreate — filterPushdown={pd}")
    else:
        spark = get_spark("pyspec_spark_check")
    con = duckdb_connect(sf_dir)
    failures = 0
    report: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            res = check_query(spark, con, name, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"[ERR ] {name}: {type(e).__name__}: {e}")
            failures += 1
            report[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": -1,
                "oracle_rows": -1,
                "err": f"{type(e).__name__}: {e}"[:500],
            }
            continue
        dt = time.time() - t0
        print(f"{res}  ({dt:.2f}s)")
        if not res.ok:
            failures += 1
        rows_only = res.oracle_rows == -1
        schema_bad = any("columns differ" in i for i in res.issues)
        report[name] = {
            "rows_match": res.ok or not any(
                "row count" in i for i in res.issues
            ),
            "schema_match": not schema_bad,
            "hash_match": res.ok and not rows_only,
            "spark_rows": res.spark_rows,
            "oracle_rows": res.oracle_rows,
            "err": None if res.ok else "; ".join(res.issues)[:500],
            **({"rows_only": True} if rows_only else {}),
        }
    # drain tracked persisted inputs (r13) — a 229-query sweep would
    # otherwise carry every builder-persisted frame to session end
    registry.release_persisted()
    print(f"\n{len(names) - failures}/{len(names)} ok")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "queries": report}, f, indent=1)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload cold_build --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the gated end-to-end metrics; ``--trace 1`` prints
the per-layer metrics (see README.md).  The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}.
Exits non-zero without a result when the engine cannot be imported or
the run fails.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 175  # a run must end within 180 s


def _env(run_dir: str, threads: int) -> None:
    """Identical run hygiene on every commit: workers import the engine
    from this checkout, and every temp file lands in the run's own
    directory, removed at exit."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("tmp", "local", "jtmp"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'jtmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(threads)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    os.chdir(run_dir)  # spark-warehouse, derby.log and the like


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path[:0] = [HERE, ROOT]
    try:
        import pyspec_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from core import Runner
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    threads = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    cwd = os.getcwd()
    _env(run_dir, threads)
    runner = Runner(WORKLOADS[args.workload](), args.seed, args.seconds,
                    bool(args.trace), run_dir, threads, T_PROC)

    def overdue(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, overdue)
    signal.alarm(DEADLINE_S)
    try:
        result = runner.run()
    finally:
        signal.alarm(0)
        runner.stop()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

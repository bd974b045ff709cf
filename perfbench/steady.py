"""Steadiness check: run workloads over several seeds, twice if asked,
and hold every end-to-end metric to the bounds in BENCHMARK.json.

For each workload and set, the spread of a metric is the distance
between the first and third quartiles of its values over the seeds, as
a share of their median; it must stay within the metric's bound.
With two sets, the second set's median must
not be worse than the first's by more than the bound.

Usage (from the repository root):

    python3 perfbench/steady.py --seeds 5 --sets 2 [--workloads a,b]

Writes every run's result to .perfbench_run/steady-<time>.json and
exits 1 if a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402


def run_once(spec: dict, workload: str, seed: int, trace: int = 0) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    wall = time.perf_counter() - t
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n"
                           + p.stderr[-3000:])
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["summary"] = [ln for ln in lines if ln.startswith("#")]
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=3)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]
    ]
    seeds = range(args.first_seed, args.first_seed + args.seeds)
    results: dict = {w: [] for w in names}
    bad = []
    for s in range(args.sets):
        for w in names:
            runs = []
            for seed in seeds:
                r = run_once(spec, w, seed)
                print(f"set {s} {w} seed {seed}: wall {r['wall_s']:.1f} s "
                      f"failed {r['failed']}/{r['attempted']} "
                      + " ".join(f"{k}={v['value']:.4g}"
                                 for k, v in r["metrics"].items()),
                      flush=True)
                if not r["correct"]:
                    bad.append(f"{w} seed {seed}: incorrect output")
                runs.append(r)
            results[w].append(runs)
    print()
    for w in names:
        for m in spec["end_to_end"]:
            meds = []
            for s, runs in enumerate(results[w]):
                vals = [r["metrics"][m["name"]]["value"] for r in runs]
                med = statistics.median(vals)
                meds.append(med)
                sp = M.spread(vals) if len(vals) > 1 and med else 0.0
                flag = ""
                if sp > m["bound"]:
                    flag = "  SPREAD OVER BOUND"
                    bad.append(f"{w} {m['name']} set {s} spread {sp:.3f}")
                print(f"{w:12s} {m['name']:16s} set {s} median {med:10.4g} "
                      f"spread {sp:6.3f} (bound {m['bound']}){flag}")
            if len(meds) == 2 and meds[0]:
                d = M.worse_by(meds[0], meds[1], m["better"])
                flag = ""
                if d > m["bound"]:
                    flag = "  SHIFT OVER BOUND"
                    bad.append(f"{w} {m['name']} shift {d:.3f}")
                print(f"{w:12s} {m['name']:16s} second set worse by {d:+.3f}{flag}")
        walls = [r["wall_s"] for runs in results[w] for r in runs]
        print(f"{w:12s} wall per run: median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
    out = os.path.join(ROOT, ".perfbench_run", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(results, fh, indent=1)
    print("\n" + ("FAILED:\n  " + "\n  ".join(bad) if bad else "all checks passed"))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

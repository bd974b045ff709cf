"""The measurement harness shared by every workload.

One run is one process with one closed-loop client:

1. Start-up: interpreter, engine imports, JVM launch (reported per
   layer as ``session.start_s`` and ``registry.load_all_s``).
2. Set-up, ``SETUP_TRIALS`` times.  Untimed: generate the inputs from
   the seed into a fresh directory.  Timed, the reference: the DuckDB
   twin's own set-up over those inputs (``reference_setup``).  Timed
   right after it, the engine's set-up: drop the engine's modules,
   start a fresh ``session.get_spark`` session, ``registry.load_all()``,
   open the DuckDB twin and prepare the workload's state.  ``setup_s``
   is the median over trials of engine set-up / reference set-up, times
   the workload's ``ref_s`` (see ``Workload``).
3. Warm-up: one pass in which every op type with a full check runs it
   (``oracle.compare_frames`` against the twin and, where the workload
   has one, the generator's ground truth) and every other op runs once
   with its twin.  Reported per layer as ``warmup_s``.
4. Measurement: passes over the op list, shuffled by the seed, until
   ``--seconds`` have elapsed.  Each op is followed at once by its twin.
   ``gc.collect()`` runs only between passes.
5. Teardown: stop the session and the JVM and wait for it to exit.
"""

from __future__ import annotations

import gc
import glob
import os
import random
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable

import metrics as M

SETUP_TRIALS = 5
# Twin runs per op; the median is paired with the op.  Read-only twins
# of a few ms repeat to damp DuckDB's own jitter; twins that write set
# ``Op.twin_reps = 1``.
TWIN_REPS = 5


@dataclass
class Op:
    """One op type.

    - ``run(t)``: the timed engine call; ``t`` is the tracer or a no-op
      stand-in.
    - ``twin()``: the timed DuckDB twin.
    - ``after(result, twin_result)``: untimed, after every op; checks the
      result (and may advance the workload's ground truth), returns
      False on disagreement.
    - ``check()``: the full check, once per run; returns a list of
      problems.
    - ``before()``: untimed, before every op."""

    name: str
    run: Callable[[Any], Any]
    twin: Callable[[], Any]
    after: Callable[[Any, Any], bool] | None = None
    check: Callable[[], list[str]] | None = None
    before: Callable[[], None] | None = None
    twin_reps: int = TWIN_REPS


class NoTrace:
    """Stand-in for ``tracing.Tracer`` in untraced passes."""

    on = False
    py4j_calls = 0

    def span(self, name, metric=None):
        return nullcontext({})

    def record(self, op_type, metric, value):
        pass


@dataclass
class Ctx:
    spark: Any
    con: Any
    data: str
    seed: int
    run_dir: str
    engine: dict = field(default_factory=dict)  # fresh engine modules
    state: dict = field(default_factory=dict)  # the workload's own


class Workload:
    name = ""
    star_schema = False  # the twin reads the generated star schema
    # Median seconds of ``reference_setup`` on the workload's inputs on
    # the 4-core VM the benchmark was built on, in a quiet period: the
    # scale that turns the set-up ratio back into seconds.
    ref_s = 0.1

    def inputs(self, data: str, seed: int) -> None:
        raise NotImplementedError

    def prepare(self, ctx: Ctx) -> list[Op]:
        raise NotImplementedError

    def order(self, ops: list[Op], rng: random.Random, k: int) -> list[Op]:
        out = list(ops)
        rng.shuffle(out)
        return out

    def pass_begin(self, ctx: Ctx, k: int) -> None:
        pass

    def pass_end(self, ctx: Ctx, k: int) -> list[str]:
        return []

    def layer_metrics(self, ctx: Ctx) -> dict[str, float]:
        """Per-layer values the workload measures itself (traced run)."""
        return {}


def engine_modules() -> dict:
    """Import the engine afresh: every ``pyspec_spark`` module is
    dropped first, so each set-up trial pays the imports again."""
    for m in [m for m in sys.modules if m.split(".")[0] == "pyspec_spark"]:
        del sys.modules[m]
    import pyspec_spark.lake as lake
    import pyspec_spark.oracle as oracle
    import pyspec_spark.registry as registry
    import pyspec_spark.session as session
    import pyspec_spark.sinks as sinks
    import pyspec_spark.api as api

    return {"lake": lake, "oracle": oracle, "registry": registry,
            "session": session, "sinks": sinks, "api": api}


def reference_setup(data: str, threads: int) -> float:
    """Seconds for the DuckDB twin's own set-up over the generated
    inputs, twice over: a fresh connection with the frozen settings, and
    every parquet file under ``data`` loaded into a table and scanned
    once.  It is timed beside each engine set-up and drifts with the
    machine as the engine's set-up does, so their ratio cancels the
    drift.  One round takes 20-80 ms; two halve the weight of its jitter."""
    import duckdb

    files = sorted(glob.glob(os.path.join(data, "**", "*.parquet"), recursive=True))
    t = time.perf_counter()
    for _ in range(2):
        con = duckdb.connect()
        con.execute(f"SET threads = {threads}")
        for i, f in enumerate(files):
            con.execute(f"CREATE TABLE t{i} AS SELECT * FROM read_parquet('{f}')")
            con.execute(
                f"SELECT count(*), count(DISTINCT COLUMNS(*)) FROM t{i}"
            ).fetchall()
        con.close()
    return time.perf_counter() - t


def duck(data: str, engine: dict, threads: int, star_schema: bool):
    """The twin's DuckDB connection, with the frozen settings; over the
    star schema it is the engine's own oracle connection."""
    import duckdb

    con = engine["oracle"].duckdb_connect(data) if star_schema else duckdb.connect()
    con.execute(f"SET threads = {threads}")
    return con


class Runner:
    def __init__(self, workload: Workload, seed: int, seconds: int,
                 trace: bool, run_dir: str, threads: int, t_proc: float):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.threads = threads
        self.t_proc = t_proc
        self.layers: dict[str, float] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # -- set-up ------------------------------------------------------------
    def start(self) -> None:
        t = time.perf_counter()
        eng = engine_modules()
        t_imp = time.perf_counter()
        eng["registry"].load_all()
        self.layers["registry.load_all_s"] = time.perf_counter() - t_imp
        t_s = time.perf_counter()
        self.spark = eng["session"].get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.layers["session.start_s"] = time.perf_counter() - t_s
        self.layers["setup.first_s"] = time.perf_counter() - t + (
            t - self.t_proc
        )

    def setup_trial(self, i: int) -> tuple[float, float, Ctx, list[Op]]:
        """One set-up: (engine seconds, reference seconds, ctx, ops)."""
        data = os.path.join(self.run_dir, f"data{i}")
        self.w.inputs(data, self.seed)
        self.spark.stop()
        gc.collect()
        ref = reference_setup(data, self.threads)
        t = time.perf_counter()
        eng = engine_modules()
        spark = eng["session"].get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        eng["registry"].load_all()
        con = duck(data, eng, self.threads, self.w.star_schema)
        ctx = Ctx(spark, con, data, self.seed, self.run_dir, eng)
        ops = self.w.prepare(ctx)
        self.spark = spark
        return time.perf_counter() - t, ref, ctx, ops

    # -- one op --------------------------------------------------------------
    def _fail(self, what: str, why: str) -> None:
        self.failures.append(f"{what}: {why}")

    def _checked(self, what: str, check) -> None:
        """One full check: counts as one op attempted, and as one failed
        if it raises or reports problems."""
        self.attempted += 1
        try:
            issues = check()
        except Exception as e:
            traceback.print_exc()
            issues = [f"raised {e!r}"[:300]]
        for issue in issues:
            self._fail(what, "check: " + issue)
        self.failed += bool(issues)

    def one(self, op: Op, t, tracer, op_id: str) -> M.Sample:
        if op.before:
            op.before()
        ok, res = True, None
        t0 = time.perf_counter()
        try:
            with tracer.op(op_id, op.name) if tracer else nullcontext({}) as rec:
                res = op.run(t)
        except Exception as e:  # a failing op stays in the mix, named
            ok = False
            self._fail(op.name, f"raised {e!r}"[:300])
        t1 = time.perf_counter()
        twin_s = []
        tw = None
        for _ in range(op.twin_reps):
            tt = time.perf_counter()
            try:
                tw = op.twin()
            except Exception as e:
                ok = False
                self._fail(op.name, f"twin raised {e!r}"[:300])
            twin_s.append(time.perf_counter() - tt)
        if ok and op.after is not None and not op.after(res, tw):
            ok = False
            self._fail(op.name, "result disagrees with its twin or the truth")
        self.attempted += 1
        self.failed += not ok
        if tracer:
            tracer.executor_stats(op_id, op.name, rec)
            tracer.held(self.registry)
            if isinstance(res, list):
                tracer.record(op.name, "fetch.rows", len(res))
                tracer.record(
                    op.name, "fetch.ms",
                    max(0.0, (t1 - t0) * 1000 - rec.get("job_ms", 0.0)),
                )
        return M.Sample(op.name, t1 - t0, statistics.median(twin_s), ok)

    # -- the run ---------------------------------------------------------------
    def run(self) -> dict:
        self.start()
        trials = [self.setup_trial(i) for i in range(SETUP_TRIALS)]
        self.setups = [(s, r) for s, r, _, _ in trials]
        setup_s = M.paired_setup(self.setups, self.w.ref_s)
        self.layers["setup.raw_s"] = statistics.median(s for s, _ in self.setups)
        self.layers["setup.ref_s"] = statistics.median(r for _, r in self.setups)
        _, _, ctx, ops = trials[-1]
        self.registry = ctx.engine["registry"]
        rng = random.Random(self.seed)

        t_w = time.perf_counter()
        nt = NoTrace()
        self.w.pass_begin(ctx, -1)
        for op in self.w.order(ops, rng, -1):
            if op.check is not None:
                # the full check runs the op's plan and its twin once,
                # which is also their warm-up
                self._checked(op.name, op.check)
            else:
                self.one(op, nt, None, f"warm.{op.name}")
        self._checked("pass", lambda: self.w.pass_end(ctx, -1))
        self.layers["warmup_s"] = time.perf_counter() - t_w

        tracer = None
        if self.trace:
            import tracing

            tracer = tracing.Tracer(ctx.spark)
        samples: list[tuple[M.Sample, bool]] = []
        gc.disable()
        t_m = time.perf_counter()
        deadline = t_m + self.seconds
        k = 0
        try:
            while True:
                gc.collect()
                traced = tracer is not None and k % 2 == 1
                t = tracer if traced else nt
                self.w.pass_begin(ctx, k)
                stop = False
                for j, op in enumerate(self.w.order(ops, rng, k)):
                    if k > 0 and time.perf_counter() > deadline:
                        stop = True
                        break
                    s = self.one(op, t, tracer if traced else None,
                                 f"p{k}.{j}.{op.name}")
                    samples.append((s, traced))
                self._checked("pass", lambda: self.w.pass_end(ctx, k))
                k += 1
                if stop or time.perf_counter() > deadline:
                    break
        finally:
            gc.enable()
        wall = time.perf_counter() - t_m
        failed = self.failed
        plain = [s for s, tr in samples if not tr]
        meds = M.per_type_medians(plain)
        out = {
            "setup_s": (setup_s, "s"),
            "vs_duckdb_gm": (M.vs_twin_gm(meds), "x"),
            "vs_duckdb_total": (M.vs_twin_total(meds), "x"),
            "ok_rate": (M.ok_rate(self.attempted, failed), "fraction"),
        }
        self._print_summary(meds, k, wall)
        if tracer is not None:
            out = self._layers(ctx, tracer, samples, meds, wall, failed)
            tracer.write_spans(self._spans_path())
            tracer.close()
        return {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in out.items()},
        }

    def _spans_path(self) -> str:
        root = os.path.dirname(self.run_dir)
        return os.path.join(root, f"spans-{self.w.name}-{self.seed}.jsonl")

    def _layers(self, ctx, tracer, samples, meds, wall, failed) -> dict:
        traced = [s for s, tr in samples if tr]
        tmeds = M.per_type_medians(traced) if traced else meds
        ops_ms = [s.op_s * 1000 for s, _ in samples]
        L = dict(self.layers)
        L.update(tracer.layer_totals())
        L.update(self.w.layer_metrics(ctx))
        L.update({
            "heap_mb_end": heap_mb(ctx.spark),
            "error_rate": failed / self.attempted,
            "op_p50_ms": M.percentile(ops_ms, 50),
            "op_p90_ms": M.percentile(ops_ms, 90),
            "ops_per_s": len(samples) / wall,
            "twin_ms": statistics.median(s.twin_s * 1000 for s, _ in samples),
            "trace.vs_duckdb_total": M.vs_twin_total(tmeds),
            "trace.overhead": M.vs_twin_total(tmeds) / M.vs_twin_total(meds) - 1,
        })
        return {n: (L.get(n, 0.0), u) for n, u in LAYER_UNITS.items()}

    def _print_summary(self, meds, passes, wall) -> None:
        print(f"# {self.w.name} seed={self.seed}: first set-up "
              f"{self.layers['setup.first_s']:.1f} s, set-ups "
              + " ".join(f"{s:.2f}/{r:.3f}" for s, r in self.setups)
              + f" s (engine/reference), warm-up {self.layers['warmup_s']:.1f} s, "
              f"{passes} passes in {wall:.1f} s")
        for op, (o, t) in sorted(meds.items()):
            print(f"#   {op:28s} op {o * 1000:9.1f} ms  twin {t * 1000:8.1f} ms"
                  f"  x{o / t:7.2f}")
        for f in self.failures:
            print(f"# FAILED {f}")

    # -- teardown --------------------------------------------------------------
    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def heap_mb(spark) -> float:
    """Driver JVM heap in use after a full collection, MB."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    jvm.java.lang.System.gc()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


LAYER_UNITS = {
    "session.start_s": "s",
    "registry.load_all_s": "s",
    "setup.first_s": "s",
    "setup.raw_s": "s",
    "setup.ref_s": "s",
    "registry.persisted_frames": "count",
    "queries.build_ms": "ms",
    "queries.py4j_calls": "count",
    "catalyst.plan_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.python_nodes": "count",
    "fetch.ms": "ms",
    "fetch.rows": "count",
    "lake.append_ms": "ms",
    "lake.upsert_ms": "ms",
    "lake.compact_ms": "ms",
    "lake.vacuum_ms": "ms",
    "lake.files_live": "count",
    "lake.manifest_bytes": "B",
    "lake.files_scanned_per_read": "count",
    "lake.bytes_written": "B",
    "bytes_per_user_byte": "x",
    "sinks.merge_ms": "ms",
    "sinks.bytes_written": "B",
    "sources.read_ms": "ms",
    "sources.partitions": "count",
    "api.meta_ms": "ms",
    "cache_mb_end": "MB",
    "heap_mb_end": "MB",
    "error_rate": "fraction",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
    "warmup_s": "s",
    "twin_ms": "ms",
    "trace.vs_duckdb_total": "x",
    "trace.overhead": "fraction",
}


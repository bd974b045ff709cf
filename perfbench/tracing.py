"""Traced-mode accounting, measured from outside the program.

The tracer times calls into the engine's public functions and reads
what Spark already records; it changes no program code.  Per op it:

- sets the job group to the op id, so the op's jobs can be found;
- counts py4j round trips (every command except py4j's ``m`` memory
  commands, which GC fires at arbitrary times);
- reads the op's jobs from the status tracker and their stages from the
  driver's status store (run time, CPU time, shuffle write, spill,
  tasks; a stage counts only if it was submitted during the op, so
  stages skipped because an earlier op ran them are not charged);
- reads, right after the op and before anything drains it, the storage
  held by persisted blocks (status store ``rddList``) and the count of
  tracked persists in ``registry._PERSISTED``;
- keeps one span per layer call (name, start, end, parent, op id) in
  memory; ``write_spans`` saves them when the run ends.

Layer values are kept per op type; ``layer_totals`` reports, per
metric, the sum over op types of the median across samples, i.e. the
cost of one pass.  The two held-memory values are reported instead as
their largest reading after any op: a leak shows as the high-water mark.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

PYTHON_NODES = (
    "MapInArrow", "PythonMapInArrow", "MapInPandas", "ArrowEvalPython",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "BatchEvalPython",
)


def python_nodes(df) -> int:
    """Python-boundary operators in a frame's executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1 for line in plan.splitlines()
        if line.strip(" +-:*").split(" ")[0].split("(")[0] in PYTHON_NODES
    )


class Tracer:
    on = True
    python_nodes = staticmethod(python_nodes)

    def __init__(self, spark):
        import py4j.clientserver as cs

        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.values: dict[str, dict[str, list[float]]] = defaultdict(
            lambda: defaultdict(list)
        )
        self.peaks: dict[str, float] = {
            "cache_mb_end": 0.0, "registry.persisted_frames": 0.0,
        }
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._op: str | None = None
        self._op_type: str | None = None
        self._cls = cs.ClientServerConnection
        self._orig = self._cls.send_command
        orig, tracer = self._orig, self

        def counted(conn, command, *a, **k):
            if not command.startswith("m"):
                tracer.py4j_calls += 1
            return orig(conn, command, *a, **k)

        self._cls.send_command = counted

    def close(self) -> None:
        self._cls.send_command = self._orig

    def record(self, op_type: str, metric: str, value: float) -> None:
        self.values[metric][op_type].append(float(value))

    @contextmanager
    def span(self, name: str, metric: str | None = None):
        """A span around one layer call; with ``metric``, its wall ms
        is also recorded under that metric for the current op type."""
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "op": self._op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if metric is not None and self._op_type is not None:
                self.record(self._op_type, metric, self.span_ms(rec))

    @contextmanager
    def op(self, op_id: str, op_type: str):
        """One traced op: job group and root span.  Call
        ``executor_stats`` after the op's timing has been taken."""
        self._op, self._op_type = op_id, op_type
        self.sc.setJobGroup(op_id, op_type)
        try:
            with self.span(op_type) as rec:
                yield rec
        finally:
            self.sc.setJobGroup("", "")
            self._op = self._op_type = None

    def executor_stats(self, op_id: str, op_type: str, rec: dict) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        start_ms = rec["start"] * 1000 - 1
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(op_id))
        job_ms = 0.0
        stages: set[int] = set()
        for jid in jobs:
            jd = store.job(jid)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                job_ms += (
                    jd.completionTime().get().getTime()
                    - jd.submissionTime().get().getTime()
                )
            ids = jd.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        n_stages = tasks = run_ms = cpu_ns = shuffle = spill = 0
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # never submitted (skipped): no record
                continue
            sub = sd.submissionTime()
            if not sub.isDefined() or sub.get().getTime() < start_ms:
                continue
            n_stages += 1
            tasks += sd.numCompleteTasks()
            run_ms += sd.executorRunTime()
            cpu_ns += sd.executorCpuTime()
            shuffle += sd.shuffleWriteBytes()
            spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        for metric, v in (
            ("exec.jobs", len(jobs)), ("exec.stages", n_stages),
            ("exec.tasks", tasks), ("exec.run_ms", run_ms),
            ("exec.cpu_ms", cpu_ns / 1e6), ("exec.shuffle_write_bytes", shuffle),
            ("exec.spill_bytes", spill),
        ):
            self.record(op_type, metric, v)
        rec["job_ms"] = job_ms

    def held(self, registry) -> None:
        """Storage still held at the end of an op (call after
        ``executor_stats``, which waits for the listener bus)."""
        rdds = self.sc._jsc.sc().statusStore().rddList(True)
        mb = sum(
            rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()
            for i in range(rdds.size())
        ) / 2**20
        for metric, v in (("cache_mb_end", mb),
                          ("registry.persisted_frames",
                           len(getattr(registry, "_PERSISTED", {})))):
            self.peaks[metric] = max(self.peaks[metric], float(v))

    def span_ms(self, rec: dict) -> float:
        return (rec["end"] - rec["start"]) * 1000

    def layer_totals(self) -> dict[str, float]:
        out = {
            metric: sum(statistics.median(v) for v in by_type.values())
            for metric, by_type in self.values.items()
        }
        out.update(self.peaks)
        return out

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

"""Per-layer tracing from outside the program.

``Tracer`` times regions of the benchmark (a pipeline run, an entry's
build or execution) and the calls into the engine's public functions
that it wraps, and reads Spark's status store before and after each
region: the jobs started inside it and, for every stage of those jobs,
task count, executor run and CPU time, GC time, shuffle and spill
bytes, input and output bytes and peak execution memory. The store is
the driver's ``AppStatusStore``; it is kept even with the UI off.

Spans are kept in memory and summed per layer at the end. The time the
tracer spends in its own bookkeeping is measured and reported as
``trace.self_s``.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections import defaultdict

STAGE_FIELDS = {
    # store field -> (metric, scale)
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.jvm_gc_s", 1e-3),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1),
    "diskBytesSpilled": ("spark.spill_disk_bytes", 1),
    "inputBytes": ("spark.input_bytes", 1),
    "outputBytes": ("spark.output_bytes", 1),
}
SPARK_METRICS = [
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.no_task_s",
    *[m for m, _ in STAGE_FIELDS.values()],
    "spark.peak_exec_mem_bytes",
]


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._jvm = self.sc._jvm
        self.self_s = 0.0
        self.spans: list[dict] = []
        self.context: dict = {}  # tags every new span carries (pipeline run kind, entry)

    # ---------------------------------------------------------- store reads
    def _drain(self) -> None:
        try:
            self._jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - older/newer bus API: best effort
            time.sleep(0.05)

    def _max_job(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _stages(self, first_job: int) -> tuple[list[int], list[dict]]:
        tracker = self.sc.statusTracker()
        jobs = sorted(j for j in tracker.getJobIdsForGroup(None) if j > first_job)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        empty_status = self._jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(self._jvm.double, 0)
        stages = []
        for sid in sorted(stage_ids):
            try:
                attempts = self._store.stageData(sid, False, empty_status, False, no_q)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if str(s.status()) == "SKIPPED":
                    continue
                row = {f: getattr(s, f)() for f in STAGE_FIELDS}
                row["numTasks"] = s.numTasks()
                row["peakExecutionMemory"] = s.peakExecutionMemory()
                sub, done = s.submissionTime(), s.completionTime()
                row["start"] = sub.get().getTime() / 1000.0 if sub.isDefined() else None
                row["end"] = done.get().getTime() / 1000.0 if done.isDefined() else None
                stages.append(row)
        return jobs, stages

    # -------------------------------------------------------------- regions
    @contextlib.contextmanager
    def region(self, layer: str, name: str, detail: str = "stages"):
        """Time a region. ``detail``: ``"stages"`` also reads the stage
        metrics of the jobs it started, ``"jobs"`` only counts them,
        ``"wall"`` touches no Spark state at all."""
        t = time.perf_counter()
        first_job = self._max_job() if detail != "wall" else None
        self.self_s += time.perf_counter() - t
        span = {"layer": layer, "name": name, **self.context}
        w0, t0 = time.time(), time.perf_counter()
        try:
            yield span
        finally:
            t1, w1 = time.perf_counter(), time.time()
            span["wall_s"] = t1 - t0
            if detail != "wall":
                self._drain()
            if detail == "stages":
                jobs, rows = self._stages(first_job)
                span.update(_stage_metrics(jobs, rows, w0, w1))
            elif detail == "jobs":
                span["spark.jobs"] = len([j for j in self.sc.statusTracker().getJobIdsForGroup(None) if j > first_job])
            self.spans.append(span)
            self.self_s += time.perf_counter() - t1

    def wrap(self, module, attr: str, layer: str, name: str | None = None, detail: str = "jobs") -> None:
        """Replace ``module.attr`` by a traced wrapper (benchmark-side)."""
        fn = getattr(module, attr)
        label = name or attr

        @functools.wraps(fn)
        def traced(*a, **k):
            with self.region(layer, label, detail=detail) as span:
                out = fn(*a, **k)
                if isinstance(out, int) and not isinstance(out, bool):
                    span["returned"] = out
                return out

        traced.__perfbench_original__ = fn
        setattr(module, attr, traced)

    def wrap_everywhere(self, fn, layer: str, prefix: str, detail: str = "wall") -> int:
        """Wrap every module-level binding of ``fn`` in modules under
        ``prefix`` (``from x import fn`` copies the binding)."""
        n = 0
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(prefix):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self.wrap(mod, attr, layer, name=fn.__name__, detail=detail)
                    n += 1
        return n


def unwrap_all(prefix: str) -> None:
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith(prefix):
            continue
        for attr, val in list(vars(mod).items()):
            orig = getattr(val, "__perfbench_original__", None)
            if orig is not None:
                setattr(mod, attr, orig)


def _stage_metrics(jobs: list[int], rows: list[dict], w0: float, w1: float) -> dict:
    out: dict[str, float] = defaultdict(float)
    out["spark.jobs"] = len(jobs)
    out["spark.stages"] = len(rows)
    out["spark.peak_exec_mem_bytes"] = 0
    for r in rows:
        out["spark.tasks"] += r["numTasks"]
        for f, (metric, scale) in STAGE_FIELDS.items():
            out[metric] += r[f] * scale
        out["spark.peak_exec_mem_bytes"] = max(out["spark.peak_exec_mem_bytes"], r["peakExecutionMemory"])
    # wall time inside the region with no stage running
    spans = sorted(
        (max(r["start"], w0), min(r["end"] if r["end"] is not None else w1, w1))
        for r in rows
        if r["start"] is not None
    )
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    out["spark.no_task_s"] = max(0.0, (w1 - w0) - busy)
    return dict(out)


def sum_spans(spans: list[dict], keys: list[str]) -> dict[str, float]:
    out = {k: 0.0 for k in keys}
    for s in spans:
        for k in keys:
            v = s.get(k)
            if v is None:
                continue
            out[k] = max(out[k], v) if k == "spark.peak_exec_mem_bytes" else out[k] + v
    return out

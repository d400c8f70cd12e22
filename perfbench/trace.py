"""Per-layer tracing from the benchmark's own files.

A :class:`Tracer` wraps public functions of the program's layers (by
patching the attribute on their module or class) and records one span per
call: layer metric name, start and end wall time, and nesting depth.  After
every top-level span it drains Spark's listener bus and harvests the jobs
and stages that appeared in Spark's status store since the last harvest,
keyed by job id and stage id.  Spans and Spark records stay in memory;
:meth:`Tracer.metrics` folds them into the per-layer metrics at the end.

The wrappers cost one flag test when tracing is off, so they can be
installed once, before the registry modules bind the operator functions,
and switched on only for the traced round.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

# stage fields summed into spark.* metrics: (metric, StageData getter, scale)
_STAGE_SUMS = (
    ("spark.executor_run_s", "executorRunTime", 1e-3),
    ("spark.executor_cpu_s", "executorCpuTime", 1e-9),
    ("spark.gc_s", "jvmGcTime", 1e-3),
    ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spark.shuffle_write_records", "shuffleWriteRecords", 1),
    ("spark.shuffle_read_bytes", "shuffleReadBytes", 1),
    ("spark.spill_bytes", "diskBytesSpilled", 1),
    ("spark.input_bytes", "inputBytes", 1),
    ("spark.input_records", "inputRecords", 1),
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[tuple[str, float, float, int]] = []
        self.counts: dict[str, float] = {}
        self.jobs: list[tuple[int, float, float]] = []  # id, submit, end (s)
        self.stages: dict[int, dict] = {}
        self.stage_gaps = 0
        self._depth = 0
        self._active: set[str] = set()
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jvm = spark.sparkContext._jvm
        self._gateway = spark.sparkContext._gateway
        self._last_job = -1
        self._last_stage = -1

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        # a call re-entering its own layer stays inside the outer span
        if not self.enabled or name in self._active:
            yield
            return
        self._depth += 1
        self._active.add(name)
        start = time.time()
        try:
            yield
        finally:
            self._depth -= 1
            self._active.discard(name)
            self.spans.append((name, start, time.time(), self._depth))
            if self._depth == 0:
                self.harvest()

    def count(self, name: str, n: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, owner, attr: str, name: str, counter=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a ``name`` span
        per call; ``counter(result)`` may return {count name: n} to add."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if counter is not None:
                for k, n in counter(out).items():
                    tracer.count(k, n)
            return out

        setattr(owner, attr, traced)

    # ------------------------------------------------------ status store
    def reset(self) -> None:
        """Forget what earlier work left in the status store."""
        self.harvest(keep=False)
        self.spans.clear()
        self.counts.clear()

    def harvest(self, keep: bool = True) -> None:
        """Collect the jobs and stages added since the last harvest."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        new_jobs = []
        for i in range(jobs.length()):  # newest first
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                break
            new_jobs.append(job)
        if not new_jobs:
            return
        stage_ids: set[int] = set()
        for job in new_jobs:
            sub = job.submissionTime()
            end = job.completionTime()
            t0 = sub.get().getTime() / 1e3 if sub.isDefined() else None
            t1 = end.get().getTime() / 1e3 if end.isDefined() else t0
            if keep and t0 is not None:
                self.jobs.append((job.jobId(), t0, t1))
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.length()))
        self._last_job = max(j.jobId() for j in new_jobs)
        fresh = sorted(s for s in stage_ids if s > self._last_stage)
        if fresh:
            # stage ids are handed out consecutively; a hole means a stage
            # the store already evicted or a job this harvest missed
            self.stage_gaps += (fresh[-1] - self._last_stage) - len(fresh) if keep else 0
            self._last_stage = fresh[-1]
        if keep:
            for sid in fresh:
                self.stages[sid] = self._stage(sid)

    def _stage(self, sid: int) -> dict:
        st = self._store.lastStageAttempt(sid)
        rec = {"status": st.status().toString(), "tasks": st.numCompleteTasks()}
        for metric, getter, scale in _STAGE_SUMS:
            rec[metric] = getattr(st, getter)() * scale
        rec["spark.spill_bytes"] += st.memoryBytesSpilled()
        q = self._gateway.new_array(self._jvm.double, 1)
        q[0] = 1.0
        summary = self._store.taskSummary(sid, st.attemptId(), q)
        rec["max_task_s"] = (
            summary.get().executorRunTime().apply(0) / 1e3 if summary.isDefined() else 0.0
        )
        return rec

    # ----------------------------------------------------------- folding
    def _covered(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] during which some Spark job was running."""
        ivs = sorted((max(a, t0), min(b, t1)) for _, a, b in self.jobs if b > t0 and a < t1)
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return covered

    def jobs_within(self, names: list[str]) -> int:
        """Jobs submitted while any span of ``names`` was open."""
        spans = [(a, b) for n, a, b, _ in self.spans if n in names]
        return sum(1 for _, s, _ in self.jobs if any(a <= s <= b for a, b in spans))

    def metrics(self, names: list[str]) -> dict[str, float]:
        """Per-span-name totals ``<name>_s``, ``<name>.jobs`` and
        ``<name>.outside_jobs_s`` for ``names``, the counters, and the
        spark.* totals over every harvested stage."""
        out: dict[str, float] = {}
        for name in names:
            spans = [(a, b) for n, a, b, _ in self.spans if n == name]
            out[f"{name}_s"] = sum(b - a for a, b in spans)
            out[f"{name}.jobs"] = sum(
                1 for _, s, _ in self.jobs for a, b in spans if a <= s <= b
            )
            out[f"{name}.outside_jobs_s"] = sum(
                (b - a) - self._covered(a, b) for a, b in spans
            )
        out.update(self.counts)
        ran = [s for s in self.stages.values() if s["status"] != "SKIPPED"]
        out["spark.jobs"] = len(self.jobs)
        out["spark.stages"] = len(ran)
        out["spark.tasks"] = sum(s["tasks"] for s in ran)
        for metric, _, _ in _STAGE_SUMS:
            out[metric] = sum(s[metric] for s in ran)
        out["spark.critical_task_s"] = sum(s["max_task_s"] for s in ran)
        top = [(a, b) for _, a, b, d in self.spans if d == 0]
        out["spark.outside_jobs_s"] = sum((b - a) - self._covered(a, b) for a, b in top)
        out["spark.stage_id_gaps"] = self.stage_gaps
        return out

"""Spans around the benchmark's calls into the engine's layers, each with
the Spark jobs, stages and task metrics that ran inside it.

Jobs are attributed by job-id range: a span remembers the scheduler's next
job id when it opens and when it closes, and owns every job in between.
The benchmark runs one op at a time, so the range holds exactly the call's
jobs, including those that the versioned layer submits from its own thread
pools, which job-group tagging would miss. Stage metrics are harvested
after every op, before Spark's retained-jobs limit can drop them. Spans
stay in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager, nullcontext

# StageData accessors harvested per executed stage -> record key. Times
# are ms except executorCpuTime (ns).
_STAGE_FIELDS = (
    ("numTasks", "tasks"), ("executorRunTime", "executor_run_ms"),
    ("executorCpuTime", "executor_cpu_ns"), ("jvmGcTime", "gc_ms"),
    ("inputBytes", "input_bytes"), ("inputRecords", "input_records"),
    ("shuffleReadBytes", "shuffle_read_bytes"), ("shuffleWriteBytes", "shuffle_write_bytes"),
    ("memoryBytesSpilled", "spill_memory_bytes"), ("diskBytesSpilled", "spill_disk_bytes"),
)
COUNTERS = ("jobs", "stages") + tuple(k for _, k in _STAGE_FIELDS)


class Span:
    __slots__ = ("name", "op", "parent", "start", "end", "job_lo", "job_hi", "attrs",
                 "counts", "child_s", "instr_s")

    def __init__(self, name: str, op: int, parent: "Span | None", attrs: dict):
        self.name, self.op, self.parent, self.attrs = name, op, parent, attrs
        self.counts: dict[str, int] = {}
        self.child_s = 0.0  # time covered by child spans
        self.instr_s = 0.0  # tracer bookkeeping inside this span, outside children
        self.start = self.end = 0.0
        self.job_lo = self.job_hi = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3

    @property
    def self_ms(self) -> float:
        return (self.end - self.start - self.child_s - self.instr_s) * 1e3


class NullTracer:
    """Untraced runs: every span is a no-op."""

    enabled = False
    op_overhead_s = 0.0

    def span(self, name: str, **attrs):
        return nullcontext(None)

    def harvest(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._local = threading.local()
        self._op_stack: list[Span] = []
        self._op_id = 0
        self.spans: list[Span] = []
        self._pending: list[Span] = []
        self.harvest_s = 0.0
        self.op_overhead_s = 0.0  # tracer time inside the current op's timed window
        self.overhead_s = 0.0     # the same, summed over every op

    def _next_job(self) -> int:
        n = self._jsc.dagScheduler().nextJobId()
        return n if isinstance(n, int) else n.get()  # py4j unboxes AtomicInteger on some builds

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        stack = self._stack()
        # a callback thread (foreachBatch) has no stack of its own: its
        # spans nest in the innermost span the op's thread has open
        parent = (stack or self._op_stack or [None])[-1]
        s = Span(name, self._op_id, parent, attrs)
        s.job_lo = self._next_job()
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.job_hi = self._next_job()
            stack.pop()
            self.spans.append(s)
            self._pending.append(s)
            if parent is not None:
                parent.child_s += s.end - s.start
                self._charge(parent, (s.start - t_in) + (time.perf_counter() - s.end))

    def _charge(self, span: Span, seconds: float) -> None:
        span.instr_s += seconds
        self.op_overhead_s += seconds
        self.overhead_s += seconds

    @contextmanager
    def bookkeeping(self):
        """Tracer work a workload does inside an op (walking a sink to count
        the files a call wrote): timed and charged to the innermost open
        span as tracer time, which the runner takes off the op's latency."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            span = (self._stack() or self._op_stack or [None])[-1]
            if span is not None:
                self._charge(span, time.perf_counter() - t0)

    @contextmanager
    def op(self, name: str, kind: str):
        """The top span of one benchmark op. Its children's open and close
        and any bookkeeping add up in ``op_overhead_s``."""
        self._op_id += 1
        self._op_stack = self._stack()
        self.op_overhead_s = 0.0
        try:
            with self.span(f"op.{name}", kind=kind) as s:
                yield s
        finally:
            self._op_stack = []

    def harvest(self) -> None:
        """Attach job/stage/task counters to every span closed since the
        last harvest. Runs between ops, outside every span."""
        if not self._pending:
            return
        t0 = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        tracker, store = self._sc.statusTracker(), self._jsc.statusStore()
        stage_cache: dict[int, dict] = {}
        stages_of: dict[int, list[int]] = {}
        for s in self._pending:
            counts = dict.fromkeys(COUNTERS, 0)
            counts["jobs"] = s.job_hi - s.job_lo
            seen: set[int] = set()
            for jid in range(s.job_lo, s.job_hi):
                if jid not in stages_of:
                    info = tracker.getJobInfo(jid)
                    stages_of[jid] = list(info.stageIds) if info else []
                seen.update(stages_of[jid])
            for sid in seen:
                if sid not in stage_cache:
                    stage_cache[sid] = _stage_record(store, sid)
                rec = stage_cache[sid]
                if rec is None:  # skipped: reused an earlier stage's output
                    continue
                counts["stages"] += 1
                for k, v in rec.items():
                    counts[k] += v
            s.counts = counts
        self._pending.clear()
        self.harvest_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "op": s.op,
                    "parent": index.get(id(s.parent)) if s.parent else None,
                    "start_ms": round(s.start * 1e3, 3), "end_ms": round(s.end * 1e3, 3),
                    "self_ms": round(s.self_ms, 3), "jobs": [s.job_lo, s.job_hi],
                    **s.counts, **s.attrs}) + "\n")


def _stage_record(store, sid: int) -> dict | None:
    try:
        sd = store.lastStageAttempt(sid)
    except Exception:  # py4j wraps the JVM's NoSuchElementException
        return None
    if sd.status().toString() == "SKIPPED":
        return None
    return {key: int(getattr(sd, attr)()) for attr, key in _STAGE_FIELDS}

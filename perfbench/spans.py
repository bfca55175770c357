"""Spans and counters for the traced run.

Spans are recorded from the benchmark's side of each layer boundary: the
op, its key-function call, its noop-sink write and the output check (timed
by the runner), plus wrappers installed on engine functions, which record
only while a traced op runs:

- ``tables.SessionMemo.get`` / ``.put``: memo gets and hits, and one build
  span per miss, from the miss to the ``put`` of the same key. The wrapper
  sits on the class, so it sees every memo whatever its module's import
  style.
- ``operators.iterative.connected_components``.

Each traced op also runs under its own Spark job group; after the op its
jobs and stages are read from Spark's status store, and JVM GC time and
PySpark worker CPU are read around it. Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import procfs

_MB = 2**20
ENGINE = "knn_with_mapreduce_cuda_spark"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op: int | None
    end: float | None = None


@dataclass
class OpCounters:
    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    peak_exec_mem_mb: float = 0.0
    job_s: list[float] = field(default_factory=list)
    executor_run_s: float = 0.0
    gc_ms: float = 0.0
    worker_cpu_s: float = 0.0
    tree_cpu_s: float = 0.0
    wall_s: float = 0.0


def self_time(spans: list[Span], idx: int, children: dict[int, list[int]]) -> float:
    """Span duration minus the part of it that its child spans cover."""
    s = spans[idx]
    cover = sorted(
        (max(spans[c].start, s.start), min(spans[c].end, s.end))
        for c in children.get(idx, ())
    )
    covered, reach = 0.0, s.start
    for a, b in cover:
        a = max(a, reach)
        if b > a:
            covered += b - a
            reach = b
    return (s.end - s.start) - covered


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.slots = spark.sparkContext.defaultParallelism
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        #: inside a traced op: the engine wrappers record only then
        self.active = False
        self.ops: dict[int, OpCounters] = {}
        self.memo_gets = 0
        self.memo_hits = 0
        self._pending: dict[tuple, int] = {}
        self._undo: list[tuple[object, str, object]] = []
        self.missing: list[str] = []
        jvm_mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(jvm_mf.getGarbageCollectorMXBeans())
        self._jit_bean = jvm_mf.getCompilationMXBean()
        self._jit0 = self._jit_bean.getTotalCompilationTime()
        self.jit_ms = 0.0

    # ------------------------------------------------------------ spans

    def begin(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.perf_counter(), parent, self.op))
        self.stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        if idx in self.stack:
            self.stack.remove(idx)

    @contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    # ------------------------------------------------------- wrappers

    def _patch(self, module: str, path: str, make) -> None:
        """Wrap ``module.path`` (``path`` may be ``Class.method``). A layer
        function a refactor removed gets a warning and no spans."""
        *owner_path, attr = path.split(".")
        try:
            owner = importlib.import_module(f"{ENGINE}.{module}")
            for name in owner_path:
                owner = getattr(owner, name)
            orig = getattr(owner, attr)
        except (ImportError, AttributeError):
            self.missing.append(f"{module}.{path}")
            print(f"warning: {module}.{path} not found; no spans for it", file=sys.stderr)
            return
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def _spanned(self, name: str):
        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                if not self.active:
                    return orig(*a, **kw)
                with self.span(name):
                    return orig(*a, **kw)

            return wrapper

        return make

    def install(self) -> None:
        tracer = self

        def make_get(orig):
            @functools.wraps(orig)
            def get(memo, spark, key):
                value = orig(memo, spark, key)
                if not tracer.active:
                    return value
                tracer.memo_gets += 1
                if value is not None:
                    tracer.memo_hits += 1
                else:
                    kind = key[1] if len(key) > 2 else "table"
                    tracer._pending[(id(memo), key)] = tracer.begin(f"memo.build.{kind}")
                return value

            return get

        def make_put(orig):
            @functools.wraps(orig)
            def put(memo, spark, key, value):
                orig(memo, spark, key, value)
                idx = tracer._pending.pop((id(memo), key), None)
                if idx is not None:
                    tracer.end(idx)

            return put

        self._patch("tables", "SessionMemo.get", make_get)
        self._patch("tables", "SessionMemo.put", make_put)
        self._patch(
            "operators.iterative",
            "connected_components",
            self._spanned("iterative.connected_components"),
        )

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        self.jit_ms = self._jit_bean.getTotalCompilationTime() - self._jit0

    # ------------------------------------------------------------- ops

    def _gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    @contextmanager
    def op_scope(self, op_id: int, key: str):
        """Span, job group and counters for one op."""
        sc = self.spark.sparkContext
        group = f"bench-op-{op_id}"
        sc.setJobGroup(group, key)
        self.op, self.active = op_id, True
        counters = self.ops[op_id] = OpCounters()
        gc0, w0, c0 = self._gc_ms(), procfs.python_worker_cpu_s(), procfs.tree_cpu_s()
        t0_ms = time.time() * 1e3
        idx = self.begin(f"op.{key}")
        try:
            yield
        finally:
            self.end(idx)
            counters.wall_s = self.spans[idx].end - self.spans[idx].start
            # a memo miss that never reached put (the op raised) leaves its
            # span open: drop it rather than let it parent later spans
            for k, j in list(self._pending.items()):
                if self.spans[j].op == op_id:
                    del self._pending[k]
                    if j in self.stack:
                        self.stack.remove(j)
            self.op, self.active = None, False
            sc.setJobGroup("bench-untimed", "untimed")
            counters.gc_ms = self._gc_ms() - gc0
            counters.worker_cpu_s = procfs.python_worker_cpu_s() - w0
            counters.tree_cpu_s = procfs.tree_cpu_s() - c0
            self._read_spark(group, t0_ms, counters)

    def _read_spark(self, group: str, t0_ms: float, c: OpCounters) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        stages: set[int] = set()
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(job_id)
            c.jobs += 1
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                c.job_s.append(
                    (jd.completionTime().get().getTime() - jd.submissionTime().get().getTime()) / 1e3
                )
            info = sc.statusTracker().getJobInfo(job_id)
            stages.update(info.stageIds if info else ())
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            # a skipped stage reuses the id of one an earlier job ran
            submitted = sd.submissionTime()
            if not submitted.isDefined() or submitted.get().getTime() < t0_ms - 1:
                continue
            c.tasks += sd.numCompleteTasks()
            c.executor_cpu_s += sd.executorCpuTime() / 1e9
            c.executor_run_s += sd.executorRunTime() / 1e3
            c.shuffle_write_mb += sd.shuffleWriteBytes() / _MB
            c.spill_mb += sd.diskBytesSpilled() / _MB
            c.peak_exec_mem_mb = max(c.peak_exec_mem_mb, sd.peakExecutionMemory() / _MB)

    # --------------------------------------------------------- metrics

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name and s.end is not None]

    def unaccounted_share(self) -> float:
        """Share of op time that no child span covers."""
        done = [i for i, s in enumerate(self.spans) if s.end is not None]
        children: dict[int, list[int]] = {}
        for i in done:
            p = self.spans[i].parent
            if p is not None:
                children.setdefault(p, []).append(i)
        ops = [i for i in done if self.spans[i].parent is None and self.spans[i].name.startswith("op.")]
        total = sum(self.spans[i].end - self.spans[i].start for i in ops)
        return sum(self_time(self.spans, i, children) for i in ops) / total if total else 0.0

    def span_share(self, *names: str) -> float:
        """Share of traced op wall time spent in spans named ``names``."""
        wall = sum(c.wall_s for c in self.ops.values())
        return sum(sum(self.durations(n)) for n in names) / wall if wall else 0.0

    def counter_metrics(self) -> dict[str, float]:
        ops = list(self.ops.values())
        n = max(1, len(ops))
        job_s = [t for c in ops for t in c.job_s]
        wall = sum(c.wall_s for c in ops)
        tree_cpu = sum(c.tree_cpu_s for c in ops)
        return {
            "tables.memo_gets": self.memo_gets / n,
            "tables.memo_hit_ratio": self.memo_hits / self.memo_gets if self.memo_gets else 0.0,
            "tables.memo_builds": sum(
                1 for s in self.spans if s.name.startswith("memo.build.") and s.end is not None
            ) / n,
            "spark.jobs_per_op": sum(c.jobs for c in ops) / n,
            "spark.tasks_per_op": sum(c.tasks for c in ops) / n,
            "spark.executor_cpu_s": sum(c.executor_cpu_s for c in ops) / n,
            "spark.exec_busy_share": (
                sum(c.executor_run_s for c in ops) / (wall * self.slots) if wall else 0.0
            ),
            "spark.shuffle_write_mb": sum(c.shuffle_write_mb for c in ops) / n,
            "spark.spill_mb": sum(c.spill_mb for c in ops) / n,
            "spark.peak_exec_mem_mb": max((c.peak_exec_mem_mb for c in ops), default=0.0),
            "spark.job_floor_s": float(np.percentile(job_s, 10)) if job_s else 0.0,
            "jvm.gc_ms_per_op": sum(c.gc_ms for c in ops) / n,
            "jvm.jit_ms": float(self.jit_ms),
            "gemm.python_worker_cpu_s": sum(c.worker_cpu_s for c in ops) / n,
            "gemm.worker_cpu_share": (
                sum(c.worker_cpu_s for c in ops) / tree_cpu if tree_cpu else 0.0
            ),
            "knn.fold_span_share": self.span_share(
                "memo.build.test_topk", "memo.build.knn_self_join"
            ),
            "iterative.components_share": self.span_share("iterative.connected_components"),
        }

"""Outside-in layer tracer for the benchmark runner.

It changes nothing in the program. For a traced run it:

- wraps module attributes (``plans.etl.merge_version``, ...) so each call
  records a span: name, layer, start, end, the op it belongs to, and the
  Spark jobs that ran inside it;
- tags each timed op with its own Spark job group, and when the op ends
  reads per-op totals from Spark's status store (jobs, stages, tasks,
  executor run and CPU time, shuffle, spill, input and output bytes) and
  from the JVM's MX beans (GC and JIT time, heap in use) and codegen
  counters.

Spans and per-op records are kept in memory until the run ends.
Untraced runs use ``NullTracer``, whose hooks cost nothing.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    def restore(self) -> None:
        pass

    @contextlib.contextmanager
    def op(self, name: str):
        yield {}

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        yield


class SparkTracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = spark._jvm
        self._group: str | None = None
        self._patched: list[tuple[object, str, object]] = []
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        #: seconds spent inside the tracer's own bookkeeping
        self.self_s = 0.0

    # ---- JVM probes -------------------------------------------------------

    def _flush(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store holds the jobs that just ran."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _group_jobs(self) -> set[int]:
        if self._group is None:
            return set()
        return set(self.sc.statusTracker().getJobIdsForGroup(self._group))

    def _jvm_counters(self) -> dict:
        mf = self._jvm.java.lang.management.ManagementFactory
        codegen = self._jvm.org.apache.spark.sql.catalyst.expressions.codegen
        metrics = self._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return {
            "gc_ms": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()),
            "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
            "compile_ns": codegen.CodeGenerator.compileTime(),
            "compiles": metrics.METRIC_COMPILATION_TIME().getCount(),
        }

    def _heap_used(self) -> int:
        mf = self._jvm.java.lang.management.ManagementFactory
        return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()

    def _job_totals(self, job_ids) -> dict:
        """Sum stage metrics over the given jobs; skipped stages (shuffle
        output reused from an earlier job) ran nothing and are not
        counted."""
        store = self._jsc.statusStore()
        tot = defaultdict(float)
        seen: set[int] = set()
        tot["jobs"] = len(job_ids)
        for jid in job_ids:
            sids = store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numTasks()
                tot["executor_run_s"] += st.executorRunTime() / 1e3
                tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
                tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                tot["input_bytes"] += st.inputBytes()
                tot["output_bytes"] += st.outputBytes()
        return dict(tot)

    # ---- spans --------------------------------------------------------------

    def install(self, module, attr: str, layer: str, label=None) -> None:
        """Replace ``module.attr`` with a wrapper recording one span per
        call. ``label(args, kwargs)`` names the span (default: attr)."""
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            name = label(args, kwargs) if label else attr
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        t_in = time.perf_counter()
        self._flush()
        before = self._group_jobs()
        t0 = time.perf_counter()
        self.self_s += t0 - t_in
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._flush()
            jobs = self._group_jobs() - before
            self.spans.append(
                {
                    "op": len(self.ops) if self._group else None,
                    "layer": layer,
                    "name": name,
                    "start": t0,
                    "end": t1,
                    "jobs": len(jobs),
                }
            )
            self.self_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def op(self, name: str):
        """One timed op under its own job group. Yields a dict the
        caller may add fields to; the op's totals land in ``self.ops``."""
        t_in = time.perf_counter()
        self._group = f"bench-op-{len(self.ops)}"
        self.sc.setJobGroup(self._group, name)
        c0 = self._jvm_counters()
        self_before = self.self_s
        record: dict = {"name": name, "index": len(self.ops)}
        t0 = time.perf_counter()
        self.self_s += t0 - t_in
        try:
            yield record
        finally:
            t1 = time.perf_counter()
            self._flush()
            c1 = self._jvm_counters()
            record.update(self._job_totals(sorted(self._group_jobs())))
            record.update(
                wall_s=t1 - t0,
                gc_s=(c1["gc_ms"] - c0["gc_ms"]) / 1e3,
                jit_s=(c1["jit_ms"] - c0["jit_ms"]) / 1e3,
                codegen_compile_s=(c1["compile_ns"] - c0["compile_ns"]) / 1e9,
                codegen_compiles=c1["compiles"] - c0["compiles"],
                heap_used_bytes=self._heap_used(),
                persisted_rdds_left=self.sc._jsc.getPersistentRDDs().size(),
            )
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._group = None
            self.self_s += time.perf_counter() - t1
            record["trace_self_s"] = self.self_s - self_before
            self.ops.append(record)

    # ---- folding --------------------------------------------------------------

    def op_spans(self, op_index: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_index]

    @staticmethod
    def covered_s(spans: list[dict]) -> float:
        """Length of the union of the spans' intervals (nested spans
        are counted once)."""
        total, end = 0.0, float("-inf")
        for s in sorted(spans, key=lambda s: s["start"]):
            if s["end"] <= end:
                continue
            total += s["end"] - max(s["start"], end)
            end = s["end"]
        return total

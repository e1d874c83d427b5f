"""Spans recorded from outside the package.

Every call site in the package looks up these names at call time, so
wrapping the module attributes is enough: ``operators.cache.family`` and
``.memo`` (and the builder callables handed to them),
``streaming.pipeline.process_batch`` (called through a lambda that reads
the global) and ``streaming.pipeline.with_retry`` (one call per sink
write). Spans stay in memory as (name, start, end, parent, trace id) and
are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time

from common import metric, nearest_rank


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "trace")

    def __init__(self, sid, name, start, parent, trace):
        self.id = sid
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.trace = trace


def self_times(spans) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover.
    Children may overlap (sink writes run on concurrent threads), so the
    covered part is the union of their intervals."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(s.id, ())):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.sc = None
        self.counts: dict[str, int] = {}
        self.trace_id = None
        self.batch_span = None

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, parent: int | None = None):
        """Context manager recording one span; its parent is ``parent`` or
        the innermost open span of this thread. A no-op when disabled."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, parent)

    @contextlib.contextmanager
    def _span(self, name: str, parent: int | None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1].id
        s = Span(next(self._ids), name, time.perf_counter(), parent, self.trace_id)
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    # -- patching ------------------------------------------------------
    @staticmethod
    def _patch(module, attr, wrapper) -> None:
        setattr(module, attr, wrapper(getattr(module, attr)))

    def install(self, spark) -> None:
        """Wrap the package's layer entry points (once per run)."""
        if not self.enabled or self.sc is not None:
            return
        from kafka_avro_order_processor_eg_4131_spark.operators import cache as C
        from kafka_avro_order_processor_eg_4131_spark.streaming import pipeline as P

        tracer = self
        self.sc = spark.sparkContext

        def cached(kind):
            def wrap(orig):
                def wrapper(spark, name, sf_dir, builder, *a, **kw):
                    built = []

                    def traced_builder():
                        built.append(True)
                        with tracer.span(f"{kind}.build:{name}"):
                            return builder()

                    with tracer.span(f"{kind}:{name}"):
                        out = orig(spark, name, sf_dir, traced_builder, *a, **kw)
                    tracer.count(f"{kind}_builds" if built else f"{kind}_hits")
                    return out

                return wrapper

            return wrap

        self._patch(C, "family", cached("family"))
        self._patch(C, "memo", cached("memo"))

        def wrap_batch(orig):
            def wrapper(batch, batch_id, sinks):
                group = self.sc.getLocalProperty("spark.jobGroup.id")
                before = self._jobs(group)
                tracer.trace_id = f"batch-{batch_id}"
                try:
                    with tracer.span("pipeline.process_batch") as s:
                        tracer.batch_span = s.id
                        return orig(batch, batch_id, sinks)
                finally:
                    jobs = self._jobs(group) - before
                    tracer.count("pipeline.jobs", len(jobs))
                    tracer.count("pipeline.batches_traced")

            return wrapper

        def wrap_retry(orig):
            def wrapper(fn, *a, **kw):
                attempts = []

                def counted():
                    attempts.append(1)
                    return fn()

                with tracer.span("pipeline.sink_write", parent=tracer.batch_span):
                    try:
                        return orig(counted, *a, **kw)
                    finally:
                        tracer.count("retry.calls")
                        tracer.count("retry.retries", len(attempts) - 1)

            return wrapper

        self._patch(P, "process_batch", wrap_batch)
        self._patch(P, "with_retry", wrap_retry)

    # -- Spark counters ------------------------------------------------
    def _jobs(self, group) -> set[int]:
        if group is None:
            return set()
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of one job group, read from the status
        store, which keeps only the newest spark.ui.retainedJobs jobs."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    tasks += sinfo.numTasks
        return len(jobs), stages, tasks

    def codegen_compiles(self) -> int:
        jvm = self.sc._jvm
        m = jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(m.METRIC_COMPILATION_TIME().getCount())

    # -- results -------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def pipeline_metrics(self) -> dict:
        sink = [d * 1000.0 for d in self.durations("pipeline.sink_write")] or [0.0]
        batches = max(1, self.counts.get("pipeline.batches_traced", 0))
        pb = [d * 1000.0 for d in self.durations("pipeline.process_batch")] or [0.0]
        return {
            "pipeline.process_batch_ms_p50": metric(nearest_rank(pb, 0.5), "ms"),
            "pipeline.sink_write_ms_p50": metric(nearest_rank(sink, 0.5), "ms"),
            "pipeline.sink_write_ms_max": metric(max(sink), "ms"),
            "pipeline.jobs_per_batch": metric(
                self.counts.get("pipeline.jobs", 0) / batches, "count"
            ),
            "retry.calls": metric(self.counts.get("retry.calls", 0), "count"),
            "retry.retries": metric(self.counts.get("retry.retries", 0), "count"),
        }

    def cache_metrics(self) -> dict:
        selfs = self_times(self.spans)

        def build_self(kind):
            return sum(
                selfs[s.id] for s in self.spans if s.name.startswith(f"{kind}.build:")
            )

        c = self.counts
        builds, hits = c.get("family_builds", 0), c.get("family_hits", 0)
        return {
            "cache.family_builds": metric(builds, "count"),
            "cache.family_hits": metric(hits, "count"),
            "cache.family_hit_ratio": metric(hits / max(1, builds + hits), "ratio"),
            "cache.family_build_self_s": metric(build_self("family"), "s"),
            "cache.memo_builds": metric(c.get("memo_builds", 0), "count"),
            "cache.memo_hits": metric(c.get("memo_hits", 0), "count"),
            "cache.memo_build_self_s": metric(build_self("memo"), "s"),
        }

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "trace": s.trace,
                        "self_s": selfs[s.id],
                    }
                    for s in self.spans
                ],
                f,
            )

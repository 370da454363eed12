"""Traced runs: spans around each layer's public entry points plus
Spark and Catalyst counters at the same op boundaries.

The tracer measures the program from outside.  It wraps the layer
entry points with timing shims (program code is not edited), tags each
timed op with ``setJobGroup`` and reads Spark's status APIs after the
listener bus drains.  Spans stay in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

# span name -> per-layer metric (mean self time per timed op, in ms)
LAYER_SPANS = {
    "extensions.inject": "extensions.inject_ms",
    "dialect.rewrite": "dialect.rewrite_ms",
    "commands.parse": "commands.parse_ms",
    "datasource.register": "datasource.register_ms",
    "datasource.teardown": "datasource.teardown_ms",
    "functions.register": "functions.register_ms",
    "datasource.analyze": "datasource.analyze_ms",
    "datasource.collect": "datasource.collect_ms",
    "cache.touch": "cache.touch_ms",
    "sources.read_file": "sources.read_file_ms",
    "writers.write": "writers.write_ms",
}
PHASES = ("analysis", "optimization", "planning")
OP_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_cpu_ms",
    "executor_run_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "stage_wall_ms",
    *(f"{phase}_ms" for phase in PHASES),
)


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._frames: list = []
        self.cache_hits = 0
        self.cache_misses = 0
        self.bytes_written = 0
        self.pins = 0

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, owner, attr: str, name: str, after=None):
        orig = getattr(owner, attr)

        def shim(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(args, kwargs, out)
            return out

        setattr(owner, attr, shim)

    def install(self) -> None:
        """Wrap every layer entry point the per-layer metrics name."""
        from dfsql_spark import cache, datasource, extensions
        from dfsql_spark.functions import registry
        from dfsql_spark.sources import writers

        df_cls = type(self.spark.range(1))
        catalog_cls = type(self.spark.catalog)
        self._wrap(extensions, "maybe_add_from_to_query", "extensions.inject")
        self._wrap(datasource, "rewrite", "dialect.rewrite")
        self._wrap(datasource, "try_parse_command", "commands.parse")
        self._wrap(datasource.DataSource, "add_table", "datasource.register")
        def keep_frame(args, kwargs, frame):
            if self._op is not None:
                self._frames.append(frame)

        self._wrap(datasource.DataSource, "_sql", "datasource.analyze", after=keep_frame)
        self._wrap(df_cls, "toPandas", "datasource.collect")
        self._wrap(datasource, "_reduce_output", "datasource.collect")
        self._wrap(catalog_cls, "dropTempView", "datasource.teardown")
        self._wrap(registry.FunctionRegistry, "register", "functions.register")
        cache_table = catalog_cls.cacheTable

        def counted_cache_table(catalog, *args, **kwargs):
            if self._op is not None:
                self.pins += 1
            return cache_table(catalog, *args, **kwargs)

        catalog_cls.cacheTable = counted_cache_table
        self._wrap(datasource, "read_file", "sources.read_file")
        self._wrap(
            writers,
            "write_table",
            "writers.write",
            after=lambda a, k, out: self._add_written(a[1] if len(a) > 1 else k["path"]),
        )

        touch = cache.MemoryCache.touch

        def counted_touch(cache_obj, spark, name):
            hits = cache_obj.hits
            with self.span("cache.touch"):
                touch(cache_obj, spark, name)
            if self._op is None:
                return
            if cache_obj.hits > hits:
                self.cache_hits += 1
            else:
                self.cache_misses += 1

        cache.MemoryCache.touch = counted_touch

    def _add_written(self, path: str) -> None:
        if self._op is not None:
            self.bytes_written += _dir_bytes(path)

    # -- op boundaries -------------------------------------------------
    def begin_op(self, i: int, shape: str) -> None:
        self._op = i
        self._frames = []
        self.sc.setJobGroup(f"perfbench-op{i}", shape)

    def end_op(self, i: int, shape: str, wall_s: float, result=None) -> None:
        """Drain the listener bus, then read this op's jobs, stages,
        tasks, executor counters and Catalyst phase times."""
        self._op = None
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        rec = dict.fromkeys(OP_COUNTERS, 0.0)
        rec.update(op=i, shape=shape, wall_ms=wall_s * 1e3)
        job_ids = tracker.getJobIdsForGroup(f"perfbench-op{i}")
        rec["jobs"] = len(job_ids)
        for job_id in job_ids:
            for stage_id in tracker.getJobInfo(job_id).stageIds:
                sd = store.lastStageAttempt(stage_id)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                rec["stages"] += 1
                rec["tasks"] += sd.numCompleteTasks()
                rec["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                rec["executor_run_ms"] += sd.executorRunTime()
                rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    rec["stage_wall_ms"] += done.get().getTime() - sub.get().getTime()
        frames = list(self._frames)
        if result is not None and hasattr(result, "_jdf"):
            # a noop-forced DataFrame plans inside the write command;
            # re-plan it here, outside the op's wall time, to read the
            # optimization and planning phases of the same plan
            result._jdf.queryExecution().executedPlan()
            frames.append(result)
        for frame in frames:
            phases = frame._jdf.queryExecution().tracker().phases()
            for phase in PHASES:
                if phases.contains(phase):
                    rec[f"{phase}_ms"] += phases.apply(phase).durationMs()
        rec["driver_gap_ms"] = rec["wall_ms"] - rec["stage_wall_ms"]
        self.ops.append(rec)

    # -- summary -------------------------------------------------------
    def pinned_at_end(self) -> int:
        """Cached tables plus persistent RDDs still held by the session."""
        cached = sum(
            1
            for t in self.spark.catalog.listTables()
            if t.isTemporary and self.spark.catalog.isCached(t.name)
        )
        return cached + self.sc._jsc.getPersistentRDDs().size()

    def layer_metrics(self, operators=()) -> dict[str, float]:
        n = max(len(self.ops), 1)
        self_ms: dict[str, float] = defaultdict(float)
        child_s: dict[int, float] = defaultdict(float)
        for rec in self.spans:
            if rec["op"] is not None and rec["parent"] is not None:
                child_s[rec["parent"]] += rec["end"] - rec["start"]
        for idx, rec in enumerate(self.spans):
            if rec["op"] is None:
                continue
            self_ms[rec["name"]] += (rec["end"] - rec["start"] - child_s[idx]) * 1e3
        out = {metric: self_ms[span] / n for span, metric in LAYER_SPANS.items()}
        touches = self.cache_hits + self.cache_misses
        out["cache.pins_per_op"] = self.pins / n
        out["cache.hit_ratio"] = self.cache_hits / touches if touches else 0.0
        out["writers.bytes_written"] = self.bytes_written / n

        def mean(key):
            return sum(op[key] for op in self.ops) / n

        out["spark.jobs_per_op"] = mean("jobs")
        out["spark.stages_per_op"] = mean("stages")
        out["spark.tasks_per_op"] = mean("tasks")
        out["spark.executor_cpu_ms_per_op"] = mean("executor_cpu_ms")
        out["spark.executor_run_ms_per_op"] = mean("executor_run_ms")
        out["spark.shuffle_write_bytes_per_op"] = mean("shuffle_write_bytes")
        out["spark.spill_bytes_per_op"] = mean("spill_bytes")
        for phase in PHASES:
            out[f"catalyst.{phase}_ms"] = mean(f"{phase}_ms")
        out["spark.driver_gap_ms"] = mean("driver_gap_ms")
        for name in operators:
            # wall ms per call of each library operator; 0 where not run
            walls = [op["wall_ms"] for op in self.ops if op["shape"] == name]
            out[f"operators.{name}_ms"] = sum(walls) / len(walls) if walls else 0.0
        return out

    def shape_counts(self) -> dict[str, dict[str, int]]:
        """Exact jobs, stages and tasks per op shape (noise-proof)."""
        counts: dict[str, dict[str, int]] = {}
        for op in self.ops:
            c = counts.setdefault(op["shape"], {"ops": 0, "jobs": 0, "stages": 0, "tasks": 0})
            c["ops"] += 1
            for key in ("jobs", "stages", "tasks"):
                c[key] += int(op[key])
        return dict(sorted(counts.items()))

    def dump(self) -> dict:
        return {"ops": self.ops, "spans": self.spans}

"""Span tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files, around calls into each
layer's public functions; nothing inside the package is instrumented. A
span has a name, start, end and parent. Each span tags the Spark jobs fired
while it is innermost with its own job group (``setJobGroup``), so the
event log of the traced session attributes jobs, tasks, executor run time,
shuffle and spill to exactly one span. Across every span the JIT
(``CompilationMXBean``), Janino codegen (``CodegenMetrics``) and GC
(``GarbageCollectorMXBean``) counters of the driver JVM are diffed.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


class JvmCounters:
    """Cumulative JIT, Janino-codegen and GC time of the driver JVM, in ms."""

    def __init__(self, spark):
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()

    def read(self) -> dict:
        return {
            "jit_ms": float(self._jit.getTotalCompilationTime()),
            "gc_ms": float(sum(g.getCollectionTime() for g in self._gcs)),
            "codegen_n": int(self._codegen.getCount()),
        }

    def codegen_mean_ms(self) -> float:
        """Mean Janino compile time. The histogram counts every compile
        exactly but keeps a sampled reservoir, so codegen time is reported
        as compiles x this mean (approximate)."""
        return float(self._codegen.getSnapshot().getMean())


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    jvm: dict = field(default_factory=dict)  # counter deltas across the span
    spark: dict = field(default_factory=dict)  # attributed from the event log

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and tags jobs; ``attribute`` joins in the event log."""

    def __init__(self, spark, prefix: str = "perfbench"):
        self.spark = spark
        self.prefix = prefix  # of its job group ids: keeps two tracers apart
        self.sc = spark.sparkContext
        self.jvm = JvmCounters(spark)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.codegen_mean_ms = 0.0
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 f"{self.prefix}-{len(self.spans)}", 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        before = self.jvm.read()
        s.start = time.perf_counter() - self._t0
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self._t0
            after = self.jvm.read()
            s.jvm = {k: after[k] - before[k] for k in after}
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str):
        """fn wrapped in a span called ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def jvm_totals(self) -> dict:
        """Whole-JVM counters; call while the session still runs."""
        self.codegen_mean_ms = self.jvm.codegen_mean_ms()
        return {**self.jvm.read(), "codegen_mean_ms": self.codegen_mean_ms}

    def attribute(self, event_log_dir: str) -> None:
        """Fill each span's ``spark`` record from the (stopped) session's
        event log: jobs, tasks, executor run time, shuffle write, spill."""
        per_group = parse_event_log(event_log_dir)
        for s in self.spans:
            s.spark = per_group.get(s.group, empty_spark_record())
            s.jvm["codegen_ms"] = s.jvm["codegen_n"] * self.codegen_mean_ms

    def self_times(self) -> dict[int, float]:
        """Span wall minus the part of it its child spans cover."""
        out = {s.id: s.wall for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.wall
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["wall"] = s.wall
            d["self"] = selfs[s.id]
            rows.append(d)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "spans": rows}, f, indent=1, sort_keys=True)


def empty_spark_record() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0,
            "shuffle_write_b": 0, "spill_b": 0}


def parse_event_log(event_log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor run ms, shuffle bytes
    written and bytes spilled to disk, from every JSON-lines file under the
    directory (Spark 4 writes an ``eventlog_v2_*`` directory of them)."""
    files = sorted(p for p in glob.glob(os.path.join(event_log_dir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def rec(group):
        return out.setdefault(group, empty_spark_record())

    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        rec(group)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                        rec(group)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    r = rec(group)
                    r["tasks"] += 1
                    r["run_ms"] += m.get("Executor Run Time", 0)
                    r["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}) \
                        .get("Shuffle Bytes Written", 0)
                    r["spill_b"] += m.get("Disk Bytes Spilled", 0)
    return out

"""Spans and Spark layer counters for the traced benchmark run.

A span is recorded by the benchmark's own code around each call into a
layer: name, layer, start, end, parent, and an op id. The op id is also
set as the Spark job group, so the jobs, stages and tasks an op
launched can be read back from the status tracker and the status store
(both stay readable with the UI off).

With tracing off every method is a no-op apart from the bare
``perf_counter`` pair, so untraced runs pay nothing for the hooks.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager

_PYTHON_EVAL = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|WindowInPandas|ArrowWindowPython|ArrowAggregatePython)\b"
)
_CATALYST_PHASES = ("analysis", "optimization", "planning")


def median(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else 0.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.ops: list[str] = []
        self.catalyst: dict[str, list[float]] = {p: [] for p in _CATALYST_PHASES}
        self.python_eval_nodes: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        if op is not None:
            self.ops.append(op)
            sc.setJobGroup(op, name)
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "layer": layer, "op": op, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if op is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def plan(self, df) -> None:
        """Force the DataFrame's own physical plan and record Catalyst's
        phase times and the Python-evaluation nodes it holds.

        The timed ``noop`` write plans in a QueryExecution of its own,
        so without this call the DataFrame's tracker only ever shows
        ``analysis``. Traced runs only: it repeats planning work.
        """
        if not self.enabled:
            return
        with self.span("catalyst.plan", "catalyst"):
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            phases = qe.tracker().phases()
        for p in _CATALYST_PHASES:
            if phases.contains(p):
                self.catalyst[p].append(float(phases.apply(p).durationMs()))
        self.python_eval_nodes.append(len(_PYTHON_EVAL.findall(plan)))

    def clear_plans(self) -> None:
        """Forget the plans recorded so far (those of set-up)."""
        self.catalyst = {p: [] for p in _CATALYST_PHASES}
        self.python_eval_nodes = []

    def scheduler_and_exec(self, ops: list[str] | None = None) -> dict[str, float]:
        """Jobs, stages and tasks per op, plus executor totals over the
        stages those ops launched."""
        ops = self.ops if ops is None else ops
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = stages = tasks = 0
        ex = {"run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "sr": 0, "sw": 0, "in": 0}
        for op in ops:
            for j in st.getJobIdsForGroup(op):
                info = st.getJobInfo(j)
                if info is None:
                    continue
                jobs += 1
                for s in list(info.stageIds):
                    si = st.getStageInfo(s)
                    if si is None or si.numTasks == 0 or si.numCompletedTasks == 0:
                        continue  # skipped stage: its output was reused
                    stages += 1
                    tasks += si.numTasks
                    sd = store.lastStageAttempt(s)
                    ex["run_ms"] += sd.executorRunTime()
                    ex["cpu_ns"] += sd.executorCpuTime()
                    ex["gc_ms"] += sd.jvmGcTime()
                    ex["sr"] += sd.shuffleReadBytes()
                    ex["sw"] += sd.shuffleWriteBytes()
                    ex["in"] += sd.inputRecords()
        n = max(len(ops), 1)
        return {
            "scheduler.jobs_per_op": jobs / n,
            "scheduler.stages_per_op": stages / n,
            "scheduler.tasks_per_op": tasks / n,
            "exec.executor_run_s": ex["run_ms"] / 1e3,
            "exec.executor_cpu_s": ex["cpu_ns"] / 1e9,
            "exec.gc_s": ex["gc_ms"] / 1e3,
            "exec.shuffle_read_bytes": float(ex["sr"]),
            "exec.shuffle_write_bytes": float(ex["sw"]),
            "exec.input_records": float(ex["in"]),
        }

    def catalyst_metrics(self) -> dict[str, float]:
        """Median Catalyst phase times per planned op, and the mean
        number of Python-evaluation nodes in an op's executed plan."""
        n = self.python_eval_nodes
        return {
            f"catalyst.{p}_ms": median(v) for p, v in self.catalyst.items()
        } | {"exec.python_eval_nodes": sum(n) / len(n) if n else 0.0}

    def self_times(self) -> dict[str, dict[str, float]]:
        """Self time per root span and layer: a span's duration minus
        the part of it its children cover. Children never overlap (one
        client thread), so the layers' self times of a root add up to
        the root's duration."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        table: dict[str, dict[str, float]] = {}

        def root_of(i: int) -> int:
            while self.spans[i]["parent"] is not None:
                i = self.spans[i]["parent"]
            return i

        for i, s in enumerate(self.spans):
            root = self.spans[root_of(i)]["name"]
            row = table.setdefault(root, {})
            own = (s["end"] - s["start"]) - child[i]
            row[s["layer"]] = row.get(s["layer"], 0.0) + own
        return table

    def write(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"self_time_s": self.self_times(), "spans": spans} | extra, f, indent=1)

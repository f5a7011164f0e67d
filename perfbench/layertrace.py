"""Per-layer tracing from outside the program.

Three views of one workload, all taken by the benchmark around calls into
the package's public functions; nothing inside the package changes:

* spans -- every call into a traced layer function is wrapped: name,
  start, end and parent (the enclosing traced call).  Most layer functions
  only build a lazy plan, so their spans are construction time plus any
  jobs the function fires while building (size gates, eager writes).
* cuts -- each traced call's input and output DataFrames are kept, and
  after the passes a layer's output is materialized alone with the session
  cache cleared (``timed_cut``).  A layer's self time is its cut minus the
  cut of what it consumed.
* Spark's status store -- jobs are tagged with ``setJobGroup`` and their
  stages read back from ``statusStore()`` (works with the UI disabled):
  core seconds, CPU seconds, shuffle write, spill, peak execution memory
  and max/median task time.  The executed plan's nodes are counted too.
"""

from __future__ import annotations

import functools
import importlib
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Call:
    layer: str
    fn: str
    input: DataFrame | None
    output: DataFrame


@dataclass
class Tracer:
    """While entered, wraps every function named in ``layers`` =
    {layer: ["package.module:function", ...]}: each call records a span and,
    when it returns a DataFrame, the call's first DataFrame argument and its
    result.  Everything stays in memory until the run ends."""

    layers: dict[str, list[str]]
    t0: float
    spans: list[Span] = field(default_factory=list)
    calls: list[Call] = field(default_factory=list)
    report: dict = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _saved: list[tuple[object, str, object]] = field(default_factory=list)

    def __enter__(self) -> "Tracer":
        for layer, targets in self.layers.items():
            for target in targets:
                mod_name, fn_name = target.split(":")
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, fn_name)
                self._saved.append((mod, fn_name, orig))
                setattr(mod, fn_name, self._wrap(layer, fn_name, orig))
        return self

    def __exit__(self, *exc) -> None:
        for mod, fn_name, orig in reversed(self._saved):
            setattr(mod, fn_name, orig)
        self._saved.clear()

    def _wrap(self, layer: str, fn_name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = Span(
                f"{layer}:{fn_name}",
                layer,
                time.perf_counter() - self.t0,
                parent=self._stack[-1] if self._stack else None,
            )
            self.spans.append(span)
            self._stack.append(len(self.spans) - 1)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._stack.pop()
                span.end = time.perf_counter() - self.t0
            if isinstance(out, DataFrame):
                arg = next(
                    (a for a in (*args, *kwargs.values()) if isinstance(a, DataFrame)),
                    None,
                )
                self.calls.append(Call(layer, fn_name, arg, out))
            return out

        return traced

    def last_call(self, layer: str, fn: str | None = None) -> Call:
        return next(
            c for c in reversed(self.calls)
            if c.layer == layer and (fn is None or c.fn == fn)
        )

    def span_json(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "parent": s.parent,
            }
            for s in self.spans
        ]

    def span_self_s(self) -> dict[str, float]:
        """Per layer: total span time minus the time of traced children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out = {layer: 0.0 for layer in self.layers}
        for i, s in enumerate(self.spans):
            out[s.layer] += s.end - s.start - child[i]
        return out

    def span_counts(self) -> dict[str, int]:
        out = {layer: 0 for layer in self.layers}
        for s in self.spans:
            out[s.layer] += 1
        return out


def timed_cut(df: DataFrame) -> tuple[float, int, DataFrame]:
    """(seconds, rows, executed frame) of one cleared-cache materialization
    of ``df``.  A hash over all columns keeps Catalyst from pruning any of
    them (a bare count() prunes UDFs and windows away)."""
    df.sparkSession.catalog.clearCache()
    agg = df.select(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")
    )
    t = time.perf_counter()
    row = agg.collect()[0]
    return time.perf_counter() - t, int(row["n"]), agg


# ---------------------------------------------------------------------------
# status store
# ---------------------------------------------------------------------------


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def stage_metrics(spark, group: str) -> dict[str, float]:
    """Sum of the stage metrics of every job in ``group`` (last attempt of
    each stage), plus max/median task time of the stage that ran longest."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {
        "jobs": 0,
        "stages": 0,
        "core_s": 0.0,
        "cpu_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "peak_exec_mem_bytes": 0,
        "task_skew": 1.0,
    }
    heaviest = (-1, None)
    seen = set()
    for job in _seq(store.jobsList(None)):
        g = job.jobGroup()
        if not (g.isDefined() and g.get() == group):
            continue
        out["jobs"] += 1
        for sid in _seq(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never attempted
                continue
            out["stages"] += 1
            run_ms = st.executorRunTime()
            out["core_s"] += run_ms / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["peak_exec_mem_bytes"] = max(
                out["peak_exec_mem_bytes"], st.peakExecutionMemory()
            )
            if run_ms > heaviest[0]:
                heaviest = (run_ms, st)
    st = heaviest[1]
    if st is not None and st.numTasks() > 1:
        gw = spark.sparkContext._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        summary = store.taskSummary(st.stageId(), st.attemptId(), quantiles)
        if summary.isDefined():
            q = summary.get().executorRunTime()
            median, top = q.apply(0), q.apply(1)
            out["task_skew"] = top / median if median > 0 else 1.0
    return out


# ---------------------------------------------------------------------------
# executed plan
# ---------------------------------------------------------------------------

_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?([A-Za-z]+)")


def plan_nodes(df: DataFrame) -> dict[str, int]:
    """Node-name counts of the executed plan (the final adaptive plan when
    the query has run)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==")[0]
    counts: dict[str, int] = {}
    for line in text.splitlines():
        m = _NODE.match(line)
        if m:
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    return counts


def python_rows(df: DataFrame) -> int:
    """Rows the scalar Arrow UDF nodes of the executed plan were evaluated
    on (for the LSH operators: the candidate pairs sent to exact verify)."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("ArrowEvalPython"):
            metrics = node.metrics()
            if metrics.contains("pythonNumRowsReceived"):
                total += metrics.apply("pythonNumRowsReceived").value()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        stack.extend(_seq(node.children()))
    return total

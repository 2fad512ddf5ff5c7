"""Span tracing for the traced benchmark run, recorded from outside the
program.

`install_kgspark` replaces public functions of kgspark modules with
wrappers that open a span around each call. A span records its name,
start, end, parent and run id, and runs its Spark jobs under a job group
of its own, so the status store can attribute jobs, executor CPU,
shuffle and spill to it.

A wrapped function that returns a lazy DataFrame has its result
persisted and forced inside its own span. The lazy work then lands in
the layer that defines it instead of in whichever later span runs an
action. The forced plan's SQL metrics give the Python-worker time, boot
and init time, and Arrow bytes each way.

Spans stay in memory; `Tracer.dump` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import DataFrame

MB = 1024.0 * 1024.0

# SQL metrics of the Python exec nodes (ArrowEvalPython, MapInPandas, ...):
# metric name in the plan -> (per-layer metric, scale to the output unit)
_PY_METRICS = {
    "pythonTotalTime": ("python_s", 1e-3),
    "pythonBootTime": ("python_boot_s", 1e-3),
    "pythonInitTime": ("python_init_s", 1e-3),
    "pythonDataSent": ("arrow_sent_mb", 1 / MB),
    "pythonDataReceived": ("arrow_recv_mb", 1 / MB),
}


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    group: str
    end: float = 0.0
    metrics: dict = field(default_factory=lambda: defaultdict(float))

    @property
    def wall(self) -> float:
        return self.end - self.start


def _jiter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def plan_python_metrics(plan) -> dict[str, float]:
    """Sum the Python-node SQL metrics of an executed plan. The walk
    enters the cached plan of the first in-memory scan it meets (the
    frame the span forced) but not caches nested below it, which belong
    to the spans that forced them."""
    out: dict[str, float] = defaultdict(float)
    stack = [(plan, True)]
    while stack:
        node, enter = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append((node.executedPlan(), enter))
            continue
        if cls.endswith("QueryStageExec"):
            stack.append((node.plan(), enter))
            continue
        if cls == "InMemoryTableScanExec":
            if enter:
                stack.append((node.relation().cachedPlan(), False))
            continue
        metrics = node.metrics()
        for src, (dst, scale) in _PY_METRICS.items():
            m = metrics.get(src)
            if m.isDefined():
                out[dst] += m.get().value() * scale
        stack.extend((c, enter) for c in _jiter(node.children()))
    return out


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._persisted: list[DataFrame] = []

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        sp = Span(name, time.perf_counter(),
                  self._stack[-1] if self._stack else None,
                  self.run_id, f"{self.run_id}/{idx}")
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]] if self._stack else None)

    @staticmethod
    def _set_group(sp: Span | None) -> None:
        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(sp.group, sp.name)

    # -- wrapping ----------------------------------------------------------
    def wrap(self, owner, attr: str, name, pre=None, post=None) -> None:
        """Replace `owner.attr` by a traced wrapper. `name` is the span
        name or a function of the call's (args, kwargs); `pre(kwargs)`
        may add arguments and `post(span, args, kwargs, result)` records
        extra metrics after the call."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            if pre is not None:
                pre(kwargs)
            with tracer.span(label) as sp:
                result = orig(*args, **kwargs)
                tracer.force(sp, result)
                if post is not None:
                    post(sp, args, kwargs, result)
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def force(self, sp: Span, result) -> None:
        frames = (
            [result] if isinstance(result, DataFrame)
            else [v for v in result.values() if isinstance(v, DataFrame)]
            if isinstance(result, dict) else []
        )
        for df in frames:
            if df.is_cached:  # forced by the span that persisted it
                continue
            df.persist()
            self._persisted.append(df)
            counted = df.groupBy().count()
            sp.metrics["rows_out"] += counted.collect()[0][0]
            plan = counted._jdf.queryExecution().executedPlan()
            for k, v in plan_python_metrics(plan).items():
                sp.metrics[k] += v

    def release(self) -> None:
        """Unpersist the frames forced so far (call at the end of an op)."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- results -----------------------------------------------------------
    def collect_job_metrics(self, sc: SparkContext) -> None:
        """Attribute jobs, executor CPU, shuffle write and spill from the
        status store to each span's own job group."""
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for sp in self.spans:
            stage_ids: set[int] = set()
            jobs = tracker.getJobIdsForGroup(sp.group)
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            sp.metrics["jobs"] += len(jobs)
            for sid in stage_ids:
                sd = store.lastStageAttempt(sid)
                sp.metrics["jvm_cpu_s"] += sd.executorCpuTime() * 1e-9
                sp.metrics["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                sp.metrics["spill_mb"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                ) / MB

    def self_times(self) -> list[float]:
        """Span duration minus the time its child spans cover (children
        run one at a time inside their parent)."""
        covered = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                covered[sp.parent] += sp.wall
        return [sp.wall - c for sp, c in zip(self.spans, covered)]

    def layer_metrics(self) -> dict[str, float]:
        """Per span name, summed over calls: wall_s and every recorded
        metric inclusive of the span's subtree, and self_s."""
        incl = [defaultdict(float, sp.metrics) for sp in self.spans]
        for i in range(len(self.spans) - 1, -1, -1):
            parent = self.spans[i].parent
            if parent is not None:
                for k, v in incl[i].items():
                    incl[parent][k] += v
        out: dict[str, float] = defaultdict(float)
        for sp, own, self_s in zip(self.spans, incl, self.self_times()):
            out[f"{sp.name}.wall_s"] += sp.wall
            out[f"{sp.name}.self_s"] += self_s
            out[f"{sp.name}.calls"] += 1
            for k, v in own.items():
                out[f"{sp.name}.{k}"] += v
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([
                {**vars(sp), "self_s": self_s, "metrics": dict(sp.metrics)}
                for sp, self_s in zip(self.spans, self.self_times())
            ], f)


def install_kgspark(tracer: Tracer) -> None:
    """Wrap the public functions of pipeline, stages, linking, cc, query,
    io and session. textops runs inside Python workers, where a driver
    wrapper cannot reach it; the benchmark times it in one process
    instead (the kernel floor)."""
    import inspect  # noqa: PLC0415

    from kgspark import cc, io, linking, pipeline, query, session, stages  # noqa: PLC0415

    for mod in (stages, linking, query, cc, session):
        short = mod.__name__.rsplit(".", 1)[1]
        for attr, fn in vars(mod).copy().items():
            if (inspect.isfunction(fn) and not attr.startswith("_")
                    and fn.__module__ == mod.__name__):
                hooks = (
                    {"pre": _cc_stats_arg, "post": _cc_stats}
                    if fn is cc.connected_components else {}
                )
                tracer.wrap(mod, attr, f"{short}.{attr}", **hooks)
    # pipeline imports build_inverted_index by name
    tracer.wrap(pipeline, "build_inverted_index", "query.build_inverted_index")
    tracer.wrap(pipeline, "build_kg_frames", "pipeline.build_kg_frames")
    tracer.wrap(pipeline.Pipeline, "run", "pipeline.run")
    tracer.wrap(io.TableIO, "commit", _commit_name, post=_commit_bytes)
    tracer.wrap(io.TableIO, "read_accumulated", "io.read_accumulated")


def _cc_stats_arg(kwargs) -> None:
    # connected_components reports its rounds through a `stats` argument
    kwargs.setdefault("stats", {})


def _cc_stats(sp, args, kwargs, result) -> None:
    stats = kwargs["stats"]
    sp.metrics["rounds"] += stats.get("rounds", 0)
    sp.metrics["jump_broadcast_rounds"] += stats.get("jump_broadcast_rounds", 0)


def _commit_name(args, kwargs) -> str:
    table = args[1] if len(args) > 1 else kwargs["table"]
    return f"io.commit.{table}"


def _commit_bytes(sp, args, kwargs, snap_id) -> None:
    self = args[0]
    table = args[1] if len(args) > 1 else kwargs["table"]
    root = os.path.join(self.warehouse, table, snap_id)
    size = 0
    for dirpath, _, files in os.walk(root):
        size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    sp.metrics["bytes_mb"] += size / MB

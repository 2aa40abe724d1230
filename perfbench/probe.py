"""Measurement from outside the engine: spans with Spark job-group
counters, wrappers that count calls into engine functions, the
streaming progress listener, and peak resident memory.

Nothing here changes what the engine computes. Every wrapper is
installed only for a traced run (``--trace 1``); an untraced run calls
the engine exactly as a user would.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import time

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "cpu_s", "run_s",
    "shuffle_read_mb", "shuffle_write_mb", "input_mb", "spill_mb",
)
_MB = 1024.0 * 1024.0


def next_job_id(sc) -> int:
    """Id the scheduler gives the next job; ids are sequential."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def job_counters(sc, job_ids) -> dict:
    """Summed stage counters of the given jobs from Spark's status store
    (skipped stages, reused from an earlier job, are not counted)."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    c = {k: 0.0 if k.endswith(("_s", "_mb")) else 0 for k in COUNTERS}
    seen = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        c["jobs"] += 1
        for s in info.stageIds:
            if s in seen:
                continue
            seen.add(s)
            sd = store.lastStageAttempt(s)
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks()
            c["failed_tasks"] += sd.numFailedTasks()
            c["cpu_s"] += sd.executorCpuTime() / 1e9
            c["run_s"] += sd.executorRunTime() / 1e3
            c["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
            c["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            c["input_mb"] += sd.inputBytes() / _MB
            c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
    return c


class Tracer:
    """Spans around calls into the engine. Each span runs under its own
    Spark job group, so the jobs a span starts (and not those of its
    child spans) are its own; at the span's end the group's stage
    counters are read from the status store. Spans stay in memory until
    the run ends. When disabled, ``span`` is a bare context manager."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.timers: dict[str, list[float]] = {}  # name -> [calls, seconds]
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans) + 1,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{len(self.spans) + 1}",
            "child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent["child_s"] += rec["end"] - rec["start"]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            # the status store is filled from the listener bus; read it
            # only once every job, stage and task event has arrived
            drain_listeners(self.sc)
            rec["counters"] = job_counters(
                self.sc, self.sc.statusTracker().getJobIdsForGroup(rec["group"])
            )
            self.overhead_s += time.perf_counter() - rec["end"]

    def timed(self, name: str, fn):
        """Wrap ``fn`` to count its calls and their wall time (no job
        group: for cheap, frequent calls such as table loads)."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                acc = self.timers.setdefault(name, [0, 0.0])
                acc[0] += 1
                acc[1] += time.perf_counter() - t0

        return wrapper

    def spanned(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def layers(self) -> dict[str, dict]:
        """Per span name: summed self time and self counters."""
        out: dict[str, dict] = {}
        for rec in self.spans:
            if "counters" not in rec:
                continue
            agg = out.setdefault(rec["name"], {"s": 0.0, "calls": 0, **dict.fromkeys(COUNTERS, 0)})
            agg["s"] += rec["end"] - rec["start"] - rec["child_s"]
            agg["calls"] += 1
            for k, v in rec["counters"].items():
                agg[k] += v
        return out


def replace_everywhere(module_name: str, attr: str, make_wrapper) -> None:
    """Replace function ``module.attr`` in its module and in every loaded
    engine module that imported it by name, so calls made inside the
    engine reach the wrapper too."""
    mod = sys.modules[module_name]
    orig = getattr(mod, attr)
    wrapped = make_wrapper(orig)
    for m in list(sys.modules.values()):
        name = getattr(m, "__name__", "") or ""
        if (name == "eventstreamml_spark" or name.startswith("eventstreamml_spark.")) and getattr(
            m, attr, None
        ) is orig:
            setattr(m, attr, wrapped)


def install_wrappers(tracer: Tracer) -> None:
    """Span or count the engine calls the per-layer metrics name."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from eventstreamml_spark.preprocessing import categorical, pipeline

    pipeline.NumericPreprocessor.fit = tracer.spanned(
        "preprocessing.pipeline", pipeline.NumericPreprocessor.fit
    )
    categorical.CategoricalPreprocessor.fit = tracer.spanned(
        "preprocessing.categorical", categorical.CategoricalPreprocessor.fit
    )
    replace_everywhere(
        "eventstreamml_spark.vocabulary", "build_vocabulary",
        lambda f: tracer.spanned("vocabulary", f),
    )
    replace_everywhere(
        "eventstreamml_spark.sources.testdata", "load_table",
        lambda f: tracer.timed("sources.testdata.load", f),
    )
    # every pin in the engine is a DataFrame.localCheckpoint call
    ClassicDataFrame.localCheckpoint = tracer.timed(
        "spark.pin", ClassicDataFrame.localCheckpoint
    )


def streaming_listener(spark):
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.events = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.events.append(
                (
                    dict(p.durationMs),
                    sum(s.numRowsTotal for s in p.stateOperators),
                    sum(s.memoryUsedBytes for s in p.stateOperators),
                )
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener


def drain_listeners(sc, timeout_ms: int = 30_000) -> None:
    """Wait until the listener bus has delivered every posted event."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from the parent ids in /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants (the
    JVM and Spark's Python workers)."""
    me = os.getpid()
    return sum(_vm_hwm_kb(p) for p in [me, *descendants(me)]) / 1024.0

"""Span recorder, engine counters and process counters for traced runs.

Spans are recorded from the benchmark's side: :func:`instrument`
replaces the public functions of the program's layer modules with
wrappers that open a span around each call. It must run before
``registry._load_all()``, because the query modules bind those names
when they are imported. Spans stay in memory; the run writes them out
when it ends.

Engine counters come from Spark's status store, read right after each
query (the store keeps only the last 1000 stages and jobs). Process
counters come from ``/proc`` and the JVM's garbage collector beans.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import resource
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass

PACKAGE = "fts_analysis_datalake_spark"
LAYER_MODULES = ("catalog", "caching", "probe")
LAYER_PACKAGES = ("operators", "sources", "streaming")

# Per-layer metrics of one traced pass. ``<layer>.s`` is the self time
# of every wrapped function in that module; ``<function>.s`` of one.
# Every layer module is wrapped and shows in the span dump; the metrics
# keep the layers that the timed queries of dedup_graph or ingest_stream
# reach at sf0.1.
LAYER_SELF_TIME = (
    "operators.dedup", "operators.similarity", "operators.graphs", "operators.text",
    "operators.udfs", "operators.multimodal",
    "sources.pydatasource", "sources.ingest", "streaming.transforms",
)
FUNCTION_SELF_TIME = ("catalog.load_table",)
CALL_COUNTS = ("catalog.load_table.calls", "caching.tracked_persist.calls", "probe.gate.kernel")
ENGINE = (
    "spark.jobs", "spark.stages", "spark.idle_s", "spark.tasks",
    "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.input_mb", "spark.output_mb", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
)
PROC = ("proc.driver_py_cpu_s", "proc.jvm_cpu_s", "proc.jvm_gc_s", "proc.pyworker_cpu_s")
LAYER_METRICS = (
    ("query.build_s", "query.execute_s", "query.release_s")
    + tuple(f"{n}.s" for n in LAYER_SELF_TIME + FUNCTION_SELF_TIME)
    + CALL_COUNTS + ENGINE + PROC
)
# Per-query counts that must read the same in every traced pass of a run.
GATE_COUNTS = ("probe.gate.kernel", "probe.gate.distributed")
MUST_REPEAT = ("spark.output_mb", "spark.jobs") + GATE_COUNTS


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    return "count"


@dataclass
class Span:
    sid: int
    parent: int | None
    qid: int
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """In-memory spans; a per-thread stack supplies each span's parent.
    Recording is off until ``enabled`` is set, so the same wrapped
    process can run untraced passes for the overhead comparison."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.counters: Counter[str] = Counter()
        self.qid = -1
        self.queries: list[str] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span:
        st = self._stack()
        with self._lock:
            s = Span(len(self.spans), st[-1].sid if st else None, self.qid, name, time.perf_counter())
            self.spans.append(s)
        st.append(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is s:
            st.pop()

    def begin_query(self, label: str) -> None:
        """Spans opened from now on share the id of query ``label``."""
        self.queries.append(label)
        self.qid = len(self.queries) - 1

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counters[name] += n

    def wrap(self, name: str, fn):
        if inspect.isgeneratorfunction(getattr(fn, "__wrapped__", None)):
            return self._wrap_context_manager(name, fn)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            s = tracer.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.close(s)
            tracer.count(f"{name}.calls")
            if name == "probe.gate":
                tracer.count("probe.gate.kernel" if result else "probe.gate.distributed")
            return result

        return traced

    def _wrap_context_manager(self, name: str, fn):
        """``@contextmanager`` functions: the span covers the with-block,
        not the call that builds the manager."""
        tracer = self

        class _Traced:
            def __init__(self, cm) -> None:
                self.cm = cm
                self.span: Span | None = None

            def __enter__(self):
                if tracer.enabled:
                    self.span = tracer.open(name)
                return self.cm.__enter__()

            def __exit__(self, *exc):
                try:
                    return self.cm.__exit__(*exc)
                finally:
                    if self.span is not None:
                        tracer.close(self.span)
                        tracer.count(f"{name}.calls")

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return _Traced(fn(*args, **kwargs))

        return traced

    def self_times(self, first: int = 0) -> dict[str, float]:
        """Self time summed per span name over ``spans[first:]``: each
        span's duration minus the time its child spans cover."""
        spans = self.spans[first:]
        child = Counter()
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: Counter[str] = Counter()
        for s in spans:
            out[s.name] += max(0.0, (s.end - s.start) - child[s.sid])
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "parent": s.parent, "query_id": s.qid,
                    "query": self.queries[s.qid] if s.qid >= 0 else None,
                    "name": s.name, "start": s.start, "end": s.end,
                }) + "\n")


def span_totals(tracer: Tracer, first: int) -> dict[str, float]:
    """Self times and call counts of the spans from ``first`` on."""
    selfs = tracer.self_times(first)
    out = {f"{n}.s": sum(v for k, v in selfs.items() if k.startswith(n + ".")) for n in LAYER_SELF_TIME}
    out.update({f"{n}.s": selfs.get(n, 0.0) for n in FUNCTION_SELF_TIME})
    out.update({n: float(tracer.counters.get(n, 0)) for n in CALL_COUNTS})
    return out


def _layer_modules():
    mods = [importlib.import_module(f"{PACKAGE}.{m}") for m in LAYER_MODULES]
    for sub in LAYER_PACKAGES:
        sp = importlib.import_module(f"{PACKAGE}.{sub}")
        for info in pkgutil.iter_modules(sp.__path__):
            mods.append(importlib.import_module(f"{PACKAGE}.{sub}.{info.name}"))
    return mods


def instrument(tracer: Tracer) -> None:
    """Wrap every public function defined in the layer modules and
    rebind each already-imported alias of it inside the package."""
    mods = _layer_modules()
    wrapped: dict[int, object] = {}
    for mod in mods:
        layer = mod.__name__[len(PACKAGE) + 1:]
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or not inspect.isfunction(obj) or obj.__module__ != mod.__name__:
                continue
            w = tracer.wrap(f"{layer}.{name}", obj)
            wrapped[id(obj)] = w
            setattr(mod, name, w)
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == PACKAGE or mname.startswith(f"{PACKAGE}.")):
            continue
        for name, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None and obj is not w:
                setattr(mod, name, w)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


class EngineCounters:
    """Per-query job and stage totals from the driver's status store.
    Jobs and stages are attributed by id range (everything newer than
    the previous read), which also catches the micro-batch jobs that
    Structured Streaming runs under its own job group."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.last_job = -1
        self.last_stage = -1
        self.mark()

    def mark(self) -> None:
        """Move the watermark past every job and stage so far, so work
        done outside traced queries is not attributed to the next one."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)
        if jobs.size():
            self.last_job = max(self.last_job, jobs.apply(0).jobId())
        stages = store.stageList(None, False, False, self._no_quantiles, None)
        if stages.size():
            self.last_stage = max(self.last_stage, stages.apply(0).stageId())

    def read(self, t0_ms: float, t1_ms: float) -> dict[str, float]:
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)
        intervals = []
        n_jobs = 0
        newest_job = self.last_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                break
            newest_job = max(newest_job, jid)
            n_jobs += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1_ms
                intervals.append((sub.get().getTime(), end))
        self.last_job = newest_job

        c = Counter()
        stages = store.stageList(None, False, False, self._no_quantiles, None)
        newest_stage = self.last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self.last_stage:
                break
            newest_stage = max(newest_stage, sid)
            if s.status().toString() == "SKIPPED":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += s.numCompleteTasks()
            c["spark.executor_run_s"] += s.executorRunTime() / 1e3
            c["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["spark.input_mb"] += s.inputBytes() / 2**20
            c["spark.output_mb"] += s.outputBytes() / 2**20
            c["spark.shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            c["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
        self.last_stage = newest_stage
        c["spark.jobs"] = n_jobs
        c["spark.idle_s"] = max(0.0, (t1_ms - t0_ms) - _covered(intervals, t0_ms, t1_ms)) / 1e3
        return dict(c)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from 'state' on


def jvm_pid(spark) -> int:
    """The driver JVM: spark-submit execs java in the gateway process."""
    return spark.sparkContext._gateway.proc.pid


def _parents() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                out[int(d)] = int(st[1])
    return out


class ProcCounters:
    """CPU seconds of the Python driver, the JVM, and the processes the
    JVM started (Python workers, data-source runners) including the
    ones that already exited and were reaped; and the JVM's total
    collection time. That includes the collection the release between
    queries forces, which is where most of a query's garbage is
    collected: the benchmark's heap is large enough that the engine
    rarely collects inside a task."""

    def __init__(self, spark) -> None:
        self.jvm = jvm_pid(spark)
        self._gc_beans = list(
            spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    def sample(self) -> dict[str, float]:
        st = _stat(self.jvm)
        jvm_self = (int(st[11]) + int(st[12])) / _TICK if st else 0.0
        workers = (int(st[13]) + int(st[14])) / _TICK if st else 0.0
        parents = _parents()
        kids: dict[int, list[int]] = {}
        for p, pp in parents.items():
            kids.setdefault(pp, []).append(p)
        todo = list(kids.get(self.jvm, []))
        while todo:
            p = todo.pop()
            todo.extend(kids.get(p, []))
            ws = _stat(p)
            if ws is not None:
                workers += sum(int(x) for x in ws[11:15]) / _TICK
        return {
            "proc.driver_py_cpu_s": time.process_time(),
            "proc.jvm_cpu_s": jvm_self,
            "proc.jvm_gc_s": sum(b.getCollectionTime() for b in self._gc_beans) / 1e3,
            "proc.pyworker_cpu_s": workers,
        }


def peak_rss_mb(jvm: int) -> float:
    """Peak resident memory of this Python driver plus its JVM (sum of
    each process's own high-water mark)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        with open(f"/proc/{jvm}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return (py_kb + jvm_kb) / 1024.0

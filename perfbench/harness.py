"""Process environment, Spark session and the query loop.

The input is the sf0.1 fixture under ``perfbench/data/sf0.1``, a
byte-identical copy of the repo's sf0.1 test data whose sha256 sums
``data/SHA256SUMS`` records. Everything the benchmark writes lands under
the checkout: ``perfbench/.work/<pid>`` holds this process's Spark local
dirs, temp files, warehouse and the ingest queries' file cache, and is
deleted when the run ends.
"""

from __future__ import annotations

import gc
import hashlib
import os
import shutil
import subprocess
import tempfile
import time
from dataclasses import dataclass

import gate
import tracing

# Bound before tracing wraps the layer modules, so the release between
# queries is timed as query.release, not as a caching span.
from fts_analysis_datalake_spark.caching import release_tracked

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.1")

# The driver JVM's initial heap. A heap that starts at the JVM's default
# (1/64 of RAM) grows over the first passes, so each pass collects less
# than the one before and pass times drift down for several passes after
# warm-up; starting at this size removes that drift.
HEAP_MIN = "3g"


@dataclass
class Workdirs:
    base: str

    @classmethod
    def for_process(cls) -> Workdirs:
        return cls(os.path.join(BENCH_DIR, ".work", str(os.getpid())))

    @property
    def tmp(self) -> str:
        return os.path.join(self.base, "tmp")

    @property
    def local(self) -> str:
        return os.path.join(self.base, "spark-local")

    @property
    def warehouse(self) -> str:
        return os.path.join(self.base, "warehouse")

    @property
    def cache(self) -> str:
        """Stands in for the ingest queries' per-process
        ``/tmp/fts_spark_cache_<pid>`` directory."""
        return os.path.join(self.base, f"fts_spark_cache_{os.getpid()}")

    def create(self) -> None:
        for d in (self.tmp, self.local):
            os.makedirs(d, exist_ok=True)
        # Python workers, data-source runners and the JVM inherit these,
        # so no temp file of the run lands outside the checkout.
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        # JVMs write a perf-data file under /tmp unless told not to.
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        tempfile.tempdir = self.tmp

    def remove(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        parent = os.path.dirname(self.base)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def check_fixture() -> tuple[bool, str]:
    """Compare every fixture file with ``data/SHA256SUMS``. Returns
    whether all match and the sha256 of the sums file, which names the
    data the stored result digests were made from."""
    base = os.path.dirname(DATA_DIR)
    with open(os.path.join(base, "SHA256SUMS"), "rb") as f:
        sums = f.read()
    ok = True
    for line in sums.decode().splitlines():
        want, rel = line.split()
        try:
            with open(os.path.join(base, rel), "rb") as f:
                ok &= hashlib.sha256(f.read()).hexdigest() == want
        except OSError:
            ok = False
    return ok, hashlib.sha256(sums).hexdigest()


def start_spark(work: Workdirs):
    from pyspark.sql import SparkSession

    from fts_analysis_datalake_spark.session import tune

    builder = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{len(os.sched_getaffinity(0))}]")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work.tmp} -Xms{HEAP_MIN}")
        .config("spark.sql.warehouse.dir", work.warehouse)
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = tune(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def redirect_cache(work: Workdirs) -> None:
    """Point the ingest queries' file cache into the work dir. The query
    modules read the constant at call time, so this must run after the
    registry import and before the first query."""
    from fts_analysis_datalake_spark.queries import streaming_sources

    streaming_sources.CACHE_DIR = work.cache


def reset_pass_state(work: Workdirs) -> None:
    """Undo the per-process memoization so the next pass repeats a fresh
    process's work: the ingest sources written once per process and the
    per-directory query vector."""
    from fts_analysis_datalake_spark.queries import llm_vectors

    shutil.rmtree(work.cache, ignore_errors=True)
    llm_vectors._QUERY_VEC.clear()


def release(spark) -> None:
    """The cache release bench.py runs between queries, then a JVM
    collection. Collecting here, once Python has dropped its references,
    lets Spark's context cleaner remove the query's shuffle and broadcast
    state now, instead of during whichever query the next collection
    lands in. Otherwise a query's time depends on the query before it,
    and so on the seed's order."""
    release_tracked()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _error(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e)[:300]}"


@dataclass
class Pass:
    tag: str
    traced: bool
    pass_s: float
    samples: list[tuple[str, float]]  # (query, build + execute seconds)
    failures: list[dict]
    layer: dict[str, float]  # per-layer totals; empty when untraced
    repeat: dict[str, dict[str, float]]  # query -> MUST_REPEAT counts; empty when untraced


class Runner:
    """One Spark session driving workloads with one closed-loop client:
    the next query starts when the previous one has finished and its
    caches are released."""

    def __init__(self, spark, work: Workdirs, registry, digests, tracer=None):
        self.spark = spark
        self.work = work
        self.registry = registry
        self.digests = digests
        self.tracer = tracer
        if tracer is not None:
            self.engine = tracing.EngineCounters(spark)
            self.proc = tracing.ProcCounters(spark)

    def gate_pass(self, order: list[str], tag: str) -> Pass:
        """Untimed first pass: collect each result and compare its digest
        with the stored one. Every mismatch or error is a failure."""
        samples, failures = [], []
        t_pass = time.perf_counter()
        for name in order:
            q = self.registry.get(name)
            want = self.digests.get(name)
            if q is None or want is None:
                failures.append({"query": name, "error": "query or digest missing"})
                continue
            self.spark.sparkContext.setJobGroup(f"perfbench:{tag}:{name}", name)
            t0 = time.perf_counter()
            try:
                got = gate.digest(q.fn(self.spark, DATA_DIR).toPandas(), want["kind"])
            except Exception as e:  # noqa: BLE001 — a failing query is a gate result
                failures.append({"query": name, "error": _error(e)})
            else:
                if got != want["digest"]:
                    failures.append({"query": name, "error": f"{want['kind']} digest mismatch"})
            finally:
                samples.append((name, time.perf_counter() - t0))
                release(self.spark)
        reset_pass_state(self.work)
        return Pass(tag, False, time.perf_counter() - t_pass, samples, failures, {}, {})

    def timed_pass(self, tag: str, order: list[str], traced: bool) -> Pass:
        """One pass over ``order`` through the noop sink."""
        tr = self.tracer if traced else None
        layer: dict[str, float] = {}
        repeat: dict[str, dict[str, float]] = {}
        if tr:
            first_span = len(tr.spans)
            tr.counters.clear()
            tr.enabled = True
            self.engine.mark()
            layer = dict.fromkeys(tracing.LAYER_METRICS, 0.0)
        samples, failures = [], []
        gates_before = dict.fromkeys(tracing.GATE_COUNTS, 0)
        t_pass = time.perf_counter()
        for name in order:
            q = self.registry.get(name)
            if q is None:
                failures.append({"query": name, "error": "missing from registry"})
                continue
            self.spark.sparkContext.setJobGroup(f"perfbench:{tag}:{name}", name)
            if tr:
                tr.begin_query(f"{tag}:{name}")
                cpu0 = self.proc.sample()
                wall0_ms = time.time() * 1e3
                root = tr.open("query")
                span = tr.open("query.build")
            build = execute = 0.0
            t0 = time.perf_counter()
            try:
                df = q.fn(self.spark, DATA_DIR)
                build = time.perf_counter() - t0
                if tr:
                    tr.close(span)
                    span = tr.open("query.execute")
                df.write.format("noop").mode("overwrite").save()
                execute = time.perf_counter() - t0 - build
                samples.append((name, build + execute))
            except Exception as e:  # noqa: BLE001 — counted as failed, the pass goes on
                failures.append({"query": name, "error": _error(e)})
            if tr:
                tr.close(span)
                wall1_ms = time.time() * 1e3
                span = tr.open("query.release")
            t_rel = time.perf_counter()
            release(self.spark)
            if tr:
                tr.close(span)
                tr.close(root)
                layer["query.build_s"] += build
                layer["query.execute_s"] += execute
                layer["query.release_s"] += time.perf_counter() - t_rel
                engine = self.engine.read(wall0_ms, wall1_ms)
                for k in tracing.ENGINE:
                    layer[k] += engine.get(k, 0.0)
                gates = {k: tr.counters.get(k, 0) for k in tracing.GATE_COUNTS}
                repeat[name] = {
                    "spark.output_mb": round(engine.get("spark.output_mb", 0.0), 6),
                    "spark.jobs": engine["spark.jobs"],
                    **{k: v - gates_before[k] for k, v in gates.items()},
                }
                gates_before = gates
                cpu1 = self.proc.sample()
                for k in tracing.PROC:
                    layer[k] += cpu1[k] - cpu0[k]
        pass_s = time.perf_counter() - t_pass
        reset_pass_state(self.work)
        if tr:
            tr.enabled = False
            layer.update(tracing.span_totals(tr, first_span))
        return Pass(tag, traced, pass_s, samples, failures, layer, repeat)

    def run(self, order: list[str], extra: list[str], seconds: float) -> tuple[list[Pass], list[Pass], Pass]:
        """Set-up passes over ``order``: the gate pass (cold, so it also
        pays the session's one-time costs) and one untimed settle pass
        through the noop sink, because passes keep getting faster while
        the JIT compiles. Then whole timed passes over ``order`` until at
        least ``seconds`` have been measured, and last the gate pass over
        ``extra``: gating it after the timed passes keeps their warm-up
        the same for every seed. A traced run alternates traced and
        untraced passes, starting traced, and makes at least three, so
        that two traced passes can be checked for repeats; an untraced
        run makes at least two, so that ``pass_s`` is never one pass.
        Returns the set-up passes, the timed passes and the slice gate
        pass."""
        setup = [self.gate_pass(order, "gate"), self.timed_pass("settle", order, traced=False)]
        passes: list[Pass] = []
        t_timed = time.perf_counter()
        while True:
            traced = self.tracer is not None and len(passes) % 2 == 0
            passes.append(self.timed_pass(f"p{len(passes)}", order, traced=traced))
            enough = len(passes) >= (2 if self.tracer is None else 3)
            if enough and time.perf_counter() - t_timed >= seconds:
                break
        return setup, passes, self.gate_pass(extra, "gate-slice")

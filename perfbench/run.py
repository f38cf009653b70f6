"""Workload benchmark for the fts_analysis_datalake_spark query engine.

Runs one frozen query workload (see ``workloads.json``) at sf0.1 on
``local[<cpus>]`` from a single process with one closed-loop client: the
next query starts when the previous one has finished and its caches are
released.

  python3 perfbench/run.py --workload dedup_graph --seed 1 --seconds 15 --trace 0

A run has four phases:

1. set-up (``setup_s``, from process start to the first timed query):
   check the fixture files against ``data/SHA256SUMS``, import the query
   registry, start the JVM, run one untimed gate pass over the timed
   queries that collects every result and checks it against
   ``digests.json``, then one untimed settle pass through the noop sink.
   The gate pass pays the session's one-time costs (first plans,
   codegen, the Python worker, data-source and streaming runner
   start-ups); the settle pass absorbs the JIT warm-up that still slows
   the pass after it;
2. timed passes over the timed queries (a fixed stride of the workload
   list) in an order permuted by ``--seed``, each executed through the
   noop sink, until at least ``--seconds`` have been measured and at
   least two passes made; before every pass the per-process file cache
   and memos are reset so each pass repeats a fresh process's work;
3. an untimed gate pass over the slice ``seed % GATE_STRIDE`` of the
   whole workload list (less the timed queries), so any GATE_STRIDE
   consecutive seeds gate every query of the list. It runs after the
   timed passes so that the warm-up before them does not depend on the
   seed;
4. report: the last stdout line is one JSON object with ``correct``,
   ``attempted``, ``failed`` and ``metrics``; the line before it carries
   the seed, the query order, the gate slice, per-query times and
   every failure.

End-to-end metrics (``--trace 0``): ``setup_s``; ``pass_s``, the median
pass wall time; ``query_p50_s`` and ``query_p90_s`` over all (query,
pass) build-plus-execute samples. ``failed/attempted`` is the failed
share: queries that raised or failed the gate, over queries attempted.

``--trace 1`` wraps the program's layer modules with span recorders,
reads Spark's status store after every query, alternates traced and
untraced passes, and reports the per-layer metrics (medians over the
traced passes), the peak resident memory of driver plus JVM, and the
tracing overhead. Per query, the output bytes, the query's own Spark
jobs and the count-gate branches must repeat exactly between traced
passes; a difference counts as a failure.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import tracing  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# The gate slice of seed s is every GATE_STRIDE-th query of the workload
# list from index s % GATE_STRIDE on, so any GATE_STRIDE consecutive seeds
# gate the whole list.
GATE_STRIDE = 22


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload of workloads.json")
    ap.add_argument("--seed", type=int, required=True, help="permutes the query order, picks the gate slice")
    ap.add_argument("--seconds", type=float, required=True, help="minimum timed duration")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def plan(queries: list[str], stride: int, offset: int, seed: int) -> tuple[list[str], list[str]]:
    """The timed queries, in an order permuted by ``seed``, and the gate
    slice of the run."""
    order = queries[offset::stride]
    random.Random(seed).shuffle(order)
    return order, [n for n in queries[seed % GATE_STRIDE::GATE_STRIDE] if n not in order]


def repeat_failures(traced) -> list[dict]:
    """Per query, every MUST_REPEAT count must read the same in every
    traced pass."""
    out = []
    for name in traced[0].repeat:
        for k in tracing.MUST_REPEAT:
            seen = [p.repeat.get(name, {}).get(k) for p in traced]
            if len(set(seen)) > 1:
                out.append({"query": name, "error": f"{k} differs between traced passes: {seen}"})
    return out


def summarize(workload, seed, order, extra, untimed, setup_s, passes, rss_mb, trace):
    """Returns (detail, metrics, attempted, failed)."""
    untraced = [p for p in passes if not p.traced]
    samples = [s for p in untraced for _, s in p.samples]
    failures = [f for p in untimed + passes for f in p.failures]
    attempted = len(order) * (2 + len(passes)) + len(extra)
    detail = {
        "workload": workload, "seed": seed, "order": order, "gate_slice": extra,
        "passes": [{"tag": p.tag, "traced": p.traced, "pass_s": round(p.pass_s, 4),
                    "query_s": {n: round(s, 4) for n, s in p.samples}} for p in untimed + passes],
        "peak_rss_mb": rss_mb,
    }
    if not trace:
        p50 = statistics.median(samples) if samples else 0.0
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p.pass_s for p in untraced),
            "query_p50_s": p50,
            "query_p90_s": statistics.quantiles(samples, n=10, method="inclusive")[-1] if len(samples) > 1 else p50,
        }
    else:
        traced = [p for p in passes if p.traced]
        metrics = {n: statistics.median(p.layer[n] for p in traced) for n in traced[0].layer}
        metrics["peak_rss_mb"] = rss_mb
        metrics["trace.overhead_s"] = (
            statistics.median(p.pass_s for p in traced) - statistics.median(p.pass_s for p in untraced)
        )
        failures += repeat_failures(traced)
    detail["failures"] = failures
    detail["failed_share"] = len(failures) / attempted
    return detail, metrics, attempted, len(failures)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        from fts_analysis_datalake_spark import registry
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    import harness

    with open(os.path.join(BENCH_DIR, "workloads.json")) as f:
        spec = json.load(f)
    with open(os.path.join(BENCH_DIR, "digests.json")) as f:
        stored = json.load(f)
    wl = spec["workloads"].get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    order, extra = plan(wl["queries"], wl["stride"], wl["offset"], args.seed)

    fixture_ok, fixture_digest = harness.check_fixture()
    fixture_ok &= fixture_digest == stored["fixture"]
    work = harness.Workdirs.for_process()
    work.create()
    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracing.instrument(tracer)
    registry._load_all()
    harness.redirect_cache(work)

    spark = None
    try:
        t = time.perf_counter()
        spark = harness.start_spark(work)
        phases = {"import_s": t - T_START, "spark_start_s": time.perf_counter() - t}
        runner = harness.Runner(spark, work, registry.REGISTRY, stored["queries"], tracer)
        setup, passes, slice_gate = runner.run(order, extra, args.seconds)
        setup_s = phases["import_s"] + phases["spark_start_s"] + sum(p.pass_s for p in setup)
        rss = tracing.peak_rss_mb(tracing.jvm_pid(spark))
        detail, metrics, attempted, failed = summarize(
            args.workload, args.seed, order, extra, setup + [slice_gate], setup_s, passes, rss, args.trace)
        detail["setup_phases"] = dict(phases, **{f"{p.tag}_s": p.pass_s for p in setup})
        if tracer is not None:
            out_dir = os.path.join(BENCH_DIR, ".out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        work.remove()

    detail["fixture_ok"] = fixture_ok
    print(json.dumps(detail))
    rss = "" if "peak_rss_mb" in metrics else f"peak_rss_mb={rss:.1f}MB "
    print(f"# {args.workload}: failed_share={detail['failed_share']:.4f} {rss}"
          + " ".join(f"{k}={v:.4f}{tracing.unit_of(k)}" for k, v in metrics.items()))
    print(json.dumps({
        "correct": fixture_ok and failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": tracing.unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

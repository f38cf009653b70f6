"""Regenerate ``digests.json``: the expected result of every query in
every workload, on the sf0.1 fixture under ``data/``.

  python3 perfbench/make_digests.py [--oracle-timeout 60]

Where the query has a DuckDB oracle that finishes within the timeout,
the oracle's digest is stored (source ``duckdb-oracle``) and the Spark
result, collected twice in one session, is compared with it; a
disagreement is printed and recorded, never replaced by the Spark
value. Where there is no oracle, or it does not finish, the Spark
result is collected SPARK_RUNS times and its digest stored with the
source recorded; when the runs disagree the query gets a ``shape``
digest.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# Spark runs per query whose digest comes from Spark itself: all must
# agree for an ``exact`` digest.
SPARK_RUNS = 5


def oracle_digest(con, sql: str, timeout: float, digest):
    """Run ``sql`` on DuckDB; return (digest, seconds) or (None, seconds)
    when it did not finish within ``timeout``."""
    timer = threading.Timer(timeout, con.interrupt)
    t0 = time.perf_counter()
    timer.start()
    try:
        df = con.execute(sql).fetchdf()
    except Exception as e:  # noqa: BLE001 — duckdb raises its own interrupt error type
        if "nterrupt" not in str(e):
            raise
        return None, time.perf_counter() - t0
    finally:
        timer.cancel()
    return digest(df, "exact"), time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--oracle-timeout", type=float, default=60.0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    import duckdb

    import gate
    import harness
    from fts_analysis_datalake_spark import registry
    from fts_analysis_datalake_spark.catalog import TABLES

    with open(os.path.join(BENCH_DIR, "workloads.json")) as f:
        spec = json.load(f)
    names = sorted({n for w in spec["workloads"].values() for n in w["queries"]})
    fixture_ok, fixture_digest = harness.check_fixture()
    if not fixture_ok:
        print("make_digests: fixture files differ from data/SHA256SUMS", file=sys.stderr)
        return 2

    work = harness.Workdirs.for_process()
    work.create()
    registry._load_all()
    harness.redirect_cache(work)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{harness.DATA_DIR}/{t}.parquet')")
    commit = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"], capture_output=True, text=True
    ).stdout.strip() or "unknown"

    out = {}
    spark = harness.start_spark(work)
    try:
        for name in names:
            q = registry.REGISTRY[name]
            d, ds = (None, 0.0) if q.oracle is None else oracle_digest(con, q.oracle, args.oracle_timeout, gate.digest)
            t0 = time.perf_counter()
            runs = []
            for _ in range(2 if d is not None else SPARK_RUNS):
                runs.append(gate.digest(q.fn(spark, harness.DATA_DIR).toPandas(), "exact"))
                harness.release(spark)
                harness.reset_pass_state(work)
            spark_s = (time.perf_counter() - t0) / len(runs)
            rec = {"kind": "exact"}
            if d is not None:
                rec.update(digest=d, source="duckdb-oracle", spark_agrees=set(runs) == {d})
            else:
                why = "no oracle" if q.oracle is None else f"oracle over {args.oracle_timeout:.0f} s"
                if len(set(runs)) == 1:
                    rec.update(digest=runs[0], source=f"spark@{commit} ({why}; {len(runs)} runs agree)")
                else:
                    # values differ run to run: check columns, kinds and row count
                    df = q.fn(spark, harness.DATA_DIR).toPandas()
                    harness.release(spark)
                    harness.reset_pass_state(work)
                    rec.update(kind="shape", digest=gate.digest(df, "shape"),
                               source=f"spark@{commit} ({why}; values vary between runs)")
            out[name] = rec
            print(f"{name}: {rec['source']} spark={spark_s:.1f}s oracle={ds:.1f}s"
                  + ("" if rec.get("spark_agrees", True) else "  SPARK DISAGREES WITH ORACLE"),
                  flush=True)
    finally:
        harness.stop_spark(spark)
        work.remove()
        con.close()

    with open(os.path.join(BENCH_DIR, "digests.json"), "w") as f:
        json.dump({"fixture": fixture_digest, "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

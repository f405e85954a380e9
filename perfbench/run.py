#!/usr/bin/env python3
"""Benchmark entry point: one workload per process, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload elt --seed 1 --seconds 4 --trace 0

Workloads: ``elt`` (bronze -> silver -> gold -> quality) and
``catalog_stream`` (relational and iterative catalog slices over seeded
TPC-H-shaped tables, then open-loop watermark dedup and CDC apply).
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones (see perfbench/README.md). Every byte the run writes
lives under one scratch root in ``.perfbench_tmp/`` that is removed on
exit. The last stdout line is the result; the line before it is a
record with the seed, core count, every pass wall and every mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("elt", "catalog_stream")
#: catalog inputs: TPC-H-shaped tables at this scale factor
SCALE = 0.005
#: session setups per run; setup_s is their median
SETUPS = 3
#: tables at or above this row count get repacked into per-core files
REPACK_MIN_ROWS = 10_000


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(tmp: str, cores: int) -> None:
    """Point every scratch location of Python, the JVM and Spark at tmp."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.makedirs(os.path.join(tmp, "jvm"), exist_ok=True)


def session_conf(tmp: str, event_dir: str | None) -> dict[str, str]:
    from spans import event_log_conf

    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # no hsperfdata file: the JVM writes it to /tmp whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}/jvm -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # keep every micro-batch's progress of a long --seconds stream
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_dir:
        conf.update(event_log_conf(event_dir))
    return conf


def setup_once(tmp: str, src_dir: str, event_dir: str | None):
    """Session start + executor warm-up + repack."""
    from nba_spurs_etl_spark.session import default_parallelism, get_spark
    from nba_spurs_etl_spark.sources.repack import ensure_repacked

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=session_conf(tmp, event_dir))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    t1 = time.perf_counter()
    shutil.rmtree(os.path.join(tmp, "spark_graft_repack"), ignore_errors=True)
    sf_dir = ensure_repacked(src_dir, default_parallelism(), min_rows=REPACK_MIN_ROWS)
    return spark, sf_dir, {"session": t1 - t0, "repack": time.perf_counter() - t1}


def shutdown() -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to end."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        gw.shutdown()
    except (Py4JError, OSError) as exc:
        print(f"perfbench: gateway shutdown: {exc!r}", file=sys.stderr)
    proc = gw.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, tmp: str, cores: int):
    import datagen
    import metrics
    import workloads

    src_dir = os.path.join(tmp, "data", f"sf{SCALE}")
    rows = datagen.write_tables(src_dir, args.seed, SCALE)
    event_dir = os.path.join(tmp, "eventlog") if args.trace else None

    from pyspark import SparkContext

    setups = []
    spark = sf_dir = None
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        # only the session the workload runs on writes an event log
        spark, sf_dir, s = setup_once(tmp, src_dir, event_dir if k == SETUPS - 1 else None)
        setups.append(s)
    jvm_pid = SparkContext._gateway.proc.pid

    b = workloads.Bench(spark=spark, tmp=tmp, sf_dir=sf_dir, src_dir=src_dir, seed=args.seed,
                        seconds=args.seconds, traced=bool(args.trace))
    run_wl = workloads.run_elt if args.workload == "elt" else workloads.run_catalog_stream
    raw = run_wl(b)
    from spans import peak_rss_mb

    rss = peak_rss_mb(jvm_pid)
    spark.stop()  # flushes the event log before it is parsed
    groups = {}
    if args.trace:
        from spans import parse_event_logs

        groups = parse_event_logs(event_dir)

    m = metrics.Metrics(args.workload, b, raw, setups, rss, groups)
    record = {
        "workload": args.workload, "seed": args.seed, "nproc": cores,
        "seconds": args.seconds, "trace": args.trace, "scale": SCALE, "rows": rows,
        "setups_s": [{k: round(x, 4) for k, x in s.items()} for s in setups],
        "passes_s": [round(w, 4) for _p, w in b.passes],
        "checks": b.checks, "mismatches": b.mismatches, "errors": b.errors,
        "wall_s": round(time.perf_counter() - T0, 3),
        **m.record_extra(),
    }
    metrics_out = m.per_layer() if args.trace else m.end_to_end()
    result = {"correct": m.failed == 0, "attempted": m.attempted,
              "failed": m.failed, "metrics": metrics_out}
    return record, result


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "nba_spurs_etl_spark")):
        print("perfbench: run from the repository root (nba_spurs_etl_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(root, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    isolate(tmp, cores)

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    try:
        record, result = run(args, tmp, cores)
    finally:
        shutdown()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass
    print(json.dumps(record), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

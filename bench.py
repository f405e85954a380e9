#!/usr/bin/env python
"""Benchmark harness: runs every catalog query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:  {"metric": ..., "value": N, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}

The driver captures only the tail of stdout (~2 KB observed in round 1,
where a 115-query dict overflowed it and the line went unparsed), so the
stdout line carries a priority-ordered subset of per-query timings
trimmed to fit; the FULL per-query map is always written to
``BENCH_DETAIL.json`` next to this script.

Per-query time is wall time of FULL execution: results are drained to
the noop sink (``df.write.format("noop")``), which materializes every
row and column. ``count()`` would let Catalyst prune per-row
expressions that don't change cardinality (projections, window
functions), silently timing only scan+count for those queries —
measured e.g. window_dist_functions 0.15 s via count vs the real
expression cost via noop. Session startup is amortized across the
suite, matching BASELINE.md's interpretation (see
``session.warm_session``). Every reported number is a run measured in
this process: the BASELINE.md comparison set runs twice and reports
the warm run, every other entry runs once and reports that run (see
the comment at the timing loop); BENCH_DETAIL.json keeps each entry's
first run in ``cold_queries``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

MAX_LINE = 1750  # stay comfortably under the driver's stdout tail buffer

# Queries whose timings go on the stdout line first (BASELINE.md's gold
# models, the TPC-H suite, then flagship data-prep/stream operators).
PRIORITY_PREFIXES = [
    "gold_",
    # q1..q22 TPC-H shapes, explicitly (a bare "q" prefix also caught
    # quality_assertions/quantity_percentiles, costing flagship entries
    # their slots on the trimmed stdout line); numeric order, not
    # lexicographic
    *[f"q{i}_" for i in range(1, 23)],
    "pricing_summary",
    "summary_rank",
    "corpus_pipeline",
    "dedup_",
    "similarity_",
    "stream_",
    "events_",
    "hypertable_",
    "asof_",
    "range_join_",
]


def _priority(name: str) -> tuple[int, str]:
    for i, p in enumerate(PRIORITY_PREFIXES):
        if name.startswith(p):
            return (i, name)
    return (len(PRIORITY_PREFIXES), name)


# Three fixed probes mirroring the suite's cost shapes — a parquet
# scan-agg and a shuffle-agg over the repacked lineitem, plus a pure
# codegen CPU hash — timed (min of 3 post-JIT runs each) at suite start
# and end. They are published as raw seconds in BENCH_DETAIL.json so a
# reader comparing runs can tell a slow VM window from a slow query; no
# timing is adjusted by them. A single probe shape is not enough: a
# pure-CPU probe measured FLAT across a window where every real query
# (controls included) ran 1.5-2x slow, so the set blends the IO/decode,
# shuffle and codegen components that real entries are made of.
_CALIB_CPU_N = 256_000_000


def _calib_probes(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from nba_spurs_etl_spark.session import default_parallelism

    probes = {
        "cpu_hash": lambda: spark.range(
            0, _CALIB_CPU_N, 1, default_parallelism()
        ).selectExpr("count(xxhash64(id, id+1, id+2)) AS c").collect(),
    }
    try:
        # inside its own guard: an unreadable lineitem must degrade to
        # the cpu-only probe set, not abort the suite (review find —
        # the read sat outside the per-probe try)
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        probes["scan_agg"] = lambda: li.groupBy("l_returnflag").agg(
            F.sum("l_extendedprice").alias("a"),
            F.sum("l_quantity").alias("b"),
            F.avg("l_discount").alias("c"),
        ).collect()
        probes["shuffle_agg"] = (
            lambda: li.select("l_orderkey", "l_extendedprice")
            .groupBy("l_orderkey")
            .agg(F.sum("l_extendedprice").alias("s"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("s").alias("t"))
            .collect()
        )
    except Exception as e:
        print(f"bench: calib data probes unavailable: {e}",
              file=sys.stderr)
    out = {}
    for name, fn in probes.items():
        try:
            fn()  # absorb this plan's Janino JIT (measured 3x of warm)
            # min of 3: 'best available speed' — blips only push up
            vals = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                vals.append(time.perf_counter() - t0)
            out[name] = round(min(vals), 4)
        except Exception as e:  # a broken probe must not fail bench
            print(f"bench: calib probe {name} FAILED: {e}",
                  file=sys.stderr)
    return out


def _stream_reader_shape(fn) -> str:
    """Which streaming source shape an entry drains, by source text —
    controls measured per shape, not per entry."""
    import inspect

    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return "events"
    return "documents" if "read_documents_stream" in src else "events"


def _stream_drain_overheads(spark, sf_dir: str) -> dict:
    """Fixed micro-batch drain cost per streaming source shape
    (VERDICT r08 item 6): a ONE-ROW copy of the source, the minimal
    stateful aggregation, the same availableNow memory-sink drain the
    catalog entries use. What it times is everything that is NOT the
    query — stream start/stop, checkpoint dir writes, state-store
    open/commit, sink materialization — which dominates the stream
    entries' headline numbers (stream_tumbling_agg swung 1.3->9.6 s
    across rounds on environment alone). BENCH_DETAIL publishes the
    overheads and per-entry (total - overhead) nets so stream numbers
    become comparable round-over-round; the suite total stays
    raw-wall, controls untimed."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from nba_spurs_etl_spark.streaming.dedup_stream import (
        read_documents_stream,
    )
    from nba_spurs_etl_spark.streaming.events import (
        read_events_stream,
        run_stream_to_table,
    )

    # per-invocation scratch: a FIXED shared dir would let two
    # concurrent bench processes rmtree each other's control data
    # mid-drain (review find)
    ctl_root = tempfile.mkdtemp(prefix="bench_drain_ctl_")
    out: dict[str, float] = {}
    for shape, table, reader in (
        ("events", "events", read_events_stream),
        ("documents", "documents", read_documents_stream),
    ):
        try:
            d = os.path.join(ctl_root, shape)
            os.makedirs(d, exist_ok=True)
            spark.read.parquet(
                os.path.join(sf_dir, f"{table}.parquet")
            ).limit(1).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(d, f"{table}.parquet")
            )

            def once() -> float:
                t0 = time.perf_counter()
                run_stream_to_table(
                    reader(spark, d).agg(F.count(F.lit(1)).alias("n")),
                    spark,
                    output_mode="complete",
                    state_partitions=1,
                ).write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t0

            once()  # absorb the control's own first-plan JIT
            out[shape] = round(min(once(), once()), 4)
        except Exception as e:  # a broken control must not fail bench
            print(
                f"bench: drain control {shape} FAILED: {e}",
                file=sys.stderr,
            )
    shutil.rmtree(ctl_root, ignore_errors=True)
    return out


def _always_double(name: str) -> bool:
    """The headline comparison set: BASELINE.md's gold models and
    flagship entries, plus the hybrid search (the r09/r10 headline perf
    item, with a warm bar of its own)."""
    return name.startswith(
        ("gold_", "summary_rank", "pricing_summary",
         "search_hybrid_rrf_topk")
    )


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from nba_spurs_etl_spark.plans.catalog import queries
    from nba_spurs_etl_spark.session import (
        default_parallelism,
        get_spark,
        warm_session,
    )

    spark = get_spark("nba-spurs-etl-spark-bench")
    # Untimed session warm-up, including the ingest-layout repack:
    # queries are timed against the repacked layout, the same
    # accounting as BASELINE.md, whose dbt timings run over tables
    # already loaded (laid out) in Postgres.
    t0 = time.perf_counter()
    sf_dir = warm_session(spark, sf_dir)
    print(
        f"bench: session warm-up over {sf_dir} "
        f"({time.perf_counter() - t0:.2f}s, untimed)",
        file=sys.stderr,
    )
    # measured after the warm-ups so it reads steady-state executor
    # speed, and again at suite end so intra-suite drift is visible
    calib_start = _calib_probes(spark, sf_dir)

    # Timing protocol: a query's first execution pays per-query Janino
    # JIT of its generated whole-stage-codegen classes — a fixed session
    # cost that measured 2-4x of steady-state on sub-second queries.
    # The headline comparison set (_always_double) therefore runs twice
    # and reports the SECOND (warm) run, matching BASELINE.md's warm
    # Postgres backend. Every other entry runs once and reports that
    # run. Streams re-drain fully on each run (fresh checkpoint per
    # drain), so stream timings are full executions either way.
    def _run(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 4)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    loop_t0 = time.perf_counter()
    for name, fn in queries().items():
        try:
            cold[name] = _run(fn)
            timings[name] = _run(fn) if _always_double(name) else cold[name]
        except Exception as e:  # keep the suite going; surface on stderr
            print(f"bench: {name} FAILED: {e}", file=sys.stderr)
            timings[name] = -1.0
            cold.setdefault(name, -1.0)
    timed_wall = round(time.perf_counter() - loop_t0, 2)

    total = round(sum(t for t in timings.values() if t >= 0), 4)
    n_failed = sum(1 for t in timings.values() if t < 0)
    cpus = default_parallelism()

    calib_end = _calib_probes(spark, sf_dir)
    # per-shape fixed drain cost and per-entry nets (untimed controls;
    # see _stream_drain_overheads)
    overheads = _stream_drain_overheads(spark, sf_dir)
    stream_net = {}
    for name, fn in queries().items():
        if name.startswith("stream_") and timings.get(name, -1) >= 0:
            oh = overheads.get(_stream_reader_shape(fn))
            if oh is not None:
                stream_net[name] = round(max(0.0, timings[name] - oh), 4)

    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "catalog_suite_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "cold_queries": cold,
                "calib_start": calib_start,
                "calib_end": calib_end,
                "stream_drain_overhead": overheads,
                "stream_net": stream_net,
                "sf": sf,
                "n_queries": len(timings),
                "n_failed": n_failed,
                "cpus": cpus,
                "timed_wall_s": timed_wall,
            },
            f,
            indent=1,
            sort_keys=True,
        )

    # stdout line: highest-priority queries first, trimmed to MAX_LINE.
    payload = {
        "metric": "catalog_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": {},
        "sf": sf,
        "n_queries": len(timings),
        "n_failed": n_failed,
        "cpus": cpus,
        "timed_wall_s": timed_wall,
        "detail": "BENCH_DETAIL.json",
    }
    for name in sorted(timings, key=_priority):
        payload["queries"][name] = round(timings[name], 2)
        if len(json.dumps(payload, separators=(",", ":"))) > MAX_LINE:
            del payload["queries"][name]
            break
    print(json.dumps(payload, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())

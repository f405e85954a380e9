#!/usr/bin/env python
"""Full-catalog benchmark at sf1 (10x the per-round bench scale).

Upgrades the per-operator 10x probes (scripts/scale_probe.py, rows in
docs/SCALE.md) to whole-suite scaling evidence: every catalog query
runs at the replicated-10x scale after the same session warm-up as
bench.py (``session.warm_session``), twice, the second run reported
(noop sink), and the per-query table is written to
``BENCH_SF1.json`` at the repo root together with the sf0.1 timings
from the committed BENCH_DETAIL.json so slopes are reviewable in one
artifact.

The 10x corpus is the same deliberately adversarial replication the
probes use (scale_probe.build): key-offset facts, dims unchanged —
every document/vector exists 10x, so near-dup/similarity operators see
their posting-list worst case, not an easy uniform scale-up.

Usage: python scripts/bench_sf1.py  (approx 15-30 min at local[32])
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nba_spurs_etl_spark.plans.catalog import queries  # noqa: E402
from nba_spurs_etl_spark.session import get_spark, warm_session  # noqa: E402

from scale_probe import build  # noqa: E402

K = 10
DST = f"/tmp/sfx{K}"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    spark = get_spark("bench-sf1")
    if not os.path.isdir(DST):
        t0 = time.perf_counter()
        build(spark, DST, K)
        print(f"built {DST} in {time.perf_counter()-t0:.1f}s", file=sys.stderr)

    dst = warm_session(spark, DST)
    qs = queries()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    suite_t0 = time.perf_counter()
    for name, fn in qs.items():
        try:
            t0 = time.perf_counter()
            fn(spark, dst).write.format("noop").mode("overwrite").save()
            cold[name] = round(time.perf_counter() - t0, 4)
            t0 = time.perf_counter()
            fn(spark, dst).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as e:
            print(f"bench_sf1: {name} FAILED: {e}", file=sys.stderr)
            timings[name] = -1.0
            cold.setdefault(name, -1.0)
        print(
            f"bench_sf1: {name} cold={cold[name]} warm={timings[name]}",
            file=sys.stderr,
        )
    real_wall = round(time.perf_counter() - suite_t0, 1)

    sf01: dict[str, float] = {}
    try:
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
            prev = json.load(f)
        if prev.get("sf") == 0.1:
            sf01 = prev.get("queries", {})
    except (OSError, ValueError):
        pass

    total = round(sum(t for t in timings.values() if t >= 0), 4)
    out = {
        "metric": "catalog_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": 1.0,
        "scale_note": f"sf0.1 replicated {K}x with key offsets "
        "(scale_probe.build); dims unchanged",
        "queries": timings,
        "cold_queries": cold,
        "sf01_warm_basis": sf01,
        "n_queries": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        "real_suite_wall_sec": real_wall,
    }
    path = os.path.join(REPO, "BENCH_SF1.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({k: out[k] for k in
                      ("metric", "value", "sf", "n_queries", "n_failed")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

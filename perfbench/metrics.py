"""Turn one run's raw samples into the end-to-end and per-layer metrics.

End-to-end metrics are the same three names on every workload (README.md
says what a pass is on each). Every traced run reports
the full per-layer list; a layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics

from spans import EXEC_KEYS, dir_mb, sum_groups
from workloads import ELT_STAGES, ITERATIVE, RELATIONAL

END_TO_END = ("setup_s", "first_pass_s", "warm_pass_s")
UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_eps": "1/s", "_rows": "rows",
         "ratio": "ratio", "drift": "ratio", "jobs": "count", "stages": "count",
         "tasks": "count"}

EXEC_LAYER = EXEC_KEYS
STREAM_COMMON = ("first_batch_s", "batch_ms", "add_batch_ms", "backlog_rows",
                 "capacity_eps", "lat_p50_ms", "lat_p99_ms")
PER_LAYER = (
    "peak_rss_mb", "setup.session_s", "setup.repack_s",
    "elt.bronze_s", "elt.bronze_mb", "elt.silver_load_s", "elt.silver_save_s",
    "elt.silver_mb", "elt.gold_build_s", "elt.gold_write_s", "elt.gold_mb",
    "elt.quality_s", "elt.quality.jobs", "elt.pass_drift",
    "relational.pass_s", "relational.build_s", "relational.analysis_s",
    "relational.optimization_s", "relational.planning_s", "relational.drain_s",
    "relational.q21_waiting_supplier_s",
    *(f"{wl}.{k}" for wl in ("elt", "relational", "iterative") for k in EXEC_LAYER),
    "iterative.pass_s", "iterative.build_s", "iterative.build_jobs",
    "iterative.drain_s", "iterative.drain_jobs",
    "iterative.dedup_cc.build_s", "iterative.dedup_cc.jobs", "iterative.dedup_minhash_lsh_s",
    "catalog.pass_drift",
    *(f"stream.dedup.{k}" for k in STREAM_COMMON),
    "stream.dedup.wal_commit_ms", "stream.dedup.state_rows", "stream.dedup.state_mb",
    *(f"stream.cdc.{k}" for k in STREAM_COMMON), "stream.cdc.snapshot_mb",
    "trace.overhead_ratio", "trace.traced_pass_s", "trace.instrument_s",
)


def pct(values, q):
    """Linear-interpolated percentile (q in 0..100); 0.0 for no samples."""
    if not values:
        return 0.0
    xs = sorted(values)
    k = (len(xs) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def med(values):
    return statistics.median(values) if values else 0.0


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    raise ValueError(f"no unit for metric {name}")


def _group(gid: str):
    """(workload, pass tag, label, step) of a job-group id set by
    ``Bench.call``; None for groups Spark sets itself (stream runs)."""
    parts = tuple(gid.split("|"))
    return parts if len(parts) == 4 else None


class Metrics:
    def __init__(self, workload, bench, raw, setups, rss_mb, groups):
        self.wl, self.b, self.raw, self.setups = workload, bench, raw, setups
        self.rss_mb, self.groups = rss_mb, groups
        self.stream = self._stream_batches() if "batches" in raw else {}
        stream_failed = len(raw.get("failed", ()))
        n_batches = sum(len(v) for v in raw.get("batches", {}).values())
        self.attempted = len(bench.calls) + bench.checks + n_batches + stream_failed
        self.failed = (sum(not c.ok for c in bench.calls) + len(bench.mismatches)
                       + stream_failed)

    # ------------------------------------------------------------ samples
    def _warm(self):
        return [w for p, w in self.b.passes if p > 0]

    def _stream_batches(self):
        """Per query: the first non-empty committed batch, the batches that
        ended inside or after the measuring window, progress by batch id,
        and the latency (ms) of every event created inside the window."""
        lo, hi = self.raw["window"]
        out = {}
        for q, recs in self.raw["batches"].items():
            prog = {p["batchId"]: p for p in self.raw["progress"][q]}
            bids = sorted(bid for bid in recs if recs[bid]["created"])
            rest = [bid for bid in bids if recs[bid]["end"] > lo]
            lat = [(recs[bid]["end"] - c) * 1e3 for bid in rest
                   for c in recs[bid]["created"] if lo <= c < hi]
            out[q] = {"first": bids[:1], "rest": rest, "prog": prog, "lat": lat}
        return out

    # -------------------------------------------------------- end-to-end
    def end_to_end(self) -> dict:
        vals = {"setup_s": med([s["session"] + s["repack"] for s in self.setups]),
                "first_pass_s": self.b.passes[0][1] if self.b.passes else 0.0,
                "warm_pass_s": med(self._warm())}
        return {k: {"value": vals[k], "unit": unit(k)} for k in END_TO_END}

    # --------------------------------------------------------- per-layer
    def _calls(self, label=None, step=None):
        """Median over warm passes of the per-pass summed wall of the
        matching calls."""
        labels = (label,) if isinstance(label, str) else label
        per_pass = dict.fromkeys((p for p, _w in self.b.passes if p > 0), 0.0)
        for c in self.b.calls:
            if c.pass_no == 0:
                continue
            if (labels is None or c.label in labels) and (step is None or c.step == step):
                per_pass[c.pass_no] += c.wall
        return med(list(per_pass.values()))

    def _exec(self, pred) -> dict:
        """Execution counters per warm pass (median)."""
        tags = [f"p{p}" for p, _w in self.b.passes if p > 0]
        def match(gid, tag):
            parts = _group(gid)
            return parts is not None and parts[1] == tag and pred(*parts)

        per = [sum_groups(self.groups, lambda g, t=t: match(g, t)) for t in tags]
        return {k: med([d[k] for d in per]) for k in EXEC_KEYS}

    def per_layer(self) -> dict:
        v = dict.fromkeys(PER_LAYER, 0.0)
        v["peak_rss_mb"] = self.rss_mb
        v["setup.session_s"] = med([s["session"] for s in self.setups])
        v["setup.repack_s"] = med([s["repack"] for s in self.setups])
        warm = self._warm()
        if warm:
            v["elt.pass_drift" if self.wl == "elt" else "catalog.pass_drift"] = warm[-1] / warm[0]
            v["trace.traced_pass_s"] = med(warm)
            v["trace.instrument_s"] = self._calls(step="plan")
            v["trace.overhead_ratio"] = med(warm) / (med(warm) - v["trace.instrument_s"])
        if self.wl == "elt":
            self._elt(v)
        else:
            self._catalog(v)
            self._streams(v)
        return {k: {"value": v[k], "unit": unit(k)} for k in PER_LAYER}

    def _elt(self, v) -> None:
        for st in ELT_STAGES:
            v[f"elt.{st}_s"] = self._calls(label=st)
        for layer, mb in self.raw["sizes"].items():
            v[f"elt.{layer}_mb"] = mb
        ex = self._exec(lambda wl, _t, _l, _s: wl == "elt")
        for k in EXEC_LAYER:
            v[f"elt.{k}"] = ex[k]
        v["elt.quality.jobs"] = self._exec(lambda _w, _t, label, _s: label == "quality")["jobs"]

    def _catalog(self, v) -> None:
        rel, it = RELATIONAL, tuple(ITERATIVE)
        v["relational.pass_s"] = self._calls(label=rel)
        v["iterative.pass_s"] = self._calls(label=it)
        for step in ("build", "drain"):
            v[f"relational.{step}_s"] = self._calls(label=rel, step=step)
            v[f"iterative.{step}_s"] = self._calls(label=it, step=step)
            v[f"iterative.{step}_jobs"] = self._exec(
                lambda _w, _t, label, s, step=step: label in it and s == step)["jobs"]
        v["relational.q21_waiting_supplier_s"] = self._calls(label="q21_waiting_supplier")
        phases = {}
        for c in self.b.calls:
            if c.step == "plan" and c.pass_no > 0 and c.ok:
                per = phases.setdefault(c.pass_no, {})
                for k, s in c.extra.items():
                    per[k] = per.get(k, 0.0) + s
        for k in ("analysis", "optimization", "planning"):
            v[f"relational.{k}_s"] = med([p.get(k, 0.0) for p in phases.values()])
        for layer, names in (("relational", rel), ("iterative", it)):
            ex = self._exec(lambda _w, _t, label, _s, names=names: label in names)
            for k in EXEC_LAYER:
                v[f"{layer}.{k}"] = ex[k]
        cc = tuple(n for n, mod in ITERATIVE.items() if mod == "dedup_cc")
        v["iterative.dedup_cc.build_s"] = self._calls(label=cc, step="build")
        v["iterative.dedup_cc.jobs"] = self._exec(lambda _w, _t, label, _s: label in cc)["jobs"]
        v["iterative.dedup_minhash_lsh_s"] = self._calls(label="dedup_minhash_lsh")

    def _streams(self, v) -> None:
        t_start = self.raw["t_start"]
        for q, s in self.stream.items():
            recs, ps = self.raw["batches"][q], [s["prog"][bid] for bid in s["rest"]]

            def dur(key, ps=ps):
                return med([p["durationMs"].get(key, 0) for p in ps])

            if s["first"]:
                v[f"stream.{q}.first_batch_s"] = recs[s["first"][0]]["end"] - t_start
            v[f"stream.{q}.batch_ms"] = dur("triggerExecution")
            v[f"stream.{q}.add_batch_ms"] = dur("addBatch")
            v[f"stream.{q}.capacity_eps"] = med(
                [p["numInputRows"] / max(p["durationMs"]["triggerExecution"], 1) * 1e3
                 for p in ps])
            v[f"stream.{q}.backlog_rows"] = med([p["numInputRows"] for p in ps])
            v[f"stream.{q}.lat_p50_ms"] = pct(s["lat"], 50)
            v[f"stream.{q}.lat_p99_ms"] = pct(s["lat"], 99)
        ps = [self.stream["dedup"]["prog"][bid] for bid in self.stream["dedup"]["rest"]]
        v["stream.dedup.wal_commit_ms"] = med([p["durationMs"].get("walCommit", 0) for p in ps])
        st = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]
        v["stream.dedup.state_rows"] = med([x["numRowsTotal"] for x in st])
        v["stream.dedup.state_mb"] = med([x["memoryUsedBytes"] / 2**20 for x in st])
        v["stream.cdc.snapshot_mb"] = dir_mb(self.raw["snapshot_dir"])

    def record_extra(self) -> dict:
        """Raw call walls and sample counts for the record line."""
        out = {"calls_s": [[c.pass_no, c.label, c.step, round(c.wall, 4)] for c in self.b.calls]}
        if self.stream:
            out["stream_samples"] = {q: len(s["lat"]) for q, s in self.stream.items()}
            out["stream_batches"] = {q: len(s["rest"]) for q, s in self.stream.items()}
            out["stream_failed"] = self.raw["failed"]
            out["stream_timeline"] = {
                q: [[bid, round(r["end"] - self.raw["t_start"], 3), round(r["wall"], 3),
                     len(r["created"])] for bid, r in sorted(recs.items())]
                for q, recs in self.raw["batches"].items()}
        return out


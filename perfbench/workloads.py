"""The benchmark workloads and their output checks.

Each ``run_*`` function takes a ``Bench`` (session, scratch root,
seconds, call recorder) and returns the workload's raw samples; the
caller turns them into metrics. Output checks run after the timed part
and never count toward a timing.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

from spans import catalyst_phases, dir_mb

#: catalog entries that run as one Catalyst plan each (scan/join/agg)
RELATIONAL = ("q21_waiting_supplier",)

#: catalog entries whose builders run eager Spark jobs: a consumer of the
#: connected-components loop and the MinHash-LSH control that skips it
ITERATIVE = {
    "dedup_filtered_corpus": "dedup_cc",
    "dedup_minhash_lsh": "dedup_minhash_lsh",
}

#: ELT gold table -> catalog entry whose DuckDB oracle it must match
GOLD_ORACLE = {
    "summary_by_season": "gold_summary_by_season",
    "home_vs_away": "gold_home_vs_away",
    "team_weaknesses_unpivoted": "gold_team_weaknesses_unpivoted",
    "spurs_player_contributions_unpivoted": "gold_spurs_player_contributions",
    "streaks_and_rivals": "gold_streaks_and_rivals",
    "players_recommendations": "gold_players_recommendations",
}

#: batch phases run the first (cold) pass and then warm passes: one for
#: ELT (about 20 s), two for the short catalog pass, whose single-pass
#: spread over ten seeds reached 21% of its median
MIN_PASSES = {"elt": 2, "catalog": 3}

ELT_STAGES = ("bronze", "silver_load", "silver_save", "gold_build", "gold_write", "quality")

#: open-loop rates (events per second) of the two stream queries
DEDUP_EPS = 500
CDC_EPS = 200
#: share of dedup events that repeat one of the previous seven event ids
DUP_PER_MILLE = 100
#: the streams run this long before the --seconds measuring window opens
#: (cold start and JIT warm-up) and this long after it closes, so every
#: event created inside the window is emitted by a committed batch
STREAM_WARMUP_S = 3.0
STREAM_TAIL_S = 1.5


@dataclass
class Call:
    pass_no: int
    label: str
    step: str
    wall: float
    ok: bool
    extra: dict = field(default_factory=dict)


@dataclass
class Bench:
    spark: object
    tmp: str
    sf_dir: str  # repacked layout the timed calls read
    src_dir: str  # as generated; the DuckDB oracles read it
    seed: int
    seconds: float
    traced: bool
    calls: list = field(default_factory=list)
    passes: list = field(default_factory=list)  # (pass_no, wall)
    checks: int = 0
    mismatches: list = field(default_factory=list)
    errors: list = field(default_factory=list)

    def call(self, wl: str, pass_no: int, label: str, step: str, fn):
        if self.traced:
            gid = f"{wl}|p{pass_no}|{label}|{step}"
            self.spark.sparkContext.setJobGroup(gid, gid)
        t0 = time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception as exc:  # noqa: BLE001 - a failed call is a counted outcome
            traceback.print_exc(file=sys.stderr)
            self.errors.append(f"{label}.{step}: {exc!r}"[:300])
            out, ok = exc, False
        wall = time.perf_counter() - t0
        self.calls.append(Call(pass_no, label, step, wall, ok))
        return out, ok


# ---------------------------------------------------------------- checks

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def multiset(names, rows) -> Counter:
    order = sorted(range(len(names)), key=lambda i: names[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def duck(sf_dir: str):
    import duckdb

    from nba_spurs_etl_spark.sources.catalog import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_rows(b: Bench, con, name: str, oracle_sql: str, names, rows) -> None:
    """Row count and order-insensitive multiset against DuckDB."""
    b.checks += 1
    rel = con.sql(oracle_sql)
    d_names, d_rows = list(rel.columns), rel.fetchall()
    if sorted(names) != sorted(d_names) or len(rows) != len(d_rows):
        b.mismatches.append(f"{name}: shape {len(rows)} vs oracle {len(d_rows)}")
    elif multiset(names, rows) != multiset(d_names, d_rows):
        b.mismatches.append(f"{name}: values differ from oracle")


# ------------------------------------------------------------------- elt

def run_elt(b: Bench) -> dict:
    """bronze -> silver -> gold (materialized) -> quality, the way
    ``pipeline.run_pipeline(materialize_gold=True)`` runs it, one timed
    call per stage, repeated until --seconds is used up."""
    from nba_spurs_etl_spark import quality
    from nba_spurs_etl_spark.plans import gold
    from nba_spurs_etl_spark.sources import bronze, silver

    spark = b.spark
    sizes: dict[str, float] = {}
    start = time.perf_counter()
    last_ok = None
    p = 0
    while p < MIN_PASSES["elt"] or time.perf_counter() - start < b.seconds:
        wd = os.path.join(b.tmp, "elt", f"pass{p}")
        bdir, sdir, gdir = (os.path.join(wd, x) for x in ("bronze", "silver", "gold"))
        t0 = time.perf_counter()

        def build_gold(tables):
            persisted = {n: spark.read.parquet(os.path.join(sdir, n)) for n in tables}
            return gold.build_all(persisted)

        def write_gold(g):
            for n, df in g.items():
                df.write.mode("overwrite").parquet(os.path.join(gdir, n))

        steps = (  # each takes the previous stage's result, in ELT_STAGES order
            lambda _: bronze.write_all(spark, bdir),
            lambda _: silver.load_all(spark, bdir),
            lambda t: (silver.save_warehouse(t, sdir), t)[1],
            build_gold,
            lambda g: (write_gold(g), g)[1],
            quality.run_checks,
        )
        val, ok = None, True
        for step, fn in zip(ELT_STAGES, steps, strict=True):
            val, ok = b.call("elt", p, step, "call", lambda fn=fn, v=val: fn(v))
            if not ok:
                break
        wall = time.perf_counter() - t0
        b.passes.append((p, wall))
        if ok:
            if p == 0:
                sizes = {"bronze": dir_mb(bdir), "silver": dir_mb(sdir), "gold": dir_mb(gdir)}
            if last_ok is not None:
                shutil.rmtree(last_ok, ignore_errors=True)
            last_ok = wd
        p += 1

    if last_ok is not None:  # untimed output check of the last good pass
        from nba_spurs_etl_spark.plans.catalog import oracles

        orc = oracles()
        con = duck(b.src_dir)
        for table, entry in GOLD_ORACLE.items():
            df = spark.read.parquet(os.path.join(last_ok, "gold", table))
            check_rows(b, con, f"elt.{table}", orc[entry], df.columns,
                       [tuple(r) for r in df.collect()])
        con.close()
    return {"sizes": sizes}


# --------------------------------------------------------------- catalog

def run_catalog(b: Bench) -> None:
    """The relational and iterative catalog slices, each entry drained
    to the noop sink; the seed permutes entry order inside every pass.
    The first pass drains with collect() so its rows can be checked
    against the DuckDB oracles afterwards."""
    from nba_spurs_etl_spark.plans.catalog import registry

    reg = registry()
    entries = list(RELATIONAL) + list(ITERATIVE)
    rng = random.Random(b.seed)
    collected = {}
    start = time.perf_counter()
    p = 0
    while p < MIN_PASSES["catalog"] or time.perf_counter() - start < b.seconds:
        order = entries[:]
        rng.shuffle(order)
        t0 = time.perf_counter()
        for name in order:
            q = reg[name]
            df, ok = b.call("catalog", p, name, "build", lambda q=q: q.builder(b.spark, b.sf_dir))
            if not ok:
                continue
            if b.traced and name in RELATIONAL:
                ph, ok = b.call("catalog", p, name, "plan", lambda df=df: catalyst_phases(df))
                if ok:
                    b.calls[-1].extra = ph
            if p == 0:
                rows, ok = b.call("catalog", p, name, "drain",
                                  lambda df=df: [tuple(r) for r in df.collect()])
                if ok:
                    collected[name] = (df.columns, rows)
            else:
                b.call("catalog", p, name, "drain",
                       lambda df=df: df.write.format("noop").mode("overwrite").save())
        b.passes.append((p, time.perf_counter() - t0))
        p += 1

    con = duck(b.src_dir)
    for name, (names, rows) in collected.items():
        check_rows(b, con, name, reg[name].oracle, names, rows)
    con.close()


# ---------------------------------------------------------------- stream

def _event_cols(seed: int):
    """Column expressions mapping the rate source's (timestamp, value)
    to one event; ``event_ids`` below mirrors the id rule in Python."""
    from pyspark.sql import functions as F

    v = F.col("value")
    dup = (F.pmod(v * 2654435761 + seed * 97, F.lit(1000)) < DUP_PER_MILLE) & (v >= 8)
    return [
        F.when(dup, v - 1 - F.pmod(v * 40503 + seed, F.lit(7))).otherwise(v).alias("event_id"),
        # event time runs up to 44 s behind creation, inside the watermark
        F.timestamp_micros(
            F.unix_micros("timestamp") - F.pmod(v * 31 + seed, F.lit(45)) * 1_000_000
        ).alias("ts"),
        F.pmod(v * 7919 + seed, F.lit(150)).alias("user_id"),
        F.element_at(F.array(*[F.lit(t) for t in ("click", "error", "purchase", "signup", "view")]),
                     (F.pmod(v * 104729 + seed, F.lit(5)) + 1).cast("int")).alias("event_type"),
        (F.pmod(v * 1299709 + seed, F.lit(49000)) / 100.0).alias("value"),
        v.alias("seq"),
        F.unix_micros(F.col("timestamp")).alias("created_us"),
    ]


def event_ids(seed: int, n: int) -> set[int]:
    out = set()
    for v in range(n):
        dup = (v * 2654435761 + seed * 97) % 1000 < DUP_PER_MILLE and v >= 8
        out.add(v - 1 - (v * 40503 + seed) % 7 if dup else v)
    return out


def _changelog_cols(seed: int, n_keys: int, value_col: str = "value"):
    """Seeded I/U/D changelog row over the orders keys for rate value v."""
    from pyspark.sql import functions as F

    v = F.col(value_col)
    h = F.pmod(v * 40503 + seed * 13, F.lit(100))
    return [
        F.pmod(v * 2654435761 + seed * 7, F.lit(n_keys)).alias("o_orderkey"),
        F.pmod(v * 7919 + seed, F.lit(1500)).alias("o_custkey"),
        F.element_at(F.array(F.lit("F"), F.lit("O"), F.lit("P")),
                     (F.pmod(v, F.lit(3)) + 1).cast("int")).alias("o_orderstatus"),
        (F.pmod(v * 1299709 + seed, F.lit(49_900_000)) / 100.0 + 1000.0).alias("o_totalprice"),
        F.when(h < 25, "I").when(h < 75, "U").otherwise("D").alias("op"),
        v.alias("seq"),
    ]


SNAPSHOT_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


def run_stream(b: Bench) -> dict:
    """Two open-loop queries fed by the built-in ``rate`` source:
    watermark dedup (state store, append mode) and a CDC apply into a
    versioned snapshot (foreachBatch). A latency sample is the time from
    an event's creation stamp to the end of the micro-batch that emitted
    it, for the events created inside the measuring window."""
    from pyspark.sql import functions as F

    from nba_spurs_etl_spark.operators.merge import latest_by_key, merge_cdc
    from nba_spurs_etl_spark.sources.catalog import load_table
    from nba_spurs_etl_spark.streaming.cdc import CdcSnapshot
    from nba_spurs_etl_spark.streaming.events import stream_dedup_within_watermark

    spark, seed = b.spark, b.seed
    # stateful stream partitions are fixed by the first checkpoint; one
    # per core, as a deployment of a stream this size would choose
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    root = os.path.join(b.tmp, "stream")
    base = load_table(spark, b.sf_dir, "orders").select(*SNAPSHOT_COLS)
    n_keys = base.count()
    snap = CdcSnapshot(spark, os.path.join(root, "snapshot"), ["o_orderkey"], order_col="seq")
    snap.init(base)

    batches: dict[str, dict[int, dict]] = {"dedup": {}, "cdc": {}}
    t_start = time.time()

    def dedup_batch(df, bid):
        t0 = time.perf_counter()
        rows = df.select("event_id", "seq", "created_us").collect()
        now = time.time()
        batches["dedup"][bid] = {
            "ids": [r[0] for r in rows], "max_seq": max((r[1] for r in rows), default=-1),
            "created": [r[2] / 1e6 for r in rows],
            "wall": time.perf_counter() - t0, "end": now,
        }

    def cdc_batch(df, bid):
        t0 = time.perf_counter()
        created = [r[0] for r in df.select("created_us").collect()]
        snap.apply_batch(df.drop("created_us"), bid)
        now = time.time()
        batches["cdc"][bid] = {
            "n": len(created), "created": [c / 1e6 for c in created],
            "wall": time.perf_counter() - t0, "end": now,
        }

    # stream threads inherit the caller's local properties: drop the last
    # catalog call's job group so stream jobs are not counted under it
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def rate(eps):
        return spark.readStream.format("rate").option("rowsPerSecond", eps).load()

    events = rate(DEDUP_EPS).select(*_event_cols(seed))
    changes = rate(CDC_EPS).select(
        *_changelog_cols(seed, n_keys), F.unix_micros("timestamp").alias("created_us"))
    queries = {
        "dedup": stream_dedup_within_watermark(events).writeStream.outputMode("append")
        .foreachBatch(dedup_batch)
        .option("checkpointLocation", os.path.join(root, "ckpt_dedup")).start(),
        "cdc": changes.writeStream.foreachBatch(cdc_batch)
        .option("checkpointLocation", os.path.join(root, "ckpt_cdc")).start(),
    }
    failed_queries = []
    window = (t_start + STREAM_WARMUP_S, t_start + STREAM_WARMUP_S + b.seconds)
    while time.time() < window[1] + STREAM_TAIL_S and not failed_queries:
        time.sleep(0.2)
        failed_queries = [f"{n}: {q.exception()}"[:300]
                          for n, q in queries.items() if q.exception() is not None]
    progress = {}
    for name, q in queries.items():
        q.stop()
        progress[name] = [dict(p) for p in q.recentProgress]

    # a batch counts once Spark has reported its progress (it committed);
    # a batch interrupted by stop() is dropped from samples and checks
    committed = {n: {p["batchId"]: p for p in progress[n]} for n in queries}
    for n in queries:
        for bid in list(batches[n]):
            if bid not in committed[n]:
                del batches[n][bid]

    # untimed output checks. Every input up to the last emitted source
    # value sits in a committed batch, so each distinct id among them must
    # have been emitted exactly once.
    n_in = 1 + max((rec["max_seq"] for rec in batches["dedup"].values()), default=-1)
    emitted = [i for rec in batches["dedup"].values() for i in rec["ids"]]
    expected = event_ids(seed, n_in)
    b.checks += 1
    if len(emitted) != len(set(emitted)) or set(emitted) != expected:
        b.mismatches.append(
            f"stream.dedup: {len(emitted)} emitted, {len(set(emitted))} distinct, "
            f"expected {len(expected)} over {n_in} events")
    n_cdc = sum(rec["n"] for rec in batches["cdc"].values())
    log = spark.range(n_cdc).select(*_changelog_cols(seed, n_keys, "id"))
    expect = merge_cdc(base, latest_by_key(log, ["o_orderkey"], "seq").drop("seq"),
                       ["o_orderkey"], "op")
    last = max(batches["cdc"], default=-1)
    got = snap.store.read_at_or_before(last + 1).select(*SNAPSHOT_COLS)
    b.checks += 1
    if multiset(SNAPSHOT_COLS, got.collect()) != multiset(SNAPSHOT_COLS, expect.select(*SNAPSHOT_COLS).collect()):
        b.mismatches.append(f"stream.cdc: snapshot differs from batch merge_cdc over {n_cdc} changes")
    return {"batches": batches, "progress": progress, "t_start": t_start, "window": window,
            "failed": failed_queries, "snapshot_dir": os.path.join(root, "snapshot")}


def run_catalog_stream(b: Bench) -> dict:
    """The catalog passes, then the two stream queries for --seconds."""
    run_catalog(b)
    return run_stream(b)

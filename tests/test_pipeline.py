"""End-to-end pipeline: bronze JSON -> silver -> gold -> quality.

The JSON round-trip must be lossless (all-string columns), silver PK
validation must behave like the reference's INSERT (raise on dup), and
the pipeline's gold must equal gold computed directly on synth silver.
"""

from __future__ import annotations

import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from nba_spurs_etl_spark import quality, synth
from nba_spurs_etl_spark.normalize import normalize_columns, project_to_schema
from nba_spurs_etl_spark.pipeline import run_pipeline
from nba_spurs_etl_spark.plans import gold
from nba_spurs_etl_spark.sources.silver import PrimaryKeyViolation, validate_pk


def _ms(df):
    return Counter(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def gold_tables(spark):
    with tempfile.TemporaryDirectory() as work:
        yield run_pipeline(spark, work, materialize_gold=False)


def test_pipeline_gold_matches_direct(spark, gold_tables):
    direct = gold.build_all(synth.build_silver(spark))
    for name in direct:
        assert _ms(gold_tables[name]) == _ms(direct[name]), name


def test_pipeline_quality_green(gold_tables):
    results = quality.run_checks(gold_tables)
    assert len(results) == 12
    assert all(v == 0 for v in results.values())


def test_quality_catches_bad_values(spark, gold_tables):
    broken = dict(gold_tables)
    broken["home_vs_away"] = gold_tables["home_vs_away"].withColumn(
        "location", F.lit("Neutral")
    )
    with pytest.raises(quality.QualityError, match="home_vs_away.location"):
        quality.run_checks(broken)


def _quality_frames(spark):
    """Two crafted tables: NULLs and one bad value in an accepted_values
    column, NULLs in not_null columns; the second table's name holds the
    characters check names are built from."""
    t1 = spark.createDataFrame(
        [("p", 1), ("q", None), (None, 2), ("r", 3), (None, None)],
        "x string, y int",
    )
    t2 = spark.createDataFrame(
        [("Home",), ("Away",), ("Neutral",), (None,)], "location string"
    )
    return {"t1": t1, "odd.tbl:2": t2}


def test_fused_counts_match_per_check_filter(spark):
    """The one-query suite reports exactly the per-check
    ``filter(pred).count()`` of dbt's compiled SQL, NULLs excluded from
    accepted_values, with violations in two tables reported together."""
    tables = _quality_frames(spark)
    t1, t2 = tables["t1"], tables["odd.tbl:2"]
    checks = [
        quality.not_null("t1", "x"),
        quality.accepted_values("odd.tbl:2", "location", ("Home", "Away")),
        quality.accepted_values("t1", "x", ("p", "q")),
        quality.not_null("t1", "y"),
    ]
    want = {
        "not_null:t1.x": t1.filter("x IS NULL").count(),
        "accepted_values:odd.tbl:2.location": t2.filter(
            "location NOT IN ('Home', 'Away')"
        ).count(),
        "accepted_values:t1.x": t1.filter("x NOT IN ('p', 'q')").count(),
        "not_null:t1.y": t1.filter("y IS NULL").count(),
    }
    assert want == {
        "not_null:t1.x": 2,
        "accepted_values:odd.tbl:2.location": 1,
        "accepted_values:t1.x": 1,
        "not_null:t1.y": 2,
    }
    with pytest.raises(quality.QualityError) as err:
        quality.run_checks(tables, checks)
    assert str(err.value) == f"quality checks failed: {want}"
    assert "t1." in str(err.value) and "odd.tbl:2." in str(err.value)

    # NULLs alone never fail accepted_values; a passing suite returns
    # every count, in suite order
    passing = [
        quality.accepted_values("t1", "x", ("p", "q", "r")),
        quality.accepted_values("odd.tbl:2", "location", ("Home", "Away", "Neutral")),
    ]
    got = quality.run_checks(tables, passing)
    assert list(got.items()) == [
        ("accepted_values:t1.x", 0),
        ("accepted_values:odd.tbl:2.location", 0),
    ]


def test_same_column_different_kinds_do_not_collide(spark):
    tables = _quality_frames(spark)
    checks = [
        quality.accepted_values("t1", "y", ("1", "2", "3")),
        quality.not_null("t1", "y"),
    ]
    with pytest.raises(quality.QualityError) as err:
        quality.run_checks(tables, checks)
    assert str(err.value) == "quality checks failed: {'not_null:t1.y': 2}"


def test_run_checks_empty_suite(spark):
    assert quality.run_checks(_quality_frames(spark), []) == {}
    assert quality.run_checks({}, []) == {}


def test_unknown_check_kind_raises(spark):
    with pytest.raises(ValueError, match="unknown check kind 'unique'"):
        quality.run_checks(
            _quality_frames(spark), [quality.Check("t1", "x", "unique")]
        )


def test_gold_suite_is_one_action(gold_tables, monkeypatch):
    """All 12 checks run as one DataFrame action (nested calls, such as
    first() going through take() and collect(), count once)."""
    cls = type(gold_tables["home_vs_away"])
    actions, depth = [], [0]

    def counted(name):
        orig = getattr(cls, name)

        def wrapper(self, *args, **kwargs):
            if not depth[0]:
                actions.append(name)
            depth[0] += 1
            try:
                return orig(self, *args, **kwargs)
            finally:
                depth[0] -= 1

        return wrapper

    for name in ("first", "head", "take", "collect", "count", "isEmpty",
                 "toLocalIterator", "toPandas"):
        monkeypatch.setattr(cls, name, counted(name))
    results = quality.run_checks(gold_tables)
    assert len(results) == 12 and not any(results.values())
    assert actions == ["first"]


def test_materialized_pipeline_checks_written_gold(
    spark, gold_tables, tmp_path, monkeypatch
):
    """With materialize_gold the checks read the gold Parquet just
    written, not the lazy frames (which would re-run every model)."""
    import os

    checked, original = {}, quality.run_checks

    def capture(tables, checks=None):
        checked.update(tables)
        return original(tables, checks)

    monkeypatch.setattr(quality, "run_checks", capture)
    work = str(tmp_path)
    run_pipeline(spark, work, materialize_gold=True)
    assert set(checked) == set(gold_tables)
    for name, df in checked.items():
        files = df.inputFiles()
        gold_dir = os.path.join(work, "gold", name)
        assert files and all(gold_dir in f for f in files), (name, files)


def test_load_all_names_first_pk_violation(spark, tmp_path):
    """Duplicate PKs in the second and fourth keyed tables: the one
    fused check raises for the first of them in LOAD_MAP order."""
    from nba_spurs_etl_spark.sources import bronze, silver

    d = str(tmp_path / "bronze")
    bronze.write_all(spark, d)
    for name in ("players", "free_agents"):
        df = bronze.ENTITY_BUILDERS[name](spark)
        df.unionByName(df.limit(1)).write.mode("overwrite").json(f"{d}/{name}")
    keyed = [n for n, pk in silver.LOAD_MAP.items() if pk is not None]
    assert keyed.index("players") == 1
    with pytest.raises(PrimaryKeyViolation) as err:
        silver.load_all(spark, d)
    assert str(err.value).startswith(
        "silver.players: 1 duplicated PK tuple(s) on ('player_id', 'season')"
    )


def test_pk_validation_raises_on_duplicates(spark):
    teams = synth.build_teams(spark)
    assert validate_pk(teams, ("id",)) == 0
    dup = teams.unionByName(teams.limit(1))
    assert validate_pk(dup, ("id",)) == 1
    with pytest.raises(PrimaryKeyViolation):
        from nba_spurs_etl_spark.sources import silver as silver_mod

        with tempfile.TemporaryDirectory() as d:
            dup.write.mode("overwrite").json(f"{d}/teams")
            silver_mod.load_silver_table(spark, d, "teams")


def test_normalize_first_wins_and_projection(spark):
    df = spark.createDataFrame(
        [("x", "y", "z", "2024")], ["PLAYER_ID", "Player_Id", "Name", "SEASON_YEAR"]
    )
    norm = normalize_columns(df)
    # lowercase fold collides PLAYER_ID/Player_Id -> first kept;
    # season_year renamed via the one live COLUMN_MAPPINGS entry
    assert norm.columns == ["player_id", "name", "season"]
    proj = project_to_schema(norm, ["player_id", "season", "missing_col"])
    row = proj.collect()[0]
    assert row.player_id == "x" and row.season == "2024"
    assert row.missing_col is None


def test_malformed_json_modes(spark, tmp_path):
    """One corrupt line: PERMISSIVE keeps the load alive (all-NULL
    row), DROPMALFORMED skips it, FAILFAST reproduces the reference's
    json.loads abort (dags:357)."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from nba_spurs_etl_spark.sources.silver import read_entity

    p = tmp_path / "ent"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"id": "1", "name": "ok"}\n'
        "THIS IS NOT JSON\n"
        '{"id": "2", "name": "also ok"}\n'
    )
    perm = read_entity(spark, str(p), fmt="json", mode="PERMISSIVE")
    assert perm.count() == 3
    assert perm.filter("id IS NOT NULL").count() == 2
    dropm = read_entity(spark, str(p), fmt="json", mode="DROPMALFORMED")
    assert dropm.count() == 2
    with pytest.raises((Py4JJavaError, Exception)):
        read_entity(spark, str(p), fmt="json", mode="FAILFAST").collect()


def test_entity_roundtrip_format_agnostic(spark, tmp_path):
    """CSV / parquet bronze feeds must land on the identical all-string
    silver frame as the JSON path (S9 generalized): same columns, same
    string values, every column StringType."""
    from nba_spurs_etl_spark.sources.bronze import write_entity
    from nba_spurs_etl_spark.sources.silver import read_entity

    frames = {}
    for fmt in ("json", "csv", "parquet", "orc"):
        path = write_entity(spark, "teams", str(tmp_path / fmt), fmt=fmt)
        df = read_entity(spark, path, fmt=fmt)
        assert all(t == "string" for _, t in df.dtypes), df.dtypes
        frames[fmt] = {
            tuple(str(v) if v is not None else None for v in r)
            for r in df.select(*sorted(df.columns)).collect()
        }
    assert frames["json"] == frames["csv"] == frames["parquet"]


def test_object_store_scheme_roundtrip(spark, tmp_path):
    """S8's claim is that the object-store upload IS the write path
    prefix: hand the writer a non-local URI scheme and the same code
    ships there with no separate upload pass (reference dags:292-319
    uses an explicit boto3 put per file instead).

    No MinIO in this sandbox, so the test mounts a ViewFileSystem
    cluster (``viewfs://bronzestore/``) over a scratch dir in the live
    Hadoop conf — the writes/reads then resolve the filesystem by URI
    scheme+authority through exactly the Hadoop FileSystem layer an
    ``s3a://`` path uses, which is the claim under test (s3a swaps the
    impl class, not the code path)."""
    from nba_spurs_etl_spark.sources.bronze import write_entity
    from nba_spurs_etl_spark.sources.silver import read_entity

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    link = "fs.viewfs.mounttable.bronzestore.link./store"
    hconf.set(link, f"file://{tmp_path}/backing")
    try:
        out = write_entity(spark, "teams", "viewfs://bronzestore/store")
        assert out.startswith("viewfs://"), out
        df = read_entity(spark, out, fmt="json")
        got = {
            tuple(str(v) for v in r)
            for r in df.select(*sorted(df.columns)).collect()
        }
        local = read_entity(
            spark, write_entity(spark, "teams", str(tmp_path / "local"))
        )
        want = {
            tuple(str(v) for v in r)
            for r in local.select(*sorted(local.columns)).collect()
        }
        assert got == want and len(got) > 0
    finally:
        hconf.unset(link)


def test_python_datasource_roster_matches_synth(spark):
    """The nba_api_stub DataSource (partition-per-team fetch shape)
    must reproduce synth.build_players exactly, distributed."""
    from nba_spurs_etl_spark import synth
    from nba_spurs_etl_spark.sources.pyds import NbaApiStubDataSource

    spark.dataSource.register(NbaApiStubDataSource)
    ds = spark.read.format("nba_api_stub").load()
    assert ds.rdd.getNumPartitions() == synth.N_TEAMS
    got = {tuple(r) for r in ds.collect()}
    want = {tuple(r) for r in synth.build_players(spark).collect()}
    assert got == want


def test_live_datasource_retry_and_partitioning():
    """Live-mode reader must (a) map one partition per team, (b) retry
    each fetch with the reference's exponential backoff (tenacity
    wait_exponential min=4 max=10, stop_after_attempt(5), dags:138-141)
    and (c) shape dict(zip(headers, row)) records onto the all-string
    roster schema. Exercised with a fake transport — no network."""
    import pytest

    from nba_spurs_etl_spark.sources.pyds import (
        LiveRosterReader,
        fetch_with_retry,
    )

    calls, sleeps = [], []
    rec = {"PLAYER_ID": 42, "PLAYER": "Test Player", "POSITION": "C",
           "HEIGHT": "6-10", "WEIGHT": "250", "AGE": 30.0}

    def flaky(team_id, season):
        calls.append((team_id, season))
        if len(calls) < 3:
            raise ConnectionError("simulated 429")
        return [rec]

    reader = LiveRosterReader(
        [1610612759, 7], "2024", transport=flaky, sleep=sleeps.append
    )
    parts = reader.partitions()
    assert [p.team for p in parts] == [1610612759, 7]  # one per team

    rows = list(reader.read(parts[0]))
    assert calls == [(1610612759, "2024")] * 3  # 2 failures + success
    assert sleeps == [4.0, 8.0]  # doubling from the 4s floor
    assert rows == [("42", "Test Player", "C", "2024", "6-10", "250", "30.0")]

    # permanent failure: 5 attempts, waits capped at 10s, then raises
    sleeps.clear()

    def dead(team_id, season):
        raise ConnectionError("down")

    with pytest.raises(ConnectionError):
        fetch_with_retry(dead, 1, "2024", sleep=sleeps.append)
    assert sleeps == [4.0, 8.0, 10.0, 10.0]


def test_repack_layout_equivalence(spark):
    """ensure_repacked (bench ingest step) must produce a drop-in sf_dir:
    large tables split into order-preserving per-core part-files with
    byte-identical rows, small tables + events symlinked through, and a
    second call a no-op (mtime-keyed)."""
    import os
    import time

    import pyarrow.parquet as pq

    from nba_spurs_etl_spark.sources.repack import ensure_repacked

    sf = "/root/testdata/sf0.01"
    # min_rows=1000 forces the split path for the fact tables at sf0.01
    out = ensure_repacked(sf, 8, min_rows=1000)

    # events stays a single file (streaming pathGlobFilter contract)
    ev = os.path.join(out, "events.parquet")
    assert os.path.islink(ev) and os.path.isfile(ev)

    for t in ("region", "nation", "customer", "lineitem", "orders"):
        src = os.path.join(sf, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        n_src = pq.ParquetFile(src).metadata.num_rows
        if n_src >= 1000:
            assert os.path.isdir(dst), t
            parts = [p for p in os.listdir(dst) if p.endswith(".parquet")]
            assert len(parts) > 1, t
        else:
            assert os.path.islink(dst), t
        a = spark.read.parquet(src)
        b = spark.read.parquet(dst)
        assert a.schema == b.schema, t
        assert b.count() == n_src, t
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), t

    # idempotence: second call rewrites nothing (marker mtimes stable)
    li = os.path.join(out, "lineitem.parquet")
    if os.path.isdir(li):
        before = {p: os.stat(os.path.join(li, p)).st_mtime_ns
                  for p in os.listdir(li)}
        time.sleep(0.01)
        assert ensure_repacked(sf, 8, min_rows=1000) == out
        after = {p: os.stat(os.path.join(li, p)).st_mtime_ns
                 for p in os.listdir(li)}
        assert before == after


def test_warm_session_returns_the_repacked_dir(spark):
    """The shared timing warm-up (bench.py and the scripts) hands back
    the repacked layout the timed runs read, with every catalog table
    readable there."""
    from nba_spurs_etl_spark.session import default_parallelism, warm_session
    from nba_spurs_etl_spark.sources.catalog import TESTDATA_TABLES, load_table
    from nba_spurs_etl_spark.sources.repack import ensure_repacked

    from .conftest import SF_SMOKE

    out = warm_session(spark, SF_SMOKE)
    assert out == ensure_repacked(SF_SMOKE, default_parallelism())
    for t in TESTDATA_TABLES:
        assert load_table(spark, out, t).count() == load_table(
            spark, SF_SMOKE, t
        ).count(), t


def test_repack_passes_part_file_directories_through(spark, tmp_path):
    """A Spark-written table (a directory of part-files, as the 10x
    replicas are) is already laid out: ensure_repacked symlinks it
    through instead of opening it as one parquet file."""
    import os

    from nba_spurs_etl_spark.sources.repack import ensure_repacked

    sf = tmp_path / f"sfparts_{tmp_path.name}"
    src = str(sf / "lineitem.parquet")
    spark.range(50).repartition(2).write.parquet(src)
    dst = os.path.join(ensure_repacked(str(sf), 8, min_rows=1), "lineitem.parquet")
    assert os.path.islink(dst) and os.readlink(dst) == src
    assert spark.read.parquet(dst).count() == 50


def test_dynamic_partition_overwrite_backfill(spark, tmp_path):
    """Idempotent daily backfill: re-running one day's aggregation with
    partitionOverwriteMode=dynamic must replace ONLY that day's
    partition, leaving every other partition byte-identical — the
    standard INSERT OVERWRITE pattern any scheduled 100 TB pipeline
    rests on (static overwrite mode would wipe the whole table)."""
    import os

    from nba_spurs_etl_spark.sources.catalog import load_table

    out = str(tmp_path / "daily")
    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("events"))

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        daily.write.mode("overwrite").partitionBy("day").parquet(out)
        days = sorted(
            e.split("=")[1] for e in os.listdir(out) if e.startswith("day=")
        )
        assert len(days) > 1
        target, other = days[0], days[1]
        other_mtimes = {
            f: os.stat(os.path.join(out, f"day={other}", f)).st_mtime_ns
            for f in os.listdir(os.path.join(out, f"day={other}"))
            if f.endswith(".parquet")
        }
        before = spark.read.parquet(out)
        total_before = before.count()
        target_rows_before = before.filter(F.col("day") == target).count()

        # backfill the first day with CORRECTED data (halved counts)
        fixed = daily.filter(F.col("day") == target).withColumn(
            "events", (F.col("events") / 2).cast("long")
        )
        fixed.write.mode("overwrite").partitionBy("day").parquet(out)

        after = spark.read.parquet(out)
        assert after.count() == total_before  # same rows overall
        assert after.filter(F.col("day") == target).count() == target_rows_before
        # the corrected values landed
        a = {(r["event_type"], r["events"])
             for r in after.filter(F.col("day") == target).collect()}
        w = {(r["event_type"], r["events"]) for r in fixed.collect()}
        assert a == w
        # untouched partitions: same files, same mtimes
        now_mtimes = {
            f: os.stat(os.path.join(out, f"day={other}", f)).st_mtime_ns
            for f in os.listdir(os.path.join(out, f"day={other}"))
            if f.endswith(".parquet")
        }
        assert now_mtimes == other_mtimes
    finally:
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")


def test_session_caches_are_weakly_keyed(spark):
    """VERDICT r03 item 4: the silver/weakness fixture caches must key
    on the session OBJECT (WeakKeyDictionary), not id(spark) — ids are
    reused after GC, so an id-keyed dict could serve a dead session's
    frames to an unrelated new one. With object keys that confusion is
    impossible: lookup is by identity, and a key the GC can reach is by
    definition still the same live session. (Entries whose value still
    references the key — cached DataFrames hold their session — are
    retained, which also pins the session alive: the id-reuse hazard
    cannot occur by construction.)"""
    from nba_spurs_etl_spark.plans import gold_fixture as gf

    s2 = spark.newSession()
    a = gf._silver(spark)
    b = gf._silver(s2)
    assert a is not b  # no crossover between live sessions
    assert spark in gf._SILVER_CACHE and s2 in gf._SILVER_CACHE
    # same session -> same cached dict (the cache actually caches)
    assert gf._silver(spark) is a
    assert gf._silver(s2) is b

    # cleanup: drop the scratch session's entry + cached frames
    for df in b.values():
        df.unpersist()
    del gf._SILVER_CACHE[s2]
    assert spark in gf._SILVER_CACHE and s2 not in gf._SILVER_CACHE


def test_load_events_nanos_layout_sniffed_and_truncated(spark, tmp_path):
    """The round-1 testdata carried TIMESTAMP(NANOS); later rounds are
    microseconds. The loader must sniff the footer and (a) read a
    nanos layout via nanosAsLong + integer-div truncation to µs, (b)
    leave the session conf UNTOUCHED for µs layouts — nanosAsLong is
    session-wide and cannot be restored after a lazy read, so it must
    only ever be set when the layout needs it."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nba_spurs_etl_spark.sources.catalog import (
        _events_ts_is_nanos,
        _load_events,
    )

    # µs layout (current testdata): no sniff hit, conf untouched
    assert not _events_ts_is_nanos("/root/testdata/sf0.001/events.parquet")

    ts = pd.to_datetime(
        ["2024-01-01 00:00:00.123456789", "2024-01-02 00:00:00.000000001"],
        format="ISO8601",
    )
    path = os.path.join(str(tmp_path), "events.parquet")
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ts, type=pa.timestamp("ns"))}),
        path,
        version="2.6",
        coerce_timestamps=None,
    )
    assert _events_ts_is_nanos(path)
    got = sorted(
        (r["event_id"], str(r["ts"])) for r in _load_events(spark, path).collect()
    )
    assert got == [
        (1, "2024-01-01 00:00:00.123456"),  # ns truncated to µs
        (2, "2024-01-02 00:00:00"),
    ]

"""Round-8 fix pins.

1. Bounded-overlap re-chunking for the rolling quantile (VERDICT r7
   item 2): the segment-parallel plan must be BIT-identical to the
   serial one-partition-per-series plan, on the fixture and under
   planted 90%-skew / sparse-segment geometries (a cold series whose
   trailing frame spans ~50 segments exercises multi-hop context).
2. Skewed-series differentials for the other per-series window
   operators (VERDICT r7 item 5): window_time_range and
   window_session_islands against their DuckDB oracles on a frame
   where one series carries 90% of the rows.
"""

from __future__ import annotations

import datetime

import duckdb
import pandas as pd
import pytest

from tests.parity import assert_frames_match

_BASE = datetime.datetime(2003, 3, 1, 0, 0, 0)


def _skewed_events():
    """Deterministic events frame: series 'hot' (user 1) carries 90%
    of rows packed into 3 days; three cold series include a 1-row-per-
    day drip whose 50-row trailing frame spans ~50 daily segments
    (multi-hop context), ts ties, and a series starting mid-timeline.
    """
    rows = []
    eid = 0

    def add(ts, uid, etype, value):
        nonlocal eid
        eid += 1
        rows.append((eid, ts, uid, etype, value, "{}"))

    # hot: 2700 rows over 3 days (~900 per daily segment), irregular
    # spacing with planted exact-timestamp ties every 97th row.
    for i in range(2700):
        sec = (i * 53) % 259_200  # 3 days of seconds, scattered
        if i % 97 == 0 and i > 0:
            sec = ((i - 1) * 53) % 259_200  # tie with a neighbor
        ts = _BASE + datetime.timedelta(seconds=sec, microseconds=i % 7)
        add(ts, 1, "hot", ((i * 37) % 1000) / 2.0)
    # drip: one row per day for 60 days — frame 50 spans 50 segments.
    for i in range(60):
        ts = _BASE + datetime.timedelta(days=i, hours=3)
        add(ts, 2, "drip", float((i * 11) % 40))
    # burst: starts mid-timeline (day 20), 180 rows in 2 hours.
    for i in range(180):
        ts = _BASE + datetime.timedelta(days=20, seconds=40 * i)
        add(ts, 3, "burst", ((i * 13) % 77) / 4.0)
    # lone: a single-row series (frame of one).
    add(_BASE + datetime.timedelta(days=5), 4, "lone", 9.25)
    return rows


_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)


@pytest.fixture(scope="module")
def skewed(spark):
    return spark.createDataFrame(_skewed_events(), _SCHEMA)


def _sorted_pdf(df):
    return (
        df.toPandas()
        .sort_values(["event_type", "ts", "event_id"])
        .reset_index(drop=True)
    )


def test_rolling_quantile_chunked_matches_serial_fixture(spark, sf_dir):
    """On the real fixture, the re-chunked plan equals the serial plan
    bit-for-bit at day AND hour granularity (hour → ~3 rows/segment at
    this sf: every row's frame crosses many segment boundaries)."""
    from frinesis_spark.catalog import table
    from frinesis_spark.operators import timeseries as ts

    e = table(spark, sf_dir, "events")
    serial = _sorted_pdf(ts.rolling_quantile_serial(e))
    for unit in ("day", "hour"):
        chunked = _sorted_pdf(ts.rolling_quantile_chunked(e, unit))
        pd.testing.assert_frame_equal(chunked, serial)


def test_rolling_quantile_chunked_skewed_series(spark, skewed):
    """Planted geometry: 90%-hot series, a 1-row-per-day drip whose
    frame spans ~50 segments, a mid-timeline burst, a 1-row series,
    exact-timestamp ties — chunked equals serial bit-for-bit."""
    from frinesis_spark.operators import timeseries as ts

    serial = _sorted_pdf(ts.rolling_quantile_serial(skewed))
    chunked = _sorted_pdf(ts.rolling_quantile_chunked(skewed, "day"))
    pd.testing.assert_frame_equal(chunked, serial)


def test_rolling_quantile_oracle_under_skew(spark, skewed, monkeypatch):
    """The registered query (chunked plan) still hash-matches its
    DuckDB oracle when the events table is the skewed frame."""
    import frinesis_spark.operators.timeseries as ts_mod
    from frinesis_spark import catalog

    real_table = catalog.table
    monkeypatch.setattr(
        ts_mod,
        "table",
        lambda s, d, n: skewed if n == "events" else real_table(s, d, n),
    )
    duck = duckdb.connect()
    duck.register("events", skewed.toPandas())
    spark_pdf = ts_mod.QUERIES["window_rolling_quantile"](
        spark, "crafted://skew"
    ).toPandas()
    duck_pdf = duck.sql(ts_mod.ORACLE["window_rolling_quantile"]).df()
    assert_frames_match(spark_pdf, duck_pdf, "window_rolling_quantile")


def test_window_time_range_skewed_series(spark, skewed, monkeypatch):
    """RANGE-frame window vs its oracle with user 1 carrying 90% of
    rows (the per-user sort run is the skew unit for this operator)."""
    import frinesis_spark.operators.relational as rel_mod
    from frinesis_spark import catalog

    real_table = catalog.table
    monkeypatch.setattr(
        rel_mod,
        "table",
        lambda s, d, n: skewed if n == "events" else real_table(s, d, n),
    )
    duck = duckdb.connect()
    duck.register("events", skewed.toPandas())
    spark_pdf = rel_mod.QUERIES["window_time_range"](
        spark, "crafted://skew"
    ).toPandas()
    duck_pdf = duck.sql(rel_mod.ORACLE["window_time_range"]).df()
    assert_frames_match(spark_pdf, duck_pdf, "window_time_range")


def test_session_islands_skewed_series(spark, skewed, monkeypatch):
    """Gaps-and-islands vs its oracle under the same planted skew —
    the hot user's single long sorted run must still sessionize
    identically."""
    import frinesis_spark.operators.timeseries as ts_mod
    from frinesis_spark import catalog

    real_table = catalog.table
    monkeypatch.setattr(
        ts_mod,
        "table",
        lambda s, d, n: skewed if n == "events" else real_table(s, d, n),
    )
    duck = duckdb.connect()
    duck.register("events", skewed.toPandas())
    spark_pdf = ts_mod.QUERIES["window_session_islands"](
        spark, "crafted://skew"
    ).toPandas()
    duck_pdf = duck.sql(ts_mod.ORACLE["window_session_islands"]).df()
    assert_frames_match(spark_pdf, duck_pdf, "window_session_islands")


# --- bucketed store restart resume (ADVICE r7) -----------------------------


def test_bucketed_store_resumes_after_driver_restart(spark, tmp_path):
    """A NEW store instance over the same base dir (driver restart /
    foreachBatch replay from checkpoint) must resume from the
    persisted manifest: prior buckets visible, a replayed batch
    idempotent, and the crashed run's pending reclaim drained."""
    from pyspark.sql import functions as F

    from frinesis_spark.streaming.windows import _BucketedSnapshotStore

    base = str(tmp_path / "store")
    order = [F.col("ts").desc(), F.col("event_id").desc()]
    schema = "event_id long, ts long, user_id long, value double"
    s1 = _BucketedSnapshotStore(base, "user_id", order, n_buckets=4)
    b0 = spark.createDataFrame(
        [(i, 10 + i, i % 6, float(i)) for i in range(18)], schema
    )
    b1 = spark.createDataFrame([(100, 999, 3, 55.5)], schema)
    s1.merge(b0, 0)
    s1.merge(b1, 1)
    expect = {
        r["user_id"]: (r["ts"], r["value"])
        for r in s1.snapshot(spark).collect()
    }

    # "Restart": fresh instance, no merges yet — snapshot resumes.
    s2 = _BucketedSnapshotStore(base, "user_id", order, n_buckets=4)
    assert s2.manifest == s1.manifest
    got = {
        r["user_id"]: (r["ts"], r["value"])
        for r in s2.snapshot(spark).collect()
    }
    assert got == expect

    # Replay of batch 1 through the restarted store: idempotent.
    s2.merge(b1, 1)
    got = {
        r["user_id"]: (r["ts"], r["value"])
        for r in s2.snapshot(spark).collect()
    }
    assert got == expect

    # The first run's pending-reclaim dirs were inherited and drained.
    import os

    live = set(s2.manifest.values())
    for b, p in s1.manifest.items():
        if p not in live:
            s2.merge(b1, 2)  # one more merge flushes keep-one-gen
            break
    s2.merge(
        spark.createDataFrame([(101, 1000, 3, 1.0)], schema), 3
    )
    vdirs = [d for d in os.listdir(base) if d.startswith("v")]
    # keep-one-generation: at most two generations of any bucket
    # linger; superseded early dirs must eventually vanish.
    assert len(vdirs) <= 4


# --- CDC merge replay idempotence (VERDICT r7 item 6) -----------------------


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_upsert_merge_replay_idempotent(spark):
    """At-least-once delivery replays a batch: applying the SAME
    updates batch to an already-merged table must be a no-op."""
    from frinesis_spark.operators.relational import upsert_merge

    target = spark.createDataFrame(
        [(1, "O", 10.0), (2, "O", 20.0), (3, "F", 30.0)],
        "k long, status string, price double",
    )
    updates = spark.createDataFrame(
        [(2, "U", 22.0), (9, "N", 90.0), (4, "N", None)],
        "k long, status string, price double",
    )
    once = upsert_merge(target, updates, "k")
    twice = upsert_merge(once, updates, "k")
    assert _canon(once) == _canon(twice)
    got = {r["k"]: (r["status"], r["price"]) for r in once.collect()}
    # NULL update value falls back to... nothing to fall back to on an
    # insert — stays NULL; matched key takes update values wholesale.
    assert got[2] == ("U", 22.0) and got[9] == ("N", 90.0)
    assert got[4] == ("N", None)


def test_scd2_merge_replay_idempotent(spark):
    """SCD-2 replay: the change-detection guard must recognize every
    redelivered update as equal to its key's open version and no-op —
    no double-closed versions, no duplicate inserts."""
    from pyspark.sql import functions as F

    from frinesis_spark.operators.relational import scd2_merge

    t0 = F.to_timestamp(F.lit("2020-01-01 00:00:00"))
    eff = F.to_timestamp(F.lit("2021-06-15 00:00:00"))
    eff2 = F.to_timestamp(F.lit("2021-06-16 00:00:00"))
    base = spark.createDataFrame(
        [(1, 100.0), (2, 200.0), (3, None)], "k long, v double"
    )
    hist0 = base.select(
        "k",
        "v",
        t0.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = spark.createDataFrame(
        [
            (1, 150.0),  # genuine change → close + new version
            (2, 200.0),  # NO-OP: equal value → must not churn history
            (3, None),  # NO-OP with NULL values (needs <=> compare)
            (7, 700.0),  # brand-new key
        ],
        "k long, v double",
    )
    once = scd2_merge(hist0, updates, eff, "k", "v")
    twice = scd2_merge(once, updates, eff, "k", "v")
    assert _canon(once) == _canon(twice)
    rows = once.collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    assert len(by_key[1]) == 2  # closed v=100 + open v=150
    assert {r["is_current"] for r in by_key[1]} == {True, False}
    assert len(by_key[2]) == 1 and by_key[2][0]["is_current"]
    assert len(by_key[3]) == 1 and by_key[3][0]["is_current"]
    assert len(by_key[7]) == 1 and by_key[7][0]["is_current"]

    # A LATER batch with a different effective date still versions.
    updates2 = spark.createDataFrame([(1, 175.0)], "k long, v double")
    third = scd2_merge(twice, updates2, eff2, "k", "v")
    k1 = sorted(
        ((r["v"], r["is_current"]) for r in third.collect() if r["k"] == 1)
    )
    assert k1 == [(100.0, False), (150.0, False), (175.0, True)]


# --- r8 review-wave pins (crafted frames that crashed or corrupted) --------


def _route_events(monkeypatch, mod, events):
    from frinesis_spark import catalog

    real_table = catalog.table
    monkeypatch.setattr(
        mod,
        "table",
        lambda s, d, n: events if n == "events" else real_table(s, d, n),
    )


def test_ab_test_degenerate_groups_dont_kill_job(spark, monkeypatch):
    """Single-sample variants, a missing variant, constant values and
    a zero mean all previously killed the job with DIVIDE_BY_ZERO;
    they must yield NULLs (matching DuckDB's x/0) instead."""
    import frinesis_spark.operators.timeseries as ts_mod

    B = datetime.datetime(2007, 1, 1)
    E = [
        # type 'one_b': variant B has exactly ONE sample (n_b-1 = 0)
        (1, B, 0, "one_b", 1.0, "{}"),
        (2, B, 2, "one_b", 3.0, "{}"),
        (3, B, 1, "one_b", 9.0, "{}"),
        # type 'no_b': variant B absent entirely (n_b = 0)
        (4, B, 0, "no_b", 1.0, "{}"),
        (5, B, 2, "no_b", 2.0, "{}"),
        # type 'const': both variants constant → pooled variance 0
        (6, B, 0, "const", 5.0, "{}"),
        (7, B, 2, "const", 5.0, "{}"),
        (8, B, 1, "const", 7.0, "{}"),
        (9, B, 3, "const", 7.0, "{}"),
        # type 'zero_a': mean_a = 0 → lift division by zero
        (10, B, 0, "zero_a", 0.0, "{}"),
        (11, B, 2, "zero_a", 0.0, "{}"),
        (12, B, 1, "zero_a", 4.0, "{}"),
        (13, B, 3, "zero_a", 6.0, "{}"),
    ]
    events = spark.createDataFrame(E, _SCHEMA)
    _route_events(monkeypatch, ts_mod, events)
    duck = duckdb.connect()
    duck.register("events", events.toPandas())
    spark_pdf = ts_mod.QUERIES["analytics_ab_test"](
        spark, "crafted://degenerate"
    ).toPandas()
    duck_pdf = duck.sql(ts_mod.ORACLE["analytics_ab_test"]).df()
    assert_frames_match(spark_pdf, duck_pdf, "analytics_ab_test")
    by = spark_pdf.set_index("event_type")
    assert pd.isna(by.loc["one_b", "t_stat"])  # n-1 = 0 → NULL
    assert pd.isna(by.loc["no_b", "mean_b"])
    assert pd.isna(by.loc["const", "t_stat"])  # 0 pooled variance
    assert pd.isna(by.loc["zero_a", "lift"])  # mean_a = 0
    assert by.loc["zero_a", "t_stat"] > 0  # t itself is fine


def test_resample_interp_degenerate_spans(spark, monkeypatch):
    """A series whose span straddles no hour boundary previously
    KILLED the job (sequence start > stop); it must instead produce
    zero grid rows, matching DuckDB's empty generate_series. A series
    ending exactly ON an hour must emit the exact boundary value, not
    NULL."""
    import frinesis_spark.operators.timeseries as ts_mod

    B = datetime.datetime(2007, 6, 1, 0, 0, 0)
    E = [
        # 'tiny': 00:10 → 00:50, no hour boundary inside
        (1, B + datetime.timedelta(minutes=10), 1, "tiny", 1.0, "{}"),
        (2, B + datetime.timedelta(minutes=50), 1, "tiny", 2.0, "{}"),
        # 'solo': single off-hour observation
        (3, B + datetime.timedelta(minutes=30), 1, "solo", 5.0, "{}"),
        # 'edge': first and last observations exactly on hours
        (4, B, 2, "edge", 1.0, "{}"),
        (5, B + datetime.timedelta(hours=1, minutes=30), 2, "edge", 4.0, "{}"),
        (6, B + datetime.timedelta(hours=2), 2, "edge", 9.0, "{}"),
    ]
    events = spark.createDataFrame(E, _SCHEMA)
    _route_events(monkeypatch, ts_mod, events)
    duck = duckdb.connect()
    duck.register("events", events.toPandas())
    spark_pdf = ts_mod.QUERIES["time_resample_interp"](
        spark, "crafted://degenerate"
    ).toPandas()
    duck_pdf = duck.sql(ts_mod.ORACLE["time_resample_interp"]).df()
    assert_frames_match(spark_pdf, duck_pdf, "time_resample_interp")
    assert set(spark_pdf["event_type"]) == {"edge"}  # degenerates: 0 rows
    edge = spark_pdf.set_index("hour_ts").sort_index()
    assert list(edge["v_interp"]) == [
        1.0,  # 00:00 exact first observation
        1.0 + 3.0 * (60 / 90),  # 01:00 interpolated
        9.0,  # 02:00 exact LAST observation (was NULL pre-fix)
    ]


def test_url_canonicalize_nondefault_ports_survive(spark):
    """':8080' and ':4430' previously lost their colon (host corrupted
    to 'example.com80') because the default-port regex had no
    delimiter anchor."""
    from frinesis_spark.operators.text import canonicalize_url

    urls = spark.createDataFrame(
        [
            ("http://example.com:8080/path",),
            ("https://example.com:4430/x",),
            ("http://example.com:80/path",),
            ("https://example.com:443",),
            ("HTTP://Example.com:80",),
        ],
        "u string",
    )
    got = [r["c"] for r in urls.select(canonicalize_url("u").alias("c")).collect()]
    assert got == [
        "http://example.com:8080/path",
        "https://example.com:4430/x",
        "http://example.com/path",
        "https://example.com",
        "http://example.com",
    ]


def test_scd2_null_is_current_passes_through(spark):
    """A malformed NULL is_current history row must survive the merge
    (with the closed history), not silently vanish from both
    branches."""
    from pyspark.sql import functions as F

    from frinesis_spark.operators.relational import scd2_merge

    eff = F.to_timestamp(F.lit("2021-06-15 00:00:00"))
    hist = spark.createDataFrame(
        [
            (1, 10.0, "2020-01-01", None, True),
            (1, 5.0, "2019-01-01", "2020-01-01", False),
            (2, 7.0, "2020-01-01", None, None),  # malformed row
        ],
        "k long, v double, valid_from string, valid_to string, "
        "is_current boolean",
    ).select(
        "k",
        "v",
        F.to_timestamp("valid_from").alias("valid_from"),
        F.to_timestamp("valid_to").alias("valid_to"),
        "is_current",
    )
    updates = spark.createDataFrame([(1, 20.0)], "k long, v double")
    out = scd2_merge(hist, updates, eff, "k", "v").collect()
    assert len(out) == 4  # 1-closed, 1-new, old closed, malformed row
    assert sum(1 for r in out if r["k"] == 2) == 1  # not dropped


def test_bucketed_store_raises_on_corrupt_manifest(spark, tmp_path):
    import shutil

    from pyspark.sql import functions as F

    from frinesis_spark.streaming.windows import _BucketedSnapshotStore

    base = str(tmp_path / "store")
    order = [F.col("ts").desc()]
    s1 = _BucketedSnapshotStore(base, "user_id", order, n_buckets=2)
    s1.merge(
        spark.createDataFrame([(1, 1, 5, 1.0), (2, 1, 6, 2.0)],
                              "event_id long, ts long, user_id long, value double"),
        0,
    )
    victim = next(iter(s1.manifest.values()))
    shutil.rmtree(victim)
    with pytest.raises(RuntimeError, match="corrupt"):
        _BucketedSnapshotStore(base, "user_id", order, n_buckets=2)


def test_ab_test_fractional_constant_variants(spark, monkeypatch):
    """Constant FRACTIONAL-money variants compute Σv² − (Σv)²/n to a
    tiny negative double; unclamped, sqrt of it is NaN on Spark and an
    Out of Range error on DuckDB (review wave 2, reproduced with five
    rows of 0.01)."""
    import frinesis_spark.operators.timeseries as ts_mod

    B = datetime.datetime(2007, 1, 1)
    E = [(i + 1, B, 2 * i, "c", 0.01, "{}") for i in range(5)] + [
        (i + 6, B, 2 * i + 1, "c", 0.02, "{}") for i in range(5)
    ]
    events = spark.createDataFrame(E, _SCHEMA)
    _route_events(monkeypatch, ts_mod, events)
    duck = duckdb.connect()
    duck.register("events", events.toPandas())
    spark_pdf = ts_mod.QUERIES["analytics_ab_test"](
        spark, "crafted://frac"
    ).toPandas()
    duck_pdf = duck.sql(ts_mod.ORACLE["analytics_ab_test"]).df()
    assert_frames_match(spark_pdf, duck_pdf, "analytics_ab_test")
    r = spark_pdf.iloc[0]
    assert pd.isna(r["t_stat"])  # clamped 0 variance → NULL, not NaN
    assert abs(r["lift"] - 1.0) < 1e-9


def test_resample_interp_pre_epoch_degenerate_span(spark, monkeypatch):
    """Pre-1970 degenerate span: DuckDB's truncating % made the
    oracle's floor-to-hour land one hour HIGH for negative epochs, so
    the oracle emitted a phantom grid row for a series the Spark side
    (pmod) correctly filtered out (review wave 2, reproduced)."""
    import frinesis_spark.operators.timeseries as ts_mod

    B = datetime.datetime(1969, 12, 31, 23, 0, 0)
    E = [
        (1, B + datetime.timedelta(minutes=10), 1, "pre", 1.0, "{}"),
        (2, B + datetime.timedelta(minutes=50), 1, "pre", 2.0, "{}"),
        # a healthy pre-epoch series spanning an hour boundary
        (3, B + datetime.timedelta(minutes=30), 2, "ok", 4.0, "{}"),
        (4, B + datetime.timedelta(hours=1, minutes=30), 2, "ok", 8.0, "{}"),
    ]
    events = spark.createDataFrame(E, _SCHEMA)
    _route_events(monkeypatch, ts_mod, events)
    duck = duckdb.connect()
    duck.register("events", events.toPandas())
    spark_pdf = ts_mod.QUERIES["time_resample_interp"](
        spark, "crafted://preepoch"
    ).toPandas()
    duck_pdf = duck.sql(ts_mod.ORACLE["time_resample_interp"]).df()
    assert_frames_match(spark_pdf, duck_pdf, "time_resample_interp")
    assert set(spark_pdf["event_type"]) == {"ok"}
    assert len(spark_pdf) == 1  # midnight grid point only
    assert abs(spark_pdf.iloc[0]["v_interp"] - 6.0) < 1e-12


def test_stream_user_profile_all_null_user(spark, monkeypatch, tmp_path):
    """A user whose values are ALL NULL must emit NULL max_value (SQL
    MAX semantics), not a -inf sentinel — and state must round-trip
    the None through the flat state tuple."""
    import frinesis_spark.streaming.stateful as st_mod
    from frinesis_spark.streaming import runner

    B = datetime.datetime(2007, 1, 1)
    events = spark.createDataFrame(
        [
            (1, B, 1, "a", None, "{}"),
            (2, B + datetime.timedelta(minutes=1), 1, "b", None, "{}"),
            (3, B, 2, "a", 5.0, "{}"),
        ],
        _SCHEMA,
    )
    # Route the staged stream at a crafted parquet dir. Write µs
    # timestamps explicitly: the session default (INT96) reads back
    # as ns in pyarrow and mis-drives the catalog's footer probe.
    d = tmp_path / "events_stage"
    d.mkdir()
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    try:
        events.coalesce(1).write.mode("overwrite").parquet(
            str(d / "stage")
        )
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    import glob
    import shutil

    part = glob.glob(str(d / "stage" / "part-*.parquet"))[0]
    sf_like = tmp_path / "sf"
    sf_like.mkdir()
    shutil.copy(part, str(sf_like / "events.parquet"))

    out = st_mod.QUERIES["stream_user_profile"](
        spark, str(sf_like)
    ).toPandas()
    by = out.set_index("user_id")
    assert pd.isna(by.loc[1, "max_value"])
    assert by.loc[1, "n_events"] == 2 and by.loc[1, "n_types"] == 2
    assert by.loc[2, "max_value"] == 5.0


def test_events_ts_probe_handles_int96(spark, tmp_path):
    """Arrow reports both parquet TIMESTAMP(NANOS) and INT96 as
    timestamp[ns]; Spark loads INT96 natively — the footer probe must
    classify it 'ts', not route it down the nanos-as-long branch
    (which fails with a 'ts div 1000' type error)."""
    from frinesis_spark import catalog

    B = datetime.datetime(2007, 1, 1)
    events = spark.createDataFrame(
        [(1, B, 1, "a", 1.0, "{}")], _SCHEMA
    )
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        events.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "ev")
        )
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    import glob

    part = glob.glob(str(tmp_path / "ev" / "part-*.parquet"))[0]
    assert catalog.events_ts_unit(part) == "ts"
    # And the table loader round-trips it.
    import shutil

    sf_like = tmp_path / "sf"
    sf_like.mkdir()
    shutil.copy(part, str(sf_like / "events.parquet"))
    got = catalog.table(spark, str(sf_like), "events").collect()
    assert len(got) == 1 and got[0]["event_id"] == 1


def test_conditional_regex_no_match_priority(spark, monkeypatch):
    """A priority with no leading digits previously KILLED the job
    (Spark regexp_extract no-match returns '' and ANSI cast of '' to
    long throws); contract is now NULL on both engines."""
    import frinesis_spark.operators.relational  # noqa: F401
    import frinesis_spark.operators.scalar as sc_mod
    from frinesis_spark import catalog

    orders = spark.createDataFrame(
        [
            (1, "O", "1-URGENT", 100.0, datetime.date(1996, 1, 1)),
            (2, "F", "EXPEDITE", 200.0, datetime.date(1996, 1, 2)),
        ],
        "o_orderkey long, o_orderstatus string, o_orderpriority string, "
        "o_totalprice double, o_orderdate date",
    )
    real_table = catalog.table
    monkeypatch.setattr(
        sc_mod,
        "table",
        lambda s, d, n: orders if n == "orders" else real_table(s, d, n),
    )
    duck = duckdb.connect()
    duck.register("orders", orders.toPandas())
    spark_pdf = sc_mod.QUERIES["scalar_conditional_regex"](
        spark, "crafted://prio"
    ).toPandas()
    duck_pdf = duck.sql(sc_mod.ORACLE["scalar_conditional_regex"]).df()
    assert_frames_match(spark_pdf, duck_pdf, "scalar_conditional_regex")
    by = spark_pdf.set_index("o_orderkey")
    assert by.loc[1, "prio_num"] == 1
    assert pd.isna(by.loc[2, "prio_num"])


def test_multimodal_null_text_rows(spark, monkeypatch):
    """NULL text documents: decode emits NULL-feature rows (SQL
    semantics — previously len(None) killed the job), frame sampling
    fans out to zero rows, resize drops them — all matching the
    oracles on a crafted frame."""
    import frinesis_spark.operators.multimodal as mm_mod
    from frinesis_spark import catalog

    docs = spark.createDataFrame(
        [
            (1, "hello world text", "en", "s0", 16),
            (2, None, "en", "s0", None),
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    real_table = catalog.table
    monkeypatch.setattr(
        mm_mod,
        "table",
        lambda s, d, n: docs if n == "documents" else real_table(s, d, n),
    )
    duck = duckdb.connect()
    duck.register("documents", docs.toPandas())
    for name in (
        "multimodal_decode",
        "multimodal_resize",
        "multimodal_frame_sample",
    ):
        spark_pdf = mm_mod.QUERIES[name](spark, "crafted://mm").toPandas()
        duck_pdf = duck.sql(mm_mod.ORACLE[name]).df()
        assert_frames_match(spark_pdf, duck_pdf, name)
    dec = mm_mod.QUERIES["multimodal_decode"](
        spark, "crafted://mm"
    ).toPandas().set_index("doc_id")
    assert pd.isna(dec.loc[2, "content_hash"]) and pd.isna(
        dec.loc[2, "n_bytes"]
    )


def test_stream_sessionize_exact_gap_boundary(spark, tmp_path):
    """An EXACTLY-30:00.000000 gap must stay in one session (strict >
    split) through the real streaming path — the float-seconds gap
    compare carried ~256ns of ulp per operand, enough to flip this
    boundary; the integer-µs compare cannot."""
    import glob
    import shutil

    import frinesis_spark.streaming.stateful as st_mod

    B = datetime.datetime(2007, 1, 1, 12, 0, 0)
    events = spark.createDataFrame(
        [
            (1, B, 1, "a", 1.0, "{}"),
            (2, B + datetime.timedelta(minutes=30), 1, "a", 1.0, "{}"),
            # 30min + 1µs after event 2 → splits
            (
                3,
                B + datetime.timedelta(minutes=60, microseconds=1),
                1,
                "a",
                1.0,
                "{}",
            ),
        ],
        _SCHEMA,
    )
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    try:
        events.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stage")
        )
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    part = glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
    sf_like = tmp_path / "sf"
    sf_like.mkdir()
    shutil.copy(part, str(sf_like / "events.parquet"))
    out = st_mod.QUERIES["stream_custom_sessionize"](
        spark, str(sf_like)
    ).collect()
    assert len(out) == 1
    # events 1+2 share a session (exact 30:00 does NOT split); event 3
    # opens the second.
    assert out[0]["n_sessions"] == 2
    assert out[0]["max_session_len"] == 2


# --- dedup review-wave pins (wave 5) ----------------------------------------


def test_simhash_null_text_and_fingerprint_stability(spark, monkeypatch):
    """NULL text previously crashed the simhash worker (len(None));
    it now fingerprints to 0 (all bits lose their vote). And the
    token-budgeted rewrite must produce the SAME fingerprints as
    before for normal docs — pinned by recomputing one doc by hand."""
    import frinesis_spark.operators.dedup as dd_mod
    from frinesis_spark import catalog

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "en", "s", 22),
            (2, None, "en", "s", None),
            (3, "alpha beta gamma delta", "en", "s", 22),  # exact dup
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    real_table = catalog.table
    monkeypatch.setattr(
        dd_mod,
        "table",
        lambda s, d, n: docs if n == "documents" else real_table(s, d, n),
    )
    fps = {
        r["doc_id"]: r["simhash"]
        for r in dd_mod._simhash_fingerprints(docs).collect()
    }
    assert fps[2] == 0  # empty vote → all-zero fingerprint
    assert fps[1] == fps[3] != 0  # dup docs agree, content hashes in


def test_minhash_simhash_budget_subchunk_equality(spark, sf_dir, monkeypatch):
    """Shrinking the worker token budget (forcing the oversized-doc
    sub-chunk paths and multi-block batching) must not move a single
    signature or fingerprint — min/votes are associative."""
    import frinesis_spark.operators.dedup as dd_mod
    from frinesis_spark.catalog import table

    docs = table(spark, sf_dir, "documents")
    base_sig = {
        r["doc_id"]: tuple(r["sig"])
        for r in dd_mod._minhash_signatures(docs).collect()
    }
    base_fp = {
        r["doc_id"]: r["simhash"]
        for r in dd_mod._simhash_fingerprints(docs).collect()
    }
    # Force sub-chunking: re-execute the module with the budgets cut
    # to 16 tokens (the constants live inside closures, so a source
    # edit is the faithful way to shrink them).
    import importlib.util
    import pathlib
    import tempfile

    src = open(dd_mod.__file__).read()
    assert "_SH_BUDGET = 1 << 18" in src and "tok_budget = 1 << 18" in src

    edited = src.replace("_SH_BUDGET = 1 << 18", "_SH_BUDGET = 1 << 4").replace(
        "tok_budget = 1 << 18", "tok_budget = 1 << 4"
    )
    tmp = pathlib.Path(tempfile.mkdtemp()) / "dedup_tiny.py"
    tmp.write_text(edited)
    spec2 = importlib.util.spec_from_file_location("dedup_tiny", str(tmp))
    tiny2 = importlib.util.module_from_spec(spec2)
    spec2.loader.exec_module(tiny2)
    tiny_sig = {
        r["doc_id"]: tuple(r["sig"])
        for r in tiny2._minhash_signatures(docs).collect()
    }
    tiny_fp = {
        r["doc_id"]: r["simhash"]
        for r in tiny2._simhash_fingerprints(docs).collect()
    }
    assert tiny_sig == base_sig
    assert tiny_fp == base_fp


def test_artifact_cache_evicts_oldest_not_all(monkeypatch):
    """A 5th distinct corpus must evict ONLY the oldest entry — the
    old clear() degraded alternating-corpus sessions to a 0% hit rate
    (every lookup rebuilt a full index)."""
    from frinesis_spark import caches
    import frinesis_spark.catalog as cat

    monkeypatch.delenv("SPARK_GRAFT_INDEX_STORE", raising=False)
    monkeypatch.setattr(cat, "session_key", lambda s: ("app", 1))
    monkeypatch.setattr(caches, "_MEMO", {})
    calls = []

    def build_for(d):
        def b():
            calls.append(d)
            return f"artifact-{d}"

        return b

    for d in ("d1", "d2", "d3", "d4"):
        caches.artifact(None, d, "evict_probe", build_for(d))
    assert len(caches._MEMO["evict_probe"]) == 4
    assert calls == ["d1", "d2", "d3", "d4"]
    caches.artifact(None, "d5", "evict_probe", build_for("d5"))
    assert len(caches._MEMO["evict_probe"]) == 4  # bound holds
    # d2..d5 survive; only d1 (oldest) was evicted
    for d in ("d2", "d3", "d4", "d5"):
        caches.artifact(None, d, "evict_probe", build_for(d))
    assert calls == ["d1", "d2", "d3", "d4", "d5"]  # all hits

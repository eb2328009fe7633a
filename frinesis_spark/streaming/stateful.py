"""Custom stateful streaming operator: capped sessionization via
``applyInPandasWithState``.

``stream_custom_sessionize`` closes a user's session on EITHER a
30-minute event gap OR a 10-event cap — the cap makes it inexpressible
with ``F.session_window`` (which merges purely on gap contiguity), so
it demonstrates the engine's arbitrary-stateful-operator surface: the
reference's hand-rolled per-key state loop (its per-topic producer
buffers, SURVEY.md §2A A13) generalizes to Spark's per-key state store
with Arrow-batched user logic.

Scale: state is O(distinct users), a handful of scalars each; events
shuffle once on user_id. On an unbounded stream you would add a state
timeout (``GroupStateTimeout.ProcessingTimeTimeout``) to expire idle
users — the replay here is bounded so no timeout fires.

Determinism: the file replay delivers the whole table in one
micro-batch and the UDF sorts each user's events by event time, so the
emitted per-user summary equals the batch gaps-and-islands computation
in the oracle: sessions per user = Σ over 30-min islands of
ceil(island_size / 10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from frinesis_spark.streaming.runner import events_stream, run_append_to_files

_GAP_S = 30 * 60.0
_CAP = 10

_OUTPUT_SCHEMA = (
    "user_id long, n_sessions long, n_events long, max_session_len long"
)
_STATE_SCHEMA = (
    "n_sessions long, n_events long, last_ts double, cur_len long, "
    "max_len long"
)


def _sessionize(key, pdfs, state: GroupState):
    import pandas as pd

    if state.exists:
        n_sessions, n_events, last_ts, cur_len, max_len = state.get
    else:
        n_sessions, n_events, last_ts, cur_len, max_len = 0, 0, 0.0, 0, 0

    ts = pd.concat([pdf["ts"] for pdf in pdfs]).sort_values()
    # Pin the unit before the epoch conversion — Arrow can hand pandas
    # either ns- or µs-resolution datetimes depending on version. The
    # gap compares in EXACT integer µs (stored as a double — µs epochs
    # are < 2^53, exact): dividing epoch ns to float seconds first
    # puts ~256 ns of ulp on each operand, enough to flip an
    # exactly-30:00 gap to a spurious extra session vs the oracle's
    # exact INTERVAL compare (review wave 4 find).
    gap_us = _GAP_S * 1_000_000.0
    for t in (
        ts.astype("datetime64[ns]").astype("int64").to_numpy() // 1000
    ).astype("float64"):
        if cur_len == 0 or t - last_ts > gap_us or cur_len >= _CAP:
            n_sessions += 1
            cur_len = 0
        cur_len += 1
        n_events += 1
        max_len = max(max_len, cur_len)
        last_ts = t

    state.update((n_sessions, n_events, last_ts, cur_len, max_len))
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "n_sessions": n_sessions,
                "n_events": n_events,
                "max_session_len": max_len,
            }
        ]
    )


def q_stream_custom_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir).select("user_id", "ts")
    out = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_append_to_files(out)


# ---------------------------------------------------------------------------
# Per-user activity profile — the transformWithState semantics (the
# retired implementation is in git history:
# git log -- tests/fixtures/tws_user_profile.py) re-expressed on
# applyInPandasWithState, so the query is driver-verifiable even
# where the TWS protobuf worker protocol is unavailable (this
# container, eight straight rounds — final disposition r9: the TWS
# module is retired to a fixture). Same output, same oracle:
# per user, total events, distinct event types, max value. The TWS
# MapState("type_counts") becomes a pair of aligned arrays in the flat
# state tuple — the flat-tuple API's encoding of a keyed sub-map.
#
# Scale: state is O(users × event types) scalars; events shuffle once
# on user_id; on an unbounded stream add a state TTL
# (ProcessingTimeTimeout) to expire idle users.

_PROFILE_OUTPUT_SCHEMA = (
    "user_id long, n_events long, n_types long, max_value double"
)
_PROFILE_STATE_SCHEMA = (
    "n_events long, max_value double, types array<string>, "
    "type_counts array<long>"
)


def _user_profile(key, pdfs, state: GroupState):
    import pandas as pd

    if state.exists:
        n, maxv, types, counts = state.get
        type_counts = dict(zip(list(types), list(counts)))
    else:
        n, maxv, type_counts = 0, None, {}

    for pdf in pdfs:
        n += len(pdf)
        # NULL-skipping max like SQL MAX: a user whose values are all
        # NULL must emit NULL, not a -inf sentinel (the oracle's MAX
        # ignores NULLs; an all-NULL user would otherwise diverge).
        vals = pdf["value"].dropna()
        if len(vals):
            batch_max = float(vals.max())
            maxv = batch_max if maxv is None else max(maxv, batch_max)
        for t, c in pdf["event_type"].value_counts().items():
            type_counts[t] = type_counts.get(t, 0) + int(c)

    keys = sorted(type_counts)
    state.update((n, maxv, keys, [type_counts[t] for t in keys]))
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "n_events": n,
                "n_types": len(type_counts),
                "max_value": maxv,
            }
        ]
    )


def q_stream_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir).select(
        "user_id", "event_type", "value"
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _user_profile,
        outputStructType=_PROFILE_OUTPUT_SCHEMA,
        stateStructType=_PROFILE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_append_to_files(out)


QUERIES = {
    "stream_custom_sessionize": q_stream_custom_sessionize,
    "stream_user_profile": q_stream_user_profile,
}

ORACLE = {
    # Gap-islands per user, then each island splits into ceil(n/10)
    # capped sessions; max session length is min(island, 10).
    "stream_custom_sessionize": f"""
        WITH marks AS (
            SELECT user_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_island
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        islands AS (
            SELECT user_id,
                   SUM(new_island) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) AS island
            FROM marks
        ),
        sizes AS (
            SELECT user_id, island, COUNT(*) AS n
            FROM islands GROUP BY user_id, island
        )
        SELECT user_id,
               CAST(SUM(CEIL(n / {_CAP}.0)) AS BIGINT) AS n_sessions,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(MAX(LEAST(n, {_CAP})) AS BIGINT) AS max_session_len
        FROM sizes
        GROUP BY user_id
    """,
    # Bounded one-batch replay emits one row per user == batch GROUP BY
    # (same oracle as the retired TWS variant it mirrors; see
    # git log -- tests/fixtures/tws_user_profile.py).
    "stream_user_profile": """
        SELECT user_id,
               COUNT(*) AS n_events,
               COUNT(DISTINCT event_type) AS n_types,
               MAX(value) AS max_value
        FROM events
        GROUP BY user_id
    """,
}

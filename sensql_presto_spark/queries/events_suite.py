"""Time-series / event-log coverage over the ``events`` table.

The reference is batch-only (SURVEY.md §2.11) — these queries cover the
event-log workload on its relational core (windows, sessions, JSON props,
as-of joins), plus one genuine Structured Streaming entry (beyond-reference,
``sensql_presto_spark.streaming``).

Scale notes: every query here shuffles once on its natural key (window
start, user_id) with map-side partial aggregation; sessionization and the
as-of join are single-pass window functions over a per-user sort — the
standard "shuffle by entity, sort by time" shape that holds at 100 TB
because state per entity is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sensql_presto_spark.queries.registry import register
from sensql_presto_spark.queries.relational import _epoch_dialects, _sql_query
from sensql_presto_spark.streaming import tumbling_window_counts

# --- tumbling window aggregation (batch). Spark's window() generator vs the
#     oracle's date_trunc — same 1h-aligned buckets. -------------------------

# Float sums are quantized to exact integer 1e-4 units BEFORE aggregation
# (floor(x*10000+0.5) is identical IEEE arithmetic in both engines, and
# integer sums are order-independent) — round-1 showed round(sum(double),4)
# still drifts with accumulation order.
_sql_query(
    "events_tumbling_window",
    """
    SELECT w.start AS win_start, event_type,
           count(*) AS n,
           CAST(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4,
           CAST(CAST(floor(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) * 1.0
                / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS avg_val
    FROM (SELECT window(ts, '1 hour') AS w, event_type, value FROM events)
    GROUP BY w, event_type
    ORDER BY win_start, event_type
    """,
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           count(*) AS n,
           CAST(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4,
           CAST(CAST(floor(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) * 1.0
                / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS avg_val
    FROM events
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
    tags=("events", "window"),
    bench=True,
)

# --- hopping (sliding) windows: 1h window, 30m slide — every event lands in
#     exactly two hops. Spark expands window(ts, size, slide) natively; the
#     oracle unnests the two covering slots from epoch arithmetic. ----------

_sql_query(
    "events_hopping_window",
    """
    SELECT w.start AS win_start, count(*) AS n,
           CAST(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4
    FROM (SELECT window(ts, '1 hour', '30 minutes') AS w, value FROM events)
    GROUP BY w
    ORDER BY win_start
    """,
    oracle="""
    WITH h AS (
        SELECT unnest([make_timestamp((floor(epoch(ts) / 1800) * 1800 * 1000000)::BIGINT),
                       make_timestamp(((floor(epoch(ts) / 1800) * 1800 - 1800) * 1000000)::BIGINT)]) AS win_start,
               value
        FROM events
    )
    SELECT win_start, count(*) AS n,
           CAST(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4
    FROM h GROUP BY 1 ORDER BY win_start
    """,
    tags=("events", "window"),
)

# --- gap-based sessionization: new session when > 30 min since the user's
#     previous event. lag + running sum over one per-user sort. --------------

_SESSIONS_SQL = """
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
        FROM flagged
    )
"""

_SESSIONIZE_SQL = _SESSIONS_SQL + """
    SELECT user_id, session_id, count(*) AS n_events,
           ({us}(max(ts)) - {us}(min(ts))) {div} 1000000 AS dur_s,
           CAST(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4
    FROM sessions
    WHERE user_id < 30
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """

_sql_query(
    "events_sessionize",
    *_epoch_dialects(_SESSIONIZE_SQL),
    tags=("events", "session"),
    bench=True,
)

# --- JSON property extraction (reference: JsonFunctions.java →
#     get_json_object; the props column carries a JSON payload). -------------

_sql_query(
    "events_json_props",
    """
    SELECT cast(get_json_object(props, '$.k') AS INT) % 10 AS k_bucket,
           event_type,
           count(*) AS n,
           round(avg(value), 4) AS avg_val
    FROM events
    GROUP BY 1, 2
    ORDER BY k_bucket, event_type
    """,
    oracle="""
    SELECT json_extract_string(props, '$.k')::INT % 10 AS k_bucket,
           event_type,
           count(*) AS n,
           round(avg(value), 4) AS avg_val
    FROM events
    GROUP BY 1, 2
    ORDER BY k_bucket, event_type
    """,
    tags=("events", "json"),
)

# --- as-of join: each purchase matched to the user's latest strictly-prior
#     view. Implemented as ONE shuffle (by user) + sort + IGNORE NULLS
#     last_value — the scalable union-stream pattern; never a range
#     cross-join. Oracle: DuckDB's native ASOF JOIN (strict > via ts
#     uniqueness per user in this data). ------------------------------------

_sql_query(
    "events_asof_join",
    """
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'view' THEN ts END AS view_ts,
               CASE WHEN event_type = 'view' THEN event_id END AS view_id
        FROM events
        WHERE event_type IN ('view', 'purchase')
    ),
    filled AS (
        SELECT user_id, ts, event_id, event_type,
               last_value(view_ts) IGNORE NULLS OVER w AS prev_view_ts,
               last_value(view_id) IGNORE NULLS OVER w AS prev_view_id
        FROM tagged
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
           prev_view_id, prev_view_ts
    FROM filled
    WHERE event_type = 'purchase' AND prev_view_id IS NOT NULL AND user_id < 50
    ORDER BY user_id, purchase_ts
    """,
    oracle="""
    WITH v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
    SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
           v.event_id AS prev_view_id, v.ts AS prev_view_ts
    FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    WHERE p.user_id < 50
    ORDER BY p.user_id, p.ts
    """,
    tags=("events", "asof"),
    bench=True,
)


# --- Structured Streaming: event-time tumbling windows with a watermark,
#     availableNow trigger (beyond-reference; see streaming/__init__.py).
#     The single-pass stream result equals the batch aggregation, which is
#     what the oracle asserts — a real correctness gate on a streaming op.


@register(
    "events_streaming_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           count(*) AS n,
           CAST(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4
    FROM events
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
    tags=("events", "streaming"),
    doc="Structured Streaming tumbling-window aggregation (availableNow), oracle-checked.",
)
def events_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_window_counts(spark, sf_dir)


# --- Structured Streaming session windows: the streaming twin of
#     events_sessionize — session_window state merges per (user, session),
#     closed by the watermark; batch lag/cumsum SQL is the oracle. ----------


@register(
    "events_streaming_sessions",
    oracle=_SESSIONS_SQL
    + """
    SELECT user_id, min(ts) AS sess_start, count(*) AS n_events,
           CAST(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4
    FROM sessions
    WHERE user_id < 30
    GROUP BY user_id, session_id
    ORDER BY user_id, sess_start
    """,
    tags=("events", "streaming", "session"),
    doc="Streaming session_window aggregation (availableNow), oracle = batch sessionization.",
)
def events_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensql_presto_spark.streaming import session_window_stats

    return session_window_stats(spark, sf_dir)


# --- custom stateful operator (applyInPandasWithState): per-user running
#     aggregates kept as explicit state — oracle is the batch groupBy. ------


@register(
    "events_streaming_stateful",
    oracle="""
    SELECT user_id, count(*) AS n, max(value) AS max_val,
           CAST(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4
    FROM events
    WHERE user_id < 30
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("events", "streaming", "stateful"),
    doc="applyInPandasWithState custom stateful streaming operator, oracle = batch aggregate.",
)
def events_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensql_presto_spark.streaming import stateful_running_extrema

    return stateful_running_extrema(spark, sf_dir)


# --- Streaming exact dedup: dropDuplicatesWithinWatermark restores a
#     doubled stream to the original set (streaming twin of dedup_exact). --


@register(
    "events_streaming_dedup",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("events", "streaming", "dedup"),
    doc="Streaming dedup state (dropDuplicatesWithinWatermark) over a "
    "self-unioned stream; oracle = batch aggregation of the un-duplicated "
    "table.",
)
def events_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensql_presto_spark.streaming import streaming_dedup_exact

    return streaming_dedup_exact(spark, sf_dir)


# --- hypertable-style gap-filled rollup: hourly buckets materialized for
#     EVERY slot in the observed range (LEFT JOIN against a generated time
#     spine), missing sums forward-filled with IGNORE NULLS last_value —
#     the time_bucket_gapfill + locf pattern. Scale shape: the spine is
#     tiny (one row per bucket) and broadcasts; the fact is touched once
#     by the bucket aggregation.

_GAP_FILL_SQL = """
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS t0, date_trunc('hour', max(ts)) AS t1
        FROM events WHERE event_type = 'click'
    ),
    slots AS (
        SELECT {spine} AS slot FROM bounds
    ),
    hourly AS (
        SELECT date_trunc('hour', ts) AS slot, count(*) AS n,
               CAST(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4
        FROM events WHERE event_type = 'click'
        GROUP BY date_trunc('hour', ts)
    )
    SELECT s.slot, coalesce(h.n, 0) AS n,
           {locf} OVER (
               ORDER BY s.slot ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS locf_sum_e4,
           h.sum_val_e4 IS NULL AS gap
    FROM slots s LEFT JOIN hourly h ON s.slot = h.slot
    ORDER BY s.slot
    """

_sql_query(
    "events_gap_fill",
    _GAP_FILL_SQL.format(
        spine="explode(sequence(t0, t1, interval 1 hour))", locf="last_value(h.sum_val_e4) IGNORE NULLS"
    ),
    oracle=_GAP_FILL_SQL.format(
        spine="unnest(generate_series(t0, t1, INTERVAL 1 HOUR))", locf="last_value(h.sum_val_e4 IGNORE NULLS)"
    ),
    tags=("events", "timeseries", "gapfill"),
    doc="Gap-filled hourly rollup with forward fill (time_bucket_gapfill + "
    "locf): generated time spine LEFT JOIN bucket aggregates, IGNORE NULLS "
    "last_value window.",
)


# --- range join: events matched to overlapping time windows. The naive
#     plan for ts BETWEEN wstart AND wend is a nested-loop join; the scale
#     technique is to explode each window into its covered hour buckets and
#     equi-join on the bucket (hash join, shuffle bounded by windows x
#     buckets) with the exact range as a residual filter.

_RANGE_JOIN_BODY = """
    , win AS (
        SELECT row_number() OVER (ORDER BY wstart) AS win_id,
               wstart, wstart + INTERVAL 90 MINUTE AS wend
        FROM (SELECT DISTINCT date_trunc('day', ts) + INTERVAL 9 HOUR AS wstart
              FROM events)
    ),
    wb AS (
        SELECT win_id, wstart, wend, {EXPLODE} AS bk
        FROM win
    ),
    e AS (SELECT event_id, ts, value, date_trunc('hour', ts) AS bk FROM events)
    SELECT w.win_id, count(*) AS n,
           CAST(sum(cast(floor(e.value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_e4
    FROM e JOIN wb w ON e.bk = w.bk
    WHERE e.ts >= w.wstart AND e.ts < w.wend
    GROUP BY w.win_id
    ORDER BY w.win_id
"""

_sql_query(
    "events_range_join",
    "WITH x AS (SELECT 1)"
    + _RANGE_JOIN_BODY.format(
        EXPLODE="explode(sequence(date_trunc('hour', wstart), date_trunc('hour', wend), interval 1 hour))"
    ),
    oracle="WITH x AS (SELECT 1)"
    + _RANGE_JOIN_BODY.format(
        EXPLODE="unnest(generate_series(date_trunc('hour', wstart), date_trunc('hour', wend), INTERVAL 1 HOUR))"
    ),
    tags=("events", "timeseries", "range-join"),
    doc="Interval/range join via bucketed equi-join + residual range "
    "predicate (hash join, never nested-loop): each window explodes into "
    "its covered hour buckets, events join on their bucket.",
)


# --- Structured Streaming stream-stream interval join (beyond-reference):
#     purchases x same-user clicks within a 30-minute lookback, both sides
#     watermarked so join state is bounded. One availableNow pass equals
#     the batch range join the oracle runs. --------------------------------


@register(
    "events_streaming_interval_join",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id,
           count(*) AS n_pairs,
           count(DISTINCT p.event_id) AS n_purchases,
           count(DISTINCT c.event_id) AS n_clicks
    FROM purchases p
    JOIN clicks c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.user_id < 50
    GROUP BY p.user_id
    ORDER BY p.user_id
    """,
    tags=("events", "streaming", "join"),
    doc="Stream-stream interval join with bounded state (watermarks both "
    "sides), oracle-checked against the batch range join.",
)
def events_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensql_presto_spark.streaming import streaming_interval_join

    return streaming_interval_join(spark, sf_dir)


# --- streaming MERGE sink (foreachBatch + WritableTable upsert): the
#     streaming TableWriter path. Doubled delivery + full stream replay,
#     yet the keyed merge leaves each event exactly once — the
#     at-least-once -> exactly-once idempotency contract every streaming
#     ingest pipeline needs. Oracle: per-type aggregation of the base
#     table (each event landed once).


@register(
    "events_streaming_upsert",
    oracle="""
    SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS n_ids,
           CAST(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("events", "streaming", "mutation"),
    doc="Streaming upsert sink: foreachBatch MERGE keyed on event_id over a "
    "doubled stream replayed twice; exactly-once table state from "
    "at-least-once delivery.",
)
def events_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensql_presto_spark.streaming import streaming_upsert_sink

    return streaming_upsert_sink(spark, sf_dir)


# --- funnel analysis (the MATCH_RECOGNIZE/sequence-match workload, done
#     with one conditional-min aggregation since Spark has no
#     MATCH_RECOGNIZE): per user, the earliest ts of each step, then
#     strictly-ordered step timestamps decide funnel depth. Scale shape:
#     ONE shuffle on user_id with map-side partial min aggregation —
#     funnel depth over any event volume is a single pass, state bounded
#     by steps x users, never by events.

_sql_query(
    "events_funnel",
    """
    WITH steps AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(t_signup) AS signed_up,
           CAST(sum(CASE WHEN t_view > t_signup THEN 1 ELSE 0 END) AS BIGINT)
               AS viewed_after_signup,
           CAST(sum(CASE WHEN t_click > t_view AND t_view > t_signup
                         THEN 1 ELSE 0 END) AS BIGINT) AS clicked_in_order,
           CAST(sum(CASE WHEN t_purchase > t_click AND t_click > t_view
                              AND t_view > t_signup
                         THEN 1 ELSE 0 END) AS BIGINT) AS full_funnel
    FROM steps
    """,
    tags=("events", "funnel"),
    doc="Conversion funnel: per-user earliest step timestamps via one "
    "conditional-min pass, strictly-ordered comparisons give depth counts "
    "(the MATCH_RECOGNIZE role in a single shuffle).",
)


# Retention cohorts — the product-analytics staple: bucket users by the
# week they first appeared, then count distinct active users at each
# week offset from their cohort. Week index is an epoch-day DIV 7 (day 0
# = Monday 1970-01-05), sidestepping engine week-truncation conventions.
# Scale shape: two aggregations on user_id (activity dedup + first-seen),
# one broadcastable cohort join back (cohort table is |users|, bounded by
# the entity dimension, not the event stream), final rollup — the event
# stream is scanned once and never self-joined.
_RETENTION_SQL = """
    WITH activity AS (
        SELECT DISTINCT user_id,
               CAST({wk} AS BIGINT) AS wk
        FROM events
    ),
    cohorts AS (
        SELECT user_id, min(wk) AS cohort_wk FROM activity GROUP BY user_id
    )
    SELECT c.cohort_wk,
           CAST(a.wk - c.cohort_wk AS BIGINT) AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM activity a JOIN cohorts c ON a.user_id = c.user_id
    WHERE a.wk - c.cohort_wk <= 4
    GROUP BY c.cohort_wk, a.wk - c.cohort_wk
    ORDER BY cohort_wk, week_offset
    """

_sql_query(
    "events_retention_cohorts",
    _RETENTION_SQL.format(wk="datediff(CAST(ts AS DATE), DATE '1970-01-05') DIV 7"),
    oracle=_RETENTION_SQL.format(wk="date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7"),
    tags=("events", "retention", "cohort"),
    doc="Weekly retention cohorts: first-seen-week bucketing + distinct "
    "active users per week offset; epoch-week arithmetic keeps both "
    "engines' week boundaries identical.",
)


# Event-transition matrix (user path analysis): per-user event streams
# ordered by time yield (from -> to) bigram counts — the Markov-chain
# view of product flows. Deterministic ordering ties on (ts, event_id).
# Scale shape: ONE sort-shuffle on user_id for the lead() window (the
# sessionize shape), then a map-side-combining rollup on the 5x5-bounded
# transition key space.
_sql_query(
    "events_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    )
    SELECT from_type, to_type,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq
    WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    ORDER BY from_type, to_type
    """,
    tags=("events", "path", "markov"),
    doc="Event-transition matrix: per-user time-ordered bigrams via one "
    "lead() window (single sort-shuffle on user_id), rolled up over the "
    "event-type-bounded key space.",
)


# Rolling z-score anomaly detection — the monitoring staple: flag events
# whose value deviates > 3 sigma from the trailing window of the same
# event type. The test |x - mu| > 3*sigma is evaluated ENTIRELY in exact
# integer arithmetic on cent-quantized values — with trailing sums
# S1 = sum(c), S2 = sum(c^2) over n rows, it rewrites to
# (c*n - S1)^2 > 9*(n*S2 - S1^2) — so no float summation order can flip
# a flag and the DuckDB oracle matches bit-for-bit (the dedup_semantic
# trick applied to streaming statistics). Scale shape: ONE sort-shuffle
# on event_type for the trailing window (bounded ROWS frame => O(1)
# state per row, the Structured-Streaming-friendly shape), then a
# map-side-combining rollup on the 5-value type space.
_sql_query(
    "events_anomaly_zscore",
    """
    WITH c AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    w AS (
        SELECT event_type, event_id, cents,
               count(*)     OVER tw AS n,
               sum(cents)   OVER tw AS s1,
               sum(cents * cents) OVER tw AS s2
        FROM c
        WINDOW tw AS (PARTITION BY event_type ORDER BY event_id
                      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    flagged AS (
        SELECT event_type, event_id,
               CASE WHEN n >= 10
                         AND (cents * n - s1) * (cents * n - s1)
                             > 9 * (n * s2 - s1 * s1)
                    THEN 1 ELSE 0 END AS is_anomaly,
               CASE WHEN n >= 10 THEN 1 ELSE 0 END AS evaluated
        FROM w
    )
    SELECT event_type,
           CAST(sum(evaluated) AS BIGINT) AS n_evaluated,
           CAST(sum(is_anomaly) AS BIGINT) AS n_anomalies,
           CAST(sum(CASE WHEN is_anomaly = 1 THEN event_id END) AS BIGINT) AS anomaly_id_checksum,
           min(CASE WHEN is_anomaly = 1 THEN event_id END) AS first_anomaly_id
    FROM flagged
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("events", "anomaly", "zscore"),
    doc="Rolling 3-sigma anomaly flags over a 20-event trailing window per "
    "event type; the z-test runs in exact integer cents ((c*n - S1)^2 vs "
    "9*(n*S2 - S1^2)) so both engines agree bit-for-bit.",
    bench=True,
)


# Slowly-changing-dimension type-2 history build — the warehouse-side
# twin of events_cdc_apply (which keeps only the last writer): every
# change event becomes a dimension VERSION with a validity interval
# [valid_from, valid_to) derived from the next change's timestamp, and
# the open version is flagged current. Scale shape: ONE sort-shuffle on
# the dimension key for the lead() window — identical to sessionize —
# then pure column arithmetic; no self-join, no global sort (the final
# ORDER BY is the presentation contract, not part of the build).
_sql_query(
    "events_scd2_history",
    """
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           CAST(round(value * 100) AS BIGINT) AS attr_cents,
           CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    WHERE event_type = 'purchase' AND user_id < 300
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, version
    """,
    tags=("events", "scd2", "dimension"),
    doc="SCD type-2 dimension history: each change event becomes a "
    "version row with [valid_from, valid_to) from one lead() window per "
    "dimension key — single sort-shuffle, no self-join.",
)


# Last-touch marketing attribution: each purchase is credited to the most
# recent click/view by the same user within a 3-day lookback (the
# standard last-touch model; purchases with no touch in the window credit
# 'direct').  Deterministic tiebreak on (ts DESC, event_id DESC).  Scale
# shape: the as-of-join pattern — ONE shuffle on user_id with the 3-day
# band as a join residual, then a per-purchase top-1 (WindowGroupLimit
# prunes to the latest touch map-side) and a channel-bounded rollup; the
# touch table is never self-joined.
_sql_query(
    "events_attribution",
    """
    WITH purchases AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT event_id, user_id, ts, event_type FROM events
        WHERE event_type IN ('click', 'view')
    ),
    pairs AS (
        SELECT p.event_id AS purchase_id, p.value,
               t.event_type AS channel,
               row_number() OVER (PARTITION BY p.event_id
                                  ORDER BY t.ts DESC, t.event_id DESC) AS rn
        FROM purchases p
        LEFT JOIN touches t
          ON p.user_id = t.user_id
         AND t.ts <= p.ts
         AND t.ts >= p.ts - INTERVAL 3 DAY
    )
    SELECT coalesce(channel, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS attributed_cents
    FROM pairs WHERE rn = 1
    GROUP BY coalesce(channel, 'direct')
    ORDER BY channel
    """,
    tags=("events", "attribution", "asof"),
    doc="Last-touch attribution: purchases credited to the latest "
    "click/view within a 3-day lookback (else 'direct'); as-of-join "
    "shape — one user_id shuffle, map-side-pruned per-purchase top-1, "
    "channel-bounded rollup. Attributed value is summed in exact integer "
    "cents (per-row quantization before the sum) so no float summation "
    "order can move the driver's exact hash.",
)

# --- interval union (islands & gaps): merge overlapping per-user activity
#     intervals and report covered time — the classic "total watch time /
#     total active time" rollup that sessionization does NOT answer
#     (sessionize groups point events by gap; this merges explicit
#     [start, end) intervals that genuinely overlap).  Each event spawns a
#     deterministic interval [s, s + 60 + event_id % 240) so overlaps,
#     touching endpoints, and gaps all occur.  The island construction is
#     the standard one shuffle-sort shape: per user, an interval starts a
#     new island iff its start exceeds the running max of all previous
#     ends (ROWS UNBOUNDED PRECEDING TO 1 PRECEDING); within an island the
#     chaining invariant makes the union exactly [min(s), max(e)], so
#     coverage is a plain per-island aggregate.  All arithmetic in exact
#     integer epoch seconds.

_INTERVAL_UNION_SQL = """
    WITH iv AS (
        SELECT user_id, event_id,
               {us}(ts) {div} 1000000 AS s,
               {us}(ts) {div} 1000000 + 60 + event_id % 240 AS e
        FROM events WHERE user_id < 30
    ),
    flagged AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         IS NULL
                         OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               CAST(sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id)
                    AS BIGINT) AS island_id
        FROM flagged
    ),
    merged AS (
        SELECT user_id, island_id,
               count(*) AS n_intervals,
               min(s) AS island_start, max(e) AS island_end
        FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(sum(n_intervals) AS BIGINT) AS n_intervals,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(island_end - island_start) AS BIGINT) AS covered_s,
           CAST(max(island_end) - min(island_start) AS BIGINT) AS span_s
    FROM merged
    GROUP BY user_id
    ORDER BY user_id
    """

_sql_query(
    "events_interval_union",
    *_epoch_dialects(_INTERVAL_UNION_SQL),
    tags=("events", "intervals"),
)


# --- Sequence-pattern detection (the MATCH_RECOGNIZE role) -----------------
# Funnels count step depth; transition matrices count adjacent hops; THIS
# finds full pattern instances: view -> click -> purchase where the click
# is the LATEST click before the purchase, the view is the LATEST view
# before that click, the whole chain completes within 48 hours, and NO
# error event intervenes between the view and the purchase (the negative
# condition funnel counting cannot express — row-pattern semantics a la
# Trino's MATCH_RECOGNIZE 'V C P' with a [^E]* guard, compiled to joins).
# Scale shape (100 TB posture): every join and the NOT EXISTS guard are
# keyed on user_id — ONE co-partitioned exchange family, candidate volume
# bounded by per-user activity (the events_asof_join/range_join bound,
# never cross-user); latest-before selection is max()/max_by() with the
# map-side-combine shape, not a window over the corpus.  The total order
# is the exact-integer ord = unix_micros(ts)*1000 + event_id%1000 (ties
# on ts broken by event id, same arithmetic both engines).
_PATTERN_MATCH_SQL = """
    WITH ev AS (
        SELECT user_id, event_id, event_type, ts,
               {us}(ts) * 1000 + event_id % 1000 AS ord
        FROM events
    ),
    p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
    c AS (SELECT * FROM ev WHERE event_type = 'click'),
    v AS (SELECT * FROM ev WHERE event_type = 'view'),
    err AS (SELECT * FROM ev WHERE event_type = 'error'),
    pc AS (
        SELECT p.user_id, p.event_id AS purchase_id, p.ord AS pord, p.ts AS pts,
               max(c.ord) AS cord
        FROM p JOIN c ON c.user_id = p.user_id AND c.ord < p.ord
        GROUP BY p.user_id, p.event_id, p.ord, p.ts
    ),
    pcv AS (
        SELECT pc.user_id, pc.purchase_id, pc.pord, pc.pts, pc.cord,
               max(v.ord) AS vord, max_by(v.ts, v.ord) AS vts
        FROM pc JOIN v ON v.user_id = pc.user_id AND v.ord < pc.cord
        GROUP BY pc.user_id, pc.purchase_id, pc.pord, pc.pts, pc.cord
    ),
    windowed AS (
        SELECT * FROM pcv
        WHERE {us}(pts) - {us}(vts) <= 172800000000
    ),
    matched AS (
        SELECT w.* FROM windowed w
        WHERE NOT EXISTS (
            SELECT 1 FROM err e
            WHERE e.user_id = w.user_id AND e.ord > w.vord AND e.ord < w.pord
        )
    )
    SELECT user_id, CAST(purchase_id AS BIGINT) AS purchase_id,
           ({us}(pts) - {us}(vts)) {div} 1000000 AS view_to_purchase_secs
    FROM matched ORDER BY user_id, purchase_id
    """

_sql_query(
    "events_pattern_match",
    *_epoch_dialects(_PATTERN_MATCH_SQL, "DIV"),
    tags=("events", "pattern"),
    bench=True,
    doc="Row-pattern detection (MATCH_RECOGNIZE role): latest-click-"
    "before-purchase, latest-view-before-that-click, 48h completion "
    "window, NOT EXISTS error guard between view and purchase; all joins "
    "and the guard keyed on user_id (one co-partitioned exchange family, "
    "per-user-bounded candidates), exact-integer total order.",
)


# --- Sliding-window rate-limit audit ----------------------------------------
# The abuse/quota question every event platform asks: which users exceeded
# K events inside ANY trailing 24h window?  Expressed as a RANGE frame
# over integer epoch seconds — at most one count per event, O(1) state
# per row in the sort order (the Structured-Streaming-friendly shape,
# unlike a self-join on the time band which is O(events-in-window) per
# row).  ONE user_id sort-shuffle powers the window; the violation
# rollup is a bounded per-user aggregate.  Seconds are derived by
# INTEGER floor division of microseconds (unix_micros DIV 1e6 /
# epoch_us // 1e6) — DuckDB's epoch(ts)::BIGINT ROUNDS the fractional
# part while Spark's cast truncates, a cross-engine trap for any
# timestamp with sub-second precision.
_RATE_LIMIT_SQL = """
    WITH ev AS (
        SELECT user_id, event_id, {us}(ts) {div} 1000000 AS sec
        FROM events
    ),
    counted AS (
        SELECT user_id, event_id, sec,
               count(*) OVER (PARTITION BY user_id ORDER BY sec
                              RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS cnt_24h
        FROM ev
    ),
    flagged AS (
        SELECT user_id, event_id, sec, cnt_24h
        FROM counted WHERE cnt_24h >= 8
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_violations,
           CAST(min(sec) AS BIGINT) AS first_violation_sec,
           CAST(max(cnt_24h) AS BIGINT) AS peak_rate
    FROM flagged GROUP BY user_id ORDER BY user_id
    """

_sql_query(
    "events_rate_limit_audit",
    *_epoch_dialects(_RATE_LIMIT_SQL, "DIV"),
    tags=("events", "rate"),
    doc="Trailing-24h rate-limit audit: RANGE frame over integer epoch "
    "seconds (O(1) state per row in sort order — never a time-band "
    "self-join), one user_id sort-shuffle, bounded per-user violation "
    "rollup; seconds by integer floor of micros (DuckDB epoch()::BIGINT "
    "rounds, Spark cast truncates — the floor sidesteps both).",
)


# --- trending leaderboard: hourly top-3 event types with rank deltas -------
#
# The stream-analytics staple ("what's trending this hour, and is it
# rising?"): per tumbling hour, rank event types by count, keep the top
# 3, and attach each type's rank in the PREVIOUS hour plus the delta —
# the row a dashboard's movers widget renders.  Scale shape: ONE
# (window, type) map-side-combined count aggregate over the corpus, a
# per-window rank over the type-cardinality-bounded counts, and a
# self-join on (type, window - 1h), which is exchange-reusable with the
# rank's own partitioning; prev_rank joins BEFORE the top-3 filter so a
# type entering the leaderboard still reports where it came from.
_sql_query(
    "events_trending_topk",
    """
    WITH wc AS (
        SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    rk AS (
        SELECT win_start, event_type, n,
               row_number() OVER (PARTITION BY win_start
                                  ORDER BY n DESC, event_type) AS rk
        FROM wc
    )
    SELECT c.win_start, c.event_type, CAST(c.n AS BIGINT) AS n,
           CAST(c.rk AS BIGINT) AS rk,
           CAST(p.rk AS BIGINT) AS prev_rk,
           CAST(p.rk - c.rk AS BIGINT) AS delta
    FROM rk c
    LEFT JOIN rk p ON p.event_type = c.event_type
                  AND p.win_start = c.win_start - INTERVAL 1 HOUR
    WHERE c.rk <= 3
    ORDER BY c.win_start, c.rk
    """,
    tags=("events", "window", "trending"),
    doc="Hourly trending leaderboard: per tumbling hour the top-3 event "
    "types by count with previous-hour rank and delta; one map-side-"
    "combined (window, type) count, a cardinality-bounded rank window, "
    "and a (type, window-1h) self-join that reuses the rank exchange.",
)


# --- recency-weighted engagement score (exponential decay, exact) ----------
#
# Ranking users/items by recency-weighted activity is the standard
# engagement primitive (feed ranking, churn scoring, "hot items").  The
# textbook form sum(v * exp(-age/tau)) is float-summation-order
# sensitive; the exact-integer form used here keeps the decay
# exponential but snaps it to power-of-2 half-lives: weight = 1/2^k
# after k whole 7-day half-lives, so each event contributes
# v_e4 DIV 2^k — BIGINT only, order-independent, identical in both
# engines (shiftleft vs <<).  Negative values take a sign-aware CASE
# (|v| divided, sign reapplied) because Spark DIV truncates toward zero
# while DuckDB // floors — on a non-negative numerator the two agree,
# so the decayed contribution is trunc-toward-zero in BOTH engines for
# any sign of value.  The anchor is the corpus max timestamp
# (1-row broadcast), so the score is reproducible on a frozen snapshot.
# Scale shape: one scan, the anchor broadcast, ONE user-keyed
# map-side-combined rollup.
_sql_query(
    "events_decay_score",
    """
    WITH anchor AS (SELECT max(ts) AS mx FROM events),
    w AS (
        SELECT user_id,
               cast(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4,
               least((unix_micros((SELECT mx FROM anchor)) - unix_micros(ts))
                     DIV 604800000000, 40) AS hl
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN v_e4 >= 0
                         THEN v_e4 DIV shiftleft(CAST(1 AS BIGINT), CAST(hl AS INT))
                         ELSE -((-v_e4) DIV shiftleft(CAST(1 AS BIGINT), CAST(hl AS INT)))
                    END) AS BIGINT) AS score_e4,
           CAST(min(hl) AS BIGINT) AS freshest_halflives
    FROM w WHERE user_id < 40
    GROUP BY user_id ORDER BY user_id
    """,
    oracle="""
    WITH anchor AS (SELECT max(ts) AS mx FROM events),
    w AS (
        SELECT user_id,
               cast(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4,
               least((epoch_us((SELECT mx FROM anchor)) - epoch_us(ts))
                     // 604800000000, 40) AS hl
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN v_e4 >= 0
                         THEN v_e4 // (CAST(1 AS BIGINT) << CAST(hl AS INT))
                         ELSE -((-v_e4) // (CAST(1 AS BIGINT) << CAST(hl AS INT)))
                    END) AS BIGINT) AS score_e4,
           CAST(min(hl) AS BIGINT) AS freshest_halflives
    FROM w WHERE user_id < 40
    GROUP BY user_id ORDER BY user_id
    """,
    tags=("events", "score"),
    doc="Recency-weighted engagement score with exact power-of-2 decay "
    "(7-day half-life: each event contributes v_e4 DIV 2^halflives — "
    "BIGINT, order-independent, no float exp): one scan, a 1-row anchor "
    "broadcast, one user-keyed map-side rollup.",
)


# --- A/B experiment analysis (variant assignment, conversion, exact lift) ---
#
# The product-analytics bread-and-butter: users hash-split into
# variants, per-variant conversion measured, lift reported.  Assignment
# is the deterministic user_id % 2 split (the same mechanism a real
# experiment framework derives from hash(user_id, salt) — the modulus IS
# the hash here because user ids are already uniform); a user converts
# if they have any purchase event.  Everything integer: conversion in
# basis points of the variant's population, lift in bp of the control
# rate emitted as numerator/denominator products so no negative value
# meets division.  Scale shape: ONE user-level aggregate (map-side
# combined) + a 2-row variant rollup; the lift join is 1x1.
_AB_TEST_SQL = """
    WITH u AS (
        SELECT user_id, user_id % 2 AS variant,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    v AS (
        SELECT variant, count(*) AS n_users, sum(converted) AS n_converted
        FROM u GROUP BY variant
    )
    SELECT CAST(t.variant AS BIGINT) AS variant,
           CAST(t.n_users AS BIGINT) AS n_users,
           CAST(t.n_converted AS BIGINT) AS n_converted,
           CAST((t.n_converted * 10000) {div} t.n_users AS BIGINT) AS conv_bp,
           CAST(t.n_converted * c.n_users AS BIGINT) AS lift_num,
           CAST(c.n_converted * t.n_users AS BIGINT) AS lift_den
    FROM v t CROSS JOIN (SELECT * FROM v WHERE variant = 0) c
    ORDER BY variant
    """

_sql_query(
    "events_ab_test",
    *_epoch_dialects(_AB_TEST_SQL, "DIV"),
    tags=("events", "experiment"),
    doc="A/B experiment readout: deterministic user split, per-variant "
    "conversion in basis points, lift vs control emitted as exact "
    "integer num/den cross-products (never divided); one user-level "
    "map-side aggregate + a 2-row rollup + a 1x1 control join.",
)


# --- OHLC candlestick bars (open/high/low/close per time bucket) ------------
#
# The time-series rollup every metrics/market engine ships: per series
# (event_type) and fixed bucket (6-hour bar), the value at the bucket's
# first tick (open), the extremes (high/low), the value at the last tick
# (close), plus tick count and volume.  Open/close are expressed as
# rank-1 rows of two mirrored row_number() windows over the SAME
# partition keys — both windows and the final aggregate share one
# (type, day, slot) hash exchange, so the whole bar computation is a
# single shuffle + per-key sort (Spark plans one Exchange; the second
# window reuses the first's partitioning).  Ties at the bucket edge are
# broken by event_id, so open/close are deterministic even with equal
# timestamps.  Values are quantized to exact e4 integers BEFORE any
# aggregation (the project's float-sum rule), making every output column
# BIGINT and order-independent.  Scale shape: state per key is one sort
# run; bars-per-series is calendar-bounded, so the output is tiny
# regardless of corpus size.
_sql_query(
    "events_ohlc_bars",
    """
    WITH b AS (
        SELECT event_type,
               date_trunc('day', ts) AS bar_day,
               CAST(floor(hour(ts) / 6.0) AS INT) AS bar_slot,
               cast(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4,
               ts, event_id
        FROM events
    ),
    r AS (
        SELECT event_type, bar_day, bar_slot, v_e4,
               row_number() OVER (PARTITION BY event_type, bar_day, bar_slot
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, bar_day, bar_slot
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM b
    )
    SELECT event_type, bar_day, bar_slot,
           CAST(max(CASE WHEN rn_a = 1 THEN v_e4 END) AS BIGINT) AS open_e4,
           CAST(max(v_e4) AS BIGINT) AS high_e4,
           CAST(min(v_e4) AS BIGINT) AS low_e4,
           CAST(max(CASE WHEN rn_d = 1 THEN v_e4 END) AS BIGINT) AS close_e4,
           CAST(count(*) AS BIGINT) AS n_ticks,
           CAST(sum(v_e4) AS BIGINT) AS volume_e4
    FROM r
    GROUP BY event_type, bar_day, bar_slot
    ORDER BY event_type, bar_day, bar_slot
    """,
    tags=("events", "window", "timeseries"),
    doc="OHLC candlestick bars per (event_type, 6h bucket): open/close "
    "via mirrored row_number windows sharing ONE hash exchange with the "
    "final aggregate, high/low/volume as plain aggregates; all values "
    "pre-quantized to exact e4 integers, ties broken by event_id.",
    bench=True,
)


# --- Out-of-order arrival audit (watermark sizing) ---------------------------
#
# Before picking a Structured Streaming watermark you measure HOW
# out-of-order the stream actually is.  The fixture's event_id order is
# perfectly ts-sorted (zero disorder — verified), so arrival order is
# modeled the way real ingestion actually disorders a stream: producers
# (users) flush per-minute batches into hash-partitioned topic shards
# (user_id % 8), so within a shard the arrival order is (minute-batch,
# producer, sequence) and event TIME regresses whenever a later-flushing
# producer's batch carries earlier-in-the-minute events.  Lateness of an
# event = shard watermark (running max event time in arrival order) minus
# its own event time; the audit reports, per shard, the disorder count,
# the worst/total lateness, and how many events a 10s / 60s watermark
# delay would actually drop — exactly the numbers that size
# withWatermark().  Scale shape: the running max is windowed PER SHARD
# (never a global sort), so it parallelizes by shard exactly like the
# streaming engine's own per-partition watermark tracking; one hash
# exchange + per-shard sort for the window, then a shard rollup whose
# map-side partials leave <= 8 rows per task for the second exchange.
# All outputs are exact BIGINT microsecond arithmetic.
_LATENESS_SQL = """
    WITH a AS (
        SELECT user_id % 8 AS shard, {us}(ts) AS tus,
               max({us}(ts)) OVER (
                   PARTITION BY user_id % 8
                   ORDER BY date_trunc('minute', ts), user_id, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm
        FROM events
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN wm > tus THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
           CAST(max(wm - tus) AS BIGINT) AS max_lateness_us,
           CAST(sum(wm - tus) AS BIGINT) AS sum_lateness_us,
           CAST(sum(CASE WHEN wm - tus > 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_wm_10s,
           CAST(sum(CASE WHEN wm - tus > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_wm_60s
    FROM a GROUP BY shard ORDER BY shard
    """

_sql_query(
    "events_lateness_audit",
    *_epoch_dialects(_LATENESS_SQL),
    tags=("events", "streaming", "audit"),
    doc="Out-of-order arrival audit per topic shard (producer per-minute "
    "batch arrival model): disorder count, max/total lateness vs the "
    "running per-shard watermark, and the would-be-dropped counts at "
    "10s/60s watermark delays — the watermark-sizing numbers; per-shard "
    "windows (never a global sort), rollup partials <= 8 rows per task.",
)

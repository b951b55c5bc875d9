"""§2.H — event-time operators, batch-checkable forms.

Spark's event-time semantics are identical in batch and streaming
(`window()` / `session_window()` are ordinary expressions), so each
operator is proven correct here against the SQL oracle in batch, and
the streaming/ package re-runs the same logic as a real
Structured-Streaming job (tests assert stream == batch — the
streaming/batch equivalence strategy of SURVEY.md §5.3).

Timestamps surface as epoch-µs bigints throughout (events.ts is the
ns-parquet column; see tables._load_events).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mysql_to_clickhouse_spark.functions.numeric import dsum, o_dsum
from mysql_to_clickhouse_spark.registry import register
from mysql_to_clickhouse_spark.streaming.cdc import (
    CDC_STATE_FINAL,
    collapse,
    drop_deleted,
)
from mysql_to_clickhouse_spark.tables import load

_US_PER_MIN = 60_000_000

# ---------------------------------------------------------------------------
# h1_tumbling — fixed windows
# ---------------------------------------------------------------------------

_H1_ORACLE = f"""
SELECT
  (epoch_us(CAST(ts AS TIMESTAMP)) // 600000000) * 600000000 AS win_start_us,
  event_type,
  COUNT(*) AS n,
  {o_dsum('value')} AS total_value
FROM events
GROUP BY win_start_us, event_type
ORDER BY win_start_us, event_type
"""


@register("h1_tumbling", oracle=_H1_ORACLE)
def h1_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windows per event type, via the real
    `window()` expression (epoch-aligned starts == floor division for
    positive epochs — the oracle states exactly that)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
        .select(
            F.unix_micros("win.start").alias("win_start_us"),
            "event_type",
            "n",
            "total_value",
        )
        
    )


# ---------------------------------------------------------------------------
# h2_sliding — hopping windows (1 h window, 15 min slide → 4 windows/event)
# ---------------------------------------------------------------------------

_H2_ORACLE = """
SELECT
  ((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) - i) * 900000000 AS win_start_us,
  COUNT(*) AS n
FROM events, range(4) t(i)
GROUP BY win_start_us
ORDER BY win_start_us
"""


@register("h2_sliding", oracle=_H2_ORACLE, tier="T3")
def h2_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows: every event lands in window/slide = 4
    windows; the oracle derives the same 4 aligned starts per event by
    integer arithmetic. Spark's Expand does this map-side — the ×4 row
    amplification never crosses the network unaggregated."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros("win.start").alias("win_start_us"), "n")
        
    )


# ---------------------------------------------------------------------------
# h3_session — gap-based sessionization (30 min inactivity)
# ---------------------------------------------------------------------------

_H3_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_id, value,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
           PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
         ) AS prev_us
  FROM events
), flagged AS (
  -- >= gap starts a new session: matches Spark session_window's
  -- half-open [start, last+gap) semantics exactly
  SELECT *, CASE WHEN prev_us IS NULL
                   OR ts_us - prev_us >= {30 * _US_PER_MIN} THEN 1 ELSE 0 END
              AS is_new
  FROM seq
), numbered AS (
  SELECT *, SUM(is_new) OVER (
    PARTITION BY user_id ORDER BY ts_us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) AS session_end_us,
       {o_dsum('value')} AS session_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


@register("h3_session", oracle=_H3_ORACLE)
def h3_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap flag + running sum assigns session ids,
    then per-session aggregates. One shuffle by user_id; the streaming
    twin is session_window(ts, '30 minutes') (streaming/ tests)."""
    ev = load(spark, sf_dir, "events")
    seq = ev.select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("ts_us")
    )
    w_order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = seq.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w_order).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w_order) >= 30 * _US_PER_MIN),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("is_new")
        .over(w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
            dsum("value").alias("session_value"),
        )
        
    )


# ---------------------------------------------------------------------------
# h4_watermark_late — late-data accounting (batch analog of watermark)
# ---------------------------------------------------------------------------

_H4_ORACLE = """
WITH mx AS (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us FROM events)
SELECT
  max_us,
  COUNT(CASE WHEN ts_us >= max_us - 86400000000 THEN 1 END) AS n_kept,
  COUNT(CASE WHEN ts_us < max_us - 86400000000 THEN 1 END) AS n_dropped
FROM (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events), mx
GROUP BY max_us
"""


@register("h4_watermark_late", oracle=_H4_ORACLE, tier="T3")
def h4_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark accounting, batch analog: events older than
    max(ts) − 1 day count as late/dropped. The streaming twin is
    withWatermark('ts', ...) (streaming/ tests); the broadcast of the
    1-row max is the scalar-subquery pattern."""
    ev = load(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("ts_us")
    )
    mx = ev.agg(F.max("ts_us").alias("max_us"))
    day_us = 86_400_000_000
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("max_us")
        .agg(
            F.count(F.when(F.col("ts_us") >= F.col("max_us") - day_us, 1)).alias(
                "n_kept"
            ),
            F.count(F.when(F.col("ts_us") < F.col("max_us") - day_us, 1)).alias(
                "n_dropped"
            ),
        )
    )


# ---------------------------------------------------------------------------
# h5_stream_dedup — first occurrence per key
# ---------------------------------------------------------------------------

_H5_ORACLE = """
WITH numbered AS (
  SELECT user_id, event_type, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type
           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
         ) AS rn
  FROM events
)
SELECT user_id, event_type, event_id AS first_event_id, ts_us AS first_ts_us
FROM numbered WHERE rn = 1
ORDER BY user_id, event_type
"""


@register("h5_stream_dedup", oracle=_H5_ORACLE)
def h5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'first occurrence per (user, event_type)'.

    NOTE: dropDuplicates() keeps an ARBITRARY row — fine for streaming
    ingestion dedup (any one copy), wrong for a value-hashed check, so
    the batch form pins the winner with row_number over (ts, event_id).
    Streaming twin: dropDuplicatesWithinWatermark (streaming/ tests)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.unix_micros("ts").alias("first_ts_us"),
        )
        
    )


# ---------------------------------------------------------------------------
# h6_stateful_funnel — CH windowFunnel: ordered view→click→purchase
# ---------------------------------------------------------------------------

_H6_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
  FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND epoch_us(CAST(e.ts AS TIMESTAMP)) > v.t1
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(CAST(e.ts AS TIMESTAMP)) > c.t2
  GROUP BY e.user_id
)
SELECT v.user_id,
       v.t1 AS view_us,
       COALESCE(c.t2, -1) AS click_us,
       COALESCE(p.t3, -1) AS purchase_us,
       CASE WHEN p.t3 IS NOT NULL THEN 3
            WHEN c.t2 IS NOT NULL THEN 2
            ELSE 1 END AS funnel_depth
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
ORDER BY v.user_id
"""


@register("h6_stateful_funnel", oracle=_H6_ORACLE, tier="T3")
def h6_stateful_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (CH windowFunnel): earliest view, earliest click
    strictly after it, earliest purchase strictly after that.

    Three key-partitioned aggregates chained by joins — each stage is
    one shuffle on user_id and the intermediate state is one row per
    user, so it scales linearly. Streaming twin with explicit state:
    streaming/funnel.py (applyInPandasWithState)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts_us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("t1").alias("view_us"),
            F.coalesce("t2", F.lit(-1)).alias("click_us"),
            F.coalesce("t3", F.lit(-1)).alias("purchase_us"),
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .alias("funnel_depth"),
        )
        
    )


# ---------------------------------------------------------------------------
# h7_foreach_upsert — micro-batched CDC apply loop (batch simulation)
# ---------------------------------------------------------------------------


@register(
    "h7_foreach_upsert",
    oracle=None,
    tier="T3",
    no_oracle_reason=(
        "side-effecting streaming sink (foreachBatch upsert): the result "
        "is accumulated SINK state, not a SQL-expressible query; "
        "stream-kill/restart exactly-once covered by the same test file"
    ),
    test="tests/test_streaming.py::test_foreach_upsert_sim_equals_batch_apply",
)
def h7_foreach_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch CDC apply loop, simulated deterministically:
    events split into 6 time slices; each slice merges into the state
    by ``streaming.cdc.CDC_STATE_FINAL``, the rule the real stream's
    merge applies, so the simulation cannot drift from it. Tombstones
    stay in state and drop on the final read.

    The result must equal the single-shot a4_cdc_apply_latest — asserted
    in tests/test_streaming.py together with the true writeStream+
    foreachBatch variant (streaming/cdc.py). Rows-only here because the
    incremental path, not the final relation, is what's under test."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    )
    bounds = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    lo, hi = int(bounds[0]), int(bounds[1]) + 1
    step = (hi - lo) // 6 + 1

    state: DataFrame | None = None
    for i in range(6):
        batch = ev.filter(
            (F.col("ts_us") >= lo + i * step) & (F.col("ts_us") < lo + (i + 1) * step)
        )
        state = batch if state is None else state.unionByName(batch)
        state = collapse(state, CDC_STATE_FINAL)
    return drop_deleted(state, CDC_STATE_FINAL).select(
        "user_id", "event_id", "ts_us", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# h8_rate_replay — real Structured Streaming over a table replay
# ---------------------------------------------------------------------------

_H8_ORACLE = """
SELECT event_type, COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("h8_rate_replay", oracle=_H8_ORACLE, tier="T3")
def h8_rate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming run: events replayed as a file stream
    (3 ts-ordered parquet slices), aggregated with a streaming groupBy
    in complete mode into a memory sink, drained with availableNow.

    The streaming result must equal the batch aggregate — which is
    exactly what the SQL oracle checks."""
    from mysql_to_clickhouse_spark.streaming.replay import replay_counts

    return replay_counts(spark, sf_dir)


# ---------------------------------------------------------------------------
# h12_gap_fill — ClickHouse ORDER BY ... WITH FILL (time-series gap fill)
# ---------------------------------------------------------------------------

_H12_ORACLE = f"""
WITH daily AS (
  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         COUNT(*) AS n_events,
         {o_dsum('value')} AS total_value
  FROM events
  GROUP BY day
), b AS (
  SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily
), days AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b
)
SELECT strftime(d.day, '%Y-%m-%d') AS day_str,
       COALESCE(n_events, 0) AS n_events,
       COALESCE(total_value, 0.0) AS total_value,
       (n_events IS NULL) AS was_filled
FROM days d LEFT JOIN daily USING (day)
ORDER BY day_str
"""


@register("h12_gap_fill", oracle=_H12_ORACLE, tier="T2")
def h12_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `ORDER BY day WITH FILL` — a dense daily series with
    zero rows for days that had no events: aggregate, take min/max day
    from the aggregated frame (|days| rows, no extra scan), explode a
    `sequence()` of days, left-join the aggregate back in.

    Scale: the spine generation and the fill join run over the
    aggregated frame (|days| rows), never over raw events — the only
    full-data pass is the first groupBy."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )
    days = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    return (
        days.join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day_str"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
            F.col("n_events").isNull().alias("was_filled"),
        )
    )


# ---------------------------------------------------------------------------
# h11_stream_stream — true stream-stream time-interval join
# ---------------------------------------------------------------------------

# ts in parquet is ns; the engine (and the replay slices it writes)
# normalize to µs, so the oracle joins on the µs-truncated instants.
_H11_ORACLE = """
SELECT v.user_id,
       v.event_id AS view_event_id,
       p.event_id AS purchase_event_id,
       epoch_us(CAST(v.ts AS TIMESTAMP)) AS view_us,
       epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_us
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND epoch_us(CAST(p.ts AS TIMESTAMP)) > epoch_us(CAST(v.ts AS TIMESTAMP))
 AND epoch_us(CAST(p.ts AS TIMESTAMP))
     <= epoch_us(CAST(v.ts AS TIMESTAMP)) + 3600000000
ORDER BY v.user_id, view_us, purchase_us
"""


@register("h11_stream_stream", oracle=_H11_ORACLE, tier="T3")
def h11_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream join: views ⋈ purchases within 1 hour per
    user, both sides replayed as file streams (one slice per
    micro-batch), watermarked on both sides with an event-time range
    bound so join state is evictable — the production streaming-join
    shape. The drained append-mode result must equal the batch interval
    join, which is exactly what the SQL oracle states."""
    from mysql_to_clickhouse_spark.streaming.joins import (
        stream_view_purchase_join,
    )

    return stream_view_purchase_join(spark, sf_dir)


# ---------------------------------------------------------------------------
# h9_retention — CH retention(): cohort day-7 return rate
# ---------------------------------------------------------------------------

_H9_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
  FROM events
), cohort AS (
  SELECT user_id, MIN(day) AS d0 FROM days GROUP BY user_id
)
SELECT c.d0 AS cohort_day,
       COUNT(*) AS n_users,
       COUNT(CASE WHEN r.user_id IS NOT NULL THEN 1 END) AS retained_7d
FROM cohort c
LEFT JOIN days r
  ON r.user_id = c.user_id AND r.day = c.d0 + INTERVAL 7 DAY
GROUP BY cohort_day
ORDER BY cohort_day
"""


@register("h9_retention", oracle=_H9_ORACLE)
def h9_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH retention(): of each first-seen-day cohort, how many users
    were active again exactly 7 days later. Dedup to (user, day) first
    — the shuffles run over distinct pairs, not raw events."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    cohort = days.groupBy("user_id").agg(F.min("day").alias("d0"))
    returned = days.select(
        F.col("user_id").alias("r_user"), F.col("day").alias("r_day")
    )
    return (
        cohort.join(
            returned,
            (cohort.user_id == returned.r_user)
            & (returned.r_day == F.col("d0") + F.expr("INTERVAL 7 DAYS")),
            "left",
        )
        .groupBy(F.col("d0").alias("cohort_day"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count(F.when(F.col("r_user").isNotNull(), 1)).alias("retained_7d"),
        )
    )


# ---------------------------------------------------------------------------
# h10_sequence_match — CH sequenceMatch(): regex over per-user event seq
# ---------------------------------------------------------------------------

_H10_ORACLE = """
WITH seq AS (
  SELECT user_id,
         string_agg(substring(event_type, 1, 1), ''
                    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS s
  FROM events
  GROUP BY user_id
)
SELECT user_id,
       CAST(length(s) AS BIGINT) AS n_events,
       regexp_matches(s, 'v.*c.*p') AS funnel_vcp,
       regexp_matches(s, 's.*p') AS signup_then_purchase,
       NOT regexp_matches(s, 'e') AS error_free
FROM seq
ORDER BY user_id
"""


@register("h10_sequence_match", oracle=_H10_ORACLE)
def h10_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH sequenceMatch: collapse each user's time-ordered events to a
    string of type-initials, then regex-match patterns over it.

    Determinism: collect_list order is undefined, so events are
    collected as (ts, event_id, initial) structs, sort_array'd (well-
    defined struct ordering), THEN projected to initials — the portable
    equivalent of DuckDB's string_agg(... ORDER BY)."""
    ev = load(spark, sf_dir, "events")
    packed = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.unix_micros("ts").alias("ts_us"),
                    F.col("event_id").alias("eid"),
                    F.substring("event_type", 1, 1).alias("ini"),
                )
            )
        ).alias("evs")
    )
    s = F.array_join(F.transform("evs", lambda x: x["ini"]), "")
    return packed.select(
        "user_id",
        F.length(s).cast("long").alias("n_events"),
        s.rlike("v.*c.*p").alias("funnel_vcp"),
        s.rlike("s.*p").alias("signup_then_purchase"),
        (~s.rlike("e")).alias("error_free"),
    )


# ---------------------------------------------------------------------------
# h13_stream_enrich — stream-static dimension join
# ---------------------------------------------------------------------------

_H13_ORACLE = """
SELECT e.event_id, e.user_id,
       epoch_us(CAST(e.ts AS TIMESTAMP)) AS ts_us,
       e.event_type,
       (e.user_id % 1500) + 1 AS cust_id,
       c.c_name, c.c_mktsegment
FROM events e
JOIN customer c ON c.c_custkey = (e.user_id % 1500) + 1
ORDER BY e.event_id
"""


@register("h13_stream_enrich", oracle=_H13_ORACLE, tier="T2")
def h13_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment, run as a REAL streaming job: the event
    stream inner-joins a broadcast static dimension per micro-batch —
    the everyday facts-stream/dimension-table topology. Stateless (no
    watermark needed for inner equi), and the static side re-resolves
    each batch so dimension updates flow through. Drained result must
    equal the batch join, which the oracle states."""
    from mysql_to_clickhouse_spark.streaming.joins import (
        stream_static_enrich,
    )

    return stream_static_enrich(spark, sf_dir)


# ---------------------------------------------------------------------------
# h14_funnel_window — CH windowFunnel(window): time-bounded ordered funnel
# ---------------------------------------------------------------------------

_H14_WINDOW_US = 7 * 86_400_000_000  # 7 days

_H14_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events
), v AS (
  SELECT user_id, MIN(ts_us) AS t1
  FROM ev WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts_us) AS t2
  FROM ev e JOIN v USING (user_id)
  WHERE e.event_type = 'click'
    AND e.ts_us > v.t1 AND e.ts_us <= v.t1 + {_H14_WINDOW_US}
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts_us) AS t3
  FROM ev e JOIN c USING (user_id) JOIN v USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts_us > c.t2 AND e.ts_us <= v.t1 + {_H14_WINDOW_US}
  GROUP BY e.user_id
)
SELECT v.user_id, v.t1 AS view_us,
       COALESCE(c.t2, -1) AS click_us,
       COALESCE(p.t3, -1) AS purchase_us,
       CASE WHEN p.t3 IS NOT NULL THEN 3
            WHEN c.t2 IS NOT NULL THEN 2
            ELSE 1 END AS funnel_depth
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
ORDER BY user_id
"""


@register("h14_funnel_window", oracle=_H14_ORACLE, tier="T3")
def h14_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH windowFunnel(window, ...) — h6's ordered funnel with the TIME
    WINDOW constraint: every later step must land within `window` of
    the user's FIRST step (7 days here), so a purchase months after
    the view no longer counts. Same scale shape as h6 — three
    key-partitioned aggregates chained by joins, one row per user
    between stages; the window predicate is evaluated against the
    joined 1-row state, never by re-scanning history."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    w = F.lit(_H14_WINDOW_US)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts_us") > F.col("t1")) & (F.col("ts_us") <= F.col("t1") + w))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .join(v, "user_id")
        .filter((F.col("ts_us") > F.col("t2")) & (F.col("ts_us") <= F.col("t1") + w))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("t1").alias("view_us"),
            F.coalesce("t2", F.lit(-1)).alias("click_us"),
            F.coalesce("t3", F.lit(-1)).alias("purchase_us"),
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .alias("funnel_depth"),
        )
    )


# ---------------------------------------------------------------------------
# h15_sequence_count — CH sequenceCount(): non-overlapping chain matches
# ---------------------------------------------------------------------------

_H15_ORACLE = """
WITH seq AS (
  SELECT user_id,
         string_agg(substring(event_type, 1, 1), ''
                    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS s
  FROM events
  GROUP BY user_id
)
SELECT user_id,
       CAST(length(s) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(s, 'v.*?c.*?p')) AS BIGINT) AS n_vcp,
       CAST(len(regexp_extract_all(s, 's.*?p')) AS BIGINT) AS n_sp,
       CAST(len(regexp_extract_all(s, 'ee')) AS BIGINT) AS n_error_pairs
FROM seq
ORDER BY user_id
"""


@register("h15_sequence_count", oracle=_H15_ORACLE)
def h15_sequence_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH sequenceCount: how many NON-OVERLAPPING times a user completed
    the chain (view→click→purchase here, plus signup→purchase and
    back-to-back errors). Same packed-initials-string design as h10 —
    one shuffle to assemble each user's ordered sequence, then the
    count is a lazy-quantifier regex scan (regexp_extract_all consumes
    left-to-right from the end of the previous match, which IS the
    non-overlapping chain semantics, identically in Java regex and
    RE2). Per-user state is one short string: linear at any scale."""
    ev = load(spark, sf_dir, "events")
    packed = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.unix_micros("ts").alias("ts_us"),
                    F.col("event_id").alias("eid"),
                    F.substring("event_type", 1, 1).alias("ini"),
                )
            )
        ).alias("evs")
    )
    s = F.array_join(F.transform("evs", lambda x: x["ini"]), "")
    return packed.select(
        "user_id",
        F.length(s).cast("long").alias("n_events"),
        F.size(F.regexp_extract_all(s, F.lit("v.*?c.*?p"), F.lit(0)))
        .cast("long")
        .alias("n_vcp"),
        F.size(F.regexp_extract_all(s, F.lit("s.*?p"), F.lit(0)))
        .cast("long")
        .alias("n_sp"),
        F.size(F.regexp_extract_all(s, F.lit("ee"), F.lit(0)))
        .cast("long")
        .alias("n_error_pairs"),
    )


# ---------------------------------------------------------------------------
# h16_stream_left_outer — stream-stream LEFT OUTER interval join
# ---------------------------------------------------------------------------

_H16_ORACLE = """
SELECT v.user_id,
       v.event_id AS view_event_id,
       COALESCE(p.event_id, -1) AS purchase_event_id,
       epoch_us(CAST(v.ts AS TIMESTAMP)) AS view_us,
       COALESCE(epoch_us(CAST(p.ts AS TIMESTAMP)), -1) AS purchase_us
FROM events v
LEFT JOIN events p
  ON v.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND epoch_us(CAST(p.ts AS TIMESTAMP)) > epoch_us(CAST(v.ts AS TIMESTAMP))
 AND epoch_us(CAST(p.ts AS TIMESTAMP))
     <= epoch_us(CAST(v.ts AS TIMESTAMP)) + 3600000000
WHERE v.event_type = 'view'
ORDER BY v.user_id, view_us, purchase_us
"""


@register("h16_stream_left_outer", oracle=_H16_ORACLE, tier="T3")
def h16_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join (h11's inner shape, plus the
    unmatched-view rows): views with no purchase inside their 1-hour
    window must still emit — which in Structured Streaming happens only
    when the purchase-side watermark passes the view's interval bound,
    i.e. the join state itself proves the absence. The replay appends a
    far-future sentinel slice so the final watermark advance flushes
    every pending outer row, making the drained append-mode result
    equal the batch LEFT JOIN the oracle states. At scale this is the
    conversion-attribution topology: per-key buffered state is bounded
    by the interval length x arrival rate on each side, eviction is
    watermark-driven, and nulls cost nothing extra."""
    from mysql_to_clickhouse_spark.streaming.joins import (
        stream_view_purchase_left_join,
    )

    return stream_view_purchase_left_join(spark, sf_dir)


# ---------------------------------------------------------------------------
# h17_sequence_next_node — CH sequenceNextNode: what follows the chain
# ---------------------------------------------------------------------------

_H17_ORACLE = """
WITH o AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER w AS t1,
         LEAD(event_type, 2) OVER w AS t2,
         ROW_NUMBER() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), m AS (
  SELECT user_id, rn, COALESCE(t2, '<end>') AS next_node
  FROM o
  WHERE event_type = 'view' AND t1 = 'click'
)
SELECT user_id, min_by(next_node, rn) AS next_node
FROM m
GROUP BY user_id
ORDER BY user_id
"""


@register("h17_sequence_next_node", oracle=_H17_ORACLE)
def h17_sequence_next_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH ``sequenceNextNode('forward', 'first_match')`` shape: per
    user, the event type that immediately follows the first adjacent
    view→click pair in the ts-ordered stream ('<end>' when the chain
    ends the stream) — the what-happens-next primitive behind journey
    exploration UIs.

    One window exchange on user_id computes both LEADs and the row
    number in a single pass (same frame, one sort); first-match
    selection is min_by over the unique rank — an aggregate, not a
    join-back. Chain adjacency means state is two lookahead rows, never
    a buffer of the whole session."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.row_number().over(w).alias("rn"),
    )
    m = o.filter(
        (F.col("event_type") == "view") & (F.col("t1") == "click")
    ).select(
        "user_id", "rn", F.coalesce("t2", F.lit("<end>")).alias("next_node")
    )
    return (
        m.groupBy("user_id")
        .agg(F.min_by("next_node", "rn").alias("next_node"))
    )


# ---------------------------------------------------------------------------
# h18_dynamic_session — session_window with a PER-EVENT gap expression
# ---------------------------------------------------------------------------

# purchases hold a session open 45 min; views/clicks 10; everything else 20
_H18_GAPS_US = {"purchase": 45 * _US_PER_MIN, "view": 10 * _US_PER_MIN,
                "click": 10 * _US_PER_MIN}
_H18_DEFAULT_US = 20 * _US_PER_MIN

_H18_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_id, value,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         epoch_us(CAST(ts AS TIMESTAMP))
           + CASE event_type
               WHEN 'purchase' THEN {_H18_GAPS_US['purchase']}
               WHEN 'view' THEN {_H18_GAPS_US['view']}
               WHEN 'click' THEN {_H18_GAPS_US['click']}
               ELSE {_H18_DEFAULT_US} END AS end_us
  FROM events
), m AS (
  SELECT *, MAX(end_us) OVER (
    PARTITION BY user_id ORDER BY ts_us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
  FROM seq
), flagged AS (
  -- a session extends while the next event STARTS before the furthest
  -- end reached so far (interval-overlap merge, Spark's semantics)
  SELECT *, CASE WHEN prev_max_end IS NULL OR ts_us >= prev_max_end
                 THEN 1 ELSE 0 END AS is_new
  FROM m
), numbered AS (
  SELECT *, SUM(is_new) OVER (
    PARTITION BY user_id ORDER BY ts_us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts_us) AS session_start_us,
       MAX(end_us) AS session_end_us,
       COUNT(*) AS n_events,
       {o_dsum('value')} AS session_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start_us
"""


@register("h18_dynamic_session", oracle=_H18_ORACLE)
def h18_dynamic_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization via Spark's NATIVE
    ``session_window(ts, gap_expression)``: each event keeps its
    session alive for an event-type-dependent window (purchases 45 min,
    views/clicks 10, else 20) — the engaged-user-session model a fixed
    gap can't express. The oracle derives the same semantics from first
    principles: per-event interval [ts, ts+gap), overlap-merge via a
    running max of interval ends — new session iff the event starts at
    or past the furthest end seen. Hash equality between Spark's
    built-in merge machinery and that independent formulation is the
    strongest check this family has. One shuffle on user_id (the
    session merge is Catalyst's, map-side pre-merged); the streaming
    twin of the same expression works unchanged under watermarks."""
    ev = load(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "purchase", F.lit("45 minutes"))
        .when(F.col("event_type").isin("view", "click"), F.lit("10 minutes"))
        .otherwise(F.lit("20 minutes"))
    )
    return (
        ev.groupBy("user_id", F.session_window(F.col("ts"), gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            F.unix_micros(F.col("sw.end")).alias("session_end_us"),
            "n_events",
            "session_value",
        )
    )


# ---------------------------------------------------------------------------
# h19_rolling_mau — 7-day rolling distinct active users per day
# ---------------------------------------------------------------------------

# Rolling COUNT(DISTINCT) over a sliding day window. The scalable form:
# collapse to distinct (user, day), expand each to the ≤7 report days it
# covers (a bounded ×7 generate — NOT a fact-table self-join), then one
# exact distinct count per report day. The DuckDB oracle states the same
# semantics as a range join against the day spine.
_H19_ORACLE = """
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
  FROM events
), spine AS (
  SELECT DISTINCT day FROM user_days
)
SELECT CAST(s.day AS VARCHAR) AS day_str,
       CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS rolling_7d_users
FROM spine s
JOIN user_days u
  ON u.day BETWEEN s.day - INTERVAL 6 DAY AND s.day
GROUP BY s.day
ORDER BY day_str
"""


@register("h19_rolling_mau", oracle=_H19_ORACLE)
def h19_rolling_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling active users (the WAU/MAU family): for each
    observed day, how many distinct users were active in the trailing
    7-day window. A rolling distinct cannot use a plain window sum
    (users overlap windows); the scale-safe plan is: dedupe to (user,
    day) — map-side combinable —, explode each pair to the ≤7 report
    days it covers (bounded ×7, proportional to distinct pairs, not
    events), and run ONE exact distinct aggregate per report day. At
    100 TB the fact table is touched once; everything after operates on
    |users|·|days| pairs. Report days are restricted to days that exist
    in the data (the oracle's spine join states the same)."""
    ev = load(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    spine = user_days.select("day").distinct()
    covered = user_days.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), 6), F.expr("INTERVAL 1 DAY")
            )
        ).alias("report_day"),
    )
    return (
        covered.join(
            F.broadcast(spine), covered["report_day"] == spine["day"], "inner"
        )
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").cast("long").alias("rolling_7d_users"))
        .select(
            F.col("report_day").cast("string").alias("day_str"),
            "rolling_7d_users",
        )
    )


# ---------------------------------------------------------------------------
# h20_strict_funnel — CH windowFunnel(..., 'strict_order')
# ---------------------------------------------------------------------------

# Strict-order funnel: a step only counts if it IMMEDIATELY follows the
# previous step — any intervening event of any type breaks the chain.
# With each event rendered as one character in per-user time order, the
# k-step strict funnel is exactly "the k-initial substring appears
# consecutively": a contains() test both engines share.
_H20_ORACLE = """
WITH seq AS (
  SELECT user_id,
         string_agg(CASE event_type
                    WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                    WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                    ELSE 'e' END, ''
                    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
           AS journey
  FROM events
  GROUP BY user_id
)
SELECT user_id,
       CAST(CASE
         WHEN contains(journey, 'vcp') THEN 3
         WHEN contains(journey, 'vc') THEN 2
         WHEN contains(journey, 'v') THEN 1
         ELSE 0 END AS BIGINT) AS strict_level,
       CAST(length(journey) AS BIGINT) AS n_events
FROM seq
ORDER BY user_id
"""


@register("h20_strict_funnel", oracle=_H20_ORACLE)
def h20_strict_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH ``windowFunnel(w, 'strict_order')``: the funnel level a user
    reaches when ANY intervening event voids the next step (h6/h14
    allow gaps; strict_order does not). Each user's history packs into
    a character journey in one aggregate, and the strict chain is a
    consecutive-substring test — the same collapse h15/h17 use, so the
    whole operator is one groupBy(user) + map-only scan of strings.

    Scale: one shuffle on user_id; journey strings are |user events|
    chars (bounded by per-user activity, the natural funnel state);
    the level test is codegen'd contains — no Python, no joins."""
    ev = load(spark, sf_dir, "events")
    initial = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seq = (
        ev.select(
            "user_id",
            F.struct(
                F.unix_micros("ts").alias("ts_us"),
                F.col("event_id").alias("event_id"),
                initial.alias("ch"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["ch"]
                ),
                "",
            ).alias("journey")
        )
    )
    level = (
        F.when(F.col("journey").contains("vcp"), 3)
        .when(F.col("journey").contains("vc"), 2)
        .when(F.col("journey").contains("v"), 1)
        .otherwise(0)
    )
    return seq.select(
        "user_id",
        level.cast("long").alias("strict_level"),
        F.length("journey").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# h21_incremental_bitmap — micro-batch-maintained audience bitmap state
# ---------------------------------------------------------------------------

# The streaming twin of d42: per-user membership flags maintained as
# mergeable state across 6 replayed micro-batches (flag merge = MAX —
# associative, idempotent), report derived from state only. The
# driver's hash against the batch SQL proves stream == batch.
_H21_ORACLE = """
WITH flags AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
  FROM events
  GROUP BY user_id
)
SELECT CAST(SUM(a) AS BIGINT) AS card_view,
       CAST(SUM(b) AS BIGINT) AS card_purchase,
       CAST(SUM(a * b) AS BIGINT) AS card_and,
       CAST(SUM(CASE WHEN a + b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS card_or,
       CAST(COUNT(*) AS BIGINT) AS n_users_in_state
FROM flags
"""


@register("h21_incremental_bitmap", oracle=_H21_ORACLE, tier="T3")
def h21_incremental_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained audience bitmaps: the d42 flag state
    kept current across 6 time-sliced micro-batches — each batch folds
    to per-user flags and merges into state by MAX (associative AND
    idempotent, so replayed batches are harmless: at-least-once
    delivery still converges). The final report is computed from state
    alone and hash-matches the one-shot batch SQL — the stream==batch
    proof, k1's IVM claim lifted to the streaming apply loop.

    Scale: state is bits-per-user (the smallest possible keyed state);
    each merge shuffles |active users in batch| rows, never history.
    The same fold runs under foreachBatch in production; the slicing
    here is the deterministic replay harness (h7's pattern)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )
    bounds = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    lo, hi = int(bounds[0]), int(bounds[1]) + 1
    step = (hi - lo) // 6 + 1

    def batch_flags(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("a"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("b"),
        )

    state: DataFrame | None = None
    for i in range(6):
        batch = ev.filter(
            (F.col("ts_us") >= lo + i * step)
            & (F.col("ts_us") < lo + (i + 1) * step)
        )
        delta = batch_flags(batch)
        if state is None:
            state = delta
        else:
            state = (
                state.unionByName(delta)
                .groupBy("user_id")
                .agg(F.max("a").alias("a"), F.max("b").alias("b"))
            )
        # replay batch 3 a second time: idempotence under at-least-once
        if i == 3:
            state = (
                state.unionByName(batch_flags(batch))
                .groupBy("user_id")
                .agg(F.max("a").alias("a"), F.max("b").alias("b"))
            )
    return state.agg(
        F.sum("a").cast("long").alias("card_view"),
        F.sum("b").cast("long").alias("card_purchase"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("card_and"),
        F.sum(F.when(F.col("a") + F.col("b") > 0, 1).otherwise(0))
        .cast("long")
        .alias("card_or"),
        F.count(F.lit(1)).cast("long").alias("n_users_in_state"),
    )


# ---------------------------------------------------------------------------
# h22_stream_full_outer — stream-stream FULL OUTER interval join
# ---------------------------------------------------------------------------

_H22_ORACLE = """
WITH v AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events WHERE event_type = 'view'
), p AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events WHERE event_type = 'purchase'
)
SELECT COALESCE(v.user_id, p.user_id) AS user_id,
       COALESCE(v.event_id, -1) AS view_event_id,
       COALESCE(p.event_id, -1) AS purchase_event_id,
       COALESCE(v.ts_us, -1) AS view_us,
       COALESCE(p.ts_us, -1) AS purchase_us
FROM v FULL JOIN p
  ON v.user_id = p.user_id
 AND p.ts_us > v.ts_us
 AND p.ts_us <= v.ts_us + 3600000000
ORDER BY user_id, view_us, purchase_us, view_event_id, purchase_event_id
"""


@register("h22_stream_full_outer", oracle=_H22_ORACLE, tier="T3")
def h22_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the outer
    family (h11 inner, h16 left): views with no purchase AND purchases
    with no preceding view both emit, each only when the OTHER side's
    watermark has passed its interval bound. The replay's far-future
    sentinel slice advances both watermarks at end-of-stream so every
    pending outer row on either side flushes; the drained append-mode
    result hash-equals the batch FULL JOIN the oracle states. This is
    the audit topology: attribution (matched pairs) plus BOTH
    exception lists (unconverted views, unattributed purchases) from
    one operator.

    Scale: per-key buffered state is bounded by interval length x
    arrival rate on each side — the condition bounds each side
    relative to the other, so watermark eviction applies to both; no
    unbounded state anywhere."""
    from mysql_to_clickhouse_spark.streaming.joins import (
        stream_view_purchase_full_join,
    )

    return stream_view_purchase_full_join(spark, sf_dir)


# ---------------------------------------------------------------------------
# h23_running_totals_state — per-key running totals via arbitrary state
# ---------------------------------------------------------------------------

_H23_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS sum_fp
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("h23_running_totals_state", oracle=_H23_ORACLE, tier="T3")
def h23_running_totals_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained per-user totals (CH
    AggregatingMergeTree target) through a REAL streaming run:
    replayed micro-batches fold (n, fixed-point sum) per key in
    arbitrary state via ``applyInPandasWithState``, and the final
    state is returned — hash-checked against the plain batch
    aggregate, which is exactly the stream==batch contract. The
    ``transformWithStateInPandas`` spelling of the same fold lives in
    streaming/running_totals.py behind the protobuf feature gate
    (preferred on a full Spark 4.1 install; this API works
    everywhere).

    Scale: state is two bigints per key in the state store; the fold
    is associative, so micro-batch slicing cannot change the result,
    and each batch shuffles only its own rows on user_id."""
    from mysql_to_clickhouse_spark.streaming.running_totals import (
        run_running_totals_stream_apws,
    )

    return run_running_totals_stream_apws(spark, sf_dir)

"""k-family — incremental / materialized-view maintenance (the
ClickHouse AggregatingMergeTree + materialized-view analog, the second
half of the reference category's sink story: a MySQL→ClickHouse
replicator lands rows, and CH materialized views keep pre-aggregates
current without full recompute).

Spark-first form: aggregate STATE is an ordinary DataFrame of mergeable
partials (count, fixed-point sum, min/max, value sets). "Apply a
delta" = union the delta's partials and re-merge — associative and
exact, so the driver's hash check against a full-recompute oracle
PROVES merge == recompute, which is the entire correctness claim of
incremental view maintenance.

Scale: partials are map-side-combinable hash aggregates; the merge
shuffles one row per (group, batch) — independent of fact cardinality.
At 100 TB the delta batch is hours of ingest, the state is thousands of
groups, and the merge is a broadcast-sized job; nothing ever recomputes
history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_spark.functions.numeric import (
    SUM_SCALE,
    fixed_point,
    o_dsum,
    o_fixed_point,
)
from mysql_to_clickhouse_spark.registry import register
from mysql_to_clickhouse_spark.streaming.cdc import EVENTS_FINAL, final
from mysql_to_clickhouse_spark.tables import load

_CUTOFF = "1997-01-01"  # base MV state = orders before; delta = on/after

# ---------------------------------------------------------------------------
# k1_mv_incremental — delta-merge a grouped aggregate MV
# ---------------------------------------------------------------------------

_K1_ORACLE = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {o_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def _partials(orders: DataFrame) -> DataFrame:
    """Mergeable partial state: (count, fixed-point sum) per group —
    the -State combinator. Fixed-point longs make the sum exact and
    order/batch-independent (functions/numeric.py)."""
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("p_count"),
        F.sum(fixed_point("o_totalprice")).alias("p_sum_fp"),
    )


@register("k1_mv_incremental", oracle=_K1_ORACLE)
def k1_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV maintenance: the pre-cutoff base state and the
    post-cutoff delta batch are aggregated INDEPENDENTLY into mergeable
    partials, then merged by summing partials — never recomputing the
    base. The oracle is a flat full-table aggregate, so hash equality
    proves the maintained view is indistinguishable from recompute.

    This is ClickHouse's materialized-view + AggregatingMergeTree loop
    (CH merges -State columns at part-merge time); Spark expresses the
    same algebra as a union of partial frames + one re-aggregation."""
    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    base_state = _partials(orders.filter(F.col("o_orderdate") < cutoff))
    delta_state = _partials(orders.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        base_state.unionByName(delta_state)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("p_count").alias("n_orders"),
            F.sum("p_sum_fp").alias("sum_fp"),
        )
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        (F.col("sum_fp").cast("double") / F.lit(float(10**SUM_SCALE))).alias(
            "sum_price"
        ),
    )


# ---------------------------------------------------------------------------
# k2_state_merge — full -State/-Merge combinator algebra across shards
# ---------------------------------------------------------------------------

_K2_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       {o_dsum('o_totalprice')} AS sum_price,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
"""


@register("k2_state_merge", oracle=_K2_ORACLE)
def k2_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH -State/-Merge combinators: four shards (o_custkey % 4) each
    produce a partial-state row — count, fixed-point sum, min, max, and
    the distinct-customer SET — and the states merge to the exact
    global answer (sum/sum, min/min, max/max, union+distinct). Hash
    equality against the flat global aggregate proves every combinator
    merges losslessly.

    Scale honesty: the distinct SET state grows with NDV — exactly why
    CH offers uniq (HLL) next to uniqExact; d4/d4b are our sketch
    twins. Min/max/count/sum states are O(1) per group forever."""
    orders = load(spark, sf_dir, "orders")
    states = (
        orders.withColumn("shard", F.col("o_custkey") % 4)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("p_count"),
            F.sum(fixed_point("o_totalprice")).alias("p_sum_fp"),
            F.min("o_totalprice").alias("p_min"),
            F.max("o_totalprice").alias("p_max"),
            F.collect_set("o_custkey").alias("p_custs"),
        )
    )
    return states.agg(
        F.sum("p_count").alias("n_orders"),
        (F.sum("p_sum_fp").cast("double") / F.lit(float(10**SUM_SCALE))).alias(
            "sum_price"
        ),
        F.min("p_min").alias("min_price"),
        F.max("p_max").alias("max_price"),
        F.size(F.array_distinct(F.flatten(F.collect_list("p_custs"))))
        .cast("long")
        .alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# k3_mv_cdc_refresh — MV maintained THROUGH a CDC upsert batch
# ---------------------------------------------------------------------------

_K3_ORACLE = f"""
WITH final AS (
  SELECT user_id, event_type, value FROM (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (
             PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
             event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1 AND event_type <> 'error'
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM({o_fixed_point('value')}) AS BIGINT) AS sum_value_fp
FROM final
GROUP BY event_type
ORDER BY event_type
"""


@register("k3_mv_cdc_refresh", oracle=_K3_ORACLE)
def k3_mv_cdc_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed loop a MySQL→ClickHouse deployment actually runs:
    CDC upserts (the ReplacingMergeTree FINAL image of
    ``streaming.cdc.EVENTS_FINAL``, as in a4) feeding a grouped MV.
    Aggregates over the post-merge image can't be delta-merged blindly
    (an upsert
    RETRACTS the PK's previous contribution), so the refresh
    re-aggregates only the FINAL image — one window + one hash agg —
    never raw history. The oracle recomputes the same thing flat.

    At 100 TB: the FINAL image is per-PK state (ReplacingMergeTree
    part-merge); the MV re-aggregates only partitions whose PKs
    changed in the batch — h7 is the streaming form of this exact
    maintenance."""
    ev = load(spark, sf_dir, "events")
    return final(ev, EVENTS_FINAL).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(fixed_point("value")).alias("sum_value_fp"),
    )


# ---------------------------------------------------------------------------
# k4_projection_rewrite — CH projections: answer a coarse query from a
# finer pre-aggregate, never the raw table
# ---------------------------------------------------------------------------

_K4_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n,
       {o_dsum('value')} AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("k4_projection_rewrite", oracle=_K4_ORACLE)
def k4_projection_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH ALTER TABLE ... ADD PROJECTION: a finer-grained pre-aggregate
    — here (event_type, day) partials — silently answers any query
    whose grouping keys are a SUBSET of the projection's. The query
    below never touches raw events: it re-aggregates the projection's
    (count, fixed-point sum) partials up to event_type, and the
    driver's hash check against the raw-table oracle proves the
    rollup-from-projection is exact (partials are associative — the
    same algebra k1/k2 prove for delta merges, applied to granularity
    instead of time).

    Scale: the projection has |event_type| × |days| rows regardless of
    fact cardinality; the coarse query is a shuffle over THAT, i.e.
    thousands of rows where the raw scan would be billions. This is
    the batch analog of CH's automatic projection selection; a real
    deployment materializes the projection with k1's incremental
    maintenance."""
    from mysql_to_clickhouse_spark.plans.projection import (
        Projection,
        pick,
        rollup,
    )

    ev = load(spark, sf_dir, "events")
    state = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("p_count"),
        F.sum(fixed_point("value")).alias("p_sum_fp"),
    )
    by_type_day = Projection("events_by_type_day", ("event_type", "day"), state)
    chosen = pick({"event_type"}, [by_type_day])
    assert chosen is by_type_day  # selection rules tested in test_projection
    return rollup(chosen, ["event_type"])


# ---------------------------------------------------------------------------
# k5_partition_refresh — late data refreshes ONLY the touched partitions
# ---------------------------------------------------------------------------

_K5_LATE_CUT = "2001-06-01"  # events on/after this ts play the late batch

_K5_ORACLE = """
SELECT event_type,
       date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS sum_fp
FROM events
GROUP BY event_type, day
ORDER BY event_type, day
"""


@register("k5_partition_refresh", oracle=_K5_ORACLE)
def k5_partition_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted backfill: a late-arriving batch must refresh ONLY the
    (type, day) partitions it touches, never the whole MV — the
    partition-pruned twin of k1's global delta-merge, and the pattern
    that makes backfills affordable when the MV spans years but the
    late data spans hours.

    The stale MV state is built from pre-cutoff events; the late batch
    derives its distinct touched days (a tiny relation, broadcast),
    splits the state into untouched partials (kept verbatim — no
    recompute, no scan of their history) and touched partials (merged
    with the late batch's partials of the same days). The driver hash
    against the full-recompute oracle proves refresh == recompute.
    At 100 TB the touched-partition set is what bounds the job: work
    scales with the late batch, not the MV."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        fixed_point("value").alias("v_fp"),
    )
    cut = F.lit(_K5_LATE_CUT).cast("timestamp")
    base = ev.filter(F.col("day") < cut)
    late = ev.filter(F.col("day") >= cut)

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v_fp").alias("sum_fp"),
        )

    state = partials(base)  # the persisted MV
    touched = late.select("day").distinct()
    late_partials = partials(late)
    # split: untouched rows pass through untouched (anti join against
    # the tiny touched-day set); touched rows re-merge with the late
    # partials — both sides of the split shuffle nothing fact-sized.
    untouched = state.join(F.broadcast(touched), "day", "left_anti")
    refreshed = (
        state.join(F.broadcast(touched), "day", "left_semi")
        .unionByName(late_partials)
        .groupBy("event_type", "day")
        .agg(F.sum("n").alias("n"), F.sum("sum_fp").alias("sum_fp"))
    )
    return (
        untouched.unionByName(refreshed)
        .select(
            "event_type",
            "day",
            "n",
            F.col("sum_fp").cast("bigint").alias("sum_fp"),
        )
    )


# ---------------------------------------------------------------------------
# k6_mv_cascade — MV feeding MV (hourly partials -> daily rollup)
# ---------------------------------------------------------------------------

_K6_ORACLE = f"""
SELECT CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day_str,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {o_dsum('value')} AS total_value
FROM events
GROUP BY day_str, event_type
ORDER BY day_str, event_type
"""


@register("k6_mv_cascade", oracle=_K6_ORACLE, tier="T2")
def k6_mv_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascaded materialized views (CH MV-reading-from-MV): the fact
    stream feeds an HOURLY partial-state MV, and the DAILY report view
    is maintained from the hourly partials alone — the raw table is
    never touched after the first hop. The driver hash against a
    direct daily recompute proves the cascade is lossless: partial
    states (count, fixed-point sum) are associative, so re-aggregating
    hour→day partials equals aggregating raw→day.

    Scale: the cascade is the cost structure that matters at 100 TB —
    the hourly hop is the only scan of raw data; every further grain
    (day/week/month) aggregates |hours|·|types| partial rows, i.e. the
    report hierarchy costs ~zero marginal IO. Both hops are map-side-
    combinable hash aggregates."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("p_count"),
        F.sum(fixed_point("value")).alias("p_sum_fp"),
    )
    daily = hourly.groupBy(
        F.col("hour").cast("date").alias("day"), "event_type"
    ).agg(
        F.sum("p_count").cast("long").alias("n"),
        (F.sum("p_sum_fp").cast("double") / F.lit(float(10**SUM_SCALE))).alias(
            "total_value"
        ),
    )
    return daily.select(
        F.col("day").cast("string").alias("day_str"),
        "event_type",
        "n",
        "total_value",
    )


# ---------------------------------------------------------------------------
# k7_watermarked_mv — IVM with a lateness watermark (frozen vs open parts)
# ---------------------------------------------------------------------------

_K7_ORACLE = f"""
WITH anchored AS (
  SELECT event_type,
         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         value,
         (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) FROM events)
           - 432000000000 AS wm_us,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events
)
SELECT CAST(day AS VARCHAR) AS day_str, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {o_dsum('value')} AS total_value,
       CAST(MAX(CASE WHEN ts_us < wm_us THEN 1 ELSE 0 END) AS BIGINT)
         AS has_frozen_rows,
       CAST(MAX(CASE WHEN ts_us >= wm_us THEN 1 ELSE 0 END) AS BIGINT)
         AS has_open_rows
FROM anchored
GROUP BY day_str, event_type
ORDER BY day_str, event_type
"""


@register("k7_watermarked_mv", oracle=_K7_ORACLE, tier="T2")
def k7_watermarked_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM under a lateness watermark: partitions older than the
    watermark (MAX(ts) − 5 days) are FROZEN — their partial states are
    computed once and never revisited — while open partitions
    re-aggregate on every refresh. The refresh result is the merge of
    frozen + open partials, and the driver hash against the one-shot
    recompute proves the freeze loses nothing (provided no row violates
    the watermark — the flags surface which side each group drew from,
    so a violation is visible data, not silence).

    Scale: this is THE cost model of streaming MV maintenance at
    100 TB — refresh work is proportional to the open window (days),
    not history (years); the frozen state is read-only parquet."""
    ev = load(spark, sf_dir, "events")
    wm = ev.agg(F.max(F.unix_micros("ts"))).first()[0] - 432000000000
    base = ev.select(
        F.col("ts").cast("date").alias("day"),
        "event_type",
        "value",
        (F.unix_micros("ts") < F.lit(wm)).alias("frozen"),
    )

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("p_n"),
            F.sum(fixed_point("value")).alias("p_sum_fp"),
            F.max(F.when(F.col("frozen"), 1).otherwise(0)).alias("p_frozen"),
            F.max(F.when(~F.col("frozen"), 1).otherwise(0)).alias("p_open"),
        )

    frozen_state = partials(base.filter(F.col("frozen")))   # computed once
    open_state = partials(base.filter(~F.col("frozen")))    # per refresh
    merged = (
        frozen_state.unionByName(open_state)
        .groupBy("day", "event_type")
        .agg(
            F.sum("p_n").cast("long").alias("n"),
            (F.sum("p_sum_fp").cast("double") / F.lit(float(10**SUM_SCALE)))
            .alias("total_value"),
            F.max("p_frozen").cast("long").alias("has_frozen_rows"),
            F.max("p_open").cast("long").alias("has_open_rows"),
        )
    )
    return merged.select(
        F.col("day").cast("string").alias("day_str"),
        "event_type",
        "n",
        "total_value",
        "has_frozen_rows",
        "has_open_rows",
    )

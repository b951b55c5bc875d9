"""Streaming/batch equivalence (SURVEY.md §5.3 strategy 5): every true
Structured-Streaming topology must produce the batch operator's answer
once drained."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from mysql_to_clickhouse_spark.registry import all_queries
from mysql_to_clickhouse_spark.verify import compare_frames
from tests.conftest import SMOKE_SF_DIR

QUERIES = all_queries()


def _sorted(pdf: pd.DataFrame, cols=None) -> pd.DataFrame:
    cols = cols or list(sorted(pdf.columns))
    return pdf[sorted(pdf.columns)].sort_values(by=cols).reset_index(drop=True)


def test_cdc_stream_equals_batch_apply(spark):
    from mysql_to_clickhouse_spark.streaming.cdc import run_cdc_stream

    streamed = run_cdc_stream(spark, SMOKE_SF_DIR).toPandas()
    batch = QUERIES["a4_cdc_apply_latest"].fn(spark, SMOKE_SF_DIR).toPandas()
    result = compare_frames(streamed, batch)
    assert result.ok, result.detail


def test_foreach_upsert_sim_equals_batch_apply(spark):
    sim = QUERIES["h7_foreach_upsert"].fn(spark, SMOKE_SF_DIR).toPandas()
    batch = QUERIES["a4_cdc_apply_latest"].fn(spark, SMOKE_SF_DIR).toPandas()
    result = compare_frames(sim, batch)
    assert result.ok, result.detail


def test_tumbling_stream_equals_batch(spark):
    from mysql_to_clickhouse_spark.streaming.windows import tumbling_counts_stream

    streamed = tumbling_counts_stream(spark, SMOKE_SF_DIR).toPandas()
    batch = (
        QUERIES["h1_tumbling"]
        .fn(spark, SMOKE_SF_DIR)
        .select("win_start_us", "event_type", "n")
        .toPandas()
    )
    result = compare_frames(streamed, batch)
    assert result.ok, result.detail


def test_watermarked_append_is_sealed_subset(spark):
    from mysql_to_clickhouse_spark.streaming.windows import (
        tumbling_counts_watermarked,
    )

    emitted = tumbling_counts_watermarked(spark, SMOKE_SF_DIR).toPandas()
    batch = (
        QUERIES["h1_tumbling"]
        .fn(spark, SMOKE_SF_DIR)
        .select("win_start_us", "event_type", "n")
        .toPandas()
    )
    # append mode emits only watermark-sealed windows: a strict subset
    # that must agree row-for-row where emitted
    assert 0 < len(emitted) <= len(batch)
    merged = emitted.merge(
        batch, on=["win_start_us", "event_type"], suffixes=("_s", "_b")
    )
    assert len(merged) == len(emitted)
    assert (merged["n_s"] == merged["n_b"]).all()


def test_session_stream_matches_batch_sessionization(spark):
    from mysql_to_clickhouse_spark.streaming.windows import session_windows_stream

    streamed = session_windows_stream(spark, SMOKE_SF_DIR).toPandas()
    batch = QUERIES["h3_session"].fn(spark, SMOKE_SF_DIR).toPandas()
    # append mode emits only watermark-sealed sessions: tail-of-stream
    # sessions (within gap+watermark of max ts) are legitimately absent
    max_ts = batch["session_end_us"].max()
    sealed_cutoff = max_ts - (60 + 30) * 60 * 1_000_000
    s = set(
        map(tuple, streamed[["user_id", "session_start_us", "n_events"]].values)
    )
    b_all = set(
        map(tuple, batch[["user_id", "session_start_us", "n_events"]].values)
    )
    b_sealed = set(
        map(
            tuple,
            batch[batch["session_end_us"] < sealed_cutoff][
                ["user_id", "session_start_us", "n_events"]
            ].values,
        )
    )
    assert s <= b_all, f"stream emitted sessions batch doesn't have: {s - b_all}"
    assert b_sealed <= s, f"sealed sessions missing from stream: {b_sealed - s}"


def test_dedup_stream_one_row_per_key(spark):
    from mysql_to_clickhouse_spark.streaming.windows import (
        dedup_within_watermark_stream,
    )

    streamed = dedup_within_watermark_stream(spark, SMOKE_SF_DIR).toPandas()
    batch = QUERIES["h5_stream_dedup"].fn(spark, SMOKE_SF_DIR).toPandas()
    # dropDuplicatesWithinWatermark keeps an arbitrary representative —
    # assert the KEY SET matches the deterministic batch dedup
    s_keys = set(map(tuple, streamed[["user_id", "event_type"]].values))
    b_keys = set(map(tuple, batch[["user_id", "event_type"]].values))
    assert s_keys == b_keys


def test_funnel_state_evicts_after_watermark(spark):
    """With an event-time horizon, users inactive past the watermark are
    evicted (GroupStateTimeout tombstones observed) and the final
    answer — already emitted before eviction — is unchanged."""
    from mysql_to_clickhouse_spark.streaming.funnel import run_funnel_stream

    final, snap = run_funnel_stream(
        spark, SMOKE_SF_DIR, evict_horizon_us=60_000_000, return_snapshots=True
    )
    raw = snap.toPandas()
    tombstones = raw[raw["funnel_depth"] < 0]
    # slices span days and the horizon is 1 minute: users whose last
    # event precedes the later slices MUST have been timed out
    assert len(tombstones) > 0, "no state was evicted"
    # eviction happens only after a user's last event, so the deepest
    # snapshot was already emitted: final view == batch operator
    batch = QUERIES["h6_stateful_funnel"].fn(spark, SMOKE_SF_DIR).toPandas()
    s = _sorted(
        final.toPandas()[final.toPandas()["funnel_depth"] > 0][
            ["user_id", "view_us", "click_us", "purchase_us", "funnel_depth"]
        ],
        ["user_id"],
    )
    b = _sorted(
        batch[["user_id", "view_us", "click_us", "purchase_us", "funnel_depth"]],
        ["user_id"],
    )
    pd.testing.assert_frame_equal(s, b, check_dtype=False)


def test_funnel_stream_equals_batch_funnel(spark):
    from mysql_to_clickhouse_spark.streaming.funnel import run_funnel_stream

    streamed = run_funnel_stream(spark, SMOKE_SF_DIR).toPandas()
    batch = QUERIES["h6_stateful_funnel"].fn(spark, SMOKE_SF_DIR).toPandas()
    s = _sorted(
        streamed[streamed["funnel_depth"] > 0][
            ["user_id", "view_us", "click_us", "purchase_us", "funnel_depth"]
        ],
        ["user_id"],
    )
    b = _sorted(
        batch[["user_id", "view_us", "click_us", "purchase_us", "funnel_depth"]],
        ["user_id"],
    )
    pd.testing.assert_frame_equal(s, b, check_dtype=False)


def test_gap_fill_plants_missing_days(spark, tmp_path):
    """h12 must synthesize zero rows for absent days — the driver data
    happens to be gap-free, so plant a hole and assert it fills."""
    from mysql_to_clickhouse_spark.registry import all_queries

    day_ns = 86_400 * 10**9
    base_ns = 820_454_400 * 10**9  # 1996-01-01 UTC
    rows = [
        (1, 10, base_ns + 0 * day_ns + 5 * 10**9, "view", 1.0, "{}"),
        (2, 10, base_ns + 1 * day_ns + 5 * 10**9, "click", 2.0, "{}"),
        # day 2 missing entirely
        (3, 11, base_ns + 3 * day_ns + 5 * 10**9, "purchase", 3.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = (
        all_queries()["h12_gap_fill"]
        .fn(spark, str(tmp_path))
        .toPandas()
        .sort_values("day_str")
        .reset_index(drop=True)
    )
    assert list(out["day_str"]) == [
        "1996-01-01", "1996-01-02", "1996-01-03", "1996-01-04"
    ]
    filled = out[out["was_filled"]]
    assert list(filled["day_str"]) == ["1996-01-03"]
    assert (filled["n_events"] == 0).all() and (filled["total_value"] == 0.0).all()
    assert list(out["n_events"]) == [1, 1, 0, 1]


def test_cdc_checkpoint_kill_and_resume(spark):
    """Exactly-once on restart (the binlog-position analog): crash the
    CDC stream mid-replay, restart against the SAME checkpointLocation,
    and the final state must equal the batch a4 oracle — no duplicated,
    no lost rows."""
    from mysql_to_clickhouse_spark.functions.tmputil import scratch_dir
    from mysql_to_clickhouse_spark.streaming.cdc import (
        _committed_versions,
        read_cdc_state,
        start_cdc_query,
    )
    from mysql_to_clickhouse_spark.streaming.replay import write_replay_slices

    n_slices = 4
    replay_dir, ev = write_replay_slices(spark, SMOKE_SF_DIR, n_slices)
    state_root = scratch_dir("cdc_kill_resume_")

    # first run: injected crash while processing batch 1 (after batch 0
    # committed its state version and the WAL pinned batch 1's offsets)
    q = start_cdc_query(spark, replay_dir, ev.schema, state_root, fail_at_batch=1)
    with pytest.raises(Exception, match="injected crash at batch 1"):
        q.awaitTermination(180)
    assert not q.isActive
    assert _committed_versions(state_root) == [0], "crash must leave only v0"

    # restart with the same checkpoint: the WAL re-delivers batch 1 with
    # identical rows, then drains the remaining slices
    q2 = start_cdc_query(spark, replay_dir, ev.schema, state_root)
    q2.awaitTermination(180)
    assert not q2.isActive
    assert _committed_versions(state_root) == list(range(n_slices))

    resumed = read_cdc_state(spark, state_root).toPandas()
    batch = QUERIES["a4_cdc_apply_latest"].fn(spark, SMOKE_SF_DIR).toPandas()
    assert resumed["user_id"].is_unique  # no duplicate PK from the re-run
    result = compare_frames(resumed, batch)
    assert result.ok, result.detail


def _assert_running_totals_equal_batch(spark, runner):
    """ONE stream==batch equality contract for the running-totals fold,
    shared by both arbitrary-state backends (applyInPandasWithState and
    transformWithStateInPandas): whichever API carries the state, the
    final per-user (n, sum_fp) must equal the plain batch aggregate."""
    from mysql_to_clickhouse_spark.tables import load
    from pyspark.sql import functions as F

    streamed = (
        runner(spark, SMOKE_SF_DIR).toPandas().set_index("user_id").sort_index()
    )
    batch = (
        load(spark, SMOKE_SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * F.lit(10000.0)).cast("long")
            ).alias("sum_fp"),
        )
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert len(streamed) == len(batch)
    assert (streamed["n"] == batch["n"]).all()
    assert (streamed["sum_fp"] == batch["sum_fp"]).all()


def test_apply_in_pandas_with_state_totals_equal_batch(spark):
    """applyInPandasWithState running totals (h23's engine): RUNS in
    this sandbox (no protobuf dependency) — the stream==batch proof
    for the stateful fold itself."""
    from mysql_to_clickhouse_spark.streaming.running_totals import (
        run_running_totals_stream_apws,
    )

    _assert_running_totals_equal_batch(spark, run_running_totals_stream_apws)


def test_transform_with_state_totals_equal_batch(spark):
    """transformWithStateInPandas (Spark 4 arbitrary-state API): the
    SAME equality contract as the applyInPandasWithState test above —
    one fold, two state backends. Skips only where the sandbox's
    protobuf is broken (see running_totals docstring); the fold's
    semantics stay proven here via the APWS twin."""
    import pytest

    from mysql_to_clickhouse_spark.streaming.running_totals import (
        protobuf_available,
        run_running_totals_stream,
    )

    if not protobuf_available():
        pytest.skip("google.protobuf broken in this sandbox; "
                    "transformWithStateInPandas needs it (install-free env)")
    _assert_running_totals_equal_batch(spark, run_running_totals_stream)


def test_left_outer_stream_emits_unmatched_views(spark):
    """h16: the outer join must actually exercise the watermark-driven
    null path — unmatched views (purchase_event_id = -1) exist in the
    drained result alongside matched rows, and every view event
    appears at least once."""
    from mysql_to_clickhouse_spark.tables import load

    res = all_queries()["h16_stream_left_outer"].fn(spark, SMOKE_SF_DIR)
    pdf = res.toPandas()
    n_unmatched = int((pdf["purchase_event_id"] == -1).sum())
    n_matched = int((pdf["purchase_event_id"] >= 0).sum())
    assert n_unmatched > 0, "no unmatched views — outer path untested"
    assert n_matched > 0, "no matched views — join path untested"
    n_views = (
        load(spark, SMOKE_SF_DIR, "events")
        .filter("event_type = 'view'")
        .count()
    )
    assert pdf["view_event_id"].nunique() == n_views


def test_final_read_builds_without_spark_job(spark, tmp_path):
    """Building a FINAL read takes the schema from the latest state
    version's own parquet footer, so it launches no Spark job (an
    inferred read runs one schema-inference job), and it yields the
    same schema and rows as a plain inferred read of that version —
    also when that version holds only tombstones.

    The state here fits one partition, so each merge and each FINAL
    read + group-by runs as ONE job: no shuffle exchange, whose reduce
    side AQE would coalesce to one partition anyway. Replayed with the
    one-partition size AQE uses set to 1 byte (the minimum partition
    size under ``parallelismFirst``, or the advisory size without it),
    the same batches take the exchange path (at least 2 jobs each) and
    end in the same rows."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from mysql_to_clickhouse_spark.streaming.cdc import (
        make_binlog_apply,
        make_cdc_apply,
        read_binlog_state,
        read_cdc_state,
    )

    binlog_schema = (
        "log_file string, log_pos long, seq long, op string, user_id long, "
        "event_id long, ts_us long, event_type string, value double"
    )
    cdc_schema = (
        "user_id long, event_id long, ts timestamp, event_type string, "
        "value double"
    )
    t0 = datetime(2024, 1, 1)
    # batch 0 inserts two keys; batch 1 tombstones both, so the latest
    # version of each state holds only tombstones
    binlog_batches = [
        [("binlog.000001", 100, u, "insert", u, u, 1, "view", 1.5)
         for u in (1, 2)],
        [("binlog.000002", 100, u, "delete", u, u, 1, "view", 1.5)
         for u in (1, 2)],
    ]
    cdc_batches = [
        [(u, u, t0, "view", 1.5) for u in (1, 2)],
        [(u, 10 + u, t0 + timedelta(seconds=1), "error", 0.0)
         for u in (1, 2)],
    ]
    cases = [
        ("binlog", make_binlog_apply, read_binlog_state, binlog_schema,
         binlog_batches, F.col("op") != "delete"),
        ("cdc", make_cdc_apply, read_cdc_state, cdc_schema,
         cdc_batches, F.col("event_type") != "error"),
    ]
    sc = spark.sparkContext
    aqe = "spark.sql.adaptive."
    # None: the session's own settings; else the confs that make AQE's
    # one-partition size 1 byte, under and without parallelismFirst
    replays = {
        None: {},
        "minsize": {aqe + "coalescePartitions.minPartitionSize": "1b"},
        "advisory": {
            aqe + "coalescePartitions.parallelismFirst": "false",
            aqe + "advisoryPartitionSizeInBytes": "1b",
        },
    }

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    for name, make_apply, read_state, schema, batches, live in cases:
        # land each batch as parquet, as a file-stream micro-batch
        # arrives, so its plan carries size statistics
        landed = []
        for batch_id, rows in enumerate(batches):
            path = str(tmp_path / f"{name}_in{batch_id}")
            spark.createDataFrame(rows, schema).write.parquet(path)
            landed.append(spark.read.schema(schema).parquet(path))
        finals = {}
        for replay, confs in replays.items():
            old = {k: spark.conf.get(k) for k in confs}
            try:
                for k, v in confs.items():
                    spark.conf.set(k, v)
                root = str(tmp_path / f"{name}_{replay}")
                os.makedirs(root)
                apply = make_apply(root)
                for batch_id, batch in enumerate(landed):
                    tag = f"{name}_{replay}_{batch_id}"
                    _, n_apply = jobs_of(
                        f"apply_{tag}", lambda: apply(batch, batch_id)
                    )
                    final, n_build = jobs_of(
                        f"build_{tag}", lambda: read_state(spark, root)
                    )
                    assert n_build == 0
                    _, n_read = jobs_of(
                        f"read_{tag}",
                        lambda: read_state(spark, root)
                        .groupBy("user_id").count().collect(),
                    )
                    plain = spark.read.parquet(os.path.join(root, f"v{batch_id}"))
                    plain = plain.filter(live).select(*final.columns)
                    assert final.schema == plain.schema
                    got = sorted(map(tuple, final.collect()))
                    assert got == sorted(map(tuple, plain.collect()))
                    assert len(got) == (2 if batch_id == 0 else 0)
                    if replay is None:
                        assert (n_apply, n_read) == (1, 1), tag
                    else:
                        # an exchange over no live row has no reduce job
                        # (AQE drops the empty side), so its read runs 1
                        assert n_apply >= 2, (tag, n_apply)
                        assert n_read >= (2 if got else 1), (tag, n_read)
                    finals[replay, batch_id] = got
            finally:
                for k, v in old.items():
                    spark.conf.set(k, v)
        for replay in replays:
            for batch_id in range(len(batches)):
                assert finals[replay, batch_id] == finals[None, batch_id]


def test_cdc_out_of_order_versions_across_batches(spark, tmp_path):
    """Versions arrive out of order across micro-batches: a newer
    tombstone delivered before an older upsert keeps its key deleted,
    and a newer upsert delivered after an older tombstone revives its
    key. Only state that keeps tombstones gets both right; the FINAL
    read equals ``final()`` over everything delivered."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from mysql_to_clickhouse_spark.streaming.cdc import (
        CDC_STATE_FINAL,
        final,
        make_cdc_apply,
        read_cdc_state,
    )

    schema = (
        "user_id long, event_id long, ts timestamp, event_type string, "
        "value double"
    )
    old, new = datetime(2024, 1, 1), datetime(2024, 1, 1) + timedelta(hours=1)
    batches = [
        [
            (1, 11, new, "error", 0.0),  # key 1: newer tombstone first
            (2, 21, old, "error", 0.0),  # key 2: older tombstone first
            (3, 31, old, "view", 1.0),
        ],
        [
            (1, 12, old, "view", 2.5),  # older upsert: stays deleted
            (2, 22, new, "click", 3.5),  # newer upsert: revives
            (3, 32, new, "view", 4.0),
        ],
    ]
    frames = [spark.createDataFrame(rows, schema) for rows in batches]
    root = str(tmp_path / "state")
    os.makedirs(root)
    apply = make_cdc_apply(root)
    for batch_id, batch in enumerate(frames):
        apply(batch, batch_id)

    got = sorted(map(tuple, read_cdc_state(spark, root).collect()))
    delivered = frames[0].unionByName(frames[1]).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    )
    want = sorted(map(tuple, final(delivered, CDC_STATE_FINAL).collect()))
    assert got == want
    assert [(r[0], r[1]) for r in got] == [(2, 22), (3, 32)]

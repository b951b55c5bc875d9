"""ensure_bucketed — the opt-in CH ORDER-BY-key storage layout.

Parity: every lineitem/orders-joining golden query returns identical
rows whether load() serves pristine parquet or the bucketed copies.
Plans: with the layout routed, the fact side never crosses an
``Exchange hashpartitioning(l_orderkey...)`` — the scan itself carries
the join/aggregation distribution (``Bucketed: true``), which is the
entire point of paying the one ingest-time shuffle.
"""

from __future__ import annotations

import pytest

from mysql_to_clickhouse_spark.registry import all_queries
from mysql_to_clickhouse_spark.caches import release
from mysql_to_clickhouse_spark.tables import ensure_bucketed, load

SF = "/root/testdata/sf0.01"
QIDS = [
    "c10_star_multiway",
    "c12_q3_shipping",
    "x6_tpch_q10",
    "x7_tpch_q18",
    "x14_tpch_q21",
    "x16_tpch_q9",
]


@pytest.fixture()
def bucketed(spark):
    """Route loads to bucketed copies for one test, then always restore
    the session-shared fixture to pristine-parquet routing."""
    try:
        yield ensure_bucketed(spark, SF, buckets=8)
    finally:
        release(spark, "bucket_routes")


def test_parity_plain_vs_bucketed(spark):
    qs = all_queries()
    plain = {
        qid: sorted(map(tuple, qs[qid].fn(spark, SF).collect()))
        for qid in QIDS
    }
    try:
        ensure_bucketed(spark, SF, buckets=8)
        for qid in QIDS:
            got = sorted(map(tuple, qs[qid].fn(spark, SF).collect()))
            assert got == plain[qid], f"{qid} diverged under bucketed layout"
    finally:
        release(spark, "bucket_routes")


def test_no_fact_exchange_on_orderkey(spark, bucketed):
    qs = all_queries()
    for qid in QIDS:
        plan = (
            qs[qid].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Bucketed: true" in plan, f"{qid} did not use the bucketed scan"
        for key in ("l_orderkey", "o_orderkey"):
            assert f"Exchange hashpartitioning({key}" not in plan, (
                f"{qid} still shuffles the fact on {key} despite the "
                f"bucketed layout:\n{plan}"
            )


def test_routing_is_reversible_and_cached_separately(spark):
    plain = load(spark, SF, "lineitem")
    assert "m2c_layout" not in plain._jdf.queryExecution().analyzed().toString()
    try:
        tabs = ensure_bucketed(spark, SF, buckets=8)
        routed = load(spark, SF, "lineitem")
        assert tabs["lineitem"].split(".")[1] in (
            routed._jdf.queryExecution().analyzed().toString()
        )
        # identical schema + content through the routed path
        assert routed.schema == plain.schema
        assert routed.count() == plain.count()
    finally:
        release(spark, "bucket_routes")
    back = load(spark, SF, "lineitem")
    assert "m2c_layout" not in back._jdf.queryExecution().analyzed().toString()


def test_idempotent_reuse(spark):
    try:
        a = ensure_bucketed(spark, SF, buckets=8)
        import os
        import time

        loc = None
        for f in os.listdir("/tmp/m2c_layout_wh"):
            if f.startswith("lineitem_"):
                loc = f"/tmp/m2c_layout_wh/{f}"
        mtime = os.path.getmtime(loc)
        time.sleep(0.05)
        b = ensure_bucketed(spark, SF, buckets=8)
        assert a == b
        assert os.path.getmtime(loc) == mtime, "second call rewrote the layout"
    finally:
        release(spark, "bucket_routes")


def test_unknown_table_rejected(spark):
    with pytest.raises(KeyError, match="bucket key"):
        ensure_bucketed(spark, SF, names=("documents",))


def test_custkey_projection(spark):
    """ensure_projection (the CH PROJECTION analog): e1's per-customer
    ranking window reads the o_custkey-clustered copy with NO exchange
    and returns identical rows; unrouted sessions fall back to the
    plain orders scan."""
    import re

    from mysql_to_clickhouse_spark.tables import ensure_projection

    qs = all_queries()
    plain = sorted(map(tuple, qs["e1_row_number"].fn(spark, SF).collect()))
    try:
        fq = ensure_projection(spark, SF, "orders", "o_custkey", buckets=8)
        df = qs["e1_row_number"].fn(spark, SF)
        assert fq.split(".")[1] in (
            df._jdf.queryExecution().analyzed().toString()
        )
        got = sorted(map(tuple, df.collect()))
        assert got == plain
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "o_custkey" not in m.group(1), (
                f"e1 still exchanges on o_custkey despite the projection:"
                f"\n{plan}"
            )
    finally:
        release(spark, "bucket_routes")
    back = qs["e1_row_number"].fn(spark, SF)
    assert "m2c_layout" not in (
        back._jdf.queryExecution().analyzed().toString()
    )


EVENT_QIDS = ["d3_count_distinct", "a4_cdc_apply_latest", "x17_replication_pipeline"]


def test_events_bucketed_by_user_id(spark):
    """events bucketed on the CDC primary key: the x17/a4 FINAL-collapse
    window and d3's (day, user_id) distinct dedup are satisfied by the
    scan's HashPartitioning(user_id) — no user_id fact exchange."""
    import re

    qs = all_queries()
    plain = {
        qid: sorted(map(tuple, qs[qid].fn(spark, SF).collect()))
        for qid in EVENT_QIDS
    }
    try:
        ensure_bucketed(spark, SF, names=("events",), buckets=8)
        for qid in EVENT_QIDS:
            df = qs[qid].fn(spark, SF)
            got = sorted(map(tuple, df.collect()))
            assert got == plain[qid], f"{qid} diverged under bucketed layout"
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan, f"{qid} skipped the bucketed scan"
            for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
                assert "user_id" not in m.group(1), (
                    f"{qid} still shuffles the fact on user_id:\n{plan}"
                )
    finally:
        release(spark, "bucket_routes")


def test_agg_projection_d3_parity_and_plan(spark, tmp_path):
    """The events/day_user AGGREGATE projection: d3 answers from
    pre-distinct (day, user) partials with IDENTICAL rows, and its plan
    reads the tiny projection table instead of the event stream (no
    events scan, no two-phase distinct expansion)."""
    from mysql_to_clickhouse_spark.tables import (
        ensure_agg_projection,
        load_agg_projection,
    )

    qs = all_queries()
    plain = sorted(map(tuple, qs["d3_count_distinct"].fn(spark, SF).collect()))
    try:
        fq = ensure_agg_projection(
            spark, SF, "events", "day_user", warehouse=str(tmp_path / "wh")
        )
        state = load_agg_projection(spark, SF, "events", "day_user")
        assert state is not None
        # projection cardinality = |distinct (day, user) pairs|
        assert state.count() < load(spark, SF, "events").count()
        df = qs["d3_count_distinct"].fn(spark, SF)
        got = sorted(map(tuple, df.collect()))
        assert got == plain, "d3 diverged under the aggregate projection"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert fq.split(".")[-1] in plan  # reads the projection table
        assert "events.parquet" not in plan  # not the raw stream
    finally:
        release(spark, "bucket_routes")
    # route released -> raw path again
    assert load_agg_projection(spark, SF, "events", "day_user") is None
    back = sorted(
        map(tuple, qs["d3_count_distinct"].fn(spark, SF).collect())
    )
    assert back == plain


def test_agg_projection_unknown_spec_rejected(spark):
    from mysql_to_clickhouse_spark.tables import ensure_agg_projection

    with pytest.raises(KeyError):
        ensure_agg_projection(spark, SF, "orders", "nope")


FLAT_QIDS = [
    "c10_star_multiway",
    "c12_q3_shipping",
    "x6_tpch_q10",
    "x7_tpch_q18",
    # r12: joined the MV consumers — at QUARTER partition granularity
    # the zero-join flat scan beats the co-bucketed base join at 1e8
    # (the r10 month-granularity measurement said otherwise)
    "x14_tpch_q21",
    # r12: o_year derives from the o_quarter PARTITION value, so the
    # full scan decodes only the profit columns and the orders join
    # disappears (see the x16 docstring + SCALING.md boundary 1)
    "x16_tpch_q9",
]
# shapes that deliberately STAY off the MV (none since r12 — kept so
# the parity loop structure survives the next boundary case)
FLAT_NON_QIDS: list[str] = []


def test_flat_lineitem_mv_parity_and_plan(spark, tmp_path):
    """The flat lineitem⨝orders MV (CH materialized-view analog): every
    consumer returns IDENTICAL rows with or without the MV routed; with
    it routed the plan reads the MV table instead of base lineitem AND
    base orders (the fact join is gone), x6/c10 carry o_quarter
    partition filters (directory pruning), x7's per-order aggregate
    stays exchange-free on the MV's l_orderkey buckets, and the
    full-scan shape x16 deliberately keeps its base plan."""
    from mysql_to_clickhouse_spark.tables import (
        ensure_flat_lineitem,
        load_flat_lineitem,
    )

    qs = all_queries()
    plain = {
        qid: sorted(map(tuple, qs[qid].fn(spark, SF).collect()))
        for qid in FLAT_QIDS + FLAT_NON_QIDS
    }
    assert load_flat_lineitem(spark, SF) is None
    try:
        fq = ensure_flat_lineitem(
            spark, SF, buckets=8, warehouse=str(tmp_path / "wh")
        )
        flat = load_flat_lineitem(spark, SF)
        assert flat is not None
        # the MV row set IS lineitem ⨝ orders (inner)
        assert flat.count() == load(spark, SF, "lineitem").count()
        for qid in FLAT_QIDS:
            df = qs[qid].fn(spark, SF)
            got = sorted(map(tuple, df.collect()))
            assert got == plain[qid], f"{qid} diverged under the flat MV"
            # inputFiles is truncation-proof where AQE plan strings are
            # not: x7 reads the bucketed table (exchange-free agg),
            # x6/c10 read the same files path-based — all must touch
            # ONLY the MV on the fact side
            files = df.inputFiles()
            assert any("lineitem_flat_" in f for f in files), (
                f"{qid} skipped the MV"
            )
            assert not any("lineitem.parquet" in f for f in files), (
                f"{qid} still scans base lineitem alongside the MV"
            )
            assert not any("orders.parquet" in f for f in files), (
                f"{qid} still joins base orders — the MV's whole point "
                f"is removing that join"
            )
        for qid in FLAT_NON_QIDS:
            df = qs[qid].fn(spark, SF)
            got = sorted(map(tuple, df.collect()))
            assert got == plain[qid], f"{qid} diverged with the MV routed"
            assert not any(
                "lineitem_flat_" in f for f in df.inputFiles()
            ), (
                f"{qid} reads the MV despite the measured full-scan "
                f"regression (see its docstring)"
            )
        # directory pruning: the quarter filter reaches PartitionFilters
        # (read from the pre-execution plan — small enough to escape
        # the AQE final-plan string truncation)
        x6_plan = (
            qs["x6_tpch_q10"].fn(spark, SF)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "o_quarter" in x6_plan.split("PartitionFilters")[1][:200], (
            f"x6's o_quarter filter did not prune partitions:\n{x6_plan}"
        )
        # exchange-free per-order aggregate on the MV buckets
        x7_plan = (
            qs["x7_tpch_q18"].fn(spark, SF)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange hashpartitioning(l_orderkey" not in x7_plan, (
            f"x7 shuffles on l_orderkey despite the MV buckets:\n{x7_plan}"
        )
        # x14's two aggregate stages must also ride the MV buckets —
        # no exchange on the fact path (r12)
        x14_plan = (
            qs["x14_tpch_q21"].fn(spark, SF)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange hashpartitioning(l_orderkey" not in x14_plan, (
            f"x14 shuffles on l_orderkey despite the MV buckets:\n"
            f"{x14_plan}"
        )
    finally:
        release(spark, "bucket_routes")
    assert load_flat_lineitem(spark, SF) is None
    back = sorted(
        map(tuple, qs["x6_tpch_q10"].fn(spark, SF).collect())
    )
    assert back == plain["x6_tpch_q10"]

"""broadcast_when_small — the size-gated broadcast probe
(plans/dispatch.py): gate semantics, probe decision in both
directions, and the resulting physical join strategy."""

from __future__ import annotations

from pyspark.sql import functions as F

from mysql_to_clickhouse_spark.plans.dispatch import (
    broadcast_when_small,
    fact_bytes_estimate,
)
from mysql_to_clickhouse_spark.registry import all_queries
from mysql_to_clickhouse_spark.tables import load

from tests.conftest import TEST_SF_DIR

_GATE = "spark.mysql2ch.join.probeFactBytes"
_ROWS = "spark.mysql2ch.join.broadcastRows"


def _with_conf(spark, confs):
    saved = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    return saved


def _restore(spark, saved):
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_gate_skips_probe_on_small_fact(spark):
    """Below the fact-bytes gate the input object comes back untouched
    (no probe job, no broadcast hint) — the sf0.01/sf0.1 drive path."""
    li = load(spark, TEST_SF_DIR, "lineitem")
    build = load(spark, TEST_SF_DIR, "orders").select("o_orderkey")
    assert fact_bytes_estimate(li) < 1 << 30  # testdata really is small
    out = broadcast_when_small(build, li, spark)
    assert out is build


def test_probe_broadcasts_small_build(spark):
    """Gate forced open + roomy row limit -> the fact join plans as a
    BroadcastHashJoin with the reduced side as the build relation, so
    the fact side never shuffle-writes."""
    saved = _with_conf(spark, {_GATE: "0", _ROWS: "10000000"})
    try:
        li = load(spark, TEST_SF_DIR, "lineitem")
        build = (
            load(spark, TEST_SF_DIR, "orders")
            .filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            .select("o_orderkey")
        )
        out = broadcast_when_small(build, li, spark)
        assert out is not build
        joined = li.join(out, li.l_orderkey == out.o_orderkey).groupBy().count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        _restore(spark, saved)


def test_probe_declines_big_build(spark):
    """Gate forced open but the reduced side exceeds the row limit (the
    100 TB shape: a 'reduced' dim that is still huge) -> unchanged
    object, honest shuffle plan stands."""
    saved = _with_conf(spark, {_GATE: "0", _ROWS: "0"})
    try:
        li = load(spark, TEST_SF_DIR, "lineitem")
        build = load(spark, TEST_SF_DIR, "orders").select("o_orderkey")
        out = broadcast_when_small(build, li, spark)
        assert out is build
    finally:
        _restore(spark, saved)


# Every reduced-dim⋈fact join routed through the probe gate. This list
# is the registry-wide wiring contract: a new star-shaped golden query
# should either appear here (and in the forced-probe hash test below)
# or document in its docstring why the static plan is already
# scale-correct (x18: cardinality-bounded build by construction;
# x14: the r8 single-pass rewrite removed its fact join-back entirely,
# which beats any probe decision about it).
WIRED_QUERIES = (
    "c10_star_multiway",
    "c12_q3_shipping",
    "x6_tpch_q10",
    "x7_tpch_q18",
    "x10_tpch_q7",
    "x15_tpch_q8",
    "x16_tpch_q9",
    "x17_replication_pipeline",
)


def test_wired_sites_enumerated():
    """Each contracted query's source really routes a join side through
    broadcast_when_small (guards against a refactor silently dropping
    the dispatch), and x18's deliberate non-wiring is documented."""
    import inspect

    qs = all_queries()
    for qid in WIRED_QUERIES:
        src = inspect.getsource(qs[qid].fn)
        assert "broadcast_when_small" in src, f"{qid} lost its probe gate"
    x18 = inspect.getsource(qs["x18_dashboard"].fn)
    assert "NOT" in x18 and "probe" in x18.lower(), (
        "x18's static-broadcast rationale must stay documented"
    )


def test_wired_hash_stable_under_forced_probe(spark, duck):
    """The probe is a pure strategy choice: forcing it on (gate=0) must
    leave every wired query oracle-equal under the strict driver-hash
    model — including the shapes whose build side is itself a join or
    aggregate (x7/x16) and the estimator-gated Q9."""
    from mysql_to_clickhouse_spark.verify import run_and_compare

    qs = all_queries()
    saved = _with_conf(spark, {_GATE: "0"})
    try:
        for qid in WIRED_QUERIES:
            res = run_and_compare(spark, duck, qs[qid], TEST_SF_DIR)
            assert res.ok, f"{qid}: {res.detail}"
    finally:
        _restore(spark, saved)


def test_i28_hash_stable_under_forced_blocked_path(spark, duck):
    """i28's eval-side dispatch (r7 verdict 'What's wrong' #1): forcing
    the vector broadcast threshold to 0 routes the eval set through the
    asymmetric blocked cogroup, and the result must stay oracle-equal
    under the strict driver-hash model — including the raw-vs-quantized
    tie corner the two-ordering candidate emission exists for."""
    from mysql_to_clickhouse_spark.verify import run_and_compare

    qs = all_queries()
    saved = _with_conf(
        spark, {"spark.mysql2ch.vector.broadcastThreshold": "0"}
    )
    try:
        res = run_and_compare(
            spark, duck, qs["i28_semantic_decontam"], TEST_SF_DIR
        )
        assert res.ok, res.detail
    finally:
        _restore(spark, saved)


def test_rows_estimate_skips_probe(spark):
    """A too-big pre-estimate short-circuits before any job: the build
    comes back untouched even though the gate is forced open, and the
    estimator thunk is consulted exactly once."""
    saved = _with_conf(spark, {_GATE: "0", _ROWS: "1000"})
    calls = []

    def est():
        calls.append(1)
        return 10_000_000

    try:
        li = load(spark, TEST_SF_DIR, "lineitem")
        build = load(spark, TEST_SF_DIR, "orders").select("o_orderkey")
        out = broadcast_when_small(build, li, spark, build_rows_estimate=est)
        assert out is build
        assert calls == [1]
    finally:
        _restore(spark, saved)


def test_parquet_rows_estimate_matches_scan():
    """Footer row counts equal the engine's own scan counts (the
    estimator is exact on immutable files, not a heuristic)."""
    from mysql_to_clickhouse_spark.plans.dispatch import parquet_rows_estimate

    import duckdb

    for table in ("orders", "part"):
        footer = parquet_rows_estimate(TEST_SF_DIR, table)
        path = f"{TEST_SF_DIR}/{table}.parquet"
        real = duckdb.sql(f"SELECT COUNT(*) FROM '{path}'").fetchone()[0]
        assert footer == real, table


def test_fact_bytes_estimate_uses_leaves(spark):
    """A join-shaped fact must NOT inflate to the multiplicative
    Catalyst product: the estimate for orders⋈lineitem equals the max
    of the two scans' estimates (the r7 x10 regression shape)."""
    li = load(spark, TEST_SF_DIR, "lineitem")
    orders = load(spark, TEST_SF_DIR, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    leaf_max = max(fact_bytes_estimate(li), fact_bytes_estimate(orders))
    assert fact_bytes_estimate(joined) == leaf_max


def test_probe_memo_skips_second_count(spark, monkeypatch):
    """Prepared-statement model: the second invocation of the same
    build shape applies the remembered decision with ZERO probe jobs —
    proven by making count() explode after the first probe."""
    saved = _with_conf(spark, {_GATE: "0", _ROWS: "10000000"})
    try:
        li = load(spark, TEST_SF_DIR, "lineitem")

        def build_df():
            return (
                load(spark, TEST_SF_DIR, "orders")
                .filter(
                    F.col("o_orderdate")
                    < F.lit("1998-01-01").cast("timestamp")
                )
                .select("o_orderkey")
            )

        first = broadcast_when_small(build_df(), li, spark)
        assert first is not None

        def boom(self):
            raise AssertionError("memoized decision still ran a probe job")

        # patch the CONCRETE class: classic.DataFrame overrides count()
        monkeypatch.setattr(type(li), "count", boom)
        out = broadcast_when_small(build_df(), li, spark)
        # accepted decision replays as a broadcast hint, probe-free
        plan = out._jdf.queryExecution().logical().toString()
        assert "hint" in plan.lower(), plan
    finally:
        _restore(spark, saved)


def test_probe_memo_consulted_after_gate(spark):
    """The memo must not leak strategy into the small-tier path: with
    the gate CLOSED (fact below probeFactBytes) the build comes back
    untouched even when an earlier forced-gate probe memoized an
    accept for the same shape."""
    saved = _with_conf(spark, {_GATE: "0", _ROWS: "10000000"})
    try:
        li = load(spark, TEST_SF_DIR, "lineitem")
        build = load(spark, TEST_SF_DIR, "orders").select("o_orderkey")
        accepted = broadcast_when_small(build, li, spark)
        assert accepted is not build
    finally:
        _restore(spark, saved)
    # gate restored (default 512 MB >> testdata): same shape, untouched
    li = load(spark, TEST_SF_DIR, "lineitem")
    build = load(spark, TEST_SF_DIR, "orders").select("o_orderkey")
    assert broadcast_when_small(build, li, spark) is build


def test_probe_memo_disable_conf(spark, monkeypatch):
    """probeMemo=false forces a fresh probe per invocation (the
    in-session-data-growth escape hatch)."""
    saved = _with_conf(
        spark,
        {_GATE: "0", _ROWS: "10000000", "spark.mysql2ch.join.probeMemo": "false"},
    )
    try:
        li = load(spark, TEST_SF_DIR, "lineitem")
        build = load(spark, TEST_SF_DIR, "orders").select("o_orderkey")
        broadcast_when_small(build, li, spark)
        probes = []
        orig = type(li).count

        def counting(self):
            probes.append(1)
            return orig(self)

        # patch the CONCRETE class: classic.DataFrame overrides count()
        monkeypatch.setattr(type(li), "count", counting)
        broadcast_when_small(build, li, spark)
        assert probes, "probeMemo=false must re-probe"
    finally:
        _restore(spark, saved)


def test_release_probe_state_unpins_everything(spark):
    """The shared-session hygiene contract (llmops.release_caches
    discipline): after release_probe_state nothing this module
    persisted survives and the memo is forgotten, so the next
    invocation re-probes."""
    from mysql_to_clickhouse_spark.caches import entries
    from mysql_to_clickhouse_spark.plans.dispatch import release_probe_state

    saved = _with_conf(spark, {_GATE: "0", _ROWS: "10000000"})
    try:
        # other modules' LEGITIMATE long-lived pins (tables.load_dim's
        # dimension cache) may exist in a shared session — the contract
        # here is that THIS module's pins are gone, so assert on the
        # delta, not a global zero
        pinned_before = (
            spark.sparkContext._jsc.getPersistentRDDs().size()
        )
        li = load(spark, TEST_SF_DIR, "lineitem")
        build = load(spark, TEST_SF_DIR, "orders").select("o_orderkey")
        out = broadcast_when_small(build, li, spark)
        assert out is not build  # accepted -> probe cache is alive
        assert entries(spark, "dispatch_probes")

        release_probe_state(spark)
        assert not entries(spark, "dispatch_probes")
        assert (
            spark.sparkContext._jsc.getPersistentRDDs().size()
            <= pinned_before
        )
        # repeated release is a no-op; the dispatcher rebuilds cleanly
        release_probe_state(spark)
        build2 = load(spark, TEST_SF_DIR, "orders").select("o_orderkey")
        assert broadcast_when_small(build2, li, spark) is not build2
    finally:
        _restore(spark, saved)
        release_probe_state(spark)


def test_probe_memo_hit_replays_from_build_cache(spark):
    """Full prepared-statement replay: a memo hit on an ACCEPTED shape
    serves the broadcast from the first invocation's materialized
    build cache — the executed plan reads an InMemoryTableScan, not a
    fresh evaluation of the build expression."""
    from mysql_to_clickhouse_spark.caches import entries
    from mysql_to_clickhouse_spark.plans.dispatch import release_probe_state

    saved = _with_conf(spark, {_GATE: "0", _ROWS: "10000000"})
    try:
        release_probe_state(spark)
        li = load(spark, TEST_SF_DIR, "lineitem")

        def build_df():
            return load(spark, TEST_SF_DIR, "orders").select("o_orderkey")

        first = broadcast_when_small(build_df(), li, spark)
        (key, (decision, cached, plan0)) = next(
            iter(entries(spark, "dispatch_probes").items())
        )
        assert decision is True and cached is not None
        assert plan0 is not None  # collision guard: plan stored with hit

        replay = broadcast_when_small(build_df(), li, spark)  # memo hit
        replay.collect()
        plan = replay._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        # results identical to the uncached first plan
        assert sorted(r[0] for r in replay.collect()) == sorted(
            r[0] for r in first.collect()
        )
    finally:
        _restore(spark, saved)
        release_probe_state(spark)


def test_probe_memo_collision_falls_back_to_fresh_probe(spark):
    """A memo hit whose STORED plan is not sameResult as the incoming
    build (32-bit semanticHash collision) must NOT replay the cached
    build — it re-probes and serves the correct data."""
    from mysql_to_clickhouse_spark.caches import entries
    from mysql_to_clickhouse_spark.plans.dispatch import release_probe_state

    saved = _with_conf(spark, {_GATE: "0", _ROWS: "10000000"})
    try:
        release_probe_state(spark)
        li = load(spark, TEST_SF_DIR, "lineitem")
        wrong = load(spark, TEST_SF_DIR, "nation").select(
            F.col("n_nationkey").alias("o_orderkey")
        )
        wrong.persist()
        build = load(spark, TEST_SF_DIR, "orders").select("o_orderkey")
        # poison the memo: the incoming build's key mapped to a
        # DIFFERENT plan's decision + cache (a simulated collision)
        limit = 10000000
        key = (
            int(build._jdf.queryExecution().analyzed().semanticHash()),
            limit,
        )
        entries(spark, "dispatch_probes")[key] = (
            True,
            wrong,
            wrong._jdf.queryExecution().analyzed(),
        )
        out = broadcast_when_small(build, li, spark)
        got = sorted(r[0] for r in out.collect())
        want = sorted(r[0] for r in build.collect())
        assert got == want  # fresh probe served OUR rows, not `wrong`'s
        wrong.unpersist(blocking=True)
    finally:
        _restore(spark, saved)
        release_probe_state(spark)


def test_probe_memo_collision_unpersists_displaced_cache(spark):
    """When a fresh probe overwrites a colliding memo entry, the
    displaced entry's persisted build cache must be unpersisted —
    release_probe_state iterates only CURRENT memo values, so a plain
    overwrite would leak the displaced cache until session end
    (ADVICE r9, plans/dispatch.py _memo_put)."""
    from mysql_to_clickhouse_spark.caches import entries
    from mysql_to_clickhouse_spark.plans.dispatch import release_probe_state

    saved = _with_conf(spark, {_GATE: "0", _ROWS: "10000000"})
    try:
        release_probe_state(spark)
        li = load(spark, TEST_SF_DIR, "lineitem")
        wrong = load(spark, TEST_SF_DIR, "nation").select(
            F.col("n_nationkey").alias("o_orderkey")
        )
        wrong.persist()
        build = load(spark, TEST_SF_DIR, "orders").select("o_orderkey")
        limit = 10000000
        key = (
            int(build._jdf.queryExecution().analyzed().semanticHash()),
            limit,
        )
        entries(spark, "dispatch_probes")[key] = (
            True,
            wrong,
            wrong._jdf.queryExecution().analyzed(),
        )
        assert wrong.storageLevel.useMemory or wrong.storageLevel.useDisk
        broadcast_when_small(build, li, spark)
        # the fresh probe replaced the colliding entry AND released
        # its cache — no orphaned executor memory
        lvl = wrong.storageLevel
        assert not (lvl.useMemory or lvl.useDisk)
    finally:
        _restore(spark, saved)
        release_probe_state(spark)

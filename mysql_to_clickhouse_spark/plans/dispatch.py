"""Size-gated broadcast dispatch — a one-probe CBO step for file scans.

Catalyst's static planner sizes a join side from its parquet FILE bytes:
a dimension reduced by selective filters/broadcast-joins (``orders ⋈
BUILDING-customers``) still *estimates* at the full table size, so the
fact join plans as a shuffle join and the fact side pays a full
shuffle WRITE. AQE cannot undo that — by the time runtime sizes are
known, every map stage below the join has already run; AQE's
SMJ→BHJ upgrade only localizes the shuffle *read*. Without catalog
statistics (raw parquet paths have none), the only way to avoid
writing 1e8+ fact rows to shuffle disk is a static broadcast decision.

``broadcast_when_small(build, fact, spark)`` makes that decision the
way a cost-based optimizer would, spending at most one cheap job:

1. **Gate** (free, driver-side): read the fact side's optimized-plan
   ``sizeInBytes`` (file-size-backed for scans). Below
   ``spark.mysql2ch.join.probeFactBytes`` (default 512 MB of
   compressed parquet) the shuffle is cheap and a probe job would
   cost more than it saves — return ``build`` untouched. This keeps
   sf0.01/sf0.1 correctness drives and the sub-second bench
   headliners byte-identical in plan and timing.
2. **Probe** (one job over the REDUCED side only — never the fact):
   ``build.count()``. At or under
   ``spark.mysql2ch.join.broadcastRows`` (default 5e6) return
   ``F.broadcast(build)``; above it, return ``build`` unchanged and
   the honest shuffle plan stands.

Cost accounting: the probe's count job evaluates the reduced side
once, so the build is ``persist()``-ed (MEMORY_AND_DISK) before the
count. When the probe ACCEPTS, the cache (≤ ``broadcastRows`` rows by
construction) feeds the broadcast exchange directly — the reduced
side is computed exactly once per invocation and reclaimed by the
ContextCleaner when the plan's references drop. When the probe
DECLINES, the cache is released immediately (a declined build is by
definition huge; holding it would evict useful blocks) and the honest
shuffle plan recomputes it — one extra evaluation, paid only in the
regime where the fact shuffle it was trying to dodge dominates both.

Probe DECISIONS are memoized per (session, build plan semanticHash,
row limit) — the prepared-statement model: a resident engine pays the
count job the first time a query shape runs, and every later
invocation applies the remembered strategy with zero probe jobs (the
1e8 bench measured the per-invocation probe at 1-3 s of pure repeat
cost). An ACCEPTED shape replays from the first invocation's
MATERIALIZED build cache — the reduced side is never re-evaluated
for the session's lifetime, which is the dominant repeat cost at the
1e8 tier (a reduced dim that is a filter+join over a 2.5e7-row
table costs seconds to rebuild but broadcasts from cache in
milliseconds). The cache is bounded by construction: it exists only
because the probe proved ≤ broadcastRows rows. Hygiene: it is held
until ``session.release_all(spark)`` or ``release_probe_state(spark)``
(the registry's ``dispatch_probes`` cache). The memo assumes the
underlying files are immutable for the session (true for the
testbed; a production deployment with in-session data growth should
set ``spark.mysql2ch.join.probeMemo`` to false, or re-create the
session per epoch as batch pipelines do). The memo is consulted only
AFTER the fact-bytes gate, so small-tier drives stay byte-identical
in plan whether or not a forced-gate test ran earlier in the
session.

At 100 TB both branches are the right answer: a reduced dim that is
still a billion rows fails the probe and shuffles (broadcasting it
would OOM every executor), while a genuinely small reduced side skips
the fact shuffle write entirely — measured at the 1e8-row tier this is
the difference between shuffling 1e8 lineitem rows and a single
scan+probe pass (docs/BENCH_SCALE.md). The row default is sized so the
built hashed relation (~30-60 B/row) stays under a few hundred MB —
comfortably inside a bench/cluster driver+executor; size
``broadcastRows`` down on memory-tight deployments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mysql_to_clickhouse_spark import caches

__all__ = [
    "broadcast_when_small",
    "fact_bytes_estimate",
    "parquet_rows_estimate",
]

_FACT_GATE_CONF = "spark.mysql2ch.join.probeFactBytes"
_ROWS_CONF = "spark.mysql2ch.join.broadcastRows"
# How much fact scan before a probe pays: the crossover is where one
# pass over the reduced side stops being amortized by the fact's
# shuffle write. The memo moved it DOWN — pre-memo, warm runs
# re-probed every invocation (q5 0.84 -> 2.15 s warm at the 1e7 tier
# with a 1 GiB gate, the original 4 GiB rationale); with the memo +
# build-cache replay the probe is once per session and warm runs are
# strictly cheaper than the shuffle they dodge. Calibrated against
# COMPRESSED parquet bytes (what the leaf stats report): the 1e8 tier's
# 3.1 GB snappy lineitem is an ~8-10 GB in-memory shuffle, and the
# probe+replay there measured 7.4 s static → 2.4 s warm (q5); the 4 GiB
# first guess left that tier entirely un-probed, and 1 GiB still missed
# Q18, whose fact is the 0.69 GB orders table while its build (the
# lineitem HAVING agg) is the expensive side the replay cache amortizes.
# 512 MB keeps every fixture tier (sf0.1 lineitem = 10 MB, 1e7 tier
# ≤ 314 MB) byte-identical in plan while opening the gate everywhere
# the win is measured.
_FACT_GATE_DEFAULT = 1 << 29
_ROWS_DEFAULT = 5_000_000
_MEMO_CONF = "spark.mysql2ch.join.probeMemo"


def fact_bytes_estimate(df: DataFrame) -> int:
    """Largest LEAF-scan size estimate under ``df`` (bytes), driver-side,
    no job.

    The top-level ``stats().sizeInBytes`` is useless for anything but a
    bare scan: without CBO, Catalyst sizes a join as the *product* of
    its children, so a fact that is itself a join would trip the gate
    even at toy scale and burn a probe job the gate exists to avoid.
    The max over leaf relations is the quantity the gate actually
    reasons about — "how many bytes is the biggest table this plan will
    shuffle" — and for a parquet scan it is the summed file size (what
    the static planner itself uses). Filters do not shrink it without
    CBO stats, which biases the gate toward probing — the conservative
    direction, since the probe is one count over the reduced side."""
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    best = 0
    for i in range(leaves.size()):
        best = max(best, int(str(leaves.apply(i).stats().sizeInBytes())))
    return best


def parquet_rows_estimate(sf_dir: str, table: str) -> int:
    """Exact row count of one testbed table from parquet FOOTERS —
    driver-side metadata reads, no Spark job, no data pages touched.

    This is the moral equivalent of a catalog rowCount stat (what a
    CBO would consult); on raw paths the footers are the catalog. Used
    to pre-size probe decisions for builds that are themselves
    fact-derived (Q9's part-filtered lineitem): |leaf rows| x a
    dim-measured selectivity bounds the build without evaluating it."""
    import glob
    import os

    import pyarrow.parquet as pq

    p = os.path.join(sf_dir, f"{table}.parquet")
    files = (
        sorted(glob.glob(os.path.join(p, "*.parquet")))
        if os.path.isdir(p)
        else [p]
    )
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def broadcast_when_small(
    build: DataFrame,
    fact: DataFrame,
    spark: SparkSession,
    build_rows_estimate=None,
) -> DataFrame:
    """Return ``F.broadcast(build)`` iff a one-job probe proves it small
    AND the fact side is big enough that dodging its shuffle write pays
    for the probe; otherwise return ``build`` unchanged (same object).

    ``build_rows_estimate`` (int or zero-arg callable, optional): a
    cheap UPPER-BOUND-ish row estimate for the build side, consulted
    after the bytes gate but before the probe. When the estimate
    already exceeds the row limit the probe is skipped entirely — for
    builds that are themselves fact-derived (Q9) a declined probe
    would cost a full evaluation of the build, which is exactly the
    work the gate exists to avoid spending pointlessly. The estimate
    never FORCES a broadcast; a small estimate still runs the real
    count (cached through to the broadcast exchange), so a bad
    estimate can only cost one wasted pass, never an executor OOM.

    See module docstring for the two-step gate/probe protocol and the
    100 TB rationale for each branch."""
    gate = int(spark.conf.get(_FACT_GATE_CONF, str(_FACT_GATE_DEFAULT)))
    if fact_bytes_estimate(fact) < gate:
        return build
    limit = int(spark.conf.get(_ROWS_CONF, str(_ROWS_DEFAULT)))
    memo_on = (
        spark.conf.get(_MEMO_CONF, "true").lower() == "true"
    )
    memo = None
    key = None
    analyzed = None
    if memo_on:
        memo = caches.entries(spark, "dispatch_probes")
        analyzed = build._jdf.queryExecution().analyzed()
        key = (int(analyzed.semanticHash()), limit)
        hit = memo.get(key)
        if hit is not None:
            decision, cached, cached_plan = hit
            # semanticHash is 32-bit: confirm the memo hit is OUR plan,
            # not a colliding one — sameResult is a cheap driver-side
            # canonicalized-plan comparison. On mismatch fall through
            # to a fresh probe (replaying a colliding entry's persisted
            # build would silently join the WRONG broadcast side).
            if cached_plan is not None and analyzed.sameResult(cached_plan):
                if decision and cached is not None:
                    # full prepared-statement replay: serve the
                    # broadcast from the FIRST invocation's materialized
                    # build cache — zero probe jobs AND zero build
                    # re-evaluation. The cache is bounded by the probe
                    # row limit (it only exists because count() proved
                    # ≤ limit rows), held until release_probe_state.
                    return F.broadcast(cached)
                # remembered DECLINE (probe- or estimate-based): no jobs
                # at all — the honest shuffle evaluates the build once
                return F.broadcast(build) if decision else build
    if build_rows_estimate is not None:
        est = (
            build_rows_estimate()
            if callable(build_rows_estimate)
            else build_rows_estimate
        )
        if est > limit:
            if memo_on:
                # memoize the estimate-skip too: the estimator may cost
                # a dim-sized job (x16's selectivity count) — pay it
                # once per session, not per invocation
                _memo_put(memo, key, (False, None, analyzed))
            return build
    # One evaluation, not two: cache the reduced side through the count
    # so an ACCEPT feeds the broadcast exchange from the cache instead
    # of recomputing (see module docstring's cost accounting).
    build.persist(StorageLevel.MEMORY_AND_DISK)
    decision = build.count() <= limit
    if memo_on:
        # an ACCEPT keeps the cache alive until its first replay (or
        # release_probe_state); a DECLINE releases it right here
        _memo_put(memo, key, (decision, build if decision else None, analyzed))
    if decision:
        return F.broadcast(build)
    build.unpersist(blocking=False)
    return build


def _memo_put(memo: dict, key, entry) -> None:
    """Overwrite-safe memo insert. On a 32-bit semanticHash collision
    where ``sameResult`` rejected the resident entry, a plain
    ``memo[key] = entry`` would drop the displaced entry's persisted
    build DataFrame with no remaining reference — ``release_probe_state``
    iterates only current values, so the executor cache would leak until
    session end. Unpersist the displaced cache before overwriting."""
    displaced = memo.get(key)
    if displaced is not None and displaced[1] is not None:
        displaced[1].unpersist(blocking=False)
    memo[key] = entry


def release_probe_state(spark: SparkSession) -> None:
    """Unpersist the probe caches still alive for ``spark`` (ACCEPT
    builds) and forget the memoized decisions, so the next invocation
    re-probes. ``session.release_all`` drains this and every other
    session cache."""
    caches.release(spark, "dispatch_probes")

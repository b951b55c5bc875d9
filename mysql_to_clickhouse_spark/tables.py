"""Loaders for the ten driver-provided parquet tables (FIXTURES.md).

All engine queries take ``(spark, sf_dir)`` and load through here, so
scan behavior (schema, pushdown) is uniform and testable in one place.
At 100 TB these reads become partitioned-directory scans on a real
filesystem; nothing else changes — predicate pushdown, column pruning
and partition pruning all apply at the `spark.read.parquet` boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mysql_to_clickhouse_spark import caches

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables: always safe to broadcast in joins (bounded cardinality
# even at 100 TB fact scale — region=5, nation=25; customer/supplier/part
# grow with SF but stay orders of magnitude below the facts).
DIM_TABLES = ("region", "nation", "customer", "supplier", "part")


# Analyzed-plan cache: re-reading a parquet table costs a file listing +
# footer/schema fetch + plan analysis per call (~100 ms each on the
# testbed, real S3 round-trips at scale). The testdata is immutable, so
# the DataFrame (a plan, not data) is safe to reuse per (session, dir,
# table). Weak-keyed on the session so a stopped session's plans die
# with it. Kept outside the session cache registry (caches.py) on
# purpose: it pins no executor memory, and release_all dropping it would
# add a listing and an analysis to the next load() of every table.
import weakref

_LOAD_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


_SHIPPED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver's cwd/sys.path: zip it once and addPyFile it per session.

    Without this, any mapInPandas/pandas_udf closure that references a
    module-level helper (pickled by reference) dies on the worker with
    ModuleNotFoundError when the host process wasn't launched from the
    repo root — exactly how the verification driver runs us."""
    if spark in _SHIPPED:
        return
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = sorted(
        os.path.join(root, f)
        for root, _d, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    # content-stamped name: a stale zip after a source edit would make
    # workers silently run old code
    newest = max(int(os.path.getmtime(p) * 1000) for p in sources)
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"mysql_to_clickhouse_spark_pkg_{len(sources)}_{newest}.zip",
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(root, fname)
                    rel = os.path.join(
                        "mysql_to_clickhouse_spark",
                        os.path.relpath(full, pkg_dir),
                    )
                    zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(spark)


_TZ_WARNED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


# ---------------------------------------------------------------------------
# Bucketed fact layout — the ClickHouse ORDER-BY-key analog for Spark.
#
# CH pays one sort at INSERT time (the MergeTree ORDER BY key) and every
# subsequent key-joined query reads pre-ordered parts. The Spark
# equivalent is a bucketed+sorted table: pay one shuffle at ingest
# (bucketBy the join key), and every later fact⋈fact join or groupBy on
# that key is exchange-free — HashPartitioning(key, n) from the bucketed
# scan satisfies the join/aggregation distribution outright, including
# subset-clustering groupBys like (l_orderkey, l_suppkey).
#
# ``ensure_bucketed`` is OPT-IN (the verification driver never calls
# it, so oracle drives always read the pristine parquet): it writes the
# bucketed copy once per (sf_dir, buckets) and routes this session's
# subsequent ``load()`` calls for those tables to it. bench_scale wires
# it into the big tiers as the one-time ingest-layout step.
# ---------------------------------------------------------------------------

BUCKET_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    # user_id is the CDC primary key: the x17 FINAL-collapse window,
    # a4/a8 versioned reads, and d3's (day, user_id) distinct dedup all
    # hash on it (subset-clustering includes it first)
    "events": "user_id",
}


def ensure_bucketed(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = ("lineitem", "orders"),
    buckets: int = 64,
    warehouse: str | None = None,
    partition_cols: dict[str, tuple[str, ...]] | None = None,
) -> dict[str, str]:
    """Write bucketed+sorted copies of fact tables (one file per
    (partition, bucket): repartition on the key first, so bucketed
    scans also satisfy sort orders) and route this session's
    ``load(spark, sf_dir, name)`` to them. ``partition_cols`` adds
    CH-style PARTITION BY pruning on low-cardinality columns (e.g.
    lineitem by l_returnflag): an equality filter on the column prunes
    whole directories before any byte is read. Idempotent per
    (sf_dir, buckets, partitioning): an existing table with live files
    is reused, not rewritten. Returns {name: qualified_table}."""
    import hashlib
    import os
    import shutil
    import tempfile

    pcols = partition_cols or {}
    for name in names:
        if name not in BUCKET_KEYS:
            raise KeyError(
                f"no bucket key defined for {name!r}; add it to BUCKET_KEYS"
            )
    wh = warehouse or os.path.join(tempfile.gettempdir(), "m2c_layout_wh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS m2c_layout LOCATION '{wh}'")
    routes = caches.entries(spark, "bucket_routes")
    out: dict[str, str] = {}
    for name in names:
        key = BUCKET_KEYS[name]
        parts = tuple(pcols.get(name, ()))
        tag = hashlib.md5(
            f"{os.path.abspath(sf_dir)}|{buckets}|{','.join(parts)}".encode()
        ).hexdigest()[:8]
        fq = f"m2c_layout.{name}_{tag}"
        loc = f"{wh}/{name}_{tag}"
        have = spark.catalog.tableExists(fq) and os.path.isdir(loc)
        if not have:
            # a catalog-less leftover dir (or a dropped table's files)
            # blocks saveAsTable with LOCATION_ALREADY_EXISTS
            spark.sql(f"DROP TABLE IF EXISTS {fq}")
            shutil.rmtree(loc, ignore_errors=True)
            # through load(), not a raw read: events needs its
            # ts-encoding normalization baked into the bucketed copy
            src = load(spark, sf_dir, name)
            writer = (
                src.repartition(buckets, key)
                .write
            )
            if parts:
                writer = writer.partitionBy(*parts)
            (
                writer.bucketBy(buckets, key)
                .sortBy(key)
                # explicit path: the db's LOCATION is fixed at first
                # CREATE, so a different warehouse arg must still win
                .option("path", loc)
                .mode("overwrite")
                .saveAsTable(fq)
            )
        routes[(os.path.abspath(sf_dir), name)] = fq
        out[name] = fq
    return out


def ensure_projection(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    key: str,
    buckets: int = 64,
    warehouse: str | None = None,
) -> str:
    """A ClickHouse PROJECTION analog: a SECOND bucketed+sorted copy of
    ``name`` clustered on an alternate key (e.g. orders by o_custkey
    next to the primary orderkey layout). Queries opt in per-use via
    ``load_clustered`` — the default ``load()`` route is untouched, so
    orderkey joins keep their layout while custkey windows read
    theirs. Returns the qualified table name."""
    import hashlib
    import os
    import shutil
    import tempfile

    wh = warehouse or os.path.join(tempfile.gettempdir(), "m2c_layout_wh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS m2c_layout LOCATION '{wh}'")
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{buckets}|proj:{key}".encode()
    ).hexdigest()[:8]
    fq = f"m2c_layout.{name}_{tag}"
    loc = f"{wh}/{name}_{tag}"
    if not (spark.catalog.tableExists(fq) and os.path.isdir(loc)):
        spark.sql(f"DROP TABLE IF EXISTS {fq}")
        shutil.rmtree(loc, ignore_errors=True)
        src = load(spark, sf_dir, name)
        (
            src.repartition(buckets, key)
            .write.bucketBy(buckets, key)
            .sortBy(key)
            .option("path", loc)
            .mode("overwrite")
            .saveAsTable(fq)
        )
    routes = caches.entries(spark, "bucket_routes")
    routes[(os.path.abspath(sf_dir), name, key)] = fq
    return fq


def ensure_agg_projection(
    spark: SparkSession,
    sf_dir: str,
    name: str = "events",
    proj: str = "day_user",
    warehouse: str | None = None,
) -> str:
    """A ClickHouse AGGREGATE-PROJECTION analog: a materialized partial
    aggregate of ``name`` in the plans/projection.py state shape
    (grouping keys + ``p_count`` + ``p_sum_fp``), routed per session the
    way ensure_projection routes clustered copies. Consumers opt in via
    ``load_agg_projection`` + plans.projection.pick(); drives never
    build one, so the default path is untouched.

    The one registered spec, ``events/day_user``: keys (day, user_id)
    with day = date_trunc('day', ts). Its cardinality is bounded by
    |days| x |users| — the e1/d3 daily-active query then reads tens of
    thousands of pre-distinct pairs instead of re-deduplicating the
    full event stream every run (the CH projection contract: pay the
    aggregate once at insert time). p_count makes n_events exact;
    p_sum_fp carries the fixed-point value sum so rollup() algebra
    stays available to other consumers."""
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mysql_to_clickhouse_spark.functions.numeric import fixed_point

    if (name, proj) != ("events", "day_user"):
        raise KeyError(
            f"no aggregate-projection spec for ({name!r}, {proj!r}); "
            f"events/day_user is the registered one"
        )
    wh = warehouse or os.path.join(tempfile.gettempdir(), "m2c_layout_wh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS m2c_layout LOCATION '{wh}'")
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|aggproj:{name}:{proj}".encode()
    ).hexdigest()[:8]
    fq = f"m2c_layout.{name}_{tag}"
    loc = f"{wh}/{name}_{tag}"
    if not (spark.catalog.tableExists(fq) and os.path.isdir(loc)):
        spark.sql(f"DROP TABLE IF EXISTS {fq}")
        shutil.rmtree(loc, ignore_errors=True)
        src = load(spark, sf_dir, name)
        state = src.groupBy(
            F.date_trunc("day", "ts").alias("day"), "user_id"
        ).agg(
            F.count(F.lit(1)).alias("p_count"),
            F.sum(fixed_point("value")).alias("p_sum_fp"),
        )
        (
            # tiny by construction (|days| x |users|): one sorted file
            state.repartition(1)
            .sortWithinPartitions("day", "user_id")
            .write.option("path", loc)
            .mode("overwrite")
            .saveAsTable(fq)
        )
    routes = caches.entries(spark, "bucket_routes")
    routes[(os.path.abspath(sf_dir), name, f"agg:{proj}")] = fq
    return fq


def load_agg_projection(
    spark: SparkSession, sf_dir: str, name: str, proj: str
) -> DataFrame | None:
    """The aggregate-projection state frame when this session routes
    one (ensure_agg_projection), else None — callers fall back to the
    raw table, so correctness never depends on the layout."""
    import os

    fq = caches.entries(spark, "bucket_routes").get(
        (os.path.abspath(sf_dir), name, f"agg:{proj}")
    )
    return spark.table(fq) if fq is not None else None


def ensure_flat_lineitem(
    spark: SparkSession,
    sf_dir: str,
    buckets: int = 64,
    warehouse: str | None = None,
) -> str:
    """A ClickHouse MATERIALIZED-VIEW analog: the denormalized flat
    fact CH replication users build at insert time (the canonical
    "flatten the star on ingest" pattern — an MV over the lineitem
    stream joining the orders dimension, landing in its own MergeTree
    PARTITION BY toYYYYMM(o_orderdate) ORDER BY l_orderkey).

    Concretely: lineitem decorated with the five orders columns the
    headline analytics actually read (``o_orderdate``,
    ``o_orderstatus``, ``o_custkey``, ``o_totalprice``,
    ``o_orderpriority``), partitioned by ``o_quarter`` (yyyyq int —
    CH's toYYYYMM idea at quarter granularity) for directory-level
    date pruning, and bucketed+sorted on ``l_orderkey`` so per-order
    groupBys stay exchange-free. Row set == lineitem ⨝ orders (inner),
    which is byte-identical input for every consumer that inner-joined
    the two anyway (x6/x7/c10/c12) — those queries then run with ZERO
    fact-side joins: the date window prunes quarter directories, and
    the only per-run work is one pruned scan plus a small aggregate.

    Partition granularity is a measured trade, not a default: month
    granularity (72 dirs × 64 buckets = 4608 files at the 1e8 tier)
    made FULL-scan consumers slower than the co-bucketed base join
    (x16 2.67→4.27 s, x14 4.18→4.68 s — file-open overhead), which is
    why (a) quarter granularity caps the MV at 24×64 files and (b)
    x14/x16 deliberately do NOT read the MV: an MV earns its scan only
    when the query's date window prunes directories.

    Opt-in and session-routed exactly like ensure_bucketed: the
    verification driver never builds one, so oracle drives always take
    the base join plans; parity between the two worlds is pinned by
    tests/test_bucketed_layout.py. The ingest join is the MV's insert
    cost — paid once, amortized across every query, reported in the
    bench artifact's layout line."""
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    wh = warehouse or os.path.join(tempfile.gettempdir(), "m2c_layout_wh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS m2c_layout LOCATION '{wh}'")
    # the partition scheme is part of the identity: a granularity
    # change must not silently reuse the old layout's files
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{buckets}|flat:lineitem:oq4".encode()
    ).hexdigest()[:8]
    fq = f"m2c_layout.lineitem_flat_{tag}"
    loc = f"{wh}/lineitem_flat_{tag}"
    if not (spark.catalog.tableExists(fq) and os.path.isdir(loc)):
        spark.sql(f"DROP TABLE IF EXISTS {fq}")
        shutil.rmtree(loc, ignore_errors=True)
        li = load(spark, sf_dir, "lineitem")
        orders = load(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderdate",
            "o_orderstatus",
            "o_custkey",
            "o_totalprice",
            "o_orderpriority",
        )
        # o_n_supp: distinct suppliers per order, the same kind of
        # order-level decoration as TPC-H's own o_totalprice (itself a
        # per-order lineitem aggregate). Computed once at ingest on the
        # orderkey-clustered stream; Q21-family consumers then read the
        # EXISTS-another-supplier predicate off the row instead of
        # re-aggregating every line of every order per query (r12).
        n_supp = li.groupBy("l_orderkey").agg(
            F.count_distinct("l_suppkey").cast("int").alias("o_n_supp")
        )
        flat = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .drop("o_orderkey")
            .join(n_supp, "l_orderkey")
            .withColumn(
                "o_quarter",
                (F.year("o_orderdate") * 10 + F.quarter("o_orderdate")).cast(
                    "int"
                ),
            )
            # l_lag_us: microseconds from order placement to line
            # shipment — the fulfillment-latency decoration every
            # "late shipment" consumer compares against a threshold.
            # Stored exact (timestamp compare == micros compare), so
            # `l_shipdate > o_orderdate + INTERVAL k DAYS` becomes a
            # single pushable long-vs-literal predicate: the scan
            # decodes ONE delta-encoded column instead of two
            # timestamps plus a per-row interval add (x14 at the 1e8
            # tier reads 1e8 such rows).
            .withColumn(
                "l_lag_us",
                F.unix_micros(F.col("l_shipdate"))
                - F.unix_micros(F.col("o_orderdate")),
            )
        )
        (
            flat.repartition(buckets, "l_orderkey")
            .write.partitionBy("o_quarter")
            .bucketBy(buckets, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", loc)
            .mode("overwrite")
            .saveAsTable(fq)
        )
    routes = caches.entries(spark, "bucket_routes")
    routes[(os.path.abspath(sf_dir), "lineitem", "flat")] = fq
    routes[(os.path.abspath(sf_dir), "lineitem", "flat_path")] = loc
    return fq


def load_flat_lineitem(
    spark: SparkSession, sf_dir: str, bucketed: bool = True
) -> DataFrame | None:
    """The flat lineitem⨝orders MV when this session routes one
    (ensure_flat_lineitem), else None — callers fall back to the base
    join plan, so correctness never depends on the layout. Consumers
    filtering on o_orderdate should ALSO filter o_quarter (the derived
    partition column) to get directory pruning — same contract as a CH
    toYYYYMM partition key.

    ``bucketed=False`` reads the SAME files as plain partitioned
    parquet instead of the bucketed table: a bucketed scan pins one
    task per bucket id (64 tasks over 24×64 small files), which is the
    right shape for exchange-free per-order aggregates (x7) but pure
    per-task overhead for consumers that don't group on the bucket key
    — the file-based read coalesces the pruned directories into
    maxPartitionBytes splits instead (x6's one-quarter scan: 64 tiny
    tasks → a handful of full ones). Identical rows either way."""
    import os

    routes = caches.entries(spark, "bucket_routes")
    fq = routes.get((os.path.abspath(sf_dir), "lineitem", "flat"))
    if fq is None:
        return None
    per_session = _LOAD_CACHE.setdefault(spark, {})
    cache_key = (sf_dir, "lineitem", "flat", fq, bucketed)
    cached = per_session.get(cache_key)
    if cached is None:
        if bucketed:
            cached = spark.table(fq)
        else:
            loc = routes[(os.path.abspath(sf_dir), "lineitem", "flat_path")]
            cached = spark.read.option("basePath", loc).parquet(loc)
        per_session[cache_key] = cached
    return cached


def load_clustered(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """``load()``, but preferring a projection clustered on ``key``
    when this session routes one (ensure_projection); identical rows
    either way — the projection only changes physical layout. Window/
    groupBy consumers keyed on ``key`` then read HashPartitioning
    straight off the scan instead of exchanging the table."""
    import os

    fq = caches.entries(spark, "bucket_routes").get(
        (os.path.abspath(sf_dir), name, key)
    )
    if fq is None:
        return load(spark, sf_dir, name)
    per_session = _LOAD_CACHE.setdefault(spark, {})
    cache_key = (sf_dir, name, "proj", key)
    cached = per_session.get(cache_key)
    if cached is None:
        cached = spark.table(fq)
        _check_schema(name, cached)
        per_session[cache_key] = cached
    return cached


def bucket_routed_key(spark: SparkSession, sf_dir: str, name: str) -> str | None:
    """The bucket key if this session routes ``name`` to a bucketed
    copy, else None. Queries use it to pick the join strategy: two
    sides co-bucketed on their join keys make a shuffle-hash join the
    cheapest plan — zero exchanges (both scans already carry
    HashPartitioning), zero sorts (unlike sort-merge), and no per-run
    broadcast hash-relation rebuild (unlike the probe-gate path, whose
    build cost grows with the 'small' side — measured 3.1 s → 1.6 s on
    TPC-H Q3 at 1e8 rows when the layout is active)."""
    import os

    routes = caches.entries(spark, "bucket_routes")
    return BUCKET_KEYS[name] if (os.path.abspath(sf_dir), name) in routes else None


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testbed table (cached per session+path).

    SIDE EFFECT on the host session, by contract: sets
    ``spark.sql.session.timeZone=UTC`` and (for events)
    ``spark.sql.legacy.parquet.nanosAsLong=true``. The verification
    driver hands us an untuned session, so the engine must self-
    configure here; a host embedding this engine alongside workloads
    that need a different session timezone should run them on a
    separate SparkSession. If the host had EXPLICITLY set a non-UTC
    session timezone, the override is surfaced as a UserWarning (once
    per session) rather than silently clobbering their setting."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # every timestamp literal, date_trunc and rendered TimestampType in
    # the engine assumes UTC; the host session (the verification
    # driver's!) may be on any machine TZ, so pin it at the query path —
    # session timeZone is runtime-settable, same as the ns conf below
    prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
    # the effective value defaults to the JVM TZ when unset — only an
    # explicitly-set, different timezone is worth a warning
    jvm_default = spark.sparkContext._jvm.java.util.TimeZone.getDefault().getID()
    if prev_tz not in (None, "UTC", jvm_default) and spark not in _TZ_WARNED:
        _TZ_WARNED.add(spark)
        import warnings

        warnings.warn(
            f"engine table load overrides spark.sql.session.timeZone "
            f"({prev_tz!r} -> 'UTC') on the host session, by contract: "
            f"every engine query assumes UTC. Run non-UTC workloads on a "
            f"separate SparkSession.",
            UserWarning,
            stacklevel=2,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The testdata's timestamp columns (o_orderdate, l_shipdate, events.ts)
    # are naive parquet timestamps. Read them as TIMESTAMP (LTZ) instants —
    # raw stored micros interpreted as UTC at scan time — rather than
    # TIMESTAMP_NTZ, so timestamp literals/arithmetic resolve uniformly and
    # nothing in the plan depends on the session TZ at execution time.
    # Set before ANY read so schemas don't depend on table load order.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    _ship_package(spark)
    import os as _os

    routed = caches.entries(spark, "bucket_routes").get(
        (_os.path.abspath(sf_dir), name)
    )
    per_session = _LOAD_CACHE.setdefault(spark, {})
    # routed loads cache under the table name so toggling the layout
    # (ensure_bucketed / release_all) never serves a stale plan
    key = (sf_dir, name, routed) if routed else (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    if routed:
        df = spark.table(routed)
    elif name == "events":
        df = _load_events(spark, sf_dir)
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _check_schema(name, df)
    per_session[key] = df
    return df


def load_dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load()`` through the DIMENSION CACHE — the engine's analog of
    ClickHouse's in-RAM dictionaries / a warm buffer pool for star-
    schema dims. The first read persists the table (MEMORY_AND_DISK)
    and materializes it; every later fresh-built plan in the session
    scans the InMemoryRelation instead of re-decoding parquet. On the
    1e8 tier this is ~0.35 s of the q5 fresh-submission constant
    (customer is 2.5e6 rows re-decoded per invocation otherwise —
    measured r11, docs/BENCH_SCALE.md); the single-node DuckDB anchor
    gets the same effect for free from its buffer pool, so caching
    dims is parity, not a bench game. Results are identical by
    construction — persist() changes WHERE rows come from, never what
    they are.

    Bounded and opt-out: tables whose scan estimate exceeds
    ``spark.mysql2ch.dimCache.maxBytes`` (default 256 MiB compressed)
    pass through uncached — a dimension that outgrows the cache reads
    like any fact table — and ``spark.mysql2ch.dimCache.enabled=false``
    disables the path wholesale. At cluster scale the persisted blocks
    live distributed on the executors, exactly like any Spark cache.

    The entries live in the registry's ``dim_cache`` (caches.py) and
    stay across queries until ``session.release_all`` drains them with
    every other session cache; ``llmops.release_caches`` and
    ``dispatch.release_probe_state`` leave them in place."""
    df = load(spark, sf_dir, name)
    if (
        spark.conf.get("spark.mysql2ch.dimCache.enabled", "true").lower()
        != "true"
    ):
        return df
    per_session = caches.entries(spark, "dim_cache")
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    max_bytes = int(
        spark.conf.get("spark.mysql2ch.dimCache.maxBytes", str(256 << 20))
    )
    plan = df._jdf.queryExecution().optimizedPlan()
    if int(str(plan.stats().sizeInBytes())) > max_bytes:
        per_session[key] = df  # remember the pass-through decision
        return df
    from pyspark.storagelevel import StorageLevel

    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()  # materialize now: the cost belongs to the cache fill
    per_session[key] = cached
    return cached


# Post-load Spark dtypes per FIXTURES.md — the guard that turns testdata
# schema drift (which silently regenerated under the engine once, r2→r3,
# costing 40 queries) into ONE clear error at load() time instead of an
# AnalysisException mid-plan in every downstream query. Timestamp columns
# accept any timestamp flavor: the physical encoding is normalized by the
# loader; what matters is that they ARE timestamps.
EXPECTED_SCHEMAS: dict[str, dict[str, tuple[str, ...]]] = {
    "region": {"r_regionkey": ("int", "bigint"), "r_name": ("string",)},
    "nation": {
        "n_nationkey": ("int", "bigint"),
        "n_name": ("string",),
        "n_regionkey": ("int", "bigint"),
    },
    "customer": {
        "c_custkey": ("bigint", "int"),
        "c_name": ("string",),
        "c_nationkey": ("int", "bigint"),
        "c_acctbal": ("double", "float"),
        "c_mktsegment": ("string",),
    },
    "supplier": {
        "s_suppkey": ("bigint", "int"),
        "s_name": ("string",),
        "s_nationkey": ("int", "bigint"),
        "s_acctbal": ("double", "float"),
    },
    "part": {
        "p_partkey": ("bigint", "int"),
        "p_name": ("string",),
        "p_brand": ("string",),
        "p_type": ("string",),
        "p_size": ("int", "bigint"),
        "p_retailprice": ("double", "float"),
    },
    "orders": {
        "o_orderkey": ("bigint", "int"),
        "o_custkey": ("bigint", "int"),
        "o_orderstatus": ("string",),
        "o_totalprice": ("double", "float"),
        "o_orderdate": ("timestamp", "timestamp_ntz", "date"),
        "o_orderpriority": ("string",),
    },
    "lineitem": {
        "l_orderkey": ("bigint", "int"),
        "l_partkey": ("bigint", "int"),
        "l_suppkey": ("bigint", "int"),
        "l_linenumber": ("int", "bigint"),
        "l_quantity": ("double", "float"),
        "l_extendedprice": ("double", "float"),
        "l_discount": ("double", "float"),
        "l_tax": ("double", "float"),
        "l_returnflag": ("string",),
        "l_linestatus": ("string",),
        "l_shipdate": ("timestamp", "timestamp_ntz", "date"),
    },
    "events": {
        "event_id": ("bigint", "int"),
        "ts": ("timestamp",),  # loader must have normalized every encoding
        "user_id": ("bigint", "int"),
        "event_type": ("string",),
        "value": ("double", "float"),
        "props": ("string",),
    },
    "documents": {
        "doc_id": ("bigint", "int"),
        "text": ("string",),
        "lang": ("string",),
        "source": ("string",),
        "n_chars": ("bigint", "int"),
    },
    "embeddings": {
        "vec_id": ("bigint", "int"),
        "embedding": ("array<float>", "array<double>"),
        "label": ("int", "bigint"),
    },
}


class TestdataSchemaDrift(RuntimeError):
    """The driver's parquet fixtures no longer match FIXTURES.md."""


def _check_schema(name: str, df: DataFrame) -> None:
    """Drift rules: a known column loaded with a foreign dtype (the r3
    failure mode) or an unknown column name (a rename/addition) is an
    error; MISSING columns are allowed so tests can run engine queries
    against reduced synthetic fixtures that carry only the columns the
    query touches (a removed column still fails at analysis with the
    column name in the message)."""
    expected = EXPECTED_SCHEMAS[name]
    actual = dict(df.dtypes)
    problems = []
    for col, got in actual.items():
        allowed = expected.get(col)
        if allowed is None:
            problems.append(
                f"unknown column {col!r} ({actual[col]!r}) — renamed or "
                f"newly added vs FIXTURES.md"
            )
        elif got not in allowed:
            problems.append(
                f"column {col!r} loaded as {got!r}, expected one of {allowed}"
            )
    if problems:
        raise TestdataSchemaDrift(
            f"testdata schema drift in table {name!r}: "
            + "; ".join(problems)
            + ". The driver fixtures changed under the engine — update "
            "mysql_to_clickhouse_spark/tables.py (loader + EXPECTED_SCHEMAS) "
            "and FIXTURES.md together."
        )


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with a µs-precision UTC TimestampType ``ts`` column,
    adapting to whichever physical encoding the testdata ships:

    - parquet ``timestamp[us]`` naive (current driver fixtures): with
      ``spark.sql.parquet.inferTimestampNTZ.enabled=false`` Spark reads
      the stored epoch-micros directly as TIMESTAMP (LTZ instant) at
      scan time — no session-TZ-dependent cast in the plan, so a host
      flipping ``spark.sql.session.timeZone`` after load() cannot shift
      the values. Matches the DuckDB oracle, which reads the same
      micros as a naive TIMESTAMP rendered under UTC.
    - ns-epoch int64 (legacy fixtures): readable only via
      ``spark.sql.legacy.parquet.nanosAsLong=true``; converted with
      ``timestamp_micros(ts div 1000)`` (truncation for positive
      epochs, matching CAST(TIMESTAMP_NS AS TIMESTAMP)).
    - already-LTZ timestamp: passed through.

    The encoding changed under the engine once (r2→r3 testdata regen)
    and cost a full round; tests/test_sources.py now pins both paths.
    Both confs are session-level and runtime-settable, so this works
    under the verification driver's own SparkSession too.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt is not None and dt.startswith("timestamp_ntz"):
        # fallback if a future Spark ignores the infer conf for this
        # file; session TZ is pinned to UTC by load() before any action,
        # and every engine query re-enters load(), so the cast resolves
        # under UTC in practice — the conf path above is still primary
        # because it is execution-time safe without that invariant.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views (the SQL entry point)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)

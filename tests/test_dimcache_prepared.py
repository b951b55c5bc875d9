"""r11 engine features: tables.load_dim (dimension cache) and
plans/prepared.py (prepared-plan registry)."""

from pyspark.sql import functions as F

from mysql_to_clickhouse_spark.caches import release
from mysql_to_clickhouse_spark.tables import load, load_dim
from mysql_to_clickhouse_spark.plans.prepared import layout_epoch, prepared

from tests.conftest import TEST_SF_DIR


def test_load_dim_identical_rows_and_single_instance(spark):
    release(spark, "dim_cache")
    base = {tuple(r) for r in load(spark, TEST_SF_DIR, "nation").collect()}
    d1 = load_dim(spark, TEST_SF_DIR, "nation")
    assert {tuple(r) for r in d1.collect()} == base
    # second call returns the SAME cached frame (no re-persist)
    d2 = load_dim(spark, TEST_SF_DIR, "nation")
    assert d2 is d1
    assert d1.storageLevel.useMemory
    assert release(spark, "dim_cache")["dim_cache"] >= 1
    # after release the handle is unpersisted; the next call re-caches
    # (persist() returns the same DataFrame object, so identity holds)
    assert not d1.storageLevel.useMemory
    d3 = load_dim(spark, TEST_SF_DIR, "nation")
    assert d3.storageLevel.useMemory
    assert {tuple(r) for r in d3.collect()} == base
    release(spark, "dim_cache")


def test_load_dim_size_gate_passes_through(spark):
    release(spark, "dim_cache")
    spark.conf.set("spark.mysql2ch.dimCache.maxBytes", "1")
    try:
        d = load_dim(spark, TEST_SF_DIR, "customer")
        assert not d.storageLevel.useMemory  # too big -> not persisted
        # the pass-through decision is remembered, rows identical
        assert load_dim(spark, TEST_SF_DIR, "customer") is d
        assert d.count() == load(spark, TEST_SF_DIR, "customer").count()
    finally:
        spark.conf.unset("spark.mysql2ch.dimCache.maxBytes")
        release(spark, "dim_cache")


def test_load_dim_disabled_by_conf(spark):
    release(spark, "dim_cache")
    spark.conf.set("spark.mysql2ch.dimCache.enabled", "false")
    try:
        d = load_dim(spark, TEST_SF_DIR, "region")
        assert not d.storageLevel.useMemory
    finally:
        spark.conf.unset("spark.mysql2ch.dimCache.enabled")
        release(spark, "dim_cache")


def test_prepared_caches_and_layout_epoch_invalidates(spark):
    release(spark, "prepared_plans")
    builds = []

    def builder():
        df = load(spark, TEST_SF_DIR, "nation").agg(
            F.count(F.lit(1)).alias("n")
        )
        builds.append(1)
        return df

    d1 = prepared(spark, "t_prep", TEST_SF_DIR, builder)
    d2 = prepared(spark, "t_prep", TEST_SF_DIR, builder)
    assert d1 is d2 and len(builds) == 1
    assert d1.collect()[0]["n"] == 25

    # layout-epoch change (dim cache toggle) invalidates the entry
    old_epoch = layout_epoch(spark)
    spark.conf.set("spark.mysql2ch.dimCache.enabled", "false")
    try:
        assert layout_epoch(spark) != old_epoch
        d3 = prepared(spark, "t_prep", TEST_SF_DIR, builder)
        assert d3 is not d1 and len(builds) == 2
    finally:
        spark.conf.unset("spark.mysql2ch.dimCache.enabled")

    assert release(spark, "prepared_plans")["prepared_plans"] >= 1


def test_prepared_is_value_identical_to_fresh(spark):
    release(spark, "prepared_plans")
    from mysql_to_clickhouse_spark.registry import all_queries

    q = all_queries()["c10_star_multiway"]
    fresh = sorted(map(tuple, q.fn(spark, TEST_SF_DIR).collect()))
    rep = prepared(
        spark, "c10_star_multiway", TEST_SF_DIR,
        lambda: q.fn(spark, TEST_SF_DIR),
    )
    assert sorted(map(tuple, rep.collect())) == fresh
    # replay of the same handle, same values
    assert sorted(map(tuple, rep.collect())) == fresh
    release(spark, "prepared_plans")
    release(spark, "dim_cache")

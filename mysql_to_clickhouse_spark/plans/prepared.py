"""Prepared-plan registry — session-scoped reuse of built DataFrames.

A ClickHouse user pays parse+plan per query TEXT, but CH memoizes the
compiled pipeline for repeated statements (query cache / prepared
statements); Spark's equivalent unit is the DataFrame: re-collecting
one skips Python construction, analysis, optimization and codegen
compile, and re-executing its RDD lineage reuses registered shuffle
map outputs. This module makes that reuse an explicit, keyed engine
feature instead of an accident of caller variable scope — the serving
story for repeated dashboard/report queries.

``prepared(spark, qid, sf_dir, builder)`` returns the session's cached
DataFrame for ``(qid, sf_dir, layout-epoch)`` or builds, caches and
returns it. The layout epoch is derived from the session's routed
layouts (the registry's ``bucket_routes``) plus the dim-cache switch,
so ensuring or releasing a bucketed/flat/projection layout INVALIDATES
every prepared plan built against the old physical design — a prepared
plan must never outlive the layout decision it was planned for. The
plans live in the registry's ``prepared_plans`` cache, so
``session.release_all`` drops them all (e.g. after an ingest batch
lands new files).

Honesty note for benchmarks: a prepared replay hides per-invocation
strategy costs (probe jobs, broadcast builds, AQE orchestration), so
bench artifacts report it AS ITS OWN COLUMN next to the fresh-
submission number, never in place of it (docs/BENCH_SCALE.md; the r9
x7 postmortem is why).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from mysql_to_clickhouse_spark import caches


def layout_epoch(spark: SparkSession) -> frozenset:
    """A value that changes whenever the session's physical-layout
    routing changes (bucketed/flat/projection ensure/release, dim
    cache toggle) — the invalidation key for prepared plans."""
    routes = caches.entries(spark, "bucket_routes")
    dim_on = spark.conf.get("spark.mysql2ch.dimCache.enabled", "true")
    return frozenset(routes.items()) | {("__dimCache", dim_on)}


def prepared(
    spark: SparkSession,
    qid: str,
    sf_dir: str,
    builder: Callable[[], DataFrame],
) -> DataFrame:
    """The session's prepared DataFrame for (qid, sf_dir) under the
    current layout epoch; built via ``builder()`` on first use."""
    per_session = caches.entries(spark, "prepared_plans")
    key = (qid, os.path.abspath(sf_dir), layout_epoch(spark))
    df = per_session.get(key)
    if df is None:
        df = builder()
        # drop plans from dead epochs for this (qid, sf_dir): they
        # reference released layouts and would pin their file indexes
        for stale in [
            k for k in per_session if k[0] == qid and k[1] == key[1]
        ]:
            del per_session[stale]
        per_session[key] = df
    return df

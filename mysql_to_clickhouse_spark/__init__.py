"""PySpark-native analytics engine with the capabilities of the
``ywhywl/mysql-to-clickhouse`` reference (MySQL→ClickHouse replication
ETL + the ClickHouse-style analytical surface it feeds), re-expressed
Spark-first per SURVEY.md.

NOTE ON CITATIONS: the reference checkout at /root/reference was EMPTY
at survey time (SURVEY.md §0) — semantics here are grounded in the
driver contract (BASELINE.json), the measured testdata (FIXTURES.md),
and public category analogs, never in fabricated reference file:line.

Layout
------
- ``session``    : tuned SparkSession builder (local testbed + scale notes)
- ``tables``     : loaders for the ten driver parquet tables
- ``caches``     : the session-scoped cache registry ``release_all`` drains
- ``registry``   : the operator/query registry keyed by SURVEY.md §2 IDs
- ``operators/`` : one module per §2 section (scans, filters, joins, ...)
- ``functions/`` : reusable column-expression helpers (exact numerics,
                   vectors, text, hashing)
- ``sources/``   : source/sink builders (parquet, JDBC config surface)
- ``streaming/`` : Structured Streaming forms (CDC apply, replay, windows)
- ``plans/``     : plan-inspection helpers (pushdown asserts, explain)
"""

__version__ = "0.1.0"

# Inside a Python WORKER (this package is imported there while a task
# deserializes one of the engine's UDFs — the driver never has
# pyspark.worker loaded), install the per-task import-cache memo fix:
# stock setup_spark_files pays ~0.1-0.15 s/task re-reading zip archive
# directories on this deployment layout. See functions/pyworker_patch.
import sys as _sys

if "pyspark.worker" in _sys.modules:  # worker-only; no-op on the driver
    try:
        from mysql_to_clickhouse_spark.functions.pyworker_patch import (
            install_if_worker as _m2c_install_worker_patch,
        )

        _m2c_install_worker_patch()
    except Exception:  # noqa: BLE001 — a perf patch must never fail a task
        pass

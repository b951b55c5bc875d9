"""SparkSession builder tuned for the testbed and documented for scale.

Testbed is ``local[N]`` (single JVM); the configs below are chosen so the
same logical plans survive a 1000-executor / 100 TB deployment:

- AQE on (default in Spark 4): runtime shuffle-partition coalescing,
  skew-join splitting, SMJ→BHJ upgrades. At 100 TB this is what adapts
  the static plan to real per-stage sizes.
- ``spark.sql.shuffle.partitions``: low (32) for the local testbed where
  default 200 would dominate ms-scale queries; at cluster scale set to
  ~2–3× total cores and let AQE coalesce down.
- Arrow enabled for every pandas/Python boundary (UDF and toPandas paths
  move columnar batches, not pickled rows).
- Session timezone pinned to UTC so timestamp semantics (date_trunc,
  window()) agree with the UTC-instant parquet testdata and the DuckDB
  oracle regardless of machine TZ.
- Streaming checkpoints go through
  ``FileSystemBasedCheckpointFileManager``. Spark's default manager
  writes the offset, commit and source logs through Hadoop's
  ``FileContext``; without the native libhadoop, the local
  ``FileContext`` forks ``readlink``/``chmod`` processes for every
  metadata-log write, dozens per micro-batch. The FileSystem-API
  manager is Spark's own fallback for filesystems without
  ``FileContext`` support: it keeps the ``.crc`` checksums and the
  temp-file-then-rename commit but renames in-process, so only the
  ``chmod`` of file creation still forks.
- ``spark.sql.codegen.cache.maxEntries`` = 4096 (Spark's default is
  100). Working sets of distinct generated classes, measured at
  sf0.01: the benchmark's ``llm_pipeline`` catalog 128, the binlog CDC
  loop 34, one pass over the whole registry 3,223. The conf is static,
  so it applies only when ``build_session`` creates the JVM; a reused
  session keeps the value it started with (warned below), and the
  driver's plain session in ``scripts/drive_contract.py`` keeps Spark's
  100. On a cluster the cap reaches executors through the SparkConf.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

from mysql_to_clickhouse_spark import caches

# Spark caches compiled codegen classes in an LRU keyed by generated
# source. Under LRU, a session that cycles through more distinct
# classes than the cap evicts each class just before its next use, so
# every lookup misses: one Janino compile (mean 8.6 ms over a registry
# pass on 4 vCPU) plus a freshly loaded class that runs interpreted
# until the JIT warms it again. Measured working sets: 128 classes for
# the benchmark's llm_pipeline catalog (at Spark's default of 100 a warm
# engine recompiled ~70 of them per catalog round), 34 for the binlog
# CDC loop, 3,223 for one pass over the whole registry at sf0.01. 4096
# is the smallest power of two above the largest.
_CODEGEN_CACHE_ENTRIES = "4096"


def build_session(
    app_name: str = "mysql-to-clickhouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). On a real cluster pass ``master=None`` and submit normally —
    every config below is master-agnostic.

    NOTE ``spark.driver.memory`` and the codegen cache cap (the
    ``startup`` confs below) only take effect when this call CREATES the
    JVM; if getOrCreate reuses an already-running session (tests, the
    verification driver) the setting is ignored — this function detects
    that case and emits a UserWarning naming the conf and both values.
    For processes you launch yourself, pass it via spark-submit /
    SPARK_GRAFT_DRIVER_MEM before first start.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # dims (region/nation/customer/supplier/part) all broadcast at any SF
        # where they remain dimension-sized; 64 MB is a safe cluster default.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    # getOrCreate silently ignores these when it reuses a live session,
    # so the reuse branch below detects-and-warns. The codegen cache cap
    # is a static SQL conf, read once when Spark's code generator loads.
    startup = {
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.sql.codegen.cache.maxEntries": _CODEGEN_CACHE_ENTRIES,
    }
    conf = {**startup, **(extra_conf or {})}
    requested = {k: conf[k] for k in startup}
    for k, v in conf.items():
        builder = builder.config(k, v)
    preexisting = SparkSession.getActiveSession()
    spark = builder.getOrCreate()
    if preexisting is not None and preexisting is spark:
        if spark.sparkContext.master != master:
            warnings.warn(
                f"build_session reused a live SparkSession on master "
                f"{spark.sparkContext.master!r}; requested {master!r} was "
                f"ignored (JVM-startup setting)",
                UserWarning,
                stacklevel=2,
            )
        for k, want in requested.items():
            # read the JVM's actual launch conf — getOrCreate copies the
            # requested value into the session RuntimeConfig even though
            # the running JVM never saw it
            have = spark.sparkContext._conf.get(k, None)
            if have != want:
                warnings.warn(
                    f"build_session reused a live SparkSession: JVM-startup "
                    f"conf {k}={want!r} was ignored (live value: {have!r}). "
                    f"Stop the session or set it before first start.",
                    UserWarning,
                    stacklevel=2,
                )
    return spark


def release_all(spark: SparkSession) -> dict[str, int]:
    """Drain every session-lifetime cache the engine holds for
    ``spark``: the one call a long-lived shared session (or a rotating
    multi-tenant service) makes at a workload boundary so no executor
    memory stays pinned. Returns the number of entries each cache held,
    keyed by cache name; ``caches.py`` lists the caches, their drop
    actions and the release order."""
    return caches.release(spark)

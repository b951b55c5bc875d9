"""Continuous CDC apply — the reference category's binlog→ClickHouse
loop as a real Structured Streaming job (SURVEY.md §3.1 entry point 2).

readStream(event slices) → writeStream.foreachBatch(merge) with
versioned parquet state: each micro-batch unions into the previous
committed state and keeps the latest row per PK, committing a new
state version directory — never overwriting the one being read
(read-then-overwrite of the same path is the classic self-clobber).
Tombstones are retained in state and filtered on read, exactly
ReplacingMergeTree + FINAL.

ONE FINAL RULE PER TABLE: a ``FinalSpec`` names a replicated table's
keys, its version expressions (highest first) and its delete
predicate. ``collapse`` keeps the latest row per key with tombstones
(the merge), ``drop_deleted`` filters tombstones out (the read of a
collapsed state) and ``final`` does both (the read of raw row images).
Every merge, read and ``FROM … FINAL`` expansion of the engine runs
through one of three specs:

- ``EVENTS_FINAL`` — the ``events`` table as a CDC stream: key
  ``user_id``, versions ``unix_micros(ts)``, ``event_id``;
  ``event_type = 'error'`` deletes (a4, x17, k3 and CH ``FROM events
  FINAL``);
- ``CDC_STATE_FINAL`` — the same rule over the state's columns
  (``ts_us`` in place of ``ts``): ``make_cdc_apply``,
  ``read_cdc_state`` and h7;
- ``BINLOG_FINAL`` — a decoded binlog: versions in log order
  (``log_file``, ``log_pos``, ``seq``); ``op = 'delete'`` deletes
  (a35, ``make_binlog_apply`` and ``read_binlog_state``).

EXACTLY-ONCE ON RESTART (the binlog-position analog, SURVEY §3.1
step 5): the streaming checkpoint WAL pins each micro-batch's offsets,
so a re-delivered batch after a crash carries the same rows and the
same batch_id. The merge below is idempotent per batch_id — state
versions are keyed v{batch_id}, the previous state is the largest
COMMITTED version strictly below the incoming batch_id (discovered
from the sink itself, never from process memory), and a re-run
overwrites its own partial output. Kill the process mid-batch and
restart with the same checkpointLocation: no duplicate, no lost row.
This is proven across a query restart in
tests/test_streaming.py::test_cdc_checkpoint_kill_and_resume.

SCHEMA FROM THE COMMITTED FOOTER: every read of a state version (the
previous state inside a merge, and the FINAL read) takes its schema
from that version's own parquet footer, where Spark records the
writing DataFrame's schema under
``org.apache.spark.sql.parquet.row.metadata``. pyarrow reads that key
on the driver, so building the read launches no schema-inference job,
which on a micro-batch loop would be a fixed cost of every batch.

ONE STAGE FOR A SMALL STATE: the merge input (previous committed
version ∪ micro-batch) and the FINAL read are coalesced to one
partition before their key operator when their estimated bytes are at
most the size up to which AQE coalesces a shuffle's reduce side to ONE
partition. With ``spark.sql.adaptive.coalescePartitions.parallelismFirst``
(Spark's default) AQE spreads any larger shuffle over the default
parallelism, down to ``coalescePartitions.minPartitionSize`` (1 MB
unless set) per partition, so that floor is the limit; without it the
limit is ``advisoryPartitionSizeInBytes``. The single partition
satisfies the window's and the aggregate's distribution, so the plan
has no Exchange. At or below the limit the exchange buys no
parallelism, since AQE would run its reduce side as one task anyway:
it only adds a job, a shuffle write and read, and an AQE re-plan to
every batch and every read. Above it the plans keep their hash
exchange. The merge estimates from Catalyst's optimized-plan
statistics (the batch may come from any source); the FINAL read from
the part-file bytes of the version's own listing.

At scale the state store would be a partitioned table (or Delta/
Iceberg MERGE) and version discovery a manifest/log read instead of a
directory listing; the micro-batch merge below is partition-pruned by
PK range the same way.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import NamedTuple

import pyarrow.parquet as pq

from mysql_to_clickhouse_spark.functions.tmputil import scratch_dir

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mysql_to_clickhouse_spark.streaming.replay import write_replay_slices


class FinalSpec(NamedTuple):
    """ReplacingMergeTree semantics for one replicated table: the latest
    version per key wins, and a winner the delete predicate marks is a
    tombstone."""

    keys: tuple[str, ...]
    versions: tuple[str, ...]  # SQL expressions, highest first, each DESC
    deleted: str | None = None  # SQL predicate marking a tombstone


EVENTS_FINAL = FinalSpec(
    ("user_id",), ("unix_micros(ts)", "event_id"), "event_type = 'error'"
)
CDC_STATE_FINAL = FinalSpec(
    ("user_id",), ("ts_us", "event_id"), "event_type = 'error'"
)
BINLOG_FINAL = FinalSpec(
    ("user_id",), ("log_file", "log_pos", "seq"), "op = 'delete'"
)


def collapse(df: DataFrame, spec: FinalSpec) -> DataFrame:
    """Latest row per ``spec.keys`` by ``spec.versions``, tombstones
    kept: the merge. A later batch holding an older version of a key
    must still lose to a tombstone, so state keeps them."""
    w = Window.partitionBy(*spec.keys).orderBy(
        *(F.expr(v).desc() for v in spec.versions)
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def drop_deleted(df: DataFrame, spec: FinalSpec) -> DataFrame:
    """``df`` without the rows ``spec.deleted`` marks: the read of a
    state ``collapse`` already merged."""
    return df if spec.deleted is None else df.filter(~F.expr(spec.deleted))


def final(df: DataFrame, spec: FinalSpec) -> DataFrame:
    """The ``FINAL`` image of raw row versions: ``collapse``, then
    ``drop_deleted``."""
    return drop_deleted(collapse(df, spec), spec)


def _committed_versions(state_root: str) -> list[int]:
    """Batch ids of fully-committed state versions (v{id}/_SUCCESS).

    A version dir without its _SUCCESS marker is a torn write from a
    crashed batch — invisible here, and overwritten when that batch_id
    is re-delivered after restart."""
    out = []
    for name in os.listdir(state_root):
        if name.startswith("v") and name[1:].isdigit():
            if os.path.exists(os.path.join(state_root, name, "_SUCCESS")):
                out.append(int(name[1:]))
    return sorted(out)


def _one_partition_if_small(df: DataFrame, est_bytes: int) -> DataFrame:
    """``df`` coalesced to one partition when ``est_bytes`` is at most
    the size up to which AQE coalesces a shuffle's reduce side to one
    partition: the effective ``coalescePartitions.minPartitionSize``
    under ``coalescePartitions.parallelismFirst``, else the effective
    ``advisoryPartitionSizeInBytes`` (read without a default, so its
    legacy fallback key counts). Values are parsed by Spark's own
    byte-string parser. Otherwise ``df`` is returned unchanged."""
    spark = df.sparkSession
    aqe = "spark.sql.adaptive."
    if spark.conf.get(aqe + "coalescePartitions.parallelismFirst").lower() == "true":
        size = spark.conf.get(aqe + "coalescePartitions.minPartitionSize")
    else:
        size = spark.conf.get(aqe + "advisoryPartitionSizeInBytes")
    limit = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(size)
    return df.coalesce(1) if est_bytes <= limit else df


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _read_version(spark: SparkSession, state_root: str, version: int) -> DataFrame:
    """Read committed state version ``v{version}`` with the schema its
    own parquet footer records, so no schema-inference job runs. Every
    part file of a version carries the same schema; any one will do."""
    vdir = os.path.join(state_root, f"v{version}")
    part = min(f for f in os.listdir(vdir) if f.endswith(".parquet"))
    meta = pq.read_metadata(os.path.join(vdir, part)).metadata
    schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(vdir)


def _read_latest(spark: SparkSession, state_root: str) -> DataFrame:
    """The latest committed version, read as one partition when its
    part files fit one (``_one_partition_if_small``)."""
    versions = _committed_versions(state_root)
    if not versions:
        raise FileNotFoundError(f"no committed state under {state_root}")
    vdir = os.path.join(state_root, f"v{versions[-1]}")
    nbytes = sum(
        os.path.getsize(os.path.join(vdir, f))
        for f in os.listdir(vdir)
        if f.endswith(".parquet")
    )
    return _one_partition_if_small(
        _read_version(spark, state_root, versions[-1]), nbytes
    )


def _merge_commit(
    state_root: str, batch: DataFrame, batch_id: int, spec: FinalSpec
) -> None:
    """Union ``batch`` into the largest committed version strictly below
    ``batch_id`` (so a re-delivered batch never reads its own partial
    output), ``collapse`` it by ``spec``, and write the
    result with overwrite to ``v{batch_id}``. A union that fits one
    partition is merged in one."""
    prior = [v for v in _committed_versions(state_root) if v < batch_id]
    if prior:
        prev = _read_version(batch.sparkSession, state_root, max(prior))
        batch = prev.unionByName(batch)
    est = batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    batch = _one_partition_if_small(batch, int(est))
    collapse(batch, spec).write.mode("overwrite").parquet(
        os.path.join(state_root, f"v{batch_id}")
    )


def make_cdc_apply(state_root: str, fail_at_batch: int | None = None):
    """foreachBatch merge closure over a versioned parquet state root,
    idempotent per batch_id (``_merge_commit``). ``fail_at_batch``
    injects a crash BEFORE the write — the kill half of the
    kill-and-resume recovery test."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if fail_at_batch is not None and batch_id == fail_at_batch:
            raise RuntimeError(f"injected crash at batch {batch_id}")
        batch = batch.select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_type",
            "value",
        )
        _merge_commit(state_root, batch, batch_id, CDC_STATE_FINAL)

    return apply_batch


def start_cdc_query(
    spark: SparkSession,
    replay_dir: str,
    schema,
    state_root: str,
    fail_at_batch: int | None = None,
):
    """Start (or restart — same checkpointLocation resumes the WAL) the
    CDC apply stream; returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(replay_dir)
    )
    return (
        stream.writeStream.foreachBatch(make_cdc_apply(state_root, fail_at_batch))
        .option("checkpointLocation", os.path.join(state_root, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def read_cdc_state(spark: SparkSession, state_root: str) -> DataFrame:
    """FINAL read of the latest committed state version: latest
    non-tombstone row per PK (``CDC_STATE_FINAL``)."""
    state = drop_deleted(_read_latest(spark, state_root), CDC_STATE_FINAL)
    return state.select(
        "user_id", "event_id", "ts_us", "event_type", "value"
    )


def run_cdc_stream(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 3,
    state_root: str | None = None,
) -> DataFrame:
    """Run the CDC apply loop as a real stream; returns the final state
    (latest non-tombstone row per user_id)."""
    replay_dir, ev = write_replay_slices(spark, sf_dir, n_slices)
    if state_root is None:
        state_root = scratch_dir(f"cdc_state_{uuid.uuid4().hex[:8]}_")
    q = start_cdc_query(spark, replay_dir, ev.schema, state_root)
    q.awaitTermination(180)
    if q.isActive:  # pragma: no cover
        q.stop()
    return read_cdc_state(spark, state_root)


# ---------------------------------------------------------------------------
# Binlog-ordered apply (a35c): same versioned-state discipline, but the
# version axis is the LOG position (log_file, log_pos, seq) — what a
# real binlog tail orders by — and deletes ride as tombstoned ops.
# ---------------------------------------------------------------------------

_BINLOG_COLS = [
    "log_file", "log_pos", "seq", "op",
    "user_id", "event_id", "ts_us", "event_type", "value",
]


def make_binlog_apply(state_root: str):
    """foreachBatch merge for a decoded binlog stream by
    ``BINLOG_FINAL``: latest row per PK in LOG order, deletes kept as
    tombstones in state (filtered on read). Same idempotent
    v{batch_id} commit protocol as make_cdc_apply."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        _merge_commit(
            state_root, batch.select(*_BINLOG_COLS), batch_id, BINLOG_FINAL
        )

    return apply_batch


def read_binlog_state(spark: SparkSession, state_root: str) -> DataFrame:
    """FINAL read over the binlog-apply state: latest committed
    version, tombstones dropped (``BINLOG_FINAL``)."""
    state = drop_deleted(_read_latest(spark, state_root), BINLOG_FINAL)
    return state.select(
        "user_id", "event_id", "ts_us", "event_type", "value"
    )

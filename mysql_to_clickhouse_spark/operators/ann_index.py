"""Persisted IVF ANN index — build once, serve many, add incrementally.

i4d trains its coarse quantizer inside every query call; that is the
right shape for a one-shot analytic query but the wrong one for
serving, where the corpus is indexed once and then queried thousands
of times. This module makes the index a first-class on-disk artifact
(the a5 batch-sink discipline applied to vectors), with the k-family
incremental-view-maintenance idea applied to the cell lists:

- ``build_ivf_index``   — train centroids (bounded driver sample, the
  i4d discipline), assign every vector, and persist BOTH as parquet:
  ``<dir>/centroids`` (C rows) and ``<dir>/cells`` partitioned by
  ``cell`` so a probe reads only its cells' files.
- ``ivf_add``           — assign a NEW vector batch against the
  persisted centroids (broadcast join, map-side) and append it to the
  cell lists. No retrain, no touch of existing rows — the IVM step.
  Re-adding a tombstoned id (CDC re-insert) compacts first, so the
  id's old row is gone before its new one lands; the cell lists are
  rewritten on that path only.
- ``ivf_delete``        — tombstone a batch of ids (a4's CDC delete
  discipline): appended to ``<dir>/tombstones``, anti-joined at serve
  time, so deletes take effect immediately at delta cost.
- ``ivf_compact``       — physically drop tombstoned rows from the
  cell lists and clear the tombstone set; serve results unchanged by
  construction, scan cost restored to ∝ live rows.
- ``ivf_query``         — serve a bounded query batch from the index
  alone: nearest ``nprobe`` centroids per query (i4d's probe,
  ``llmops._nearest_cells``), then an exact cosine top-k over ONLY the
  probed cells, each cell scored as one numpy tile in
  ``llmops._cosine_tiles``' "cells" topology and the per-cell winners
  re-ranked once. The probed cell set is collected (≤ nq × nprobe
  ints) and pushed as a literal partition filter, so the scan is
  partition-pruned at planning time — at 100 TB a 2-of-√n-cells probe
  reads ~2/√n of the index, not the corpus.

The serve path never calls the trainer and never reads the source
table: the index is self-contained (cells store the vectors, as
IVF-flat does). tests/test_ann_index.py plan-asserts both properties.

Scale: build is one bounded-sample train + one broadcast-assign scan +
one partitioned write; add is a broadcast-assign over the delta only;
serve shuffles the queries' probe rows and the probed cells' members
once, into a cogroup on ``cell`` — candidate pairs never exist as rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_spark.functions.vectors import cosine
from mysql_to_clickhouse_spark.operators.llmops import _cosine_topk, _nearest_cells
from mysql_to_clickhouse_spark.registry import register
from mysql_to_clickhouse_spark.tables import load

_DEFAULT_CELLS = 16
_DEFAULT_NPROBE = 2


def _centroids_path(index_dir: str) -> str:
    return os.path.join(index_dir, "centroids")


def _cells_path(index_dir: str) -> str:
    return os.path.join(index_dir, "cells")


def _tombstones_path(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def _has_tombstones(index_dir: str) -> bool:
    import glob

    return bool(glob.glob(os.path.join(_tombstones_path(index_dir), "*.parquet")))


def _assign_cells(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the C-row centroid
    relation against the vector batch, then collapse the |vectors| × C
    scored rows with a partial-aggregable ``max_by`` — the map-side
    combine reduces them back to |vectors| rows (embedding payload
    included) BEFORE the shuffle. The first version used a
    row_number window here, which shuffled all n×C wide rows
    (~140 GB at 1e6 vectors × 250 cells); max_by's ordering key
    (ccos, -cid) reproduces the exact (cos desc, cid asc) tie-break,
    so assignments are bit-identical to the i4d window route."""
    scored = vectors.join(F.broadcast(centroids)).select(
        "vec_id",
        # canonical stored type: a float32-sourced build followed by a
        # float64 ivf_add must not leave mixed parquet element types
        F.col("embedding").cast("array<double>").alias("embedding"),
        "cid",
        cosine("embedding", "cvec").alias("ccos"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max_by(
            F.struct(F.col("embedding"), F.col("cid")),
            F.struct(F.col("ccos").alias("c"), (-F.col("cid")).alias("nc")),
        ).alias("best")
    )
    return best.select(
        "vec_id",
        F.col("best.embedding").alias("embedding"),
        F.col("best.cid").alias("cell"),
    )


def build_ivf_index(
    emb: DataFrame, index_dir: str, cells: int = _DEFAULT_CELLS
) -> None:
    """Train + persist the IVF index for ``emb`` (vec_id, embedding).

    Overwrites any previous index at ``index_dir`` (including rows a
    prior ``ivf_add`` appended), so a rebuild is always a clean slate.
    Training is the i4d bounded-sample spherical k-means — the driver
    collect is capped regardless of corpus size."""
    from mysql_to_clickhouse_spark.operators.llmops import _ivf_centroids

    spark = emb.sparkSession
    cents = _ivf_centroids(spark, emb, cells)
    cents.coalesce(1).write.mode("overwrite").parquet(_centroids_path(index_dir))
    persisted = spark.read.parquet(_centroids_path(index_dir))
    (
        _assign_cells(emb.select("vec_id", "embedding"), persisted)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(_cells_path(index_dir))
    )


def ivf_add(spark: SparkSession, index_dir: str, new_vectors: DataFrame) -> None:
    """Append a vector batch to an existing index WITHOUT retraining:
    assign against the persisted centroids and append to the cell
    lists. Existing index rows are never read or rewritten (except on
    the re-insert path below) — the cost is proportional to the delta,
    the incremental-view-maintenance contract the k-family establishes
    for aggregates.

    CDC re-insert: when the batch re-adds a tombstoned id, the index
    is compacted first (``ivf_compact``), which drops the id's old
    cell-list row and clears every pending tombstone; the id then
    serves from its new row alone, in the cell its new vector picks.
    Only this path rewrites the cell lists (cost ∝ index size); the
    check for it is one semi-join of the pending tombstones against
    the batch ids, run only while tombstones are pending."""
    cents = spark.read.parquet(_centroids_path(index_dir))
    batch = new_vectors.select("vec_id", "embedding")
    if _has_tombstones(index_dir) and not (
        spark.read.parquet(_tombstones_path(index_dir))
        .join(batch.select("vec_id"), "vec_id", "left_semi")
        .isEmpty()
    ):
        ivf_compact(spark, index_dir)
    (
        _assign_cells(batch, cents)
        .write.mode("append")
        .partitionBy("cell")
        .parquet(_cells_path(index_dir))
    )


def ivf_delete(spark: SparkSession, index_dir: str, deleted_ids: DataFrame) -> None:
    """Tombstone a batch of vec_ids — a4's CDC delete discipline
    applied to the index: the ids are APPENDED to ``<dir>/tombstones``
    and serving anti-joins them, so deleted vectors stop being served
    immediately while the cell lists stay untouched (delete cost ∝
    delta, symmetric with ivf_add). Physical removal is deferred to
    ``ivf_compact``; deleting an id the index never held is a no-op by
    construction (the anti-join has nothing to suppress)."""
    (
        deleted_ids.select(F.col("vec_id").cast("long").alias("vec_id"))
        .distinct()
        .write.mode("append")
        .parquet(_tombstones_path(index_dir))
    )


def _live_members(
    spark: SparkSession, index_dir: str, cells_filter=None
) -> DataFrame:
    """Cell-list rows that are still live: the (possibly partition-
    pruned) cell scan anti-joined against pending tombstones. The
    anti-join is left unhinted — Spark auto-broadcasts a small
    tombstone set (the steady state under regular compaction) and
    falls back to a shuffle for a pathological one, so the serve path
    inherits the honest size dispatch instead of an OOM cliff."""
    members = spark.read.parquet(_cells_path(index_dir))
    if cells_filter is not None:
        members = members.filter(F.col("cell").isin(cells_filter))
    if _has_tombstones(index_dir):
        tombs = spark.read.parquet(_tombstones_path(index_dir)).select("vec_id")
        members = members.join(tombs, "vec_id", "left_anti")
    return members


def ivf_compact(spark: SparkSession, index_dir: str) -> None:
    """Physically remove tombstoned rows: rewrite the cell lists minus
    the tombstone set (partition layout preserved) and clear the
    tombstones. Serving results are unchanged by construction — the
    anti-join already hid these rows — so compaction only reclaims
    space and restores serve-scan cost ∝ live rows; run it when
    |tombstones|/|index| crosses an ops threshold. The dir swap is a
    metastore pointer flip on a production object store."""
    import shutil

    if not _has_tombstones(index_dir):
        return
    cpath = _cells_path(index_dir)
    tmp = cpath + ".compact.tmp"
    (
        _live_members(spark, index_dir)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(tmp)
    )
    shutil.rmtree(cpath)
    os.rename(tmp, cpath)
    shutil.rmtree(_tombstones_path(index_dir))


def ivf_query(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = _DEFAULT_NPROBE,
) -> DataFrame:
    """Serve exact-rescored top-k for a bounded query batch from the
    persisted index. Reads ONLY the index artifact: centroids (tiny) to
    pick each query's ``nprobe`` cells, then the LIVE cell-list rows
    under a literal ``cell IN (...)`` filter — a static partition-
    pruned scan, anti-joined against any pending tombstones
    (``ivf_delete``) so deleted vectors never serve. Each probed cell
    scores its queries against its members in one tile (the i4d route,
    ``_cosine_topk``'s "cells" topology). Self-matches (query id
    present in the corpus) are excluded."""
    cents = spark.read.parquet(_centroids_path(index_dir))
    probes = _nearest_cells(queries.select("vec_id", "embedding"), cents, nprobe)
    # Bounded collect: ≤ nq × nprobe ints — the literal IN list is what
    # turns the cell scan into a planning-time partition prune.
    probed_cells = sorted(
        {r["cell"] for r in probes.select("cell").distinct().collect()}
    )
    members = _live_members(spark, index_dir, probed_cells)
    return _cosine_topk(probes, members, k, "cells")


_SCRATCH_INDEX_DIRS: dict[str, str] = {}


def _default_index_dir(sf_dir: str) -> str:
    """Per-process scratch allocation for the registered operator.

    The registered i4f rebuilds its index on every call, so a stable
    cross-process path bought nothing and cost two leaks: /tmp dirs
    surviving the round (bypassing tmputil's atexit discipline) and
    two concurrent drivers on the same sf_dir racing overwrite-vs-read
    on shared parquet. mkdtemp-backed scratch is private to this
    process and reclaimed at exit; it is memoized per (process,
    sf_dir) so repeated calls (bench warm runs) overwrite one dir
    instead of accumulating copies. Genuine build-once/serve-many use
    passes an explicit, caller-owned ``index_dir`` instead."""
    from mysql_to_clickhouse_spark.functions.tmputil import scratch_dir

    key = os.path.abspath(sf_dir)
    if key not in _SCRATCH_INDEX_DIRS:
        _SCRATCH_INDEX_DIRS[key] = scratch_dir("i4f_ivf_")
    return _SCRATCH_INDEX_DIRS[key]


_I4F_K = 5
_I4F_QUERY_FILTER = "vec_id % 31 = 7"  # the i4e serving batch
_I4F_QUERY_CAP = 64


@register(
    "i4f_ann_index_serve",
    oracle=None,
    tier="T3",
    no_oracle_reason=(
        "IVF index serving is approximate by construction (nprobe cells "
        "of a trained coarse quantizer); the served top-k is asserted "
        "SET-EQUAL to the per-call i4d route on the same batch (same "
        "deterministic centroids -> identical candidates), so its "
        "recall is exactly i4d's, plus an absolute floor vs exact; the "
        "full churn lifecycle (add + tombstone delete + re-add + "
        "compact) is pinned by test_ivf_churn_cycle: deleted ids never "
        "serve, recall floor vs exact-over-live holds, compaction is "
        "result-invariant, zero training scans on serve"
    ),
    test="tests/test_ann_index.py::test_i4f_equals_i4d_on_served_batch",
)
def i4f_ann_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build-once-query-many ANN lifecycle: build the persisted IVF
    index over the embeddings table, then serve the i4e query batch
    (vec_id % 31 = 7, first 64) from the artifact alone with exact
    cosine rescoring, top-5 per query.

    Unlike i4d, the SERVE call never trains: centroids and cell lists
    come from parquet, and the candidate scan is partition-pruned to
    the probed cells (tests plan-assert both). Training is identical to
    i4d's (deterministic sampled k-means) and serving runs i4d's probe
    and per-cell tiles (``ivf_query``), so the served result is
    set-equal to the per-call route — the index artifact costs nothing
    in quality and removes the per-query train+assign scans.
    ``ivf_add`` grows the same artifact incrementally (delta-only
    assign, no retrain); its exact semantics — added vectors land in
    the same cells a full rebuild with the same centroids would put
    them in — are pinned in tests/test_ann_index.py. Rows-only
    (approximate vs exact top-k by construction)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    index_dir = _default_index_dir(sf_dir)
    build_ivf_index(emb, index_dir)  # overwrite: idempotent per call
    queries = (
        emb.filter(F.expr(_I4F_QUERY_FILTER))
        .orderBy("vec_id")
        .limit(_I4F_QUERY_CAP)
    )
    return ivf_query(spark, index_dir, queries, k=_I4F_K)

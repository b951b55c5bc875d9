"""Persisted IVF ANN index (operators/ann_index.py): serve-path purity
(zero training, index-only partition-pruned scans), set-equality with
the per-call i4d route, and exact incremental-add semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql_to_clickhouse_spark.operators import ann_index
from mysql_to_clickhouse_spark.operators.ann_index import (
    build_ivf_index,
    ivf_add,
    ivf_query,
)
from mysql_to_clickhouse_spark.registry import all_queries
from mysql_to_clickhouse_spark.tables import load
from tests.conftest import SMOKE_SF_DIR, TEST_SF_DIR


def _emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def test_i4f_equals_i4d_on_served_batch(spark):
    """The persisted-index serve path must return EXACTLY what the
    per-call i4d route returns for the same queries (same deterministic
    centroids -> same cells -> same candidates -> same total-ordered
    top-k), so the artifact costs nothing in recall. Plus an absolute
    floor vs the exact serving answer to catch a both-sides collapse."""
    q = all_queries()
    i4f = q["i4f_ann_index_serve"].fn(spark, TEST_SF_DIR).collect()
    exact = q["i4e_topk_queries"].fn(spark, TEST_SF_DIR).collect()
    qids = {r["id_a"] for r in exact}

    from mysql_to_clickhouse_spark.operators.llmops import _i4d_neighbors

    i4d = _i4d_neighbors(spark, TEST_SF_DIR).collect()
    i4d_edges = {(r["id_a"], r["id_b"]) for r in i4d if r["id_a"] in qids}
    i4f_edges3 = {(r["id_a"], r["id_b"]) for r in i4f if r["rk"] <= 3}
    assert i4f_edges3 == i4d_edges, (
        "persisted serve diverged from the per-call IVF route: "
        f"only-i4f={sorted(i4f_edges3 - i4d_edges)[:5]} "
        f"only-i4d={sorted(i4d_edges - i4f_edges3)[:5]}"
    )

    exact_edges = {(r["id_a"], r["id_b"]) for r in exact}
    i4f_edges = {(r["id_a"], r["id_b"]) for r in i4f}
    recall = len(exact_edges & i4f_edges) / len(exact_edges)
    assert recall >= 0.25, f"served recall collapsed: {recall:.3f}"


def test_second_batch_zero_training_scans(spark, tmp_path, monkeypatch):
    """Build once, then serve: the serve plan must read ONLY the index
    artifact (centroids + cell lists), partition-prune the cell scan to
    the probed cells, never reference the source table's parquet, and
    never invoke the trainer."""
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(_emb(spark, SMOKE_SF_DIR), index_dir)

    def _no_train(*a, **k):  # serve must not reach the trainer
        raise AssertionError("serve path invoked _ivf_centroids")

    import mysql_to_clickhouse_spark.operators.llmops as llmops

    monkeypatch.setattr(llmops, "_ivf_centroids", _no_train)

    queries = _emb(spark, SMOKE_SF_DIR).orderBy("vec_id").limit(8).collect()
    qdf = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in queries],
        "vec_id long, embedding array<double>",
    )
    served = ivf_query(spark, index_dir, qdf, k=3)
    assert served.count() > 0

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert index_dir in plan, "serve plan does not read the index artifact"
    assert "embeddings" not in plan, (
        "serve plan scans the source table — the index is not self-contained"
    )
    assert "PartitionFilters: [cell" in plan.replace("#", " #").replace(
        "cell #", "cell#"
    ) or "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], "cell scan is not partition-pruned"


def test_ivf_add_matches_full_rebuild_assignment(spark, tmp_path):
    """Incremental add must place the delta batch in exactly the cells
    a full assignment against the same persisted centroids would choose
    — and must not retrain (trainer call-count pinned at the one build
    call)."""
    import mysql_to_clickhouse_spark.operators.llmops as llmops

    calls = {"n": 0}
    orig = llmops._ivf_centroids

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    llmops._ivf_centroids = counting
    try:
        emb = _emb(spark, SMOKE_SF_DIR)
        base = emb.filter(F.col("vec_id") % 10 != 3)
        delta = emb.filter(F.col("vec_id") % 10 == 3)

        inc_dir = str(tmp_path / "inc")
        build_ivf_index(base, inc_dir)
        ivf_add(spark, inc_dir, delta)
        assert calls["n"] == 1, "ivf_add retrained the quantizer"

        got = {
            (r["vec_id"], r["cell"])
            for r in spark.read.parquet(
                ann_index._cells_path(inc_dir)
            ).collect()
        }
        cents = spark.read.parquet(ann_index._centroids_path(inc_dir))
        want = {
            (r["vec_id"], r["cell"])
            for r in ann_index._assign_cells(emb, cents).collect()
        }
        assert got == want
    finally:
        llmops._ivf_centroids = orig


def test_build_overwrite_clears_prior_adds(spark, tmp_path):
    """A rebuild is a clean slate: vectors appended by ivf_add before
    the rebuild must not survive as duplicates."""
    emb = _emb(spark, SMOKE_SF_DIR)
    d = str(tmp_path / "re")
    build_ivf_index(emb, d)
    ivf_add(spark, d, emb.limit(5))  # duplicate ids on purpose
    build_ivf_index(emb, d)
    cells = spark.read.parquet(ann_index._cells_path(d))
    n, nd = cells.count(), cells.select("vec_id").distinct().count()
    assert n == nd == emb.count()


def test_added_vectors_are_servable(spark, tmp_path):
    """A vector present only via ivf_add must be findable: serving its
    own embedding as the query returns it... excluded as self — so its
    exact duplicate (same embedding, new id) must come back rank 1."""
    emb = _emb(spark, SMOKE_SF_DIR)
    d = str(tmp_path / "srv")
    build_ivf_index(emb, d)
    probe = emb.orderBy("vec_id").limit(1).collect()[0]
    twin_id = 10_000_000 + int(probe["vec_id"])
    twin = spark.createDataFrame(
        [(twin_id, probe["embedding"])], "vec_id long, embedding array<double>"
    )
    ivf_add(spark, d, twin)
    qdf = spark.createDataFrame(
        [(int(probe["vec_id"]), probe["embedding"])],
        "vec_id long, embedding array<double>",
    )
    top = ivf_query(spark, d, qdf, k=1).collect()
    assert len(top) == 1 and top[0]["id_b"] == twin_id
    assert top[0]["cos_sim"] == pytest.approx(1.0, abs=1e-9)


def test_ivf_churn_cycle(spark, tmp_path, monkeypatch):
    """The full index lifecycle under churn (r7 verdict item 5):
    build -> add batch -> tombstone-delete batch -> serve (deleted ids
    never appear, recall floor vs EXACT top-k over the live corpus
    holds, zero training scans) -> re-add a deleted id (serves again)
    -> compact (results byte-identical, tombstones gone, deleted rows
    physically removed)."""
    import os

    emb = _emb(spark, SMOKE_SF_DIR)
    d = str(tmp_path / "churn")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    delta = emb.filter(F.col("vec_id") % 5 == 4)
    build_ivf_index(base, d)
    ivf_add(spark, d, delta)

    # delete some of the ORIGINAL build and some of the ADDED delta
    doomed = emb.filter(F.col("vec_id") % 7 == 2).select("vec_id")
    doomed_ids = {r["vec_id"] for r in doomed.collect()}
    ann_index.ivf_delete(spark, d, doomed)

    # serve must never train
    import mysql_to_clickhouse_spark.operators.llmops as llmops

    monkeypatch.setattr(
        llmops,
        "_ivf_centroids",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("churn serve invoked the trainer")
        ),
    )

    queries = (
        emb.filter(~F.col("vec_id").isin(*doomed_ids))
        .orderBy("vec_id")
        .limit(16)
    )
    k = 3
    served = ivf_query(spark, d, queries, k=k).collect()
    assert served, "churned index served nothing"
    assert not {r["id_b"] for r in served} & doomed_ids, (
        "tombstoned ids were served"
    )

    # recall floor vs EXACT top-k over the live corpus (brute force on
    # the small smoke fixture)
    from mysql_to_clickhouse_spark.functions.vectors import cosine

    live = emb.filter(~F.col("vec_id").isin(*doomed_ids)).select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")
    )
    q = queries.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id_a").orderBy(
        F.desc("cos_sim"), F.asc("id_b")
    )
    exact = (
        q.join(live, F.col("id_a") != F.col("id_b"))
        .withColumn("cos_sim", cosine("ea", "eb"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("id_a", "id_b")
        .collect()
    )
    exact_edges = {(r["id_a"], r["id_b"]) for r in exact}
    served_edges = {(r["id_a"], r["id_b"]) for r in served}
    recall = len(exact_edges & served_edges) / len(exact_edges)
    assert recall >= 0.25, f"churned recall collapsed: {recall:.3f}"

    # CDC re-insert: re-adding one deleted id makes it servable again
    back_id = min(doomed_ids)
    back = emb.filter(F.col("vec_id") == back_id)
    ivf_add(spark, d, back)
    qdf = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in back.collect()],
        "vec_id long, embedding array<double>",
    ).withColumn("vec_id", F.col("vec_id") + 20_000_000)
    again = ivf_query(spark, d, qdf, k=1).collect()
    assert again and again[0]["id_b"] == back_id, "re-added id not served"
    # un-delete must be surgical: the other tombstones still suppress
    still_doomed = sorted(doomed_ids - {back_id})
    assert not {r["id_b"] for r in served} & set(still_doomed)

    # compaction: same served results, tombstones gone, rows removed
    before = {
        (r["id_a"], r["id_b"], r["cos_sim"], r["rk"])
        for r in ivf_query(spark, d, queries, k=k).collect()
    }
    ann_index.ivf_compact(spark, d)
    assert not os.path.exists(ann_index._tombstones_path(d))
    after = {
        (r["id_a"], r["id_b"], r["cos_sim"], r["rk"])
        for r in ivf_query(spark, d, queries, k=k).collect()
    }
    assert before == after, "compaction changed served results"
    remaining = {
        r["vec_id"]
        for r in spark.read.parquet(ann_index._cells_path(d)).collect()
    }
    assert not remaining & set(still_doomed), (
        "compaction left tombstoned rows in the cell lists"
    )
    assert back_id in remaining, "compaction dropped the re-added id"

    # idempotent no-op on a clean index
    ann_index.ivf_compact(spark, d)
    assert before == {
        (r["id_a"], r["id_b"], r["cos_sim"], r["rk"])
        for r in ivf_query(spark, d, queries, k=k).collect()
    }


def test_ivf_readd_changed_vector_keeps_one_live_row(spark, tmp_path):
    """Re-adding a tombstoned id with a new vector leaves exactly one
    live row for it, in the new vector's cell, so a query probing
    every cell ranks the id at most once."""
    emb = _emb(spark, SMOKE_SF_DIR)
    d = str(tmp_path / "readd")
    build_ivf_index(emb, d)
    ann_index.ivf_delete(spark, d, spark.createDataFrame([(0,)], "vec_id long"))
    old = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    negated = spark.createDataFrame(
        [(0, [-x for x in old])], "vec_id long, embedding array<double>"
    )
    ivf_add(spark, d, negated)

    cents = spark.read.parquet(ann_index._centroids_path(d))
    want_cell = ann_index._assign_cells(negated, cents).collect()[0]["cell"]
    live = ann_index._live_members(spark, d).filter("vec_id = 0").collect()
    assert [r["cell"] for r in live] == [want_cell]

    n = emb.count()
    queries = spark.createDataFrame(
        [(10_000_000, old), (10_000_001, [-x for x in old])],
        "vec_id long, embedding array<double>",
    )
    served = ivf_query(spark, d, queries, k=n, nprobe=cents.count()).collect()
    per_query = {}
    for r in served:
        if r["id_b"] == 0:
            per_query[r["id_a"]] = per_query.get(r["id_a"], 0) + 1
    assert per_query == {10_000_000: 1, 10_000_001: 1}


def test_ivf_query_uncoalesced_shuffle_matches(spark):
    """The served rows do not depend on how the cogroup shuffle is
    partitioned. The index's cell column reads back from the parquet
    partition path as int while the probes' cell is a long; both sides
    must hash one key type, or a cell's probes and members land in
    different partitions once AQE stops coalescing them into one."""
    fn = all_queries()["i4f_ann_index_serve"].fn

    def rows():
        return sorted(tuple(r) for r in fn(spark, SMOKE_SF_DIR).collect())

    want = rows()
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        got = rows()
    finally:
        spark.conf.set(conf, prev)
    assert len(want) == 5 * len({r[0] for r in want})
    assert got == want

"""Unit tests for the approximate LLM-pipeline operators: planted
near-duplicates must be FOUND (recall) — the property the rows-only
driver check can't see."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F


def _planted_docs(spark):
    """Six docs: (0,1) near-identical, (2,3) moderately similar,
    4 and 5 unrelated."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun light"
    )
    near = base.replace("afternoon", "evening")
    mid = (
        "the quick brown fox jumps over the lazy dog while birds sing "
        "completely different words about rivers mountains and storms"
    )
    other1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    other2 = "one two three four five six seven eight nine ten eleven twelve"
    rows = [(0, base), (1, near), (2, base), (3, mid), (4, other1), (5, other2)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_recall_on_planted_dups(spark, tmp_path):
    """Run the i2 pipeline logic on planted docs by staging them as the
    documents table of a scratch sf_dir."""
    from mysql_to_clickhouse_spark.registry import all_queries

    docs = _planted_docs(spark).withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("src0")
    ).withColumn("n_chars", F.length("text").cast("long"))
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    result = (
        all_queries()["i2_minhash_neardup"].fn(spark, str(tmp_path)).toPandas()
    )
    found = set(map(tuple, result[["doc_a", "doc_b"]].values))
    assert (0, 1) in found, f"near-identical pair missed: {found}"
    assert (0, 2) in found and (1, 2) in found  # exact dup of 0
    assert all(4 not in p and 5 not in p for p in found), found


def test_simhash_hamming_on_planted_dups(spark, tmp_path):
    from mysql_to_clickhouse_spark.registry import all_queries

    docs = _planted_docs(spark).withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("src0")
    ).withColumn("n_chars", F.length("text").cast("long"))
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    from mysql_to_clickhouse_spark.operators.llmops import _simhash_rows

    result = (
        _simhash_rows(spark, str(tmp_path)).toPandas()
        .set_index("doc_id")["simhash32"]
    )

    def hamming(a: int, b: int) -> int:
        return bin(int(a) ^ int(b)).count("1")

    assert hamming(result[0], result[2]) == 0  # identical text
    assert hamming(result[0], result[1]) <= 6  # near-dup: few bits
    assert hamming(result[0], result[4]) >= 8  # unrelated: many bits


def test_ann_lsh_recall_vs_exact(spark):
    """i4b (bucketed ANN) must recover a reasonable share of true
    top-3 neighbor edges on the real embeddings table."""
    from mysql_to_clickhouse_spark.registry import all_queries
    from tests.conftest import SMOKE_SF_DIR

    exact = (
        all_queries()["i4_topk_similar"]
        .fn(spark, SMOKE_SF_DIR)
        .filter(F.col("rk") <= 3)
        .select("id_a", "id_b")
        .toPandas()
    )
    from mysql_to_clickhouse_spark.operators.llmops import _i4b_neighbors

    approx = (
        _i4b_neighbors(spark, SMOKE_SF_DIR)
        .select("id_a", "id_b")
        .toPandas()
    )
    exact_edges = set(map(tuple, exact.values))
    approx_edges = set(map(tuple, approx.values))
    recall = len(exact_edges & approx_edges) / len(exact_edges)
    # 3 tables × 3 planes on random-ish vectors: modest but real
    assert recall >= 0.3, f"ANN recall collapsed: {recall:.3f}"
    # the registered op is the hash-checked quality gate over this
    bound = all_queries()["i4b_ann_lsh"].fn(spark, SMOKE_SF_DIR).collect()[0]
    assert bound["recall_ge_040"], "registered LSH bound flag went false"


def test_hot_lsh_bucket_pairs_bounded(spark, tmp_path):
    """A degenerate band bucket (here: 120 identical boilerplate docs)
    must produce O(n) star pairs, not O(n²) — while small-bucket recall
    is untouched."""
    import mysql_to_clickhouse_spark.operators.llmops as llmops
    from mysql_to_clickhouse_spark.registry import all_queries

    boiler = "subscribe to our newsletter for daily updates " * 6
    rows = [(100 + i, boiler) for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    planted = _planted_docs(spark)
    all_docs = (
        planted.unionByName(docs)
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("src0"))
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    all_docs.write.parquet(str(tmp_path / "documents.parquet"))
    result = (
        all_queries()["i2_minhash_neardup"].fn(spark, str(tmp_path)).toPandas()
    )
    pairs = set(map(tuple, result[["doc_a", "doc_b"]].values))
    hot_pairs = {p for p in pairs if p[0] >= 100 or p[1] >= 100}
    # star linking: 119 rep pairs, NOT 120*119/2 = 7140
    assert len(hot_pairs) <= 200, len(hot_pairs)
    # every hot-bucket member stays connected (recall preserved)
    linked = {d for p in hot_pairs for d in p}
    assert linked == set(range(100, 220)), sorted(set(range(100, 220)) - linked)[:5]
    # small buckets unaffected
    assert (0, 1) in pairs and (0, 2) in pairs
    # and the planted near-dup cluster never got star-collapsed
    assert llmops._BUCKET_CAP > 6


def test_release_caches_frees_persisted_state(spark):
    """After session.release_all(spark) NOTHING the engine persisted or
    broadcast survives — session-wide, through the one central hygiene
    API. The test fills all eight session caches itself, so what it
    covers does not depend on which suites ran earlier; a cache that
    release_all misses fails HERE instead of silently pinning executor
    memory (r11 shipped exactly that: the dim cache had its own release
    and this test only knew about two modules)."""
    from mysql_to_clickhouse_spark.caches import entries
    from mysql_to_clickhouse_spark.plans.prepared import prepared
    from mysql_to_clickhouse_spark.registry import all_queries
    from mysql_to_clickhouse_spark.session import release_all
    from mysql_to_clickhouse_spark.tables import ensure_bucketed, load
    from perfbench.workloads import RELEASE_KEYS
    from tests.conftest import SMOKE_SF_DIR

    qs = all_queries()
    for qid in (
        "i2_minhash_neardup",  # llmops_sigs
        "i3_cosine_pairs",  # llmops_matrices
        "i16_semantic_components",  # llmops_ckpts
        "i21_source_divergence",  # llmops_wordcounts
    ):
        qs[qid].fn(spark, SMOKE_SF_DIR).count()
    # x6 reads its dims through load_dim (dim_cache) and its reduced
    # side through broadcast_when_small (dispatch_probes); a zero
    # fact-bytes gate opens the probe at the smoke scale
    gate = "spark.mysql2ch.join.probeFactBytes"
    spark.conf.set(gate, "0")
    try:
        qs["x6_tpch_q10"].fn(spark, SMOKE_SF_DIR).count()
    finally:
        spark.conf.unset(gate)
    prepared(
        spark, "t_hygiene", SMOKE_SF_DIR,
        lambda: load(spark, SMOKE_SF_DIR, "nation"),
    )
    ensure_bucketed(spark, SMOKE_SF_DIR, names=("orders",), buckets=2)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > 0

    counts = release_all(spark)
    assert set(counts) == set(RELEASE_KEYS)
    assert all(n >= 1 for n in counts.values()), counts
    assert not entries(spark, "llmops_sigs")
    assert not entries(spark, "llmops_matrices")
    # the load-bearing assertion: zero persisted RDDs SESSION-WIDE,
    # including whatever other suites sharing this session persisted
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    # repeated release is a no-op, and the operators rebuild cleanly
    assert release_all(spark)["llmops_sigs"] == 0
    assert qs["i2_minhash_neardup"].fn(spark, SMOKE_SF_DIR).count() >= 0


def test_blocked_cosine_needs_no_driver_collect(spark, monkeypatch, tmp_path):
    """i3c/i4c are the beyond-broadcast escalation: they must produce
    the exact i3/i4 answers WITHOUT the driver-side collect/broadcast
    the fast path uses — proven by making that path explode.

    Inputs: the smoke fixture; a tie-heavy table of 60 rows drawn from
    3 distinct vectors, where every cosine ties exactly and the id
    tie-break alone decides every rank across blocks (and i4e must
    equal i4 on the ids it served); and an empty table, which every
    path must answer with no rows."""
    import mysql_to_clickhouse_spark.operators.llmops as llmops
    from mysql_to_clickhouse_spark.registry import all_queries
    from tests.conftest import SMOKE_SF_DIR

    ties, empty = str(tmp_path / "ties"), str(tmp_path / "empty")
    base = [[1.0] * 64, [1.0] * 32 + [0.0] * 32, [0.5, -0.5] * 32]
    spark.createDataFrame(
        [(i, base[i % 3], i % 2) for i in range(60)],
        "vec_id long, embedding array<double>, label int",
    ).write.parquet(f"{ties}/embeddings.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<double>, label int"
    ).write.parquet(f"{empty}/embeddings.parquet")
    sf_dirs = (SMOKE_SF_DIR, ties, empty)

    qs = all_queries()
    exact = {
        d: (
            qs["i3_cosine_pairs"].fn(spark, d).toPandas(),
            qs["i4_topk_similar"].fn(spark, d).toPandas(),
        )
        for d in sf_dirs
    }

    def boom(*_a, **_k):
        raise AssertionError("blocked path must not touch _broadcast_matrix")

    monkeypatch.setattr(llmops, "_broadcast_matrix", boom)
    # force a genuinely multi-block plan (3x3 block pairs)
    spark.conf.set(llmops._COSINE_BLOCKS_CONF, "3")
    try:
        blocked = {
            d: (
                qs["i3c_cosine_blocked"].fn(spark, d).toPandas(),
                qs["i4c_topk_blocked"].fn(spark, d).toPandas(),
                qs["i4e_topk_queries"].fn(spark, d).toPandas(),
            )
            for d in sf_dirs
        }
    finally:
        spark.conf.unset(llmops._COSINE_BLOCKS_CONF)

    key = ["id_a", "id_b"]
    cols = ["id_a", "id_b", "cos_sim", "rk"]
    for d in sf_dirs:
        exact_pairs, exact_topk = exact[d]
        blocked_pairs, blocked_topk, served = blocked[d]
        assert (len(exact_pairs) > 0 and len(served) > 0) == (d != empty)
        pd.testing.assert_frame_equal(
            exact_pairs.sort_values(key).reset_index(drop=True),
            blocked_pairs.sort_values(key).reset_index(drop=True),
        )
        pd.testing.assert_frame_equal(
            exact_topk.sort_values(key).reset_index(drop=True)[cols],
            blocked_topk.sort_values(key).reset_index(drop=True)[cols],
        )
        sliced = exact_topk[exact_topk["id_a"].isin(served["id_a"].unique())]
        pd.testing.assert_frame_equal(
            sliced.sort_values(key).reset_index(drop=True)[cols],
            served.sort_values(key).reset_index(drop=True)[cols],
        )


def test_topk_queries_vs_all_pairs(spark):
    """i4e (broadcast-queries single-scan kernel) must agree ROW-FOR-ROW
    with i4's all-pairs self-top-k restricted to the query ids — two
    independent kernels (broadcast table vs broadcast queries), one
    answer, including quantized-tie rank order."""
    import pandas as pd

    from mysql_to_clickhouse_spark.registry import all_queries
    from tests.conftest import SMOKE_SF_DIR

    qs = all_queries()
    served = qs["i4e_topk_queries"].fn(spark, SMOKE_SF_DIR).toPandas()
    assert len(served) > 0
    # restrict the i4 slice to the ids i4e actually served: if the
    # fixture ever grows past i4e's LIMIT 64 query cap, the raw
    # %31==7 slice would hold MORE queries than i4e answers and the
    # frame comparison would fail spuriously (r5 ADVICE.md)
    served_ids = served["id_a"].unique().tolist()
    assert len(served_ids) <= 64, "i4e query cap exceeded?"
    sliced = (
        qs["i4_topk_similar"]
        .fn(spark, SMOKE_SF_DIR)
        .filter(F.col("id_a").isin(served_ids))
        .toPandas()
    )
    key = ["id_a", "rk"]
    cols = ["id_a", "id_b", "cos_sim", "rk"]
    pd.testing.assert_frame_equal(
        sliced.sort_values(key).reset_index(drop=True)[cols],
        served.sort_values(key).reset_index(drop=True)[cols],
    )


def test_ann_ivf_recall_vs_exact(spark):
    """i4d (inverted-file ANN) must recover a reasonable share of true
    top-3 neighbor edges and emit well-formed rankings."""
    from mysql_to_clickhouse_spark.registry import all_queries
    from tests.conftest import SMOKE_SF_DIR

    exact = (
        all_queries()["i4_topk_similar"]
        .fn(spark, SMOKE_SF_DIR)
        .filter(F.col("rk") <= 3)
        .select("id_a", "id_b")
        .toPandas()
    )
    from mysql_to_clickhouse_spark.operators.llmops import _i4d_neighbors

    approx = _i4d_neighbors(spark, SMOKE_SF_DIR).toPandas()
    assert (approx["rk"] <= 3).all()
    assert (approx["id_a"] != approx["id_b"]).all()
    exact_edges = set(map(tuple, exact.values))
    approx_edges = set(map(tuple, approx[["id_a", "id_b"]].values))
    recall = len(exact_edges & approx_edges) / len(exact_edges)
    # 16 untrained cells, nprobe 2 on random-ish vectors: modest but real
    assert recall >= 0.25, f"IVF recall collapsed: {recall:.3f}"
    # the registered op is the hash-checked quality gate over this
    bound = all_queries()["i4d_ann_ivf"].fn(spark, SMOKE_SF_DIR).collect()[0]
    assert bound["recall_ge_030"], "registered IVF bound flag went false"


def test_exact_dedup_collapses_planted_dups(spark, tmp_path):
    from mysql_to_clickhouse_spark.registry import all_queries

    docs = _planted_docs(spark).withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("src0")
    ).withColumn("n_chars", F.length("text").cast("long"))
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    result = all_queries()["i1_exact_dedup"].fn(spark, str(tmp_path)).toPandas()
    # 6 docs, one exact duplicate pair (0,2) → 5 hash groups
    assert len(result) == 5
    dup_group = result[result["n_copies"] == 2]
    assert len(dup_group) == 1 and dup_group["keeper_doc_id"].iloc[0] == 0


def test_vector_path_auto_dispatch(spark, monkeypatch):
    """i3/i4 must choose the blocked cogroup path (no driver collect)
    when the Catalyst-estimated table size exceeds the broadcast
    threshold, and produce hashes identical to the broadcast kernel."""
    import mysql_to_clickhouse_spark.operators.llmops as llmops
    from mysql_to_clickhouse_spark.registry import all_queries
    from mysql_to_clickhouse_spark.tables import load
    from tests.conftest import SMOKE_SF_DIR

    qs = all_queries()
    emb = load(spark, SMOKE_SF_DIR, "embeddings")
    # default threshold: testbed table comfortably fits → broadcast path
    assert llmops._use_broadcast_path(spark, emb)
    bc_pairs = qs["i3_cosine_pairs"].fn(spark, SMOKE_SF_DIR).toPandas()
    bc_topk = qs["i4_topk_similar"].fn(spark, SMOKE_SF_DIR).toPandas()

    def boom(*_a, **_k):
        raise AssertionError("beyond-threshold dispatch must not collect")

    monkeypatch.setattr(llmops, "_broadcast_matrix", boom)
    spark.conf.set(llmops._VECTOR_BC_CONF, "0")
    try:
        assert not llmops._use_broadcast_path(spark, emb)
        pairs_df = qs["i3_cosine_pairs"].fn(spark, SMOKE_SF_DIR)
        topk_df = qs["i4_topk_similar"].fn(spark, SMOKE_SF_DIR)
        # the selected physical plan is the cogroup join, not mapInPandas
        for df in (pairs_df, topk_df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "FlatMapCoGroupsInPandas" in plan, plan
        blocked_pairs = pairs_df.toPandas()
        blocked_topk = topk_df.toPandas()
    finally:
        spark.conf.unset(llmops._VECTOR_BC_CONF)

    key = ["id_a", "id_b"]
    pd.testing.assert_frame_equal(
        bc_pairs.sort_values(key).reset_index(drop=True),
        blocked_pairs.sort_values(key).reset_index(drop=True),
    )
    pd.testing.assert_frame_equal(
        bc_topk.sort_values(key).reset_index(drop=True),
        blocked_topk.sort_values(key).reset_index(drop=True)[
            ["id_a", "id_b", "cos_sim", "rk"]
        ],
    )
    # a 1-byte threshold behaves like 0 (estimate is always larger)
    spark.conf.set(llmops._VECTOR_BC_CONF, "1")
    try:
        assert not llmops._use_broadcast_path(spark, emb)
    finally:
        spark.conf.unset(llmops._VECTOR_BC_CONF)


def test_topk_table_smaller_than_k(spark, tmp_path):
    """An embeddings table with n ≤ k vectors must yield n-1 contiguous
    ranks per query, not crash (k_eff regression guard)."""
    from mysql_to_clickhouse_spark.registry import all_queries

    rows = [
        (0, [1.0] * 64, 0),
        (1, [0.5] * 64, 1),
        (2, [-1.0] * 64, 0),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = all_queries()["i4_topk_similar"].fn(spark, str(tmp_path)).toPandas()
    assert len(out) == 6  # 3 queries × 2 neighbors
    for qid, grp in out.groupby("id_a"):
        assert sorted(grp["rk"]) == [1, 2]
        assert qid not in set(grp["id_b"])


def test_ivf_trained_centroids_survive_skew(spark, tmp_path):
    """Skewed set where the old lowest-vec_id centroid stand-in
    collapses: ids 0..119 form one tight cluster, 120..239 another.
    Trained sampled k-means must place centroids in BOTH clusters and
    keep neighbor recall high."""
    import numpy as np

    import mysql_to_clickhouse_spark.operators.llmops as llmops
    from mysql_to_clickhouse_spark.registry import all_queries
    from mysql_to_clickhouse_spark.tables import load

    rng = np.random.RandomState(7)
    dim = 64
    u_a = np.zeros(dim); u_a[0] = 1.0
    u_b = np.zeros(dim); u_b[1] = 1.0
    vecs = []
    for i in range(240):
        base = u_a if i < 120 else u_b
        v = base + 0.05 * rng.randn(dim)
        vecs.append((i, [float(x) for x in v], 0 if i < 120 else 1))
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    emb = load(spark, str(tmp_path), "embeddings")
    cents = llmops._ivf_centroids(spark, emb).toPandas()
    C = np.array([np.asarray(c) for c in cents["cvec"]])
    in_b = (C @ u_b > C @ u_a).sum()
    # lowest-vec_id centroids would give in_b == 0; k-means must split
    assert 3 <= in_b <= llmops._IVF_CELLS - 3, f"centroids collapsed: {in_b} in B"
    # cell balance — THE scale property. Collapsed centroids dump one
    # whole cluster (120 rows) into a single quadratic cell; trained
    # cells must stay bounded.
    X = np.array([v[1] for v in vecs], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sizes = np.bincount(np.argmax(Xn @ C.T, axis=1), minlength=len(C))
    assert sizes.max() <= 60, f"hot cell: {sorted(sizes)}"

    exact = (
        all_queries()["i4_topk_similar"]
        .fn(spark, str(tmp_path))
        .filter(F.col("rk") <= 3)
        .select("id_a", "id_b")
        .toPandas()
    )
    from mysql_to_clickhouse_spark.operators.llmops import _i4d_neighbors

    approx = _i4d_neighbors(spark, str(tmp_path)).toPandas()
    exact_edges = set(map(tuple, exact.values))
    approx_edges = set(map(tuple, approx[["id_a", "id_b"]].values))
    recall = len(exact_edges & approx_edges) / len(exact_edges)
    assert recall >= 0.65, f"IVF recall under skew: {recall:.3f}"


def test_mg_sketch_recovers_planted_heavy_hitter(spark, tmp_path):
    """Misra-Gries guarantee on genuinely skewed data: a gram holding
    >N/(capacity+1) occurrences MUST survive every partition summary
    and be recovered by the merge, with est <= exact."""
    import pandas as pd

    from mysql_to_clickhouse_spark.operators.llmops import (
        _mg_partition_summaries,
    )

    # 40% heavy hitter + uniform tail across 600 distinct grams
    grams = ["hot gram"] * 4000 + [f"g{i} g{i}" for i in range(600)] * 10
    cap = 64
    # two partition summaries over disjoint halves, merged by summation
    half = len(grams) // 2
    merged: dict[str, int] = {}
    for part in (grams[:half], grams[half:]):
        pdf = pd.DataFrame({"gram": part})
        (summary,) = list(_mg_partition_summaries(iter([pdf]), cap))
        for g, est in zip(summary["gram"], summary["est"]):
            merged[g] = merged.get(g, 0) + int(est)
    exact = grams.count("hot gram")
    assert "hot gram" in merged
    assert merged["hot gram"] <= exact
    assert exact - merged["hot gram"] <= len(grams) / (cap + 1)


def test_semantic_components_invariants(spark):
    """Every edge's endpoints share a component; the keeper is the min
    vec_id of its component; comp_size sums to the node count."""
    from mysql_to_clickhouse_spark.operators.llmops import (
        _SEMDUP_THETA,
        i16_semantic_components,
        i3_cosine_pairs,
    )
    from tests.conftest import TEST_SF_DIR

    comp = i16_semantic_components(spark, TEST_SF_DIR).toPandas()
    lbl = comp.set_index("vec_id")["component_id"]
    edges = (
        i3_cosine_pairs(spark, TEST_SF_DIR)
        .filter(F.col("cos_sim") >= _SEMDUP_THETA)
        .select("id_a", "id_b")
        .toPandas()
    )
    assert (lbl[edges["id_a"]].values == lbl[edges["id_b"]].values).all()
    keepers = comp[comp["is_keeper"]]
    assert (keepers["vec_id"] == keepers["component_id"]).all()
    by_comp = comp.groupby("component_id")["vec_id"].min()
    assert (by_comp.index == by_comp.values).all()  # label IS the min member
    assert comp.drop_duplicates("component_id")["comp_size"].sum() == len(comp)


def test_pack_sequences_chunking_exact(spark):
    """Offsets tile each (lang, shard) stream exactly: consecutive docs
    are contiguous in the token stream and offsets stay inside CTX."""
    from mysql_to_clickhouse_spark.operators.llmops import (
        _CTX,
        i13_pack_sequences,
    )
    from tests.conftest import TEST_SF_DIR

    pdf = (
        i13_pack_sequences(spark, TEST_SF_DIR)
        .toPandas()
        .sort_values(["lang", "shard", "doc_id"])
    )
    assert pdf["offset_in_seq"].between(0, _CTX - 1).all()
    for _, grp in pdf.groupby(["lang", "shard"]):
        starts = grp["start_offset"].to_numpy()
        toks = grp["n_tokens"].to_numpy()
        assert starts[0] == 0
        assert (starts[1:] == starts[:-1] + toks[:-1]).all()
        assert (grp["seq_id"].to_numpy() == starts // _CTX).all()


def test_components_pointer_jumping_beats_diameter(spark):
    """A 100-node chain has diameter 99; pure propagation would need
    ~99 rounds. Pointer jumping must collapse it in O(log n) — and the
    answer is still one component labeled by the min node."""
    from mysql_to_clickhouse_spark.operators.llmops import (
        connected_components,
    )

    nodes = spark.range(100).select(F.col("id"))
    edges = (
        spark.range(99)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    labels, rounds = connected_components(nodes, edges)
    pdf = labels.toPandas()
    assert (pdf["lbl"] == 0).all()
    assert rounds <= 12, f"pointer jumping should be O(log n); took {rounds}"


def test_bigram_surprisal_matches_reference(spark):
    """i23's fractional-score surface (bigram_surprisal_scores) equals
    a pure-Python bigram LM on the same corpus (tolerance only for
    float-sum association), and the REGISTERED integer-bits form
    (hash-checked by the driver since r11) equals the exact
    floor(-log2 P) of the same model."""
    import collections
    import math

    from mysql_to_clickhouse_spark.operators.llmops import (
        bigram_surprisal_scores,
    )
    from mysql_to_clickhouse_spark.registry import all_queries
    from mysql_to_clickhouse_spark.tables import load
    from tests.conftest import SMOKE_SF_DIR

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load(spark, SMOKE_SF_DIR, "documents").collect()
    }
    big = collections.Counter()
    uni = collections.Counter()
    for toks in docs.values():
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    v = len(uni)
    alpha = 0.5

    def terms(toks):
        return [
            -math.log2((big[p] + alpha) / (uni[p[0]] + alpha * v))
            for p in zip(toks, toks[1:])
        ]

    expected = {
        d: sum(s) / len(s)
        for d, t in docs.items()
        if (s := terms(t))
    }
    got = {
        r["doc_id"]: r["mean_surprisal"]
        for r in bigram_surprisal_scores(spark, SMOKE_SF_DIR).collect()
    }
    assert set(got) == set(expected)
    for d in expected:
        assert abs(got[d] - expected[d]) < 1e-9, d

    # integer-bits form: exact floor of each bigram's surprisal. The
    # float reference needs no tolerance here — floor(-log2(num/den))
    # of exact rationals via math is reliable at fixture magnitudes,
    # and the distributed side computes it in pure integer arithmetic.
    def bits(toks):
        return [
            math.floor(
                -math.log2((2 * big[p] + 1) / (2 * uni[p[0]] + v))
            )
            for p in zip(toks, toks[1:])
        ]

    expected_bits = {
        d: (len(s), sum(s)) for d, t in docs.items() if (s := bits(t))
    }
    got_bits = {
        r["doc_id"]: (r["n_bigrams"], r["bits_total"])
        for r in all_queries()["i23_bigram_surprisal"]
        .fn(spark, SMOKE_SF_DIR)
        .collect()
    }
    assert got_bits == expected_bits


def test_pq_adc_recall_vs_exact(spark):
    """i26 (product-quantization ADC) must rank true neighbors well:
    for each capped query, the approx top-3 should recover a real share
    of the exact top-3 edges, and scores must be finite and ordered."""
    import numpy as np

    from mysql_to_clickhouse_spark.registry import all_queries
    from tests.conftest import SMOKE_SF_DIR

    approx = all_queries()["i26_pq_adc"].fn(spark, SMOKE_SF_DIR).toPandas()
    assert (approx["rk"] <= 3).all()
    assert (approx["query_id"] != approx["neighbor_id"]).all()
    assert np.isfinite(approx["approx_score"]).all()
    # per-query scores are non-increasing in rank
    for _, g in approx.groupby("query_id"):
        s = g.sort_values("rk")["approx_score"].to_numpy()
        assert (np.diff(s) <= 1e-12).all()

    exact = (
        all_queries()["i4_topk_similar"]
        .fn(spark, SMOKE_SF_DIR)
        .filter(F.col("rk") <= 3)
        .select("id_a", "id_b")
        .toPandas()
    )
    qids = set(approx["query_id"])
    exact_edges = {
        (a, b) for a, b in map(tuple, exact.values) if a in qids
    }
    approx_edges = set(map(tuple, approx[["query_id", "neighbor_id"]].values))
    recall = len(exact_edges & approx_edges) / max(len(exact_edges), 1)
    # 8x16 codebooks on random-ish 64-dim vectors: coarse but must be
    # far above chance (chance ~ 3/500 per edge)
    assert recall >= 0.2, f"PQ-ADC recall collapsed: {recall:.3f}"


def test_pq_codebooks_deterministic(spark):
    """Two trainings on the same table are bit-identical (seedless,
    hash-ordered sample, fixed iteration count)."""
    import numpy as np

    from mysql_to_clickhouse_spark.operators.llmops import _pq_codebooks
    from mysql_to_clickhouse_spark.tables import load
    from tests.conftest import SMOKE_SF_DIR

    emb = load(spark, SMOKE_SF_DIR, "embeddings").select("vec_id", "embedding")
    b1 = _pq_codebooks(spark, emb)
    b2 = _pq_codebooks(spark, emb)
    np.testing.assert_array_equal(b1, b2)


def test_sketch_quality_on_planted_dups(spark, tmp_path):
    """i30: with planted near-duplicates, the quality report must show
    perfect recall (the planted pair is found) and sane precision
    bounds (0 < p <= 1)."""
    from pyspark.sql import Row

    base = " ".join(f"w{i}" for i in range(40))
    near = base.replace("w39", "x39")        # jaccard >> 0.5
    docs = [
        Row(doc_id=1, text=base, lang="en", source="s0", n_chars=len(base)),
        Row(doc_id=2, text=near, lang="en", source="s0", n_chars=len(near)),
        Row(doc_id=3, text=" ".join(f"z{i}" for i in range(40)), lang="en",
            source="s0", n_chars=10),
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")

    from mysql_to_clickhouse_spark.operators.llmops import i30_sketch_quality

    out = i30_sketch_quality(spark, sf).collect()[0]
    assert out.n_true == 1          # exactly the planted pair
    assert out.n_hit == 1           # ...and LSH found it
    assert out.recall == 1.0
    assert 0.0 < out.precision <= 1.0


def _docs_sf(spark, tmp_path, rows):
    """Write a minimal documents.parquet fixture (full schema)."""
    df = spark.createDataFrame(
        [
            (i, t, "en", src, len(t))
            for (i, t, src) in rows
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")
    return sf


def test_canonical_keeper_keeps_longest(spark, tmp_path):
    """i35 must keep the LONGEST cluster member even when it has the
    HIGHER doc_id — the policy that distinguishes it from i16's
    min-label keeper."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun"
    )
    longer = base + " during a long golden evening hour"
    lone = "completely unrelated text about rivers mountains and storms"
    sf = _docs_sf(
        spark, tmp_path, [(10, base, "web"), (20, longer, "web"), (30, lone, "web")]
    )

    from mysql_to_clickhouse_spark.operators.llmops import i35_canonical_keeper

    out = {r.doc_id: r for r in i35_canonical_keeper(spark, sf).collect()}
    assert out[10].component_id == out[20].component_id
    assert out[10].comp_size == 2 and out[20].comp_size == 2
    assert out[20].is_keeper and not out[10].is_keeper  # longest wins
    assert out[30].is_keeper and out[30].comp_size == 1


def test_token_budget_exact_prefix(spark, tmp_path):
    """i36's kept set must be exactly the maximal md5-order prefix
    whose token total fits the budget, recomputed independently in
    Python."""
    import hashlib

    rows = [(i, " ".join(["w"] * (400 + 137 * (i % 7))), "web") for i in range(30)]
    sf = _docs_sf(spark, tmp_path, rows)

    from mysql_to_clickhouse_spark.operators.llmops import (
        _I36_BUDGET,
        i36_token_budget,
    )

    got = {r.doc_id: r.cum_tokens for r in i36_token_budget(spark, sf).collect()}
    order = sorted(
        rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])
    )
    expect, cum = {}, 0
    for doc_id, text, _src in order:
        cum += len(text.split(" "))
        if cum <= _I36_BUDGET:
            expect[doc_id] = cum
    assert got == expect
    assert expect  # budget must actually admit a non-empty prefix


def test_incremental_ingest_verdicts(spark, tmp_path):
    """Planted batch-vs-corpus cases: an exact dup (same text), a near
    dup (one word changed), a clean keeper — and exact precedence when
    both kinds of match exist."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun"
    )
    near = base.replace("afternoon", "evening")
    rows = [
        # corpus (doc_id % 5 != 0)
        (1, base, "web"),
        (2, "totally unrelated corpus text about rivers and storms", "web"),
        # batch (doc_id % 5 == 0)
        (5, base, "web"),        # exact dup of 1 (also near of 1 -> exact wins)
        (10, near, "web"),       # near dup of 1
        (15, "fresh new content words nobody wrote before today", "web"),
        (20, base, "books"),     # same text, DIFFERENT source: exact match
                                 # is source-agnostic (hash join), near is
                                 # source-blocked
    ]
    sf = _docs_sf(spark, tmp_path, rows)

    from mysql_to_clickhouse_spark.operators.llmops import i38_incremental_ingest

    out = {r.doc_id: r for r in i38_incremental_ingest(spark, sf).collect()}
    assert out[5].verdict == "exact" and out[5].dup_of == 1
    assert out[10].verdict == "near" and out[10].dup_of == 1
    assert out[15].verdict == "keep" and out[15].dup_of == -1
    assert out[20].verdict == "exact" and out[20].dup_of == 1
    assert set(out) == {5, 10, 15, 20}


def test_shingle_ops_empty_shingle_docs_vs_oracle(spark, tmp_path):
    """Docs of fewer than 3 words have no shingles, so the postings
    never pair them. i2b, i22 and i38 must still hash-match their
    DuckDB oracles on such docs. For i22 the agreement rests on
    DuckDB's double division: its 0.0/0.0 containment for an empty
    contained doc is NULL, and NULL >= theta drops the pair."""
    import duckdb

    from mysql_to_clickhouse_spark.registry import all_queries
    from mysql_to_clickhouse_spark.verify import run_and_compare

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun"
    )
    near = base.replace("afternoon", "evening")
    rows = [
        (1, base, "web"),          # corpus
        (2, "two words", "web"),   # corpus, no shingles
        (5, "tiny", "web"),        # batch, no shingles
        (10, near, "web"),         # batch, near dup of 1
        (13, near, "books"),       # corpus, another source
    ]
    sf = _docs_sf(spark, tmp_path, rows)
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * "
        f"FROM '{sf}/documents.parquet/*.parquet'"
    )
    queries = all_queries()
    for name in (
        "i2b_jaccard_exact",
        "i22_containment_dedup",
        "i38_incremental_ingest",
    ):
        res = run_and_compare(spark, con, queries[name], sf)
        assert res.ok, (name, res)
    con.close()


def test_shingle_overlaps_hot_key_matches_brute_force(spark):
    """One boilerplate 3-gram shared by 40 docs of one source (df 40,
    far above any fixture's): self mode emits each unordered
    same-source pair once, bipartite mode only left x right pairs,
    with n_common/n_a/n_b equal to Python set intersection."""
    from itertools import combinations

    from mysql_to_clickhouse_spark.functions.text import distinct_shingles
    from mysql_to_clickhouse_spark.operators.llmops import _shingle_overlaps

    rows = [
        (i, f"lorem ipsum dolor g{i % 4} h{i % 4} k{i % 4} tail{i} end{i}", "web")
        for i in range(40)
    ]
    rows += [(100 + i, f"lorem ipsum dolor books{i} only{i}", "books") for i in range(5)]
    sh = spark.createDataFrame(rows, "doc_id long, text string, source string").select(
        "doc_id", "source", distinct_shingles("text").alias("shingles")
    )
    sets = {r.doc_id: (r.source, set(r.shingles)) for r in sh.collect()}

    def expected(pairs):
        out = {}
        for a, b in pairs:
            (src_a, sa), (src_b, sb) = sets[a], sets[b]
            if src_a == src_b and sa & sb:
                out[(a, b)] = (len(sa & sb), len(sa), len(sb))
        return out

    def got(df):
        rows = df.collect()
        keyed = {(r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b) for r in rows}
        assert len(keyed) == len(rows)  # no pair emitted twice
        return keyed

    self_pairs = expected(combinations(sorted(sets), 2))
    assert got(_shingle_overlaps(sh)) == self_pairs
    assert len(self_pairs) == 40 * 39 // 2 + 5 * 4 // 2

    left = sh.filter(F.col("doc_id") % 5 == 0)
    right = sh.filter(F.col("doc_id") % 5 != 0)
    ids = sorted(sets)
    bipartite = expected(
        (a, b) for a in ids for b in ids if a % 5 == 0 and b % 5 != 0
    )
    assert got(_shingle_overlaps(left, right)) == bipartite
    assert bipartite


def test_leakage_free_split_keeps_neardups_together(spark, tmp_path):
    """A near-dup pair must NEVER straddle the train/validation
    boundary — the property that makes the split leakage-free."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun"
    )
    near = base.replace("afternoon", "evening")
    rows = [(i, f"unique filler text number {i} about topic {i}", "web")
            for i in range(3, 20)]
    rows += [(0, base, "web"), (1, near, "web")]
    sf = _docs_sf(spark, tmp_path, rows)

    from mysql_to_clickhouse_spark.operators.llmops import i39_leakage_free_split

    out = {r.doc_id: r for r in i39_leakage_free_split(spark, sf).collect()}
    assert out[0].component_id == out[1].component_id
    assert out[0].split == out[1].split
    assert set(r.split for r in out.values()) <= {"train", "validation"}


def test_broadcast_kernel_chunk_bound(spark):
    """The tile kernels must be bit-identical under a forced tiny chunk
    budget (many sub-batch kernel calls) — the per-worker memory bound
    that keeps 32 concurrent workers resident beside the JVM at bench
    scale must be a pure slicing choice, never a result change. Covers
    the broadcast path (i3, i4) and the blocked cogroup (i3c, i4c),
    whose ~250-row groups at sf0.001 are sliced to the 64-row floor."""
    import mysql_to_clickhouse_spark.operators.llmops as llmops
    from mysql_to_clickhouse_spark.registry import all_queries
    from tests.conftest import SMOKE_SF_DIR

    qs = all_queries()
    names = [
        "i3_cosine_pairs", "i4_topk_similar",
        "i3c_cosine_blocked", "i4c_topk_blocked",
    ]

    def sorted_pdf(name):
        pdf = qs[name].fn(spark, SMOKE_SF_DIR).toPandas()
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    base = {name: sorted_pdf(name) for name in names}
    # tiny cell budget -> chunk floor of 64 rows per kernel call
    spark.conf.set(llmops._CHUNK_CELLS_CONF, "1")
    try:
        assert llmops._chunk_rows_for(spark, 1000) == 64
        chunked = {name: sorted_pdf(name) for name in names}
    finally:
        spark.conf.unset(llmops._CHUNK_CELLS_CONF)
    for name in names:
        pd.testing.assert_frame_equal(base[name], chunked[name])


def _lsh_sides(spark, sf_dir):
    from mysql_to_clickhouse_spark.operators import llmops
    from mysql_to_clickhouse_spark.tables import load

    cells = llmops._lsh_cells(load(spark, sf_dir, "embeddings"))
    return cells, cells


def _ivf_sides(spark, sf_dir):
    from mysql_to_clickhouse_spark.operators import llmops
    from mysql_to_clickhouse_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = llmops._ivf_centroids(spark, emb)
    probes = llmops._nearest_cells(emb, cents, llmops._IVF_NPROBE)
    return probes, probes.filter(F.col("crk") == 1)


@pytest.mark.parametrize(
    "name, sides",
    [("_i4b_neighbors", _lsh_sides), ("_i4d_neighbors", _ivf_sides)],
)
def test_ann_cell_tiles_equal_sql_pair_reference(spark, name, sides):
    """The ANN operators' per-cell numpy tiles give exactly the rows of
    the SQL pair path they replaced: the same candidate pairs (rows
    sharing a cell, self excluded, each pair once) built by an
    equi-join, scored with the SQL ``cosine`` expression and ranked by
    ``rank_topk``."""
    from mysql_to_clickhouse_spark.functions.vectors import cosine, rank_topk
    from mysql_to_clickhouse_spark.operators import llmops
    from tests.conftest import SMOKE_SF_DIR

    left, right = sides(spark, SMOKE_SF_DIR)
    a = left.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"), "cell"
    )
    b = right.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"), "cell"
    )
    cand = (
        a.join(b, "cell")
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", cosine("ea", "eb").alias("cos_sim"))
    )

    def sorted_pdf(df):
        pdf = df.toPandas()
        return pdf.sort_values(["id_a", "rk"]).reset_index(drop=True)

    want = sorted_pdf(rank_topk(cand, 3))
    got = sorted_pdf(getattr(llmops, name)(spark, SMOKE_SF_DIR))
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)

"""§2.I — LLM-training-data pipeline operators (the north star,
BASELINE.json:6): deduplication (exact / MinHash-LSH / SimHash / n-gram
Jaccard / embedding-cosine), similarity search (brute-force + LSH
bucketed ANN), text analysis, TF-IDF, vector hygiene, kNN.

Everything is DataFrame-native (array lambdas + joins + windows); no
Python in the hot path. Deterministic numerics via functions.vectors /
functions.numeric fixed-point.

Scale shapes (the part that matters at 100 TB):
- Exact dedup: hash-groupBy — one shuffle on the content hash.
- MinHash-LSH: explode→min-aggregate→band-bucket join. Candidate pairs
  are generated per LSH bucket, NEVER all-pairs. O(n·shingles) map work
  + bucket-local joins.
- Brute-force cosine is the CORRECTNESS baseline only; i4b is the scale
  path (hyperplane-LSH buckets shrink the pair space; block the
  remainder).
- TF-IDF: two hash aggregates (term-doc counts, doc freq) + broadcast
  of the doc count scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mysql_to_clickhouse_spark import caches
from mysql_to_clickhouse_spark.functions.numeric import (
    fixed_point,
    o_dsum,
    o_fixed_point,
)
from mysql_to_clickhouse_spark.functions.text import (
    distinct_shingles,
    o_distinct_shingles,
    o_tokens,
    o_word_shingles,
    tokens,
    word_shingles,
)
from mysql_to_clickhouse_spark.functions.vectors import (
    DOT_SCALE,
    cosine,
    l2_norm,
    o_cosine,
    o_l2_norm,
    o_quantized,
    rank_topk,
)
from mysql_to_clickhouse_spark.plans.prefix import running_sums
from mysql_to_clickhouse_spark.registry import register
from mysql_to_clickhouse_spark.tables import load

# ---------------------------------------------------------------------------
# i1_exact_dedup — content-hash dedup
# ---------------------------------------------------------------------------

_I1_ORACLE = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY content_hash
ORDER BY content_hash
"""


@register("i1_exact_dedup", oracle=_I1_ORACLE)
def i1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep min doc_id per content hash. One shuffle on the
    hash; at 100 TB hash first (map-side), never groupBy raw text
    (shuffling full documents vs 32-char digests). All sf0.01 texts are
    distinct → every group has n_copies=1, which the oracle confirms."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        
    )


# ---------------------------------------------------------------------------
# i2_minhash_neardup — MinHash + banded LSH near-duplicate candidates
# ---------------------------------------------------------------------------

_MINHASH_K = 16  # signature length
_BANDS = 4  # → rows-per-band r = 4; θ ≈ (1/b)^(1/r) ≈ 0.71 jaccard
_BUCKET_CAP = 32  # band buckets larger than this switch to star linking


def _minhash_sigs(spark: SparkSession, exploded: DataFrame, sf_dir: str) -> DataFrame:
    """Per-(session, sf_dir) persisted signature frame.

    IMMUTABLE-INPUT INVARIANT: the cache is keyed on the path, not a
    data fingerprint — on a hit the passed ``exploded`` plan is ignored.
    Testbed sf_dirs are immutable by contract; anything that rewrites
    data under a previously-loaded path within one session MUST call
    ``release_caches(spark)`` first or i2 will reuse stale signatures."""
    per_session = caches.entries(spark, "llmops_sigs")
    if sf_dir in per_session:
        return per_session[sf_dir]
    min_cols = [
        F.min(F.xxhash64(F.lit(k), F.col("shingle"))).alias(f"m{k}")
        for k in range(_MINHASH_K)
    ]
    sigs = exploded.groupBy("doc_id").agg(*min_cols).persist()
    per_session[sf_dir] = sigs
    return sigs


def release_caches(spark: SparkSession) -> None:
    """Release the llmops caches for ``spark``: MinHash signature
    frames, broadcast embedding matrices, word-count frames (i21) and
    the final connected-components label checkpoints. Frames produced by
    ``connected_components`` are INVALID after this call (their
    localCheckpoint data is dropped); re-invoke the operator for a
    fresh frame. ``session.release_all`` drains these and every other
    session cache."""
    caches.release(
        spark, "llmops_sigs", "llmops_matrices", "llmops_wordcounts",
        "llmops_ckpts",
    )


@register(
    "i2_minhash_neardup",
    oracle=None,
    tier="T3",
    no_oracle_reason=(
        "banded-LSH recall < 1 by design — no exact SQL can state which "
        "near-pairs the bands surface; planted-dup recall is asserted, "
        "and i2b/i30 hash-check the exact-Jaccard and precision/recall "
        "sides"
    ),
    test="tests/test_llmops.py::test_minhash_lsh_recall_on_planted_dups",
)
def i2_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands × 4 rows) near-dup detection over 3-word
    shingles, with exact-Jaccard verification of every candidate pair.

    Pipeline: shingle (map) → explode → per-doc min of k seeded
    xxhash64 (one hash-agg pass, 16 mins at once) → band hashes →
    bucket join for candidates → exact Jaccard recheck on shingle sets.
    Rows-only check (LSH recall < 1 is inherent); recall on planted
    near-dups is asserted in tests/test_llmops.py.

    Scale: never materializes all pairs — candidates only within equal
    (band_idx, band_hash) buckets; the band join shuffles doc_id pairs,
    not documents. A degenerate hot bucket (boilerplate that hashes
    thousands of docs to one band value) would still be quadratic, so
    buckets over _BUCKET_CAP members switch to star linking: every
    member pairs with the bucket's min doc_id only (n-1 pairs; the
    cluster stays connected through its representative).

    Star-linking recall caveat: connectivity holds for the CANDIDATE
    set; the exact-Jaccard recheck then scores each (rep, member) pair
    individually, so a member whose similarity to the representative
    falls below the 0.5 threshold drops out even if it would pass
    against some other bucket member. Accepted tradeoff for a rows-only
    approximate operator: hot buckets are near-identical boilerplate in
    practice (the planted-boilerplate test keeps all 120 members
    linked), and the alternative — transitive closure inside hot
    buckets — reintroduces the quadratic work the cap exists to stop."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", distinct_shingles("text").alias("shingles")
    )
    exploded = docs.select("doc_id", F.explode("shingles").alias("shingle"))
    # the signature pipeline feeds both sides of the band self-join AND
    # the Jaccard recheck — cached per (session, sf_dir) so the
    # explode+16-min aggregate runs once, not 2-4× (release_caches frees)
    sigs = _minhash_sigs(spark, exploded, sf_dir)
    rows_per_band = _MINHASH_K // _BANDS
    band_cols = [
        F.xxhash64(
            F.lit(b), *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band{b}")
        for b in range(_BANDS)
    ]
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), band_cols[b].alias("band_hash"))
                    for b in range(_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")
    bucket_w = Window.partitionBy("band_idx", "band_hash")
    sized = banded.select(
        "doc_id",
        "band_idx",
        "band_hash",
        F.count(F.lit(1)).over(bucket_w).alias("bucket_n"),
        F.min("doc_id").over(bucket_w).alias("bucket_rep"),
    )
    small = sized.filter(F.col("bucket_n") <= _BUCKET_CAP)
    pairs_small = (
        small.alias("x")
        .join(
            small.alias("y"),
            [
                F.col("x.band_idx") == F.col("y.band_idx"),
                F.col("x.band_hash") == F.col("y.band_hash"),
                F.col("x.doc_id") < F.col("y.doc_id"),
            ],
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
    )
    pairs_hot = (
        sized.filter(
            (F.col("bucket_n") > _BUCKET_CAP)
            & (F.col("doc_id") != F.col("bucket_rep"))
        )
        .select(
            F.col("bucket_rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
    )
    cand = pairs_small.unionByName(pairs_hot).distinct()
    # exact-Jaccard verification of candidates (kills LSH false positives)
    sh = docs.select(
        F.col("doc_id").alias("vid"), F.col("shingles").alias("vshingles")
    )
    verified = (
        cand.join(sh.withColumnRenamed("vid", "doc_a"), "doc_a")
        .withColumnRenamed("vshingles", "sh_a")
        .join(
            sh.withColumnRenamed("vid", "doc_b").withColumnRenamed(
                "vshingles", "sh_b"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_common"),
            F.size("sh_a").cast("long").alias("n_a"),
            F.size("sh_b").cast("long").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    return verified


# ---------------------------------------------------------------------------
# i2b_jaccard_exact — exact n-gram Jaccard (SQL-verifiable ground truth)
# ---------------------------------------------------------------------------

_I2B_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, source, {o_distinct_shingles('text')} AS shingles
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_common,
       CAST(len(a.shingles) AS BIGINT) AS n_a,
       CAST(len(b.shingles) AS BIGINT) AS n_b,
       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         / CAST(len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS jaccard
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles)) > 0
ORDER BY doc_a, doc_b
"""


@register("i2b_jaccard_exact", oracle=_I2B_ORACLE)
def i2b_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard for same-source pairs with any
    shingle overlap — the SQL-checkable ground truth that i2's LSH
    approximates (and the exact recheck it reuses).

    Blocking key = source (the standard 'never all-pairs' move: compare
    within blocks only).

    Intersection sizes come from the shingle postings
    (_shingle_overlaps): a pair appears iff it shares >= 1 shingle,
    which is the oracle's n_common > 0 gate, and n_common counts each
    shared shingle once because distinct_shingles dedups per doc.
    Shingles join as exact strings (hashing them to int64 would trade
    exactness for bytes — this op is i2's ground truth, so no
    collisions allowed)."""
    sh = load(spark, sf_dir, "documents").select(
        "doc_id", "source", distinct_shingles("text").alias("shingles")
    )
    n_common, na, nb = F.col("n_common"), F.col("n_a"), F.col("n_b")
    return _shingle_overlaps(sh).select(
        "doc_a",
        "doc_b",
        "n_common",
        "n_a",
        "n_b",
        (n_common.cast("double") / (na + nb - n_common).cast("double"))
        .alias("jaccard"),
    )


def _shingle_overlaps(
    left: DataFrame, right: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b, n_common, n_a, n_b) for every same-source pair
    sharing at least one shingle, from (doc_id, source, shingles)
    frames whose shingles are distinct per doc. Without ``right`` the
    pairs come from ``left`` alone with doc_a < doc_b (each unordered
    pair once); with it, doc_a is from ``left`` and doc_b from
    ``right``.

    Inverted index: explode each side to postings, equi-join them on
    (source, shingle) and count joined rows per pair. Because each
    side's shingles are distinct, every shared shingle contributes
    exactly one joined row, so the count is |A ∩ B|. The set sizes
    n_a/n_b ride the postings (constant per doc, recovered with max()),
    so callers need no join back to the documents for them. A doc with
    no shingles has no postings and appears in no pair.

    Cost: O(Σ df²) joined rows, where df is one (source, shingle)
    key's posting count, all landing on that key's task. A boilerplate
    shingle shared by most of a source makes that one key quadratic;
    the skew route for such keys (ROADMAP.md, the postings-primitive
    direction) belongs here, so every shingle-overlap op gets it."""

    def postings(sh: DataFrame, side: str) -> DataFrame:
        # explode_outer + IS NOT NULL, not explode: from an inner
        # explode Spark infers size(shingles) > 0 and pushes it below
        # the projection, re-running the shingle lambdas per filter.
        return (
            sh.select(
                F.col("doc_id").alias(f"doc_{side}"),
                "source",
                F.size("shingles").cast("long").alias(f"n_{side}"),
                F.explode_outer("shingles").alias("s"),
            )
            .where(F.col("s").isNotNull())
            .alias(side)
        )

    a = postings(left, "a")
    b = postings(left if right is None else right, "b")
    on = [F.col("a.source") == F.col("b.source"), F.col("a.s") == F.col("b.s")]
    if right is None:
        on.append(F.col("doc_a") < F.col("doc_b"))
    return (
        a.join(b, on)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )


# ---------------------------------------------------------------------------
# i2c_simhash — 32-bit SimHash fingerprints
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32


def _simhash_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash fingerprints (the planted-dup
    Hamming tests drive this form directly)."""
    docs = load(spark, sf_dir, "documents")
    tok_hashes = F.transform(tokens("text"), lambda t: F.xxhash64(t))
    hashes_col = F.col("tok_hashes")
    n = F.size(hashes_col)
    bit_terms = []
    for b in range(_SIMHASH_BITS):
        n_set = F.size(
            F.filter(hashes_col, lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1)
        )
        bit_terms.append(
            F.when(2 * n_set - n >= 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
        )
    simhash = sum(bit_terms[1:], start=bit_terms[0])
    return (
        docs.select("doc_id", tok_hashes.alias("tok_hashes"))
        .select(
            "doc_id",
            simhash.alias("simhash32"),
            F.shiftright(simhash, _SIMHASH_BITS - 8).alias("bucket_hi8"),
        )

    )


_I2C_ORACLE = """
WITH fp AS (
  SELECT count(*) AS n_docs, sum(n_chars) AS s_chars FROM documents
)
-- simhash mixes Spark's xxhash64 bit pattern (no DuckDB twin); the
-- digest of the full per-row fingerprint relation is deterministic
-- and pinned per fixture fingerprint (the i30/g10b precedent) —
-- unknown fixture -> NULLs -> loud mismatch.
SELECT
  CAST(n_docs AS BIGINT) AS n_docs,
  CAST(CASE WHEN n_docs = 500  AND s_chars = 153156  THEN 2612068385
            WHEN n_docs = 500  AND s_chars = 149174  THEN 2972548675
            WHEN n_docs = 5000 AND s_chars = 1485576 THEN 1834883007
  END AS BIGINT) AS sim_xor,
  CAST(CASE WHEN n_docs = 500  AND s_chars = 153156  THEN 41605
            WHEN n_docs = 500  AND s_chars = 149174  THEN 41773
            WHEN n_docs = 5000 AND s_chars = 1485576 THEN 404713
  END AS BIGINT) AS hi8_sum,
  CAST(CASE WHEN n_docs = 500  AND s_chars = 153156  THEN 69
            WHEN n_docs = 500  AND s_chars = 149174  THEN 56
            WHEN n_docs = 5000 AND s_chars = 1485576 THEN 115
  END AS BIGINT) AS n_hi8
FROM fp
"""


@register(
    "i2c_simhash",
    oracle=_I2C_ORACLE,
    tier="T3",
    test="tests/test_llmops.py::test_simhash_hamming_on_planted_dups",
)
def i2c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprint: per bit b, the sign of
    Σ_tokens (±1 for bit b of xxhash64(token)); near-dups differ in few
    bits (Hamming). Pure array lambdas — per-doc work is O(tokens×bits)
    map-side with zero shuffle. DuckDB cannot compute the xxhash64 mix,
    but the digest of the full per-row fingerprint relation (bit-XOR
    of every simhash, high-byte bucket mass and cardinality) is
    deterministic — pinned per fixture fingerprint in the oracle (the
    i30/g10b precedent), catching any drift in the token/hash/sign
    pipeline loudly. Planted-duplicate Hamming-distance behavior stays
    unit-tested on the per-row form (_simhash_rows).

    Scale: map-side fingerprints + one 1-row algebraic aggregate
    (bit_xor/sum combine map-side)."""
    return _simhash_rows(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("bit_xor(simhash32)").alias("sim_xor"),
        F.sum("bucket_hi8").alias("hi8_sum"),
        F.count_distinct("bucket_hi8").alias("n_hi8"),
    )


# ---------------------------------------------------------------------------
# i3_cosine_pairs — embedding near-dup pairs (brute force, exact)
# ---------------------------------------------------------------------------

_I3_ORACLE = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {o_cosine('a.embedding', 'b.embedding')} AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {o_cosine('a.embedding', 'b.embedding')} >= 0.25
ORDER BY id_a, id_b
"""


def _broadcast_matrix(spark: SparkSession, emb: DataFrame, sf_dir: str):
    """Collect the embedding table once (vec_id-sorted) and broadcast
    (ids, quantized matrix, exact norms) to every task — the fixed side
    of ``_cosine_tiles``' "table" topology.

    Scale note: at testbed/embedding-table sizes (≤ a few 1e5 × small
    dim) broadcasting the matrix is THE right plan — every partition
    scans its own rows against the broadcast side with zero shuffle
    (a broadcast nested-loop specialized to matrix arithmetic). When
    the table outgrows a broadcast, the "blocked" topology runs the
    same kernel over a block-matrix cogroup — one extra shuffle."""
    # one collect + broadcast per (session, table); repeated i3/i4/i8
    # invocations reuse it instead of leaking broadcast blocks
    per_session = caches.entries(spark, "llmops_matrices")
    if sf_dir not in per_session:
        pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
        per_session[sf_dir] = spark.sparkContext.broadcast(_np_block(pdf))
    return per_session[sf_dir]


def _np_topk_sel(cos_w, ids, k):
    """Vectorized row-wise top-k column indices by (cos desc, id asc).

    ``cos_w``: (nq, n) cosine matrix with excluded columns (self, etc.)
    already set to -inf. Batch argpartition of a (k + slack) window +
    one per-row lexsort over just that window replaces a full n-element
    lexsort per row. Quantized cosines can tie exactly: if the value at
    rank k-1 equals the window's worst value the tie group may extend
    past the window — those rare rows are resolved with a full sort.
    Returns (nq, min(k, n)) int indices."""
    import numpy as np

    nq, n = cos_w.shape
    k_eff = min(k, n)
    m = min(k_eff + 8, n)
    part = np.argpartition(-cos_w, m - 1, axis=1)[:, :m]
    win_cos = np.take_along_axis(cos_w, part, axis=1)
    order = np.lexsort((ids[part], -win_cos), axis=1)
    sel_sorted = np.take_along_axis(part, order, axis=1)
    sel = sel_sorted[:, :k_eff]
    if m > k_eff:
        win_sorted = np.take_along_axis(cos_w, sel_sorted, axis=1)
        risky = np.nonzero(win_sorted[:, k_eff - 1] <= win_sorted[:, m - 1])[0]
        if risky.size:
            sel = sel.copy()
            for qi in risky:
                full = np.lexsort((ids, -cos_w[qi]))
                sel[qi] = full[:k_eff]
    return sel


def _spread(df: DataFrame) -> DataFrame:
    """Repartition the kernel's query side up to the session's shuffle
    width (capped by executor parallelism).

    A small parquet file scans as ONE partition, which would run the
    whole O(n_query × n_table) mapInPandas kernel on a single core.
    The round-robin shuffle moves only the query rows — trivial next to
    the kernel — and at cluster scale a many-partition scan passes
    through untouched. Target = configured shuffle partitions, NOT raw
    core count: per-task Python-worker/Arrow overhead (~10 ms) makes
    over-splitting a net loss (measured sf0.1 v1: 266 ms @1 part,
    196 ms @8, 371 ms @16)."""
    spark = df.sparkSession
    try:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto"
        width = spark.sparkContext.defaultParallelism
    target = min(width, spark.sparkContext.defaultParallelism)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


_CHUNK_CELLS_CONF = "spark.mysql2ch.cosine.chunkCells"
_CHUNK_CELLS_DEFAULT = 16_000_000  # ~128 MB of float64 per live matrix


def _chunk_rows_for(spark: SparkSession, n_table: int) -> int:
    """Streamed rows per kernel call so the tile's cosine matrix (plus
    its masked copy and the dgemm intermediate) stays bounded per
    worker REGARDLESS of the Arrow batch size or the cell size. Without
    this, the default 10k-row Arrow batch against a 20k-vector
    broadcast makes every worker hold multiple multi-GB matrices — 32
    concurrent workers beside a 30 GB JVM OOMed the 1e8-tier bench
    box."""
    return _chunk_rows(_chunk_cells(spark), n_table)


def _chunk_cells(spark: SparkSession) -> int:
    return int(spark.conf.get(_CHUNK_CELLS_CONF, str(_CHUNK_CELLS_DEFAULT)))


def _chunk_rows(cells: int, n_table: int) -> int:
    """``_chunk_rows_for`` given the budget read on the driver — the
    form a worker uses once it knows its cell's candidate count."""
    return max(64, cells // max(n_table, 1))


def _rechunk(batches, rows: int):
    """Re-slice an Arrow batch iterator to ≤ ``rows`` rows per yield —
    pure iteration, no copy beyond the pandas slice view."""
    for pdf in batches:
        if len(pdf) <= rows:
            yield pdf
        else:
            for lo in range(0, len(pdf), rows):
                yield pdf.iloc[lo : lo + rows]


# ---------------------------------------------------------------------------
# _cosine_tiles — the one exact-cosine primitive (i3/i4/i4b/i4d/i4e/i4f/i8/i28)
# ---------------------------------------------------------------------------
# Every exact cosine operator is the quantized numpy kernel
# (functions/vectors.np_fixed_cosines) run over (left rows × right rows)
# tiles, with an EMITTER turning each tile's cosine matrix into output
# rows. Left rows are the ones answered (queries, corpus rows); right
# rows are the candidates. Three topologies:
#
# - "table": the right side is collected once and broadcast
#   (_broadcast_matrix, cached per session); mapInPandas streams the
#   spread left side in _chunk_rows_for-bounded slices. Zero shuffle of
#   pairs; each tile sees every candidate, so a top-k is final.
# - "queries": the bounded left side (a LIMITed query batch) is
#   collected and broadcast; the right side is streamed once. Legal at
#   any corpus size; a top-k is local to each streamed slice.
# - "cells": both sides carry a caller-assigned ``cell`` key (an LSH
#   bucket, an IVF cell); one cogroup on ``cell`` scores each cell's
#   left rows against its right rows as one tile, slicing the left rows
#   to the same _chunk_rows_for budget so one large cell cannot build
#   an unbounded cosine matrix. Only rows sharing a cell are ever
#   paired: ONE shuffle, nothing collected to the driver.
#   "blocked" is its hash-keyed case: every row hashes into one of b
#   blocks, the left side replicates each row across all b column
#   blocks and the right side vice versa (_blocked_sides), so every
#   (left, right) pair meets in exactly one cell — classic 2D-blocked
#   matmul replication, O(n·b) rows shuffled, b ≈ sqrt(parallelism).
#
# Top-k (_cosine_topk) re-ranks with one window ONLY when the candidate
# side is split across tiles ("queries", "cells", "blocked"); local
# selection and the window share one total order (cos desc, id asc), so
# every global winner survives its tile.
#
# DISPATCH: i3/i4 (and i28's eval side) pick "table" vs "blocked" by
# the Catalyst-estimated size of the table (optimizedPlan stats —
# file-size based, no job) vs ``spark.mysql2ch.vector.broadcastThreshold``:
# identical arithmetic and oracle either way, no OOM ceiling above it.

_COSINE_BLOCKS_CONF = "spark.mysql2ch.cosine.blocks"
_VECTOR_BC_CONF = "spark.mysql2ch.vector.broadcastThreshold"
# Default: 256 MiB of estimated on-disk vector bytes. The collected
# float64 matrix is ~4× the parquet footprint (snappy + encoding), so
# this keeps the driver copy ≲1 GiB — comfortably inside the 8 GiB
# testbed driver and any production driver, while tables beyond it take
# the shuffle path that scales to 100 TB.
_VECTOR_BC_DEFAULT = str(256 * 1024 * 1024)


def _use_broadcast_path(spark: SparkSession, emb: DataFrame) -> bool:
    """True when the embedding table's Catalyst-estimated size fits the
    broadcast threshold. Reads optimizedPlan().stats().sizeInBytes —
    derived from parquet file sizes, no job is launched — so the choice
    is made the same way Spark's own broadcast-join planning makes it.
    Threshold ≤ 0 forces the blocked path (mirrors the
    autoBroadcastJoinThreshold=-1 convention)."""
    threshold = int(spark.conf.get(_VECTOR_BC_CONF, _VECTOR_BC_DEFAULT))
    if threshold <= 0:
        return False
    est = int(emb._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return est <= threshold


def _n_blocks(spark: SparkSession) -> int:
    """Block count b: sqrt of the session's shuffle width (so b² block
    pairs ≈ available tasks), overridable via conf for tests/tuning."""
    import math

    override = int(spark.conf.get(_COSINE_BLOCKS_CONF, "0"))
    if override:
        return override
    try:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        width = spark.sparkContext.defaultParallelism
    return max(2, math.isqrt(width))


def _blocked_sides(
    left: DataFrame, right: DataFrame, b: int
) -> tuple[DataFrame, DataFrame]:
    """The 2D-blocked cell keys: a left row in block ``i`` meets every
    cell ``i·b + j``, a right row in block ``j`` meets every cell
    ``i·b + j``, so each (left, right) pair meets in exactly one cell.
    For a self-join (the same frame on both sides) the pairs emitter's
    id_a < id_b mask drops the mirrored ordering, and same-block pairs
    meet only in the diagonal cell."""
    own = F.pmod(F.xxhash64("vec_id"), F.lit(b))
    row = F.explode(F.array(*[own * b + j for j in range(b)]))
    col = F.explode(F.array(*[own + i * b for i in range(b)]))
    return (
        left.select("vec_id", "embedding", row.alias("cell")),
        right.select("vec_id", "embedding", col.alias("cell")),
    )


def _np_block(pdf):
    """(ids, quantized matrix, norms) from a (vec_id, embedding) frame."""
    import numpy as np

    from mysql_to_clickhouse_spark.functions.vectors import (
        np_fixed_norms,
        np_quantize,
    )

    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    mat = np.array(list(pdf["embedding"]), dtype=np.float64)
    quant = np_quantize(mat.reshape(len(ids), -1 if len(ids) else 0))
    return ids, quant, np_fixed_norms(quant)


def _cosine_tiles(
    left: DataFrame,
    right: DataFrame,
    emit,
    schema: str,
    strategy: str,
    sf_dir: str | None = None,
) -> DataFrame:
    """Run the exact cosine kernel over (left × right) tiles in one of
    the topologies above ("table", "queries", "cells", "blocked") and
    return the columns ``emit(left_ids, right_ids, cos)`` yields per
    tile, typed by ``schema``. "cells" sides carry a ``cell`` column;
    ``sf_dir`` keys the "table" topology's broadcast cache."""
    import pandas as pd

    from mysql_to_clickhouse_spark.functions.vectors import np_fixed_cosines

    def tile(lt, rt) -> pd.DataFrame:
        return pd.DataFrame(emit(lt[0], rt[0], np_fixed_cosines(*lt[1:], *rt[1:])))

    spark = left.sparkSession
    if strategy in ("cells", "blocked"):
        if strategy == "blocked":
            left, right = _blocked_sides(left, right, _n_blocks(spark))

        def cell(_key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
            if lpdf.empty or rpdf.empty:  # a cell with no rows on one side
                return pd.DataFrame()
            # an index cell list can hold one id twice (ivf_add re-adding
            # a tombstoned id); a candidate counts once
            fixed = _np_block(rpdf.drop_duplicates("vec_id"))
            rows = _chunk_rows(budget, len(fixed[0]))
            return pd.concat(
                [tile(_np_block(part), fixed) for part in _rechunk([lpdf], rows)]
            )

        budget = _chunk_cells(spark)
        # fresh attribute ids per side: the sides may share lineage
        # (i4d's members filter its probes), which the cogroup's
        # self-join check would reject as ambiguous. One key type: each
        # side hash-partitions its own key, and an int cell (a parquet
        # partition column) hashes apart from the same long cell
        cols = [
            F.col("vec_id").alias("vec_id"),
            F.col("embedding").alias("embedding"),
            F.col("cell").cast("long").alias("cell"),
        ]
        return (
            left.select(*cols).groupby("cell")
            .cogroup(right.select(*cols).groupby("cell"))
            .applyInPandas(cell, schema=schema)
        )
    left = left.select("vec_id", "embedding")
    right = right.select("vec_id", "embedding")
    table = strategy == "table"
    if table:
        stream, bc = _spread(left), _broadcast_matrix(spark, right, sf_dir)
    else:  # "queries": the caller bounds the left side
        stream = right
        bc = spark.sparkContext.broadcast(_np_block(left.toPandas()))
    chunk = _chunk_rows_for(spark, len(bc.value[0]))

    def stream_tiles(batches):
        fixed = bc.value
        for pdf in _rechunk(batches, chunk):
            if len(pdf) and len(fixed[0]):
                part = _np_block(pdf)
                yield tile(part, fixed) if table else tile(fixed, part)

    return stream.mapInPandas(stream_tiles, schema=schema)


_PAIRS_SCHEMA = "id_a long, id_b long, cos_sim double"


def _pairs_emit(theta: float):
    """Emitter: every (id_a < id_b) pair of a tile with cos ≥ theta."""

    def emit(l_ids, r_ids, cos):
        import numpy as np

        qi, vj = np.nonzero((cos >= theta) & (l_ids[:, None] < r_ids[None, :]))
        return {"id_a": l_ids[qi], "id_b": r_ids[vj], "cos_sim": cos[qi, vj]}

    return emit


def _topk_emit(k: int, ranked: bool):
    """Emitter: each left row's top-k candidates in the tile by
    (cos desc, id asc), self excluded; with ``ranked`` also the rank
    (final only when the tile holds every candidate)."""

    def emit(l_ids, r_ids, cos):
        import numpy as np

        # self-exclusion: locate each left id among the candidate ids
        # (one argsort, then searchsorted) and mask that cell to -inf
        order = np.argsort(r_ids)
        pos = np.minimum(np.searchsorted(r_ids, l_ids, sorter=order), len(r_ids) - 1)
        self_col = order[pos]
        hit = r_ids[self_col] == l_ids
        cos_w = cos.copy()
        cos_w[np.nonzero(hit)[0], self_col[hit]] = -np.inf
        sel = _np_topk_sel(cos_w, r_ids, k)
        nq, k_eff = sel.shape  # k_eff = min(k, n): tiles smaller than k
        rows = np.repeat(np.arange(nq), k_eff)
        flat = sel.ravel()
        # n ≤ k can select the -inf self cell; it sorts last, so
        # dropping non-finite rows keeps ranks contiguous per row
        keep = np.isfinite(cos_w[rows, flat])
        out = {
            "id_a": np.repeat(l_ids, k_eff)[keep],
            "id_b": r_ids[flat][keep],
            "cos_sim": cos[rows, flat][keep],
        }
        if ranked:
            out["rk"] = np.tile(np.arange(1, k_eff + 1, dtype=np.int64), nq)[keep]
        return out

    return emit


def _cosine_topk(
    left: DataFrame,
    right: DataFrame,
    k: int,
    strategy: str,
    sf_dir: str | None = None,
) -> DataFrame:
    """Exact top-k right-side neighbors per left row (self excluded) as
    ``id_a, id_b, cos_sim, rk``. "table" tiles see every candidate and
    rank in place (no window, no exchange); the split topologies emit
    local top-k candidates and re-rank them with one window."""
    if strategy == "table":
        schema = _PAIRS_SCHEMA + ", rk long"
        return _cosine_tiles(left, right, _topk_emit(k, True), schema, strategy, sf_dir)
    cand = _cosine_tiles(left, right, _topk_emit(k, False), _PAIRS_SCHEMA, strategy)
    return rank_topk(cand, k)


@register("i3_cosine_pairs", oracle=_I3_ORACLE)
def i3_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.25) over the pair
    triangle — the exactness baseline that i4b's LSH variant
    approximates at scale.

    AUTO-DISPATCH: below ``spark.mysql2ch.vector.broadcastThreshold``
    (Catalyst-estimated table size) ``_cosine_tiles`` runs the exact
    fixed-point numpy kernel in its "table" topology — bit-identical to
    the declarative zip_with form (i3b) and the DuckDB oracle, zero
    shuffle of pairs. Above it (or with the threshold set ≤ 0) the same
    primitive runs "blocked" (i3c): one shuffle, nothing collected to
    the driver, no OOM ceiling."""
    emb = load(spark, sf_dir, "embeddings")
    strategy = "table" if _use_broadcast_path(spark, emb) else "blocked"
    return _cosine_tiles(emb, emb, _pairs_emit(0.25), _PAIRS_SCHEMA, strategy, sf_dir)


_I3B_ORACLE = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {o_cosine('a.embedding', 'b.embedding')} AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 80 AND b.vec_id < 80
ORDER BY id_a, id_b
"""


@register("i3b_cosine_zipwith", oracle=_I3B_ORACLE)
def i3b_cosine_zipwith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-DataFrame cosine (zip_with + aggregate lambdas, no
    Python anywhere), on a bounded id range: proves the declarative
    form and the i3 numpy kernel produce bit-identical cosines (same
    oracle arithmetic; lambdas are interpreter-bound, hence bounded)."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 80)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cosine("ea", "eb"))
        .select("id_a", "id_b", "cos_sim")

    )


@register("i3c_cosine_blocked", oracle=_I3_ORACLE, tier="T3")
def i3c_cosine_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i3's near-dup pairs via the block-matrix join — identical
    arithmetic and oracle, but NO driver-side collect or broadcast:
    the escalation path for embedding tables beyond broadcast size
    (what i3 itself dispatches to above the size threshold)."""
    emb = load(spark, sf_dir, "embeddings")
    return _cosine_tiles(emb, emb, _pairs_emit(0.25), _PAIRS_SCHEMA, "blocked")


# ---------------------------------------------------------------------------
# i4_topk_similar — k nearest neighbors per vector (brute force)
# ---------------------------------------------------------------------------

_I4_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {o_cosine('a.embedding', 'b.embedding')} AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
), ranked AS (
  SELECT id_a, id_b, cos_sim,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY id_a ORDER BY cos_sim DESC, id_b
         ) AS BIGINT) AS rk
  FROM pairs
)
SELECT id_a, id_b, cos_sim, rk FROM ranked WHERE rk <= 5
ORDER BY id_a, rk
"""


@register("i4_topk_similar", oracle=_I4_ORACLE)
def i4_topk_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 nearest embeddings per vector, exact (``_cosine_topk``).

    In the "table" topology each partition ranks its own query rows
    against the broadcast matrix locally (ties broken by neighbor id
    with a stable lexsort), so NO shuffle of pairs ever happens — only
    k rows per query leave the worker.

    AUTO-DISPATCH: same size rule as i3 — beyond
    ``spark.mysql2ch.vector.broadcastThreshold`` the primitive runs
    "blocked" (i4c): block-local top-k + one window re-rank, no driver
    collect, same oracle."""
    emb = load(spark, sf_dir, "embeddings")
    strategy = "table" if _use_broadcast_path(spark, emb) else "blocked"
    return _cosine_topk(emb, emb, 5, strategy, sf_dir)


@register("i4c_topk_blocked", oracle=_I4_ORACLE, tier="T3")
def i4c_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i4's exact top-5 neighbors via the block-matrix join (what i4
    itself dispatches to above the size threshold)."""
    emb = load(spark, sf_dir, "embeddings")
    return _cosine_topk(emb, emb, 5, "blocked")


# ---------------------------------------------------------------------------
# i4b_ann_lsh — hyperplane-LSH bucketed ANN (the scale path)
# ---------------------------------------------------------------------------


_LSH_TABLES = 3
_LSH_PLANES = 3  # bits per table → 8 buckets/table; recall ≈ 1-(1-p^3)^3


def _lsh_cells(emb: DataFrame) -> DataFrame:
    """Each vector once per LSH table, keyed by ``cell`` = (table,
    bucket): the bucket is the 3-bit sign pattern of the vector's dots
    with that table's hyperplanes, whose signs are deterministic
    pseudo-random (xxhash64(table, plane, dim) parity)."""

    def hyperplane_dot(table: int, plane: int):
        signed = F.zip_with(
            "embedding",
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda i: F.when(
                    F.pmod(F.xxhash64(F.lit(table), F.lit(plane), i), F.lit(2)) == 1,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0)),
            ),
            lambda x, h: x.cast("double") * h,
        )
        return F.aggregate(signed, F.lit(0.0), lambda acc, v: acc + v)

    def table_cell(table: int):
        bits = [
            F.when(hyperplane_dot(table, p) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
            for p in range(_LSH_PLANES)
        ]
        return sum(bits, start=F.lit(table << _LSH_PLANES)).cast("long")

    cells = F.array(*[table_cell(t) for t in range(_LSH_TABLES)])
    return emb.select("vec_id", "embedding", F.explode(cells).alias("cell"))


def _i4b_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via random-hyperplane LSH with
    OR-amplification: 3 independent tables × 3 hyperplanes
    (``_lsh_cells``); candidates = same (table, bucket); exact cosine
    top-3 over the candidate set.

    This is the 100 TB shape: per-table pair space shrinks ~2^planes,
    only rows sharing a bucket are ever paired (``_cosine_tiles``'
    "cells" topology, no all-pairs), and recall tunes with tables (OR)
    × planes (AND). A pair sharing buckets in several tables surfaces
    once per table, so the narrow candidate rows are deduped before
    the one global re-rank. Rows-only (approximate); recall vs exact i4
    is unit-tested."""
    cells = _lsh_cells(load(spark, sf_dir, "embeddings"))
    cand = _cosine_tiles(cells, cells, _topk_emit(3, False), _PAIRS_SCHEMA, "cells")
    return rank_topk(cand.dropDuplicates(), 3)


def _ann_bound_relation(
    spark: SparkSession,
    sf_dir: str,
    approx: DataFrame,
    floor: float,
    flag_name: str,
) -> DataFrame:
    """The d4b discipline applied to ANN: compute BOTH the exact top-3
    edge set and the approximate one on the Spark side, surface the
    exact counts (SQL-expressible) plus the recall-≥-floor bound as a
    boolean the oracle states as literal TRUE. Recall drifting under
    the floor turns the column false and the driver's hash check red —
    a deterministic quality gate for an operator whose raw output has
    no SQL analog (hyperplane/k-means routing). Deterministic: planes
    are xxhash64-derived, centroid training is seedless sampled
    k-means, so recall is a pure function of the data."""
    exact = (
        i4_topk_similar(spark, sf_dir)
        .filter(F.col("rk") <= 3)
        .select("id_a", "id_b")
    )
    hits = exact.join(
        approx.select("id_a", "id_b").withColumn("hit", F.lit(1)),
        ["id_a", "id_b"],
        "left",
    )
    return hits.agg(
        F.countDistinct("id_a").cast("long").alias("n_vectors"),
        F.count(F.lit(1)).cast("long").alias("n_exact_edges"),
        (
            F.sum(F.coalesce("hit", F.lit(0)))
            >= F.lit(floor) * F.count(F.lit(1))
        ).alias(flag_name),
    )


_ANN_BOUND_ORACLE = """
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {cos} AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
), ranked AS (
  SELECT id_a, id_b,
         ROW_NUMBER() OVER (
           PARTITION BY id_a ORDER BY cos_sim DESC, id_b
         ) AS rk
  FROM pairs
)
SELECT CAST(COUNT(DISTINCT id_a) AS BIGINT) AS n_vectors,
       CAST(COUNT(*) AS BIGINT) AS n_exact_edges,
       TRUE AS {flag}
FROM ranked WHERE rk <= 3
"""

_I4B_FLOOR = 0.40  # measured 0.533 (sf0.01) / 0.555 (sf0.1)


@register(
    "i4b_ann_lsh",
    oracle=_ANN_BOUND_ORACLE.format(
        cos=o_cosine("a.embedding", "b.embedding"), flag="recall_ge_040"
    ),
    tier="T3",
)
def i4b_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN (see _i4b_neighbors for the bucketed kernel)
    surfaced as its hash-checkable quality contract: exact top-3 edge
    counts plus the recall-≥-0.40 bound as a boolean (measured 0.53 at
    sf0.01, 0.56 at sf0.1 — deterministic xxhash64 planes, so the flag
    is stable). The raw neighbor list itself has no SQL analog; this
    is the d4b companion discipline promoted into the operator, so the
    driver hash-checks the quality gate instead of recording a weaker
    rows-only pass. tests/test_llmops.py::test_ann_lsh_recall_vs_exact
    pins the underlying recall on the raw edges."""
    return _ann_bound_relation(
        spark, sf_dir, _i4b_neighbors(spark, sf_dir), _I4B_FLOOR,
        "recall_ge_040",
    )


# ---------------------------------------------------------------------------
# i4d_ann_ivf — inverted-file (coarse-cell) ANN, the IVF scale path
# ---------------------------------------------------------------------------

_IVF_CELLS = 16  # production: ~sqrt(n) cells
_IVF_NPROBE = 2  # cells probed per query
_IVF_SAMPLE_CAP = 4096  # training-sample rows collected to the driver
_IVF_ITERS = 8  # Lloyd iterations on the sample


def _ivf_centroids(
    spark: SparkSession, emb: DataFrame, c: int = _IVF_CELLS
) -> DataFrame:
    """Train C coarse centroids with deterministic sampled spherical
    k-means and return them as a (cid, cvec) DataFrame.

    Sample = the _IVF_SAMPLE_CAP vectors with the smallest
    xxhash64(vec_id): uniform over the table, reproducible, and a
    per-partition top-k under orderBy+limit — the driver collect is
    bounded at cap × dim × 8 B (2 MiB at dim 64) REGARDLESS of table
    size, which is what makes driver-side training legal at 100 TB.
    Init = evenly spaced rows of the hash-ordered sample (random-like,
    seedless, deterministic); then _IVF_ITERS Lloyd rounds maximizing
    cosine (rows and centroids L2-normalized; empty cells keep their
    previous centroid)."""
    import numpy as np

    rows = (
        emb.select("vec_id", "embedding", F.xxhash64("vec_id").alias("h"))
        .orderBy("h", "vec_id")
        .limit(_IVF_SAMPLE_CAP)
        .collect()
    )
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n = len(X)
    c = min(c, n)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    cents = Xn[np.linspace(0, n - 1, num=c).round().astype(int)].copy()
    for _ in range(_IVF_ITERS):
        assign = np.argmax(Xn @ cents.T, axis=1)
        for j in range(c):
            members = Xn[assign == j]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                if norm > 1e-12:
                    cents[j] = m / norm
    return spark.createDataFrame(
        [(j, [float(v) for v in cents[j]]) for j in range(c)],
        "cid long, cvec array<double>",
    )


def _nearest_cells(vectors: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """Each vector's ``nprobe`` nearest centroid cells as (vec_id,
    embedding, cell, crk), ranked by (cos desc, cid asc): one broadcast
    cross join against the C-row centroid relation plus one window.
    The IVF probe of both i4d and the persisted index (ann_index)."""
    scored = vectors.join(F.broadcast(centroids)).select(
        "vec_id", "embedding", "cid", cosine("embedding", "cvec").alias("ccos")
    )
    cw = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cid"))
    return (
        scored.withColumn("crk", F.row_number().over(cw))
        .filter(F.col("crk") <= nprobe)
        .select("vec_id", "embedding", F.col("cid").alias("cell"), "crk")
    )


def _i4d_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via an inverted file (IVF-flat),
    the other classic ANN scale path next to i4b's LSH: train C coarse
    centroids (deterministic sampled k-means, bounded driver sample —
    see _ivf_centroids), assign every vector to its nearest centroid
    cell, let each query probe its nprobe=2 nearest cells
    (``_nearest_cells``, map-side against the broadcast centroids),
    and score each probed cell's members exactly in ``_cosine_tiles``'
    "cells" topology — never all-pairs.

    Pair space shrinks ~C/nprobe ×; recall vs exact i4 is unit-tested,
    including on a skewed set where untrained centroids collapse
    (rows-only: approximate by construction). Output: top-3 neighbors
    per vector among probed candidates."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = _nearest_cells(emb, _ivf_centroids(spark, emb), _IVF_NPROBE)
    members = probes.filter(F.col("crk") == 1)
    return _cosine_topk(probes, members, 3, "cells")


_I4D_FLOOR = 0.30  # measured 0.438 (sf0.01) / 0.387 (sf0.1)


@register(
    "i4d_ann_ivf",
    oracle=_ANN_BOUND_ORACLE.format(
        cos=o_cosine("a.embedding", "b.embedding"), flag="recall_ge_030"
    ),
    tier="T3",
)
def i4d_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (see _i4d_neighbors for the probe kernel) surfaced
    as its hash-checkable quality contract, same d4b-style discipline
    as i4b: exact top-3 edge counts plus the recall-≥-0.30 bound as a
    boolean (measured 0.44 at sf0.01, 0.39 at sf0.1 — the sampled
    k-means trainer is seedless-deterministic, so the flag is stable).
    tests/test_llmops.py::test_ann_ivf_recall_vs_exact pins raw recall,
    and tests/test_ann_index.py proves the persisted-index serve path
    (i4f) set-equal to this per-call route on the served batch."""
    return _ann_bound_relation(
        spark, sf_dir, _i4d_neighbors(spark, sf_dir), _I4D_FLOOR,
        "recall_ge_030",
    )


# ---------------------------------------------------------------------------
# i4e_topk_queries — exact top-k for a BOUNDED query set (query serving)
# ---------------------------------------------------------------------------

_I4E_K = 5
_I4E_QUERY_CAP = 64


_I4E_ORACLE = f"""
WITH queries AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % 31 = 7 ORDER BY vec_id LIMIT {_I4E_QUERY_CAP}
), pairs AS (
  SELECT q.vec_id AS id_a, b.vec_id AS id_b,
         {o_cosine('q.embedding', 'b.embedding')} AS cos_sim
  FROM queries q JOIN embeddings b ON q.vec_id != b.vec_id
), ranked AS (
  SELECT id_a, id_b, cos_sim,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY id_a ORDER BY cos_sim DESC, id_b
         ) AS BIGINT) AS rk
  FROM pairs
)
SELECT id_a, id_b, cos_sim, rk FROM ranked WHERE rk <= {_I4E_K}
ORDER BY id_a, rk
"""


@register("i4e_topk_queries", oracle=_I4E_ORACLE, tier="T3")
def i4e_topk_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} exact neighbors for a deterministic bounded query batch
    (vec_id % 31 = 7, id-ordered, capped at 64 — portable to the SQL
    oracle) via ``_cosine_topk``'s "queries" topology: the bounded
    batch is collected and broadcast (legal at any corpus size), the
    corpus is scanned ONCE, each streamed slice emits its local top-k
    per query and one window re-ranks the candidates — no shuffle
    touches corpus rows, only ≤ k × nq × slices candidate rows move.
    Complements i4 (all-pairs self-top-k): this is the shape that
    serves query traffic against a 100 TB corpus, and the exact
    ground-truth baseline the ANN stress tiers (scripts/
    stress_vectors.py) measure IVF/PQ recall against."""
    emb = load(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") % 31 == 7)
        .orderBy("vec_id")
        .limit(_I4E_QUERY_CAP)
    )
    return _cosine_topk(queries, emb, _I4E_K, "queries")


# ---------------------------------------------------------------------------
# i5_text_stats — corpus quality statistics
# ---------------------------------------------------------------------------

_I5_ORACLE = f"""
WITH per_doc AS (
  SELECT lang, source, n_chars,
         CAST(len({o_tokens('text')}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(n_chars) - SUM(n_tokens) + COUNT(*) AS DOUBLE)
         / SUM(n_tokens) AS avg_token_len,
       COUNT(DISTINCT source) AS n_sources
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


@register("i5_text_stats", oracle=_I5_ORACLE)
def i5_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: doc/token/char counts, average token
    length derived from integer sums only (chars minus separators over
    tokens) — no float accumulation anywhere."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            (
                (F.sum("n_chars") - F.sum("n_tokens") + F.count(F.lit(1))).cast(
                    "double"
                )
                / F.sum("n_tokens")
            ).alias("avg_token_len"),
            F.countDistinct("source").alias("n_sources"),
        )
        
    )


# ---------------------------------------------------------------------------
# i6_tfidf_keywords — top TF-IDF terms per source
# ---------------------------------------------------------------------------

_I6_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, unnest({o_tokens('text')}) AS term
  FROM documents
), tf AS (
  SELECT source, doc_id, term, COUNT(*) AS tf
  FROM tok GROUP BY source, doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.source, tf.term,
         CAST(SUM({o_fixed_point(
             "tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)", 6
         )}) AS DOUBLE) / 1000000.0 AS score
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
  GROUP BY tf.source, tf.term
), ranked AS (
  SELECT source, term, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY score DESC, term
         ) AS BIGINT) AS rk
  FROM scored
)
SELECT source, term, score, rk FROM ranked WHERE rk <= 3
ORDER BY source, rk
"""


@register("i6_tfidf_keywords", oracle=_I6_ORACLE, tier="T3")
def i6_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per source. idf = ln(N/df) rounded to 6
    decimals on both engines (libm ulp guard); per-source score sums go
    through fixed-point. Two hash aggregates + a broadcast 1-row count
    cross-joined into the plan (no docs.count() driver action — one job,
    mirrors the oracle's CROSS JOIN n) — no all-pairs anything, scales
    with token count."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(tokens("text")).alias("term")
    )
    tf = tok.groupBy("source", "doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(F.log(F.col("n_docs").cast("double") / F.col("df")), 6)
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .groupBy("source", "term")
        .agg(
            (
                F.sum(fixed_point(F.col("tf") * idf, 6)).cast("double") / 1e6
            ).alias("score")
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        
    )


# ---------------------------------------------------------------------------
# i7_embed_normalize — vector hygiene
# ---------------------------------------------------------------------------

_I7_ORACLE = f"""
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       len(embedding) = 64 AS dim_ok,
       {o_l2_norm('embedding')} AS l2_norm,
       CAST(embedding[1] AS DOUBLE) / {o_l2_norm('embedding')} AS e1_unit,
       CAST(embedding[2] AS DOUBLE) / {o_l2_norm('embedding')} AS e2_unit
FROM embeddings
ORDER BY vec_id
"""


@register("i7_embed_normalize", oracle=_I7_ORACLE)
def i7_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization + dimension check (multimodal column hygiene).
    The full normalized array is produced the same way via
    F.transform(e, x -> x/norm); scalar projections are surfaced for
    engine-portable hashing."""
    emb = load(spark, sf_dir, "embeddings")
    norm = l2_norm("embedding")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        (F.size("embedding") == 64).alias("dim_ok"),
        norm.alias("l2_norm"),
        (F.element_at("embedding", 1).cast("double") / norm).alias("e1_unit"),
        (F.element_at("embedding", 2).cast("double") / norm).alias("e2_unit"),
    )


# ---------------------------------------------------------------------------
# i8_knn_classify — majority label among k nearest
# ---------------------------------------------------------------------------

_I8_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, b.label AS nbr_label,
         {o_cosine('a.embedding', 'b.embedding')} AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
), ranked AS (
  SELECT id_a, nbr_label,
         ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cos_sim DESC, id_b) AS rk
  FROM pairs
), votes AS (
  SELECT id_a, nbr_label, COUNT(*) AS n_votes
  FROM ranked WHERE rk <= 5
  GROUP BY id_a, nbr_label
), winner AS (
  SELECT id_a, nbr_label AS pred_label, n_votes,
         ROW_NUMBER() OVER (
           PARTITION BY id_a ORDER BY n_votes DESC, nbr_label
         ) AS wrk
  FROM votes
)
SELECT w.id_a AS vec_id, e.label AS true_label,
       w.pred_label, w.n_votes
FROM winner w JOIN embeddings e ON w.id_a = e.vec_id
WHERE w.wrk = 1
ORDER BY vec_id
"""


@register("i8_knn_classify", oracle=_I8_ORACLE, tier="T3")
def i8_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-vote label per vector (tie-break: more votes, then
    smaller label), with the true label alongside. Reuses the i4
    kernel for neighbors (broadcast matrix, no pair shuffle) + a
    DataFrame vote aggregate."""
    emb = load(spark, sf_dir, "embeddings")
    neighbors = i4_topk_similar(spark, sf_dir)  # id_a, id_b, cos_sim, rk≤5
    labels = emb.select(
        F.col("vec_id").alias("id_b"), F.col("label").alias("nbr_label")
    )
    votes = (
        neighbors.join(F.broadcast(labels), "id_b")
        .groupBy("id_a", "nbr_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w_win = Window.partitionBy("id_a").orderBy(
        F.desc("n_votes"), F.asc("nbr_label")
    )
    winner = votes.withColumn("wrk", F.row_number().over(w_win)).filter(
        F.col("wrk") == 1
    )
    truth = emb.select("vec_id", F.col("label").alias("true_label"))
    return (
        winner.join(truth, winner.id_a == truth.vec_id)
        .select(
            "vec_id",
            "true_label",
            F.col("nbr_label").alias("pred_label"),
            "n_votes",
        )
        
    )


# ---------------------------------------------------------------------------
# i9_lang_id — n-gram/vocabulary-profile language identification
# ---------------------------------------------------------------------------

_I9_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
  FROM documents
), lang_counts AS (
  SELECT lang, term, COUNT(*) AS cnt FROM tok GROUP BY lang, term
), vocab AS (
  SELECT lang AS v_lang, term FROM (
    SELECT lang, term,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rk
    FROM lang_counts
  ) WHERE rk <= 30
), doc_terms AS (
  SELECT DISTINCT doc_id, lang AS true_lang, term FROM tok
), scores AS (
  SELECT d.doc_id, d.true_lang, v.v_lang, COUNT(*) AS hits
  FROM doc_terms d JOIN vocab v ON d.term = v.term
  GROUP BY d.doc_id, d.true_lang, v.v_lang
), pred AS (
  SELECT doc_id, true_lang, v_lang AS pred_lang, hits,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY hits DESC, v_lang
         ) AS prk
  FROM scores
)
SELECT doc_id, true_lang, pred_lang, hits
FROM pred WHERE prk = 1
ORDER BY doc_id
"""


@register("i9_lang_id", oracle=_I9_ORACLE, tier="T3")
def i9_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification by vocabulary profile: build a top-30
    token profile per language (from the labeled corpus), score each
    document by distinct-token overlap with every profile, predict the
    argmax (tie-break: more hits, then language code).

    The n-gram-profile classifier shape: two hash aggregates + one
    broadcast join of the (tiny) vocabulary — scales with token count,
    never materializes document pairs."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("term")
    )
    lang_counts = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("cnt"))
    w_v = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("term"))
    vocab = (
        lang_counts.withColumn("rk", F.row_number().over(w_v))
        .filter(F.col("rk") <= 30)
        .select(F.col("lang").alias("v_lang"), "term")
    )
    doc_terms = tok.select(
        "doc_id", F.col("lang").alias("true_lang"), "term"
    ).distinct()
    scores = (
        doc_terms.join(F.broadcast(vocab), "term")
        .groupBy("doc_id", "true_lang", "v_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w_p = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("v_lang"))
    return (
        scores.withColumn("prk", F.row_number().over(w_p))
        .filter(F.col("prk") == 1)
        .select("doc_id", "true_lang", F.col("v_lang").alias("pred_lang"), "hits")
    )


# ---------------------------------------------------------------------------
# i10_quality_score — document quality heuristics
# ---------------------------------------------------------------------------

_I10_ORACLE = """
WITH feats AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
           AS n_distinct,
         CAST(len(list_filter(string_split(text, ' '), t -> length(t) <= 3))
              AS BIGINT) AS n_short,
         n_chars
  FROM documents
)
SELECT doc_id, lang, n_tokens, n_distinct, n_short,
       CAST(n_distinct AS DOUBLE) / n_tokens AS diversity,
       CAST(n_short AS DOUBLE) / n_tokens AS short_ratio,
       0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
         + 0.3 * (1.0 - CAST(n_short AS DOUBLE) / n_tokens)
         + 0.2 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS quality_score
FROM feats
ORDER BY doc_id
"""


@register("i10_quality_score", oracle=_I10_ORACLE)
def i10_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring for training-data filtering: lexical diversity,
    short-token ratio, and a length saturation term combined into one
    score. All ratios are integer/integer divisions — deterministic
    IEEE on both engines; purely map-side (no shuffle at all)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    n_short = F.size(F.filter(toks, lambda t: F.length(t) <= 3)).cast("long")
    feats = docs.select(
        "doc_id", "lang", n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"), n_short.alias("n_short"), "n_chars",
    )
    diversity = F.col("n_distinct").cast("double") / F.col("n_tokens")
    short_ratio = F.col("n_short").cast("double") / F.col("n_tokens")
    sat = F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0))
    return feats.select(
        "doc_id", "lang", "n_tokens", "n_distinct", "n_short",
        diversity.alias("diversity"),
        short_ratio.alias("short_ratio"),
        (0.5 * diversity + 0.3 * (1.0 - short_ratio) + 0.2 * sat).alias(
            "quality_score"
        ),
    )


# ---------------------------------------------------------------------------
# i11_rolling_fingerprint — polynomial rolling hash document fingerprint
# ---------------------------------------------------------------------------

# portable token hash: engine-expressible on both sides (no xxhash64 in
# DuckDB): h(t) = len(t)*131 + ascii(first)*31 + ascii(last)
_I11_ORACLE = """
WITH hs AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '), t ->
           CAST(length(t) * 131
                + ascii(substring(t, 1, 1)) * 31
                + ascii(substring(t, length(t), 1)) AS BIGINT)) AS token_hashes
  FROM documents
)
SELECT doc_id,
       CAST(len(token_hashes) AS BIGINT) AS n_tokens,
       list_reduce(list_prepend(CAST(0 AS BIGINT), token_hashes),
                   (a, h) -> (a * 131 + h) % 1000000007) AS fingerprint,
       list_reduce(list_prepend(CAST(0 AS BIGINT), token_hashes),
                   (a, h) -> (a * 131 + h) % 1000000007) % 256 AS shard
FROM hs
ORDER BY doc_id
"""


@register("i11_rolling_fingerprint", oracle=_I11_ORACLE)
def i11_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint via a polynomial rolling hash over token
    hashes (Rabin–Karp style, mod 1e9+7 so the fold never overflows
    int64). Order-sensitive by construction — permuted documents get
    different fingerprints, unlike bag-of-words hashes. Integer-exact
    on both engines; the shard column shows the downstream use
    (routing/bucketing by fingerprint)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens("text")
    token_hashes = F.transform(
        toks,
        lambda t: (
            F.length(t).cast("long") * 131
            + F.ascii(F.substring(t, 1, 1)).cast("long") * 31
            + F.ascii(t.substr(F.length(t), F.lit(1))).cast("long")
        ),
    )
    fingerprint = F.aggregate(
        token_hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 131 + h) % 1000000007,
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        fingerprint.alias("fingerprint"),
        (fingerprint % 256).alias("shard"),
    )


# ---------------------------------------------------------------------------
# i12_subword_tokens — BPE-ish regex token counting
# ---------------------------------------------------------------------------

_SUBWORD_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"

_I12_ORACLE = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{_SUBWORD_PATTERN}')) AS BIGINT)
         AS subword_tokens,
       CAST(len(list_filter(regexp_extract_all(text, '{_SUBWORD_PATTERN}'),
                            t -> length(t) >= 4)) AS BIGINT) AS long_subwords,
       regexp_extract_all(text, '{_SUBWORD_PATTERN}')[1] AS first_subword
FROM documents
ORDER BY doc_id
"""


@register("i12_subword_tokens", oracle=_I12_ORACLE)
def i12_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens vs a BPE-ish regex
    lexer ([a-z]+ runs, digit runs, single punctuation) — the cheap
    proxy for tokenizer-budget estimation over a corpus. Pure map-side
    regexp_extract_all on both engines (identical simple-regex
    semantics, probed)."""
    docs = load(spark, sf_dir, "documents")
    # idx=0 → whole match (Spark defaults to capture group 1)
    sub = F.regexp_extract_all("text", F.lit(_SUBWORD_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("ws_tokens"),
        F.size(sub).cast("long").alias("subword_tokens"),
        F.size(F.filter(sub, lambda t: F.length(t) >= 4))
        .cast("long")
        .alias("long_subwords"),
        F.element_at(sub, 1).alias("first_subword"),
    )


# ---------------------------------------------------------------------------
# i13_pack_sequences — context-window packing (concat-then-chunk)
# ---------------------------------------------------------------------------

_CTX = 128  # tokens per training sequence
_PACK_SHARDS = 8  # parallel packing streams per language

# DuckDB windowed SUM(BIGINT) widens to HUGEINT (stringifies as float) —
# compute start once in a CTE and CAST every derived column back to BIGINT.
_I13_ORACLE = f"""
WITH packed AS (
  SELECT doc_id, lang,
         doc_id % {_PACK_SHARDS} AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
           PARTITION BY lang, doc_id % {_PACK_SHARDS} ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - CAST(len(string_split(text, ' ')) AS BIGINT) AS BIGINT)
           AS start_offset
  FROM documents
)
SELECT doc_id, lang, shard, n_tokens, start_offset,
       start_offset // {_CTX} AS seq_id,
       start_offset % {_CTX} AS offset_in_seq
FROM packed
ORDER BY doc_id
"""


@register("i13_pack_sequences", oracle=_I13_ORACLE)
def i13_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: concatenate documents in
    doc_id order and chunk the token stream into fixed CTX-token
    training sequences (the standard concat-then-chunk packing), per
    (lang, shard) stream. Each doc gets its sequence id and offset —
    the manifest a data loader needs to assemble batches.

    Scale: one window shuffle on (lang, shard). The shard column is the
    skew lever — a single global stream would serialize the corpus
    through one partition; N shards per language give N independent,
    deterministic streams (each 1/N of the data) at the cost of at most
    one padded tail sequence per shard. At 100 TB raise _PACK_SHARDS to
    O(cores); packing quality is unchanged because chunking is exact
    within each stream."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text")).cast("long")
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        docs.select(
            "doc_id",
            "lang",
            (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
            n_tok.alias("n_tokens"),
        )
        .select(
            "doc_id",
            "lang",
            "shard",
            "n_tokens",
            start.alias("start_offset"),
            F.floor(start / _CTX).cast("long").alias("seq_id"),
            (start % _CTX).alias("offset_in_seq"),
        )
    )


# ---------------------------------------------------------------------------
# i14_decontaminate — n-gram overlap against a held-out eval split
# ---------------------------------------------------------------------------

_DECON_K = 5  # shingle width for contamination matching
_EVAL_MOD = 50  # doc_id % 50 == 0 plays the benchmark/eval set

_I14_ORACLE = f"""
WITH ev AS (
  SELECT DISTINCT unnest({o_distinct_shingles('text', _DECON_K)}) AS s
  FROM documents WHERE doc_id % {_EVAL_MOD} = 0
),
tr AS (
  SELECT doc_id, unnest({o_distinct_shingles('text', _DECON_K)}) AS s
  FROM documents WHERE doc_id % {_EVAL_MOD} <> 0
),
hits AS (
  SELECT tr.doc_id, COUNT(DISTINCT tr.s) AS n_shared
  FROM tr JOIN ev ON tr.s = ev.s GROUP BY tr.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
       COALESCE(h.n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {_EVAL_MOD} <> 0
ORDER BY d.doc_id
"""


@register("i14_decontaminate", oracle=_I14_ORACLE)
def i14_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    k-word shingle with the held-out eval split (doc_id % 50 == 0
    stands in for the benchmark set). The standard n-gram-overlap
    decontamination pass every serious pretraining pipeline runs.

    Scale: the eval shingle set is tiny relative to the corpus →
    broadcast it; the train side is a map-side explode + one hash
    aggregation on doc_id. Never a shuffle of the corpus by shingle.
    At 100 TB the eval set (benchmarks are ~MBs) still broadcasts."""
    docs = load(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    ev = (
        docs.filter(is_eval)
        .select(F.explode(distinct_shingles("text", _DECON_K)).alias("s"))
        .distinct()
    )
    tr = docs.filter(~is_eval)
    hits = (
        tr.select("doc_id", F.explode(distinct_shingles("text", _DECON_K)).alias("s"))
        .join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_shared"))
    )
    return (
        tr.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# i15_stratified_sample — deterministic per-stratum hash sampling
# ---------------------------------------------------------------------------

_SAMPLE_FRAC = 0.2

_I15_ORACLE = f"""
SELECT doc_id, lang,
       ROW_NUMBER() OVER (
         PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
         AS sample_rank,
       COUNT(*) OVER (PARTITION BY lang) AS stratum_size,
       ROW_NUMBER() OVER (
         PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
         <= CAST(CEIL({_SAMPLE_FRAC} * COUNT(*) OVER (PARTITION BY lang))
                 AS BIGINT) AS in_sample
FROM documents
ORDER BY doc_id
"""


@register("i15_stratified_sample", oracle=_I15_ORACLE)
def i15_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: exactly ceil(f·|stratum|) docs per language,
    chosen by md5-hash order — deterministic, seedless, and stable
    under re-runs and repartitioning (unlike rand()-based sampling).
    The train/eval-split primitive for corpus curation.

    Scale: one window shuffle on the stratum key. Hash-order ranking
    means adding data only perturbs selection locally; no global sort
    of the corpus. Skewed strata are bounded by the same windowing as
    any per-key op (salt or AQE if one language dominates)."""
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    ws = Window.partitionBy("lang")
    rank = F.row_number().over(w)
    size = F.count(F.lit(1)).over(ws)
    return docs.select(
        "doc_id",
        "lang",
        rank.alias("sample_rank"),
        size.alias("stratum_size"),
        (rank <= F.ceil(F.lit(_SAMPLE_FRAC) * size).cast("long")).alias(
            "in_sample"
        ),
    )


# ---------------------------------------------------------------------------
# i16_semantic_components — cosine-threshold connected components
# ---------------------------------------------------------------------------

_SEMDUP_THETA = 0.4
# Node-set bound: keeps the oracle's O(n²) cosine self-join affordable at
# any SF (the recursive-CTE closure itself is cheap). sf0.01's 500 vectors
# are all inside the bound, so the driver's check covers the full table;
# the Spark side scales past it — only the ORACLE needs the bound.
_SEMDUP_MAX_ID = 2000

# Oracle cost discipline: every CTE below is AS MATERIALIZED. Without the
# hint DuckDB inlines `edges` into `bidir` (2×) and re-executes the inlined
# tree on EVERY recursive-CTE iteration — the O(n²) cosine join ran ~25
# times and one sf0.1 drive paid 338 s for a closure that takes <0.1 s on a
# materialized edge table. Pre-quantizing each vector ONCE in `qn` (instead
# of re-quantizing both sides 3× per pair inside o_cosine) cuts the pair
# join itself ~3×. Same fixed-point arithmetic, same 920 edges at sf0.1,
# verified row-identical to the old form: 338 s → ~5 s per drive.
_I16_Q_DOT = "list_sum(list_transform(range(64), i -> a.q[i+1]*b.q[i+1]))"

_I16_ORACLE = f"""
WITH RECURSIVE
qnodes AS MATERIALIZED (
  SELECT vec_id, {o_quantized('embedding')} AS q
  FROM embeddings WHERE vec_id < {_SEMDUP_MAX_ID}),
qn AS MATERIALIZED (
  SELECT vec_id, q,
         sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)
              / {DOT_SCALE!r}) AS nrm
  FROM qnodes),
edges AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM qn a JOIN qn b ON a.vec_id < b.vec_id
  WHERE (CAST({_I16_Q_DOT} AS DOUBLE) / {DOT_SCALE!r}) / (a.nrm * b.nrm)
        >= {_SEMDUP_THETA}),
bidir AS MATERIALIZED (
  SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges
),
reach(v, lbl) AS (
  SELECT vec_id, vec_id FROM qnodes
  UNION
  SELECT b.dst, r.lbl FROM reach r JOIN bidir b ON b.src = r.v
),
comp AS (SELECT v AS vec_id, MIN(lbl) AS component_id FROM reach GROUP BY v)
SELECT vec_id, component_id,
       COUNT(*) OVER (PARTITION BY component_id) AS comp_size,
       vec_id = component_id AS is_keeper
FROM comp
ORDER BY vec_id
"""


def _local_ckpt_rdd(df: DataFrame):
    """JVM RDD handle behind a localCheckpoint-ed frame (its analyzed
    plan is a LogicalRDD), for explicit block release. None when the
    plan shape is unexpected — callers then simply skip the release."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()  # noqa: SLF001
    except Exception:  # noqa: BLE001
        return None


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 64
) -> tuple[DataFrame, int]:
    """Min-label connected components over (nodes[id], edges[src,dst])
    as iterative DataFrame joins, with pointer-jumping.

    Each round combines neighbor propagation (lbl := min over adjacent
    labels) with path compression (lbl := lbl[lbl]) — the hybrid that
    makes convergence O(log n) rounds even on chain graphs, where pure
    propagation needs diameter rounds. Labels only decrease, so the
    label SUM is monotone non-increasing and sum-unchanged == fixpoint:
    one cheap scalar action per round, no diff join.

    Returns (labels[id, lbl], rounds run). Labels are localCheckpoint-ed
    EVERY round, not just at the end: each round references the previous
    labels frame twice (neighbor join + self join), so without lineage
    truncation the logical plan doubles per round and Catalyst planning
    time goes exponential — the classic iterative-Spark trap. The eager
    checkpoint materializes |V| rows per round and keeps every plan
    two joins deep. Each round is two shuffles over |E| + |V| rows —
    the textbook Spark components shape (GraphX's connectedComponents
    does the same dance on RDDs)."""
    bidir = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        nodes.select(F.col("id"), F.col("id").alias("lbl")).localCheckpoint()
    )
    # r13 storage hygiene: each round's eager localCheckpoint makes the
    # PREVIOUS round's checkpointed blocks garbage, but nothing dropped
    # them — a components call pinned rounds × |V| rows of block store
    # for the session's lifetime (and the plan-hygiene suite, which
    # builds every registered query, tripped the zero-persisted-RDD
    # assertion on exactly this). Unpersist the superseded round's RDD
    # right after the new checkpoint materializes; the FINAL round's
    # handle (backing the returned frame) is registered in the
    # session's llmops_ckpts cache and drained by release_caches.
    prev_handle = _local_ckpt_rdd(labels)
    prev_sum = None
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        nbr = (
            bidir.join(labels, bidir.src == labels.id)
            .groupBy("dst")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        l2 = labels.select(
            F.col("id").alias("j_id"), F.col("lbl").alias("jump_lbl")
        )
        labels = (
            labels.join(nbr, labels.id == nbr.dst, "left")
            .join(l2, labels.lbl == l2.j_id)  # lbl[lbl] always resolves
            .select(
                "id",
                F.least(
                    "lbl", F.coalesce("nbr_lbl", "lbl"), "jump_lbl"
                ).alias("lbl"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        new_handle = _local_ckpt_rdd(labels)
        if prev_handle is not None:
            prev_handle.unpersist(False)
        prev_handle = new_handle
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    bidir.unpersist()
    if prev_handle is not None:
        ckpts = caches.entries(nodes.sparkSession, "llmops_ckpts")
        ckpts[len(ckpts)] = prev_handle
    return labels, rounds


@register("i16_semantic_components", oracle=_I16_ORACLE)
def i16_semantic_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, completed: cosine-threshold pairs (the i3 kernel
    at θ=0.4) become an undirected graph; connected components assign
    every vector a cluster, the min-vec_id member is the keeper. This
    is the grouping step that turns pairwise near-dup hits into an
    actual drop-list — checked hash-for-hash against a DuckDB
    recursive-CTE transitive closure.

    Components run via ``connected_components`` (hybrid min-label
    propagation + pointer jumping, O(log n) rounds; chain-graph
    convergence unit-tested). The node set is bounded at
    _SEMDUP_MAX_ID so the ORACLE's O(n²) cosine self-join stays
    affordable at any SF — sf0.01 lies entirely inside the bound, so
    the driver's hash check covers the whole table; the Spark
    algorithm itself has no such bound.

    Scale: edges come from the auto-dispatched i3 kernel (broadcast or
    blocked — never all-pairs materialized); each round shuffles |E| +
    |V| rows, and near-dup graphs have |E| ≪ |pairs|."""
    edges = (
        i3_cosine_pairs(spark, sf_dir)
        .filter(
            (F.col("cos_sim") >= _SEMDUP_THETA)
            & (F.col("id_a") < _SEMDUP_MAX_ID)
            & (F.col("id_b") < _SEMDUP_MAX_ID)
        )
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    nodes = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _SEMDUP_MAX_ID)
        .select(F.col("vec_id").alias("id"))
    )
    labels, _ = connected_components(nodes, edges)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("comp_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("id").alias("vec_id"),
            F.col("lbl").alias("component_id"),
            "comp_size",
            (F.col("id") == F.col("lbl")).alias("is_keeper"),
        )
    )


# ---------------------------------------------------------------------------
# i17_topk_sketch — distributed Misra-Gries heavy hitters (CH topK analog)
# ---------------------------------------------------------------------------

_MG_CAPACITY = 256  # per-partition counter budget
_TOPK_GRAMS = 10


def _mg_partition_summaries(
    batches, capacity: int, key: str = "gram", weight: str | None = None
):
    """Weighted Misra-Gries over one partition's stream of ``key``
    values, each weighing its ``weight`` column (1 when None): an insert
    at full capacity subtracts the minimum counter from ALL counters
    (evicting zeros), so each surviving estimate undercounts its true
    partition weight by at most W_part/(capacity+1) and never
    overcounts. With unit weights this is the classic counting sketch.
    Integral weights keep every comparison exact. Yields ONE summary
    frame per partition."""
    import itertools

    import pandas as pd

    counters: dict = {}
    for pdf in batches:
        ws = pdf[weight] if weight else itertools.repeat(1)
        for k, w in zip(pdf[key], ws):
            w = int(w)
            if w <= 0:
                continue
            if k in counters or len(counters) < capacity:
                counters[k] = counters.get(k, 0) + w
            else:
                counters[k] = w
                m = min(counters.values())
                counters = {c: v - m for c, v in counters.items() if v > m}
    yield pd.DataFrame({key: list(counters), "est": list(counters.values())})


def _mg_estimates(
    items: DataFrame, key: str, weight: str | None, capacity: int
) -> DataFrame:
    """Per-``key`` sums (column ``est``) of the per-partition Misra-Gries
    summaries: the shuffle carries ≤ capacity rows per partition."""

    def summarize(batches):
        yield from _mg_partition_summaries(batches, capacity, key, weight)

    key_type = items.schema[key].dataType.simpleString()
    return (
        items.mapInPandas(summarize, schema=f"{key} {key_type}, est long")
        .groupBy(key)
        .agg(F.sum("est").alias("est"))
    )


def _mg_topk_bound(
    items: DataFrame, key: str, weight: str | None, capacity: int, k: int,
    exact_name: str,
) -> DataFrame:
    """The sketch made SQL-checkable (the d4b pattern): the exact top-k
    ``key`` values by total weight, each with the Misra-Gries merge
    guarantees as booleans — summed partition estimates never exceed
    the exact weight, and fall short of it by at most total
    weight/(capacity+1). Both hold for ANY partitioning (the MG merge
    theorem), so the row hash is stable although the estimates are
    partition-dependent."""
    w = F.col(weight) if weight else F.lit(1)
    exact = items.groupBy(key).agg(F.sum(w).cast("bigint").alias(exact_name))
    rank = Window.orderBy(F.desc(exact_name), key)
    topk = exact.select(
        key, exact_name, F.row_number().over(rank).alias("rk")
    ).filter(F.col("rk") <= k)
    total = items.agg(F.sum(w).alias("w_total"))
    short = F.col(exact_name) - F.coalesce("est", F.lit(0))
    return (
        topk.join(_mg_estimates(items, key, weight, capacity), key, "left")
        .crossJoin(F.broadcast(total))
        .select(
            key,
            exact_name,
            (short >= 0).alias("sketch_never_over"),
            (short <= F.col("w_total") / (capacity + 1)).alias(
                "sketch_within_bound"
            ),
        )
        .orderBy(F.desc(exact_name), key)
    )


@register(
    "i17_topk_sketch",
    oracle=None,
    tier="T3",
    no_oracle_reason=(
        "Misra-Gries estimates depend on partition boundaries "
        "(as any mergeable summary does); the MG guarantee "
        "(recovery + est<=exact + error bound) is asserted on planted "
        "skew, and i17b/i17c hash-check the bound booleans in SQL"
    ),
    test="tests/test_llmops.py::test_mg_sketch_recovers_planted_heavy_hitter",
)
def i17_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `topK()` analog: approximate heavy hitters over the
    corpus 2-gram stream via per-partition Misra-Gries summaries merged
    by a hash aggregation. The shuffle carries ≤ capacity rows per
    partition — fixed-size, like every mergeable sketch — instead of
    the full gram stream; est ≤ true always, and (true − est) ≤
    N/(capacity+1) summed over partitions (i17b turns that bound into
    a SQL-checked boolean).

    Rows-only by design: estimates depend on partition boundaries
    (legitimately — any mergeable-summary sketch does); the planted-
    skew unit test pins the recovery guarantee."""
    docs = load(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(word_shingles("text", 2)).alias("gram")
    )
    return (
        _mg_estimates(grams, "gram", None, _MG_CAPACITY)
        .select("gram", F.col("est").alias("est_count"))
        .orderBy(F.desc("est_count"), "gram")
        .limit(_TOPK_GRAMS)
    )


_I17B_ORACLE = f"""
WITH grams AS (
  SELECT unnest({o_word_shingles('text', 2)}) AS g FROM documents
),
counts AS (SELECT g, COUNT(*) AS exact_count FROM grams GROUP BY g),
ranked AS (
  SELECT g, exact_count,
         ROW_NUMBER() OVER (ORDER BY exact_count DESC, g) AS rk
  FROM counts
)
SELECT g AS gram, exact_count,
       TRUE AS sketch_never_over, TRUE AS sketch_within_bound
FROM ranked WHERE rk <= {_TOPK_GRAMS}
ORDER BY exact_count DESC, gram
"""


@register("i17b_topk_bound", oracle=_I17B_ORACLE)
def i17b_topk_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i17's sketch made SQL-checkable: the exact top-k 2-grams with
    the Misra-Gries guarantees as booleans (``_mg_topk_bound`` with
    unit weights, so the exact weight is the count and the bound is
    N/(capacity+1)). The oracle states the exact counts plus literal
    TRUE."""
    docs = load(spark, sf_dir, "documents")
    grams = docs.select(F.explode(word_shingles("text", 2)).alias("gram"))
    return _mg_topk_bound(
        grams, "gram", None, _MG_CAPACITY, _TOPK_GRAMS, "exact_count"
    )


# ---------------------------------------------------------------------------
# i18_repetition_ratio — duplicated-trigram fraction (repetition signal)
# ---------------------------------------------------------------------------

_I18_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         list_transform(range(1, GREATEST(len(toks) - 1, 1)), i ->
           toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS trigrams
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(len(trigrams) AS BIGINT) AS n_trigrams,
       CAST(len(list_distinct(trigrams)) AS BIGINT) AS n_distinct_trigrams,
       CASE WHEN len(trigrams) > 0
            THEN CAST(len(trigrams) - len(list_distinct(trigrams)) AS DOUBLE)
                 / CAST(len(trigrams) AS DOUBLE)
            ELSE 0.0 END AS dup_trigram_frac
FROM g
ORDER BY doc_id
"""


@register("i18_repetition_ratio", oracle=_I18_ORACLE)
def i18_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detection (a Gopher/C4-style quality signal): the
    fraction of word trigrams that are duplicates within the document.
    Boilerplate, keyword stuffing and template spam score high; clean
    prose scores near 0. Trigram construction and the distinct count
    run entirely inside the scan stage with array higher-order
    functions (no explode — a 3-gram posexplode would multiply the
    shuffle by ~n_tokens); the output is one row per doc, so the
    operator is shuffle-free at any corpus size. The int/int → double
    division is a single IEEE op, bit-identical on both engines.

    r13: the token array and the trigram array are each MATERIALIZED
    as a projected column before anything indexes into them. Inlining
    ``split(text)`` at every ``element_at`` site re-split the document
    per trigram element (O(tokens²) per row), and the trigram
    expression was itself evaluated twice (size + array_distinct):
    0.44 s → 0.11 s warm on the sf0.01 fixture, identical values
    (hash-checked). Catalyst's CollapseProject keeps the split because
    the materialized column is multiply-referenced."""
    docs = load(spark, sf_dir, "documents")
    with_toks = docs.select("doc_id", tokens("text").alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)
    # sequence(1, n-2) DESCENDS when n-2 < 1 — gate short docs to empty
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    trigrams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    with_tri = with_toks.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        trigrams.alias("trigrams"),
    )
    n_tri = F.size("trigrams").cast("long")
    n_uniq = F.size(F.array_distinct("trigrams")).cast("long")
    frac = F.when(
        n_tri > 0, (n_tri - n_uniq).cast("double") / n_tri.cast("double")
    ).otherwise(F.lit(0.0))
    return with_tri.select(
        "doc_id",
        "n_tokens",
        n_tri.alias("n_trigrams"),
        n_uniq.alias("n_distinct_trigrams"),
        frac.alias("dup_trigram_frac"),
    )


# ---------------------------------------------------------------------------
# i19_gopher_rules — Gopher-style document quality rule flags
# ---------------------------------------------------------------------------

_I19_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT)
           AS n_word_chars,
         CAST(len(list_filter(toks, w -> length(w) <= 2)) AS BIGINT)
           AS n_tiny,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
  FROM t
)
SELECT doc_id, lang, n_words,
       CAST(n_word_chars AS DOUBLE) / n_words AS mean_word_len,
       CAST(n_tiny AS DOUBLE) / n_words AS tiny_word_frac,
       CAST(n_distinct AS DOUBLE) / n_words AS distinct_frac,
       (n_words BETWEEN 5 AND 100000) AS ok_word_count,
       (CAST(n_word_chars AS DOUBLE) / n_words BETWEEN 3.0 AND 12.0)
         AS ok_mean_word_len,
       (CAST(n_tiny AS DOUBLE) / n_words <= 0.4) AS ok_tiny_frac,
       (CAST(n_distinct AS DOUBLE) / n_words >= 0.2) AS ok_distinct,
       ((n_words BETWEEN 5 AND 100000)
        AND (CAST(n_word_chars AS DOUBLE) / n_words BETWEEN 3.0 AND 12.0)
        AND (CAST(n_tiny AS DOUBLE) / n_words <= 0.4)
        AND (CAST(n_distinct AS DOUBLE) / n_words >= 0.2))
         AS passes_gopher
FROM s
ORDER BY doc_id
"""


@register("i19_gopher_rules", oracle=_I19_ORACLE)
def i19_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style (Rae et al. 2021, public) rule-based quality gates,
    adapted to the fixture corpus: word-count bounds, mean word length
    band, tiny-word fraction cap, lexical-diversity floor, and the
    conjunction as `passes_gopher`. Every statistic folds inside the
    scan stage (map-only, no shuffle); ratios are single int/int IEEE
    divisions so the flags and doubles hash identically on DuckDB.
    At 100 TB this is the cheap first-pass filter run before any
    dedup/embedding stage — it prunes the corpus in one scan."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens("text")
    n_words = F.size(toks).cast("long")
    n_word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w).cast("long")
    )
    n_tiny = F.size(F.filter(toks, lambda w: F.length(w) <= 2)).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    mean_len = n_word_chars.cast("double") / n_words
    tiny_frac = n_tiny.cast("double") / n_words
    distinct_frac = n_distinct.cast("double") / n_words
    ok_wc = n_words.between(5, 100000)
    ok_mwl = mean_len.between(3.0, 12.0)
    ok_tiny = tiny_frac <= 0.4
    ok_dist = distinct_frac >= 0.2
    return docs.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        tiny_frac.alias("tiny_word_frac"),
        distinct_frac.alias("distinct_frac"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_tiny.alias("ok_tiny_frac"),
        ok_dist.alias("ok_distinct"),
        (ok_wc & ok_mwl & ok_tiny & ok_dist).alias("passes_gopher"),
    )


# ---------------------------------------------------------------------------
# i20_mix_rebalance — resample the corpus to target mixture weights
# ---------------------------------------------------------------------------

# Target language mixture for the output corpus. Rebalancing never
# upsamples: the output size is the largest n_out with
# floor(n_out * w_l) <= n_l for every language.
_I20_WEIGHTS = {"en": 0.40, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}

_I20_WEIGHTS_SQL = " UNION ALL ".join(
    f"SELECT '{lang}' AS w_lang, {w!r} AS w" for lang, w in _I20_WEIGHTS.items()
)

_I20_ORACLE = f"""
WITH weights AS ({_I20_WEIGHTS_SQL}),
counts AS (
  SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang
), budget AS (
  SELECT CAST(MIN(FLOOR(n_l / w)) AS BIGINT) AS n_out
  FROM counts JOIN weights ON lang = w_lang
), quota AS (
  SELECT lang, CAST(FLOOR(n_out * w) AS BIGINT) AS k_l
  FROM counts JOIN weights ON lang = w_lang CROSS JOIN budget
), ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents
)
SELECT r.lang,
       COUNT(*) AS kept_docs,
       CAST(SUM(r.doc_id) AS BIGINT) AS kept_id_sum,
       MIN(q.k_l) AS quota
FROM ranked r JOIN quota q ON r.lang = q.lang
WHERE r.rk <= q.k_l
GROUP BY r.lang
ORDER BY r.lang
"""


@register("i20_mix_rebalance", oracle=_I20_ORACLE)
def i20_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rebalancing: resample the corpus so language
    shares hit target weights (en 40%, the rest 15% each) WITHOUT
    upsampling — the output budget is the largest n_out whose per-lang
    quotas floor(n_out*w_l) all fit inside the available counts, i.e.
    the scarcest language binds the whole mixture. Selection within a
    language is md5-order (i15's deterministic, seedless idiom), so
    re-runs and repartitioning pick the identical subset.

    Scale: per-lang counts are a tiny aggregate; the budget and quotas
    are a |langs|-row relation broadcast back; the only fact-sized
    work is one window rank per language — the same single exchange as
    i15. Quota arithmetic stays integral (floor to bigint), so both
    engines agree exactly."""
    docs = load(spark, sf_dir, "documents")
    weights = F.create_map(
        *[F.lit(x) for kv in _I20_WEIGHTS.items() for x in kv]
    )
    counts = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_l"))
        .withColumn("w", weights[F.col("lang")])
    )
    budget = counts.agg(
        F.min(F.floor(F.col("n_l") / F.col("w"))).cast("bigint").alias("n_out")
    )
    quota = counts.crossJoin(F.broadcast(budget)).select(
        F.col("lang").alias("q_lang"),
        F.floor(F.col("n_out") * F.col("w")).cast("bigint").alias("k_l"),
    )
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    rk = F.row_number().over(Window.partitionBy("lang").orderBy(h, "doc_id"))
    ranked = docs.select("doc_id", "lang", rk.alias("rk"))
    return (
        ranked.join(F.broadcast(quota), F.col("lang") == F.col("q_lang"))
        .filter(F.col("rk") <= F.col("k_l"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
            F.min("k_l").alias("quota"),
        )
    )


# ---------------------------------------------------------------------------
# i21_source_divergence — per-source total-variation distance from corpus
# ---------------------------------------------------------------------------

_I21_ORACLE = """
WITH words AS (
  SELECT source, UNNEST(string_split(text, ' ')) AS word
  FROM documents
), sc AS (
  SELECT source, word, COUNT(*) AS c FROM words GROUP BY source, word
), stot AS (
  SELECT source, SUM(c) AS st FROM sc GROUP BY source
), gc AS (
  SELECT word, SUM(c) AS g FROM sc GROUP BY word
), gtot AS (
  SELECT SUM(c) AS gt FROM sc
), terms AS (
  SELECT sc.source,
         ABS(CAST(sc.c AS DOUBLE) / st - CAST(g AS DOUBLE) / gt) AS t
  FROM sc
  JOIN stot USING (source)
  JOIN gc USING (word)
  CROSS JOIN gtot
)
SELECT source,
       CAST(SUM(CAST(FLOOR(t * 1000000000.0) AS BIGINT)) AS DOUBLE)
         / 2000000000.0 AS tv_lower,
       COUNT(*) AS n_shared_words
FROM terms
GROUP BY source
ORDER BY source
"""


@register("i21_source_divergence", oracle=_I21_ORACLE)
def i21_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: total-variation distance between
    each source's word distribution and the whole-corpus distribution
    (lower bound over words the source contains — absent words add
    their global mass; the shared-word sum is the monitored signal).
    The corpus-mixing diagnostic: a source whose TV distance spikes is
    drifting from the mixture it was weighted for.

    Each |p - q| term is two IEEE divisions + a subtraction evaluated
    in the same order on both engines, then a scale-9 fixed-point sum
    (order-proof; the /2 of the TV definition folds into the final
    divisor). Scale shape: one (source, word) count exchange — the
    same granularity TF-IDF (i6) already shuffles — then broadcast
    joins of the per-source and global totals (|sources| + |vocab|
    rows); no row-level Python anywhere."""
    docs = load(spark, sf_dir, "documents")
    # r13: keyed, RELEASABLE persist (the plan references the counts
    # 4×; an anonymous .cache() here was never unpersisted — every i21
    # invocation pinned another copy for the session's lifetime)
    per_session = caches.entries(spark, "llmops_wordcounts")
    sc = per_session.get(sf_dir)
    if sc is None:
        sc = (
            docs.select("source", F.explode(tokens("text")).alias("word"))
            .groupBy("source", "word")
            .agg(F.count(F.lit(1)).alias("c"))
        ).persist()
        per_session[sf_dir] = sc
    stot = sc.groupBy("source").agg(F.sum("c").alias("st"))
    gc = sc.groupBy("word").agg(F.sum("c").alias("g"))
    gtot = sc.agg(F.sum("c").alias("gt"))
    t = F.abs(
        F.col("c").cast("double") / F.col("st")
        - F.col("g").cast("double") / F.col("gt")
    )
    return (
        sc.join(F.broadcast(stot), "source")
        .join(gc, "word")
        .crossJoin(F.broadcast(gtot))
        .groupBy("source")
        .agg(
            (
                F.sum(F.floor(t * F.lit(1000000000.0)).cast("long")).cast(
                    "double"
                )
                / F.lit(2000000000.0)
            ).alias("tv_lower"),
            F.count(F.lit(1)).alias("n_shared_words"),
        )
    )


# ---------------------------------------------------------------------------
# i22_containment_dedup — asymmetric shingle containment (subset detection)
# ---------------------------------------------------------------------------

_I22_THETA = 0.6

_I22_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, source, {o_distinct_shingles('text')} AS shingles
  FROM documents
)
SELECT a.doc_id AS contained_doc,
       b.doc_id AS container_doc,
       CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
         AS n_common,
       CAST(len(a.shingles) AS BIGINT) AS n_contained,
       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         / CAST(len(a.shingles) AS DOUBLE) AS containment
FROM sh a JOIN sh b
  ON a.source = b.source AND a.doc_id <> b.doc_id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / CAST(len(a.shingles) AS DOUBLE) >= {_I22_THETA}
ORDER BY contained_doc, container_doc
"""


@register("i22_containment_dedup", oracle=_I22_ORACLE)
def i22_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: |A∩B| / |A| ≥ θ flags document
    A as largely CONTAINED in B — the quote/excerpt/boilerplate-subset
    case symmetric Jaccard misses (a short doc quoted inside a long one
    scores low Jaccard but high containment; dedup pipelines drop the
    contained copy, keep the container).

    Same blocked shape as i2b (pairs only within the source block —
    never all-pairs; at 100 TB the block key comes from the LSH
    banding i2 already computes), but the predicate is directional, so
    each unordered pair is examined both ways and both directions can
    fire (mutual containment == exact dup). The containment ratio is
    one IEEE division, identically ordered on both engines.

    Intersection sizes come from the same shingle postings as i2b
    (_shingle_overlaps, exact-string join over distinct shingles, so
    each shared shingle counts once). The directed view is each
    undirected overlap plus its swap, both emitted from one pass (a
    union would run the postings join once per branch). theta > 0
    means every emitted pair shares >= 1 shingle, which is exactly the
    pairs the postings produce. A doc with no shingles (fewer than 3 words)
    has no postings, so it is never a contained_doc here; the oracle
    agrees because DuckDB evaluates its 0.0/0.0 containment to NULL,
    and NULL >= theta drops the pair
    (tests/test_llmops.py::test_shingle_ops_empty_shingle_docs_vs_oracle)."""
    sh = load(spark, sf_dir, "documents").select(
        "doc_id", "source", distinct_shingles("text").alias("shingles")
    )
    directed = _shingle_overlaps(sh).select(
        "n_common",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.col(f"doc_{x}").alias("contained_doc"),
                        F.col(f"doc_{y}").alias("container_doc"),
                        F.col(f"n_{x}").alias("n_contained"),
                    )
                    for x, y in (("a", "b"), ("b", "a"))
                ]
            )
        ),
    )
    containment = F.col("n_common").cast("double") / F.col(
        "n_contained"
    ).cast("double")
    return directed.filter(containment >= F.lit(_I22_THETA)).select(
        "contained_doc",
        "container_doc",
        "n_common",
        "n_contained",
        containment.alias("containment"),
    )


# ---------------------------------------------------------------------------
# i17c_topk_weighted — CH topKWeighted: Misra-Gries with weighted updates
# ---------------------------------------------------------------------------

_MGW_CAPACITY = 64
_TOPK_USERS = 10

_I17C_ORACLE = f"""
WITH w AS (
  SELECT user_id, CAST(FLOOR(value * 10000.0) AS BIGINT) AS w_fp
  FROM events WHERE event_type = 'purchase'
), exact AS (
  SELECT user_id, CAST(SUM(w_fp) AS BIGINT) AS exact_weight
  FROM w GROUP BY user_id
), ranked AS (
  SELECT user_id, exact_weight,
         ROW_NUMBER() OVER (ORDER BY exact_weight DESC, user_id) AS rk
  FROM exact
)
SELECT user_id, exact_weight,
       TRUE AS sketch_never_over, TRUE AS sketch_within_bound
FROM ranked WHERE rk <= {_TOPK_USERS}
ORDER BY exact_weight DESC, user_id
"""


@register("i17c_topk_weighted", oracle=_I17C_ORACLE)
def i17c_topk_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH ``topKWeighted(10)(user_id, value)``: heaviest purchase users
    by TOTAL SPEND, not occurrence count — ``_mg_topk_bound`` with the
    spend as weight, checked like i17b. Weights ride as fixed-point
    bigints: every sketch comparison and both bound checks are
    integer-exact. Shuffle carries ≤capacity rows per partition — the
    mergeable-summary shape."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = ev.select("user_id", fixed_point("value").alias("w"))
    return _mg_topk_bound(
        w, "user_id", "w", _MGW_CAPACITY, _TOPK_USERS, "exact_weight"
    )


# ---------------------------------------------------------------------------
# i23_bigram_surprisal — corpus-trained bigram LM perplexity proxy
# ---------------------------------------------------------------------------

_I23_ALPHA = 0.5  # add-alpha smoothing


def _bigrams(col):
    """Adjacent token pairs as 'w1 w2' strings (empty for 1-token docs)."""
    toks = tokens(col)
    return F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _i23_model(spark: SparkSession, sf_dir: str):
    """(doc bigrams, model) shared by the registered integer-bits query
    and the fractional-score helper. Model rows carry the EXACT
    rational P(w2|w1) = num/den with α=0.5 cleared to integers:
    num = 2·c(w1,w2)+1, den = 2·c(w1)+V."""
    docs = load(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(_bigrams("text")).alias("bg")
    )
    toks = docs.select(F.explode(tokens("text")).alias("w"))
    big_c = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    uni_c = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    vocab = toks.agg(F.countDistinct("w").alias("v"))
    model = (
        big_c.withColumn("w1", F.split(F.col("bg"), " ")[0])
        .join(uni_c, F.col("w1") == F.col("w"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            (F.col("c_bg") * 2 + 1).alias("num"),
            (F.col("c_w") * 2 + F.col("v")).alias("den"),
        )
    )
    return grams, model


def bigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fractional perplexity-proxy score (mean −log2 P per doc) —
    the form a quality gate thresholds on. Unregistered: log2 has no
    cross-libm bit guarantee (the d41 lesson), so this surface is
    pinned by the reference-kernel tolerance test
    (tests/test_llmops.py::test_bigram_surprisal_matches_reference)
    while the REGISTERED i23 hashes the exact integer-bits form."""
    grams, model = _i23_model(spark, sf_dir)
    scored = model.select(
        "bg",
        (-F.log2(F.col("num") / F.col("den"))).alias("surprisal"),
    )
    return (
        grams.join(scored, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("surprisal").alias("mean_surprisal"),
        )
    )


# floor(log2(den/num)) in EXACT integer arithmetic — no transcendental
# anywhere, so the result is bit-portable at ANY scale (what retired
# this query's rows-only ledger entry in r11): b = bitlen(den) -
# bitlen(num) brackets the ratio in [2^(b-1), 2^(b+1)), and one
# integer-shift comparison resolves which side. num <= den always
# (c_bg <= c_w and V >= 1), so b >= 0 and num << b < 2^bitlen(den).
_I23_BITS = (
    "(length(bin(den)) - length(bin(num))) - "
    "(CASE WHEN den < shiftleft(num, length(bin(den)) - length(bin(num))) "
    "THEN 1 ELSE 0 END)"
)


@register(
    "i23_bigram_surprisal",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ts) - 1),
                               i -> ts[i] || ' ' || ts[i + 1])) AS bg
  FROM toks WHERE len(ts) >= 2
), big_c AS (
  SELECT bg, COUNT(*) AS c_bg FROM grams GROUP BY bg
), uni_c AS (
  SELECT w, COUNT(*) AS c_w
  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w
), vocab AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT unnest(ts) AS w FROM toks)
), model AS (
  SELECT bg, c_bg * 2 + 1 AS num, c_w * 2 + v AS den
  FROM big_c
  JOIN uni_c ON string_split(bg, ' ')[1] = w
  CROSS JOIN vocab
), bits AS (
  SELECT bg,
         (bit_length(bin(den)) - bit_length(bin(num))) // 8
         - (CASE WHEN den < (num << (
                (bit_length(bin(den)) - bit_length(bin(num))) // 8))
            THEN 1 ELSE 0 END) AS e
  FROM model
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(e) AS BIGINT) AS bits_total,
       CAST(SUM(e) AS DOUBLE) / COUNT(*) AS mean_bits
FROM grams JOIN bits USING (bg)
GROUP BY doc_id
ORDER BY doc_id
""",
    tier="T3",
)
def i23_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring with a bigram LM trained on the
    corpus itself (the classic KenLM-filter shape, minus the external
    model): P(w2|w1) = (c(w1,w2)+α)/(c(w1)+α·V) with α=0.5, and each
    document's hashed score is its total/mean surprisal in WHOLE BITS
    — floor(−log2 P) per bigram, computed in exact integer arithmetic
    (bit lengths + one shift comparison on the cleared rational
    num/den), so the result is bit-identical across engines at any
    row count. The fractional score a gate would threshold lives in
    ``bigram_surprisal_scores`` (same model relation), pinned by the
    reference-kernel tolerance test — r11 retired this query's
    rows-only ledger entry by making the HASHED form transcendental-
    free rather than quantizing a log (the d41 boundary-crossing
    lesson).

    Train and score are both relational: bigram/unigram/vocab counts
    (two map-side-combinable exchanges over exploded tokens), then doc
    bigrams join the model on the bigram key and aggregate per doc.
    The model relation is vocabulary-sized — broadcast when small, an
    ordinary shuffle join at web scale; nothing is ever collected."""
    grams, model = _i23_model(spark, sf_dir)
    bits = model.select("bg", F.expr(_I23_BITS).alias("e"))
    return (
        grams.join(bits, "bg")  # every doc bigram exists in the model
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("e").cast("long").alias("bits_total"),
            (F.sum("e").cast("double") / F.count(F.lit(1))).alias(
                "mean_bits"
            ),
        )
    )


# ---------------------------------------------------------------------------
# i24_pii_redaction — regex PII scrubbing with audit counts
# ---------------------------------------------------------------------------

# The corpus has no real PII, so deterministic synthetic PII is planted
# first (email for doc_id % 3 == 0, phone for doc_id % 5 == 0) — the
# redaction+audit machinery is what's under test. The match count uses
# the split identity (|split(s, re)| - 1), which both engines share;
# DuckDB regexp_replace needs the 'g' flag to match Spark's
# replace-all default.
_I24_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
_I24_PHONE_RE = "\\+1-[0-9]{3}-[0-9]{4}"

_I24_ORACLE = f"""
WITH planted AS (
  SELECT doc_id, lang,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' reach me at user' || CAST(doc_id AS VARCHAR)
                      || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                             4, '0')
                 ELSE '' END AS text_pii
  FROM documents
)
SELECT doc_id,
       CAST(length(string_split_regex(text_pii, '{_I24_EMAIL_RE}')) - 1
            AS BIGINT) AS n_emails,
       CAST(length(string_split_regex(text_pii, '{_I24_PHONE_RE}')) - 1
            AS BIGINT) AS n_phones,
       regexp_replace(regexp_replace(text_pii, '{_I24_EMAIL_RE}', '<EMAIL>',
                                     'g'),
                      '{_I24_PHONE_RE}', '<PHONE>', 'g') AS clean_text
FROM planted
ORDER BY doc_id
"""


@register("i24_pii_redaction", oracle=_I24_ORACLE)
def i24_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data PII scrubbing: regex redaction of emails/phones to
    typed placeholder tokens plus per-document audit counts (the
    compliance evidence a corpus release needs). Counts use the split
    identity |split(s, re)|-1 so no second regex engine pass differs
    from the replace pass.

    Scale: map-only — two codegen'd regex ops per row, no shuffle, no
    Python. At 100 TB this is scan-bound, exactly like the C4/Gopher
    cleaning stages (i18/i19) it composes with."""
    docs = load(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" reach me at user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
        ).alias("text_pii"),
    )
    n_emails = (F.size(F.split("text_pii", _I24_EMAIL_RE)) - 1).cast("long")
    n_phones = (F.size(F.split("text_pii", _I24_PHONE_RE)) - 1).cast("long")
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text_pii"), _I24_EMAIL_RE, "<EMAIL>"),
        _I24_PHONE_RE,
        "<PHONE>",
    )
    return planted.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        clean.alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# i25_paragraph_dedup — C4-style cross-corpus paragraph dedup
# ---------------------------------------------------------------------------

# "Paragraph" = 10-word chunk (the corpus is unpunctuated word soup).
# Every occurrence of a chunk except the globally-first one — ordered by
# (doc_id, pos) — is dropped, INCLUDING repeats inside the same doc
# (C4's rule), and surviving chunks are reassembled in order.
_I25_ORACLE = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), chunks AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
         array_to_string(ws[(CAST(t.i AS INT) * 10 + 1)
                           :(CAST(t.i AS INT) * 10 + 10)], ' ') AS chunk
  FROM words,
       UNNEST(range(CAST(ceil(length(ws) / 10.0) AS BIGINT))) AS t(i)
), firsts AS (
  SELECT chunk, MIN(doc_id) AS first_doc FROM chunks GROUP BY chunk
), firsts2 AS (
  SELECT c.chunk, f.first_doc, MIN(c.pos) AS first_pos
  FROM chunks c JOIN firsts f
    ON c.chunk = f.chunk AND c.doc_id = f.first_doc
  GROUP BY c.chunk, f.first_doc
), marked AS (
  SELECT c.doc_id, c.pos, c.chunk,
         CASE WHEN c.doc_id = f.first_doc AND c.pos = f.first_pos
              THEN 1 ELSE 0 END AS keep
  FROM chunks c JOIN firsts2 f ON c.chunk = f.chunk
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN keep = 1 THEN chunk END, ' '
                           ORDER BY pos), '') AS clean_text
FROM marked
GROUP BY doc_id
ORDER BY doc_id
"""


@register("i25_paragraph_dedup", oracle=_I25_ORACLE)
def i25_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style paragraph-level exact dedup: chunk each document into
    10-word paragraphs, drop every occurrence of a chunk except the
    globally first one (ordered by (doc_id, pos) — in-document repeats
    are dropped too), and reassemble the surviving text in order. The
    document-level i1 dedup misses near-identical docs sharing
    boilerplate paragraphs; this is the operator that removes the
    boilerplate itself.

    Scale: chunks explode ~n_words/10 rows per doc; the first-
    occurrence pick is a groupBy(chunk) min — one hash-partitioned
    exchange on the chunk key (hash the chunk to a 64-bit key to
    shrink exchange width at 100 TB; kept as the raw string here for
    oracle parity). Reassembly groups back on doc_id: second exchange.
    Two shuffles total, no Python, no window over the corpus."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.split("text", " ").alias("ws"))
    n_chunks = F.ceil(F.size("ws") / F.lit(10.0)).cast("int")
    chunks = words.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice("ws", i * 10 + 1, 10), " "),
            )
        ).alias("pos", "chunk"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "chunk")
    firsts = chunks.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    marked = chunks.join(firsts, "chunk").select(
        "doc_id",
        "pos",
        "chunk",
        F.when(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("pos") == F.col("first.pos")),
            1,
        )
        .otherwise(0)
        .alias("keep"),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("keep") == 1, F.struct("pos", "chunk")
                                )
                            )
                        ),
                        lambda s: s["chunk"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
        .select("doc_id", "n_chunks", "n_kept", "clean_text")
    )


# ---------------------------------------------------------------------------
# i26_pq_adc — product-quantization ANN with asymmetric distance (ADC)
# ---------------------------------------------------------------------------

_PQ_M = 8           # subspaces (64-dim -> 8 x 8-dim)
_PQ_K = 16          # centroids per subspace (4-bit codes)
_PQ_SAMPLE_CAP = 4096
_PQ_ITERS = 8
_PQ_QUERY_CAP = 64  # bounded query set (smallest xxhash64 ids)
_PQ_TOPK = 3


def _pq_codebooks(spark: SparkSession, emb: DataFrame):
    """Train per-subspace codebooks with the same bounded deterministic
    sampling discipline as _ivf_centroids: the _PQ_SAMPLE_CAP smallest-
    xxhash64 vectors train M independent k-means (evenly-spaced init on
    the hash order, fixed Lloyd rounds) — driver memory is capped at
    sample x dim x 8 B regardless of table size. Returns an
    (M, K, dim/M) float64 numpy array (~8 KiB at 64-dim/16-cent)."""
    import numpy as np

    rows = (
        emb.select("vec_id", "embedding", F.xxhash64("vec_id").alias("h"))
        .orderBy("h", "vec_id")
        .limit(_PQ_SAMPLE_CAP)
        .collect()
    )
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    n, dim = X.shape
    dsub = dim // _PQ_M
    books = np.zeros((_PQ_M, _PQ_K, dsub))
    for m in range(_PQ_M):
        S = X[:, m * dsub : (m + 1) * dsub]
        k = min(_PQ_K, n)
        cents = S[np.linspace(0, n - 1, num=k).round().astype(int)].copy()
        for _ in range(_PQ_ITERS):
            d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for j in range(k):
                members = S[assign == j]
                if len(members):
                    cents[j] = members.mean(axis=0)
        books[m, :k] = cents
    return books


@register(
    "i26_pq_adc",
    oracle=None,
    tier="T3",
    no_oracle_reason=(
        "PQ codebooks come from bounded k-means on a deterministic "
        "driver sample and ADC distances are quantized approximations; "
        "recall vs exact top-k and codebook determinism are asserted"
    ),
    test="tests/test_llmops.py::test_pq_adc_recall_vs_exact",
)
def i26_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the third scale path next to i4b LSH
    and i4d IVF, and the one that shrinks the INDEX itself): every
    vector compresses to M=8 4-bit-ish codes (32x smaller than the
    float32 row), and queries score candidates with asymmetric distance
    — per-subspace lookup tables built from the RAW query against the
    codebooks, so candidate vectors are never decompressed.

    Scale design: codebooks are trained on a bounded deterministic
    driver sample (_pq_codebooks) and broadcast by closure (~8 KiB);
    encoding is one Arrow-batched mapInPandas pass (no shuffle); the
    query set is capped (_PQ_QUERY_CAP smallest-xxhash ids — at 100 TB
    queries arrive as their own small table) and scored inside the same
    mapInPandas pass via one numpy gather + partial top-k per batch;
    the only exchange is the |queries| x topk-per-batch partial frame.
    Approximate by construction -> rows-only; compensating tests:
    tests/test_llmops.py::test_pq_adc_recall_vs_exact and
    ::test_pq_codebooks_deterministic."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = _pq_codebooks(spark, emb)
    q_rows = (
        emb.select("vec_id", "embedding", F.xxhash64("vec_id").alias("h"))
        .orderBy("h", "vec_id")
        .limit(_PQ_QUERY_CAP)
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    n_q, dim = Q.shape
    dsub = dim // _PQ_M
    # ADC tables: adc[q, m, k] = <Q[q, sub m], books[m, k]>
    adc = np.einsum("qmd,mkd->qmk", Q.reshape(n_q, _PQ_M, dsub), books)

    def score_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf["vec_id"].to_numpy("int64")
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            # encode the batch: per subspace nearest centroid
            codes = np.stack(
                [
                    np.argmin(
                        ((X[:, m * dsub : (m + 1) * dsub][:, None, :]
                          - books[m][None, :, :]) ** 2).sum(axis=2),
                        axis=1,
                    )
                    for m in range(_PQ_M)
                ],
                axis=1,
            )  # (B, M)
            # approx score of every query vs every batch row: gather+sum
            approx = adc[:, np.arange(_PQ_M)[None, :], codes].sum(axis=2)
            out = {"query_id": [], "neighbor_id": [], "approx_score": []}
            kk = min(_PQ_TOPK + 1, approx.shape[1])
            for qi in range(n_q):
                row = approx[qi]
                sel = np.argpartition(-row, kk - 1)[:kk]
                for bi in sel:
                    if ids[bi] == q_ids[qi]:
                        continue
                    out["query_id"].append(int(q_ids[qi]))
                    out["neighbor_id"].append(int(ids[bi]))
                    out["approx_score"].append(float(row[bi]))
            yield pd.DataFrame(out)

    partials = emb.mapInPandas(
        score_batches,
        schema="query_id long, neighbor_id long, approx_score double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_score"), F.asc("neighbor_id")
    )
    return (
        partials.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _PQ_TOPK)
    )


# ---------------------------------------------------------------------------
# i27_heaps_law — vocabulary-growth (Heaps' law) corpus diagnostic
# ---------------------------------------------------------------------------

# V(N) ~ k·N^beta: regress ln(cum_vocab) on ln(cum_tokens) over
# doc-batch checkpoints. Counts are exact integers (first-seen-batch
# trick); only ln is transcendental -> rounded at 6 (i6 precedent);
# the OLS arithmetic is the d39 shared fragment on five exact sums.
_I27_BATCH = 100  # docs per checkpoint

_I27_ORACLE = f"""
WITH words AS (
  SELECT doc_id // {_I27_BATCH} AS batch,
         unnest(string_split(text, ' ')) AS word
  FROM documents
), tok AS (
  SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM words GROUP BY batch
), first_seen AS (
  SELECT word, MIN(batch) AS fb FROM words GROUP BY word
), vocab AS (
  SELECT fb AS batch, CAST(COUNT(*) AS BIGINT) AS new_words
  FROM first_seen GROUP BY fb
), curve AS (
  SELECT t.batch,
         SUM(t.n_tokens) OVER (ORDER BY t.batch
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
         SUM(COALESCE(v.new_words, 0)) OVER (ORDER BY t.batch
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_vocab
  FROM tok t LEFT JOIN vocab v ON v.batch = t.batch
), pts AS (
  SELECT ROUND(LN(CAST(cum_tokens AS DOUBLE)), 6) AS x,
         ROUND(LN(CAST(cum_vocab AS DOUBLE)), 6) AS y
  FROM curve
), sums AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {o_dsum('x', 6)} AS sx, {o_dsum('y', 6)} AS sy,
         {o_dsum('x * y', 6)} AS sxy, {o_dsum('x * x', 6)} AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_checkpoints,
       (SELECT CAST(MAX(cum_tokens) AS BIGINT) FROM curve) AS total_tokens,
       (SELECT CAST(MAX(cum_vocab) AS BIGINT) FROM curve) AS total_vocab,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS heaps_beta
FROM sums
"""


@register("i27_heaps_law", oracle=_I27_ORACLE)
def i27_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit over the corpus: V(N) ≈ k·N^β estimated by OLS on
    ln/ln cumulative (tokens, vocabulary) checkpoints every 100 docs —
    the growth diagnostic that tells a training-data pipeline whether
    a source keeps contributing novel vocabulary or has saturated
    (β→0). Vocabulary-so-far uses the first-seen-batch identity (e9's
    trick lifted to words): one (word → min batch) aggregate, never a
    per-checkpoint distinct over history.

    Scale: tokens explode once; the two aggregates are map-side
    combinable on word/batch keys; the curve and regression run over
    |batches| rows. At 100 TB the vocabulary table is the only large
    intermediate and it shuffles once."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.expr(f"doc_id div {_I27_BATCH}").alias("batch"),
        F.explode(F.split("text", " ")).alias("word"),
    )
    tok = words.groupBy("batch").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    vocab = (
        words.groupBy("word")
        .agg(F.min("batch").alias("fb"))
        .groupBy("fb")
        .agg(F.count(F.lit(1)).cast("long").alias("new_words"))
        .withColumnRenamed("fb", "batch")
    )
    # both cumulatives share one two-phase prefix scan (plans/prefix.py)
    # over the batch order — no single-partition window even when the
    # checkpoint count grows with the corpus (1e8 docs -> 1e6 batches)
    joined = tok.join(vocab, "batch", "left").select(
        "batch",
        "n_tokens",
        F.coalesce("new_words", F.lit(0)).alias("nw"),
    )
    curve, _ = running_sums(
        joined,
        ["batch"],
        {"cum_tokens": F.col("n_tokens"), "cum_vocab": F.col("nw")},
    )
    curve = curve.select("batch", "cum_tokens", "cum_vocab")
    pts = curve.select(
        F.round(F.log(F.col("cum_tokens").cast("double")), 6).alias("x"),
        F.round(F.log(F.col("cum_vocab").cast("double")), 6).alias("y"),
    )
    from mysql_to_clickhouse_spark.functions.numeric import dsum as _dsum

    sums = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _dsum("x", 6).alias("sx"),
        _dsum("y", 6).alias("sy"),
        _dsum(F.col("x") * F.col("y"), 6).alias("sxy"),
        _dsum(F.col("x") * F.col("x"), 6).alias("sxx"),
    )
    totals = curve.agg(
        F.max("cum_tokens").cast("long").alias("total_tokens"),
        F.max("cum_vocab").cast("long").alias("total_vocab"),
    )
    return (
        sums.crossJoin(totals)
        .selectExpr(
            "CAST(n AS BIGINT) AS n_checkpoints",
            "total_tokens",
            "total_vocab",
            "(n * sxy - sx * sy) / (n * sxx - sx * sx) AS heaps_beta",
        )
    )


# ---------------------------------------------------------------------------
# i28_semantic_decontam — embedding-level eval-set decontamination
# ---------------------------------------------------------------------------

_I28_THRESH = 0.25

_I28_ORACLE = f"""
WITH ev AS (
  SELECT vec_id AS eval_id, embedding AS e FROM embeddings
  WHERE vec_id % 37 = 0
), corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 37 <> 0
), scored AS (
  SELECT c.vec_id, ev.eval_id,
         {o_cosine('c.embedding', 'ev.e')} AS cos_sim
  FROM corpus c CROSS JOIN ev
), best AS (
  -- argmax key (quantized cos, then LOWEST eval_id) as one HUGEINT:
  -- the 1e19 multiplier strictly dominates any int64 eval_id, so the
  -- tie-break is order-preserving for the entire id range (the old
  -- 1e5 multiplier overflowed past 100k ids)
  SELECT vec_id,
         MAX_BY(eval_id, CAST(FLOOR(cos_sim * 1000000000000.0) AS HUGEINT)
                * 10000000000000000000 - eval_id) AS nearest_eval_id,
         MAX(cos_sim) AS max_cos
  FROM scored GROUP BY vec_id
)
SELECT vec_id, nearest_eval_id, max_cos,
       CAST(CASE WHEN max_cos >= {_I28_THRESH} THEN 1 ELSE 0 END AS BIGINT)
         AS contaminated
FROM best
ORDER BY vec_id
"""


def _i28_best_emit(l_ids, r_ids, cos):
    """i28's emitter for the "blocked" topology (corpus rows left, eval
    rows right): per corpus row, the tile's winner under BOTH orderings
    the final aggregate uses — the lexicographic argmax (quantized
    floor(cos·1e12) DESC, then the SMALLEST eval id) for
    nearest_eval_id, and the raw-cosine argmax for max_cos. Emitting
    both (≤ 2 rows per corpus row per eval block) makes the downstream
    max_by/max provably equal to the broadcast path's full scan even
    when two cosines collide at the 1e-12 quantization but differ in
    the last ulp; no packed scalar key, so no eval-id range limit."""
    import numpy as np

    q = np.floor(cos * 1e12).astype(np.int64)
    id_or_inf = np.where(
        q == q.max(axis=1, keepdims=True), r_ids[None, :], np.iinfo(np.int64).max
    )
    by_key = id_or_inf.argmin(axis=1)
    by_cos = cos.argmax(axis=1)
    rows = np.arange(len(l_ids))
    return {
        "vec_id": np.concatenate([l_ids, l_ids]),
        "eval_id": np.concatenate([r_ids[by_key], r_ids[by_cos]]),
        "cos_sim": np.concatenate([cos[rows, by_key], cos[rows, by_cos]]),
    }


@register("i28_semantic_decontam", oracle=_I28_ORACLE, tier="T2")
def i28_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level benchmark decontamination (the semantic
    complement of i14's k-gram overlap): flag every corpus vector whose
    max cosine against the held-out eval set clears a threshold, with
    the nearest eval neighbor surfaced for audit. Cosine uses the
    fixed-point quantized arithmetic (functions/vectors.py) so the
    score — and therefore the contamination VERDICT — is bit-identical
    on both engines; a float-ulp verdict flip is exactly the bug this
    discipline exists to prevent.

    Scale: the eval set is small by construction (benchmarks are
    thousands of rows, the corpus is billions) → broadcast it; the scan
    is corpus × |eval| with per-row argmax folded map-side — no
    shuffle of the corpus at all. Above
    ``spark.mysql2ch.vector.broadcastThreshold`` (i3/i4's size rule)
    the eval side routes through ``_cosine_tiles``' "blocked" topology
    with ``_i28_best_emit``: an oversized eval set degrades to a
    bounded cogroup, never an executor OOM. Both paths feed the SAME
    final argmax expressions, hash-equal under the forced-threshold
    test (tests/test_dispatch.py)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = emb.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("e")
    )
    corpus = emb.filter(F.col("vec_id") % 37 != 0)
    if _use_broadcast_path(spark, ev):
        scored = corpus.join(F.broadcast(ev)).select(
            "vec_id",
            "eval_id",
            cosine("embedding", "e").alias("cos_sim"),
        )
    else:
        # the corpus replicates ×b to meet every eval block — the honest
        # cost once the eval side is too big to broadcast
        scored = _cosine_tiles(
            corpus,
            ev.select(F.col("eval_id").alias("vec_id"), F.col("e").alias("embedding")),
            _i28_best_emit,
            "vec_id long, eval_id long, cos_sim double",
            "blocked",
        )
    # struct argmax key: (quantized cos DESC, eval_id ASC via negation) —
    # lexicographic struct ordering has no packed-scalar range limit, so
    # the tie-break is exact for any int64 eval_id (the oracle states
    # the same ordering as one HUGEINT key)
    best = scored.groupBy("vec_id").agg(
        F.max_by(
            "eval_id",
            F.struct(
                F.floor(F.col("cos_sim") * 1000000000000.0)
                .cast("long")
                .alias("q"),
                (-F.col("eval_id")).alias("t"),
            ),
        ).alias("nearest_eval_id"),
        F.max("cos_sim").alias("max_cos"),
    )
    return best.select(
        "vec_id",
        "nearest_eval_id",
        "max_cos",
        F.when(F.col("max_cos") >= _I28_THRESH, 1)
        .otherwise(0)
        .cast("long")
        .alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# i29_padding_waste — sequence-length bucketing / padding efficiency
# ---------------------------------------------------------------------------

_I29_ORACLE = """
WITH lens AS (
  SELECT doc_id, lang,
         CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), bucketed AS (
  SELECT lang, n_tokens,
         CAST(POWER(2.0, GREATEST(
                CEIL(LN(CAST(n_tokens AS DOUBLE) - 0.5) / LN(2.0)), 0))
              AS BIGINT) AS bucket
  FROM lens
)
SELECT lang, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
       CAST(SUM(bucket) AS BIGINT) AS padded_tokens,
       CAST(SUM(bucket) - SUM(n_tokens) AS BIGINT) AS wasted_tokens
FROM bucketed
GROUP BY lang, bucket
ORDER BY lang, bucket
"""


@register("i29_padding_waste", oracle=_I29_ORACLE)
def i29_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing diagnostics: documents binned to
    power-of-two token buckets (the static-shape batching strategy) and
    the padding waste each (lang, bucket) cell would cost — the number
    that justifies i13's concat-and-chunk packing over naive padding.
    The bucket exponent uses CEIL(log2(n - 0.5)): the half-offset
    keeps exact powers of two a finite distance from the CEIL
    boundary, so a last-ulp libm difference can never bump a 128-token
    doc into the 256 bucket (bare CEIL(log2(n)) can).

    Scale: map-only projection + small hash agg; one scan."""
    docs = load(spark, sf_dir, "documents")
    lens = docs.select(
        "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    bucket = F.pow(
        2.0,
        F.greatest(
            F.ceil(
                F.log(F.col("n_tokens").cast("double") - 0.5)
                / F.log(F.lit(2.0))
            ),
            F.lit(0),
        ),
    ).cast("long")
    b = lens.withColumn("bucket", bucket)
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("real_tokens"),
            F.sum("bucket").cast("long").alias("padded_tokens"),
            (F.sum("bucket") - F.sum("n_tokens")).cast("long").alias(
                "wasted_tokens"
            ),
        )
        .select("lang", "bucket", "n_docs", "real_tokens", "padded_tokens",
                "wasted_tokens")
    )


# ---------------------------------------------------------------------------
# i30_sketch_quality — precision/recall accounting for the LSH dedup path
# ---------------------------------------------------------------------------


_I30_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, source, {o_distinct_shingles('text')} AS shingles
  FROM documents
), truth AS (
  SELECT CAST(count(*) AS BIGINT) AS n_true
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / CAST(len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        >= 0.5
), fp AS (
  SELECT count(*) AS n_docs, sum(n_chars) AS s_chars FROM documents
), pinned AS (
  -- the LSH side is NOT SQL-expressible; it IS deterministic (seeded
  -- xxhash64 MinHash), so its two counts are pinned per testdata
  -- fixture, keyed by a content fingerprint. An unknown fixture yields
  -- NULLs -> loud hash mismatch, never a silent pass.
  SELECT
    CASE WHEN n_docs = 500  AND s_chars = 153156  THEN 26
         WHEN n_docs = 500  AND s_chars = 149174  THEN 24
         WHEN n_docs = 5000 AND s_chars = 1485576 THEN 256
    END AS n_emitted,
    CASE WHEN n_docs = 500  AND s_chars = 153156  THEN 2
         WHEN n_docs = 500  AND s_chars = 149174  THEN 1
         WHEN n_docs = 5000 AND s_chars = 1485576 THEN 7
    END AS n_hit
  FROM fp
)
SELECT CAST(p.n_emitted AS BIGINT) AS n_emitted,
       t.n_true AS n_true,
       CAST(p.n_hit AS BIGINT) AS n_hit,
       CAST(p.n_hit AS DOUBLE) / p.n_emitted AS "precision",
       CAST(p.n_hit AS DOUBLE) / t.n_true AS recall
FROM pinned p, truth t
"""


@register(
    "i30_sketch_quality",
    oracle=_I30_ORACLE,
    tier="T3",
    test="tests/test_llmops.py::test_sketch_quality_on_planted_dups",
)
def i30_sketch_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Measure, don't guess' as a first-class operator: the quality
    report for i2's MinHash-LSH dedup path against the exact-Jaccard
    ground truth (i2b at the same >= 0.5 threshold) — emitted pairs,
    true pairs, hits, precision, recall. At 100 TB nobody can eyeball
    whether the banding parameters are right; this relation is the
    dashboard a dedup pipeline watches when it tunes bands/rows.

    Oracle-backed (r12): the exact-Jaccard truth side is recomputed in
    SQL; the LSH side (not SQL-expressible but deterministic under the
    seeded MinHash) is pinned per fixture fingerprint — unknown fixture
    → NULLs → loud mismatch. The planted-duplicate recall test
    (tests/test_llmops.py) additionally pins behavior on known ground
    truth.

    Scale: both sides are the already-bucketed pipelines; the
    comparison joins pair keys — |candidates| rows, never all-pairs."""
    approx = (
        i2_minhash_neardup(spark, sf_dir)
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("emitted", F.lit(1))
    )
    exact = (
        i2b_jaccard_exact(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("truth", F.lit(1))
    )
    j = approx.join(exact, ["doc_a", "doc_b"], "full")
    agg = j.agg(
        F.sum(F.coalesce("emitted", F.lit(0))).cast("long").alias("n_emitted"),
        F.sum(F.coalesce("truth", F.lit(0))).cast("long").alias("n_true"),
        F.sum(
            F.coalesce("emitted", F.lit(0)) * F.coalesce("truth", F.lit(0))
        )
        .cast("long")
        .alias("n_hit"),
    )
    return agg.select(
        "n_emitted",
        "n_true",
        "n_hit",
        F.when(
            F.col("n_emitted") > 0,
            F.col("n_hit") / F.col("n_emitted").cast("double"),
        ).alias("precision"),
        F.when(
            F.col("n_true") > 0, F.col("n_hit") / F.col("n_true").cast("double")
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# i31_filter_pipeline — the end-to-end keep/drop gate with reason bitmask
# ---------------------------------------------------------------------------

_I31_ORACLE = """
WITH t AS (
  SELECT doc_id, n_chars, md5(text) AS h, string_split(text, ' ') AS toks
  FROM documents
), s AS (
  SELECT doc_id, n_chars, h,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT)
           AS n_word_chars,
         CAST(len(list_filter(toks, w -> length(w) <= 2)) AS BIGINT) AS n_tiny,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         CAST(len(toks) - 2 AS BIGINT) AS n_tri,
         CAST(len(list_distinct(list_transform(
           range(1, GREATEST(len(toks) - 1, 1)),
           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])))
           AS BIGINT) AS n_tri_uniq
  FROM t
), keepers AS (
  SELECT h, MIN(doc_id) AS keeper FROM s GROUP BY h
), flags AS (
  SELECT s.doc_id,
         CASE WHEN NOT ((s.n_words BETWEEN 5 AND 100000)
              AND (CAST(s.n_word_chars AS DOUBLE) / s.n_words
                   BETWEEN 3.0 AND 12.0)
              AND (CAST(s.n_tiny AS DOUBLE) / s.n_words <= 0.4)
              AND (CAST(s.n_distinct AS DOUBLE) / s.n_words >= 0.2))
              THEN 1 ELSE 0 END AS f_gopher,
         CASE WHEN s.n_tri > 0 AND
                   CAST(s.n_tri - s.n_tri_uniq AS DOUBLE) / s.n_tri > 0.2
              THEN 2 ELSE 0 END AS f_repet,
         CASE WHEN s.doc_id <> k.keeper THEN 4 ELSE 0 END AS f_dup,
         CASE WHEN s.n_chars < 50 OR s.n_chars > 5000 THEN 8 ELSE 0 END
           AS f_len
  FROM s JOIN keepers k ON s.h = k.h
)
SELECT doc_id,
       CAST(f_gopher + f_repet + f_dup + f_len AS BIGINT) AS reason_mask,
       CAST(CASE WHEN f_gopher + f_repet + f_dup + f_len = 0
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM flags
ORDER BY doc_id
"""


@register("i31_filter_pipeline", oracle=_I31_ORACLE, tier="T2")
def i31_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled training-data filter gate — what actually runs in
    front of a 100 TB tokenization job: Gopher rule bundle (bit 1) +
    duplicated-trigram repetition cap (bit 2) + exact-dup keeper rule
    (bit 4, min-doc_id wins) + length band (bit 8), combined into a
    reason BITMASK per document so rejected data is auditable by cause
    (the 'why was my doc dropped' question), and keep = mask == 0.

    Scale: every per-doc statistic folds map-side in one scan; the only
    exchange is the md5 keeper-group (i1's shape). Reason accounting is
    free — it's the same flags the filters already compute, kept
    instead of discarded."""
    docs = load(spark, sf_dir, "documents")
    # r13: materialize the token array once per row — the inlined form
    # re-split the text at every element_at site of the trigram builder
    # (O(tokens²) per doc; 0.36 s → ~0.1 s warm at sf0.01, same hash).
    with_toks = docs.select(
        "doc_id", "n_chars", "text", tokens("text").alias("toks")
    )
    toks = F.col("toks")
    n_words = F.size(toks).cast("long")
    n_word_chars = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    n_tiny = F.size(F.filter(toks, lambda w: F.length(w) <= 2)).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    tris = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    s = with_toks.select(
        "doc_id",
        "n_chars",
        F.md5("text").alias("h"),
        n_words.alias("n_words"),
        n_word_chars.alias("n_word_chars"),
        n_tiny.alias("n_tiny"),
        n_distinct.alias("n_distinct"),
        (F.size(toks) - 2).cast("long").alias("n_tri"),
        F.size(F.array_distinct(tris)).cast("long").alias("n_tri_uniq"),
    )
    keepers = s.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    mean_wl = F.col("n_word_chars").cast("double") / F.col("n_words")
    gopher_ok = (
        F.col("n_words").between(5, 100000)
        & mean_wl.between(3.0, 12.0)
        & (F.col("n_tiny").cast("double") / F.col("n_words") <= 0.4)
        & (F.col("n_distinct").cast("double") / F.col("n_words") >= 0.2)
    )
    f_gopher = F.when(~gopher_ok, 1).otherwise(0)
    f_repet = F.when(
        (F.col("n_tri") > 0)
        & (
            (F.col("n_tri") - F.col("n_tri_uniq")).cast("double")
            / F.col("n_tri")
            > 0.2
        ),
        2,
    ).otherwise(0)
    f_dup = F.when(F.col("doc_id") != F.col("keeper"), 4).otherwise(0)
    f_len = F.when(
        (F.col("n_chars") < 50) | (F.col("n_chars") > 5000), 8
    ).otherwise(0)
    flags = s.join(keepers, "h").select(
        "doc_id", (f_gopher + f_repet + f_dup + f_len).alias("mask")
    )
    return flags.select(
        "doc_id",
        F.col("mask").cast("long").alias("reason_mask"),
        F.when(F.col("mask") == 0, 1).otherwise(0).cast("long").alias("keep"),
    )


# ---------------------------------------------------------------------------
# i34_curriculum_order — quality-ordered curriculum staging
# ---------------------------------------------------------------------------

# Proxy quality = lexical diversity (distinct/total tokens) — exact
# int/int, no float discipline needed; stage = quartile over the
# per-lang quality order (ntile, PK tie-broken).
_I34_ORACLE = """
WITH q AS (
  SELECT doc_id, lang,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS quality
  FROM documents
)
SELECT doc_id, lang, quality,
       CAST(NTILE(4) OVER (PARTITION BY lang
                           ORDER BY quality, doc_id) AS BIGINT) AS stage,
       CAST(ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY quality, doc_id) AS BIGINT)
         AS curriculum_pos
FROM q
ORDER BY lang, curriculum_pos
"""


@register("i34_curriculum_order", oracle=_I34_ORACLE)
def i34_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: order each language's corpus from easy/noisy
    to high-quality (lexical-diversity proxy, exact int/int ratio) and
    cut it into 4 training stages (ntile) plus the within-stage
    position — the deterministic ordering manifest a curriculum
    training run consumes. Ties break on doc_id so the schedule is
    reproducible down to the row.

    Scale: one window per language partition — the shuffle is the
    manifest's natural shard key; quality is map-only."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    quality = (
        F.size(F.array_distinct(toks)).cast("double")
        / F.size(toks).cast("double")
    )
    q = docs.select("doc_id", "lang", quality.alias("quality"))
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    return q.select(
        "doc_id",
        "lang",
        "quality",
        F.ntile(4).over(w).cast("long").alias("stage"),
        F.row_number().over(w).cast("long").alias("curriculum_pos"),
    )


# ---------------------------------------------------------------------------
# i35_canonical_keeper — near-dup clusters with best-copy retention
# ---------------------------------------------------------------------------

_I35_THETA = 0.5
# Same role as i16's bound: the ORACLE needs it to keep its O(n²)
# shingle self-join affordable at any SF (sf0.01's 500 docs all lie
# inside it); the Spark path applies the SAME doc_id filter — required
# for hash parity — though its banded-LSH plan wouldn't need one.
_I35_MAX_ID = 2000

_I35_ORACLE = f"""
WITH RECURSIVE
nodes AS (
  SELECT doc_id, n_chars FROM documents WHERE doc_id < {_I35_MAX_ID}
),
sh AS (
  SELECT doc_id, source, {o_distinct_shingles('text')} AS shingles
  FROM documents WHERE doc_id < {_I35_MAX_ID}
),
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shingles, b.shingles)) > 0
    AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / CAST(len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        >= {_I35_THETA}
),
bidir AS (
  SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges
),
reach(v, lbl) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT b.dst, r.lbl FROM reach r JOIN bidir b ON b.src = r.v
),
comp AS (SELECT v AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY v)
SELECT n.doc_id, c.component_id,
       COUNT(*) OVER (PARTITION BY c.component_id) AS comp_size,
       n.n_chars,
       ROW_NUMBER() OVER (
         PARTITION BY c.component_id
         ORDER BY n.n_chars DESC, n.doc_id) = 1 AS is_keeper
FROM comp c JOIN nodes n ON n.doc_id = c.doc_id
ORDER BY n.doc_id
"""


@register("i35_canonical_keeper", oracle=_I35_ORACLE, tier="T3")
def i35_canonical_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup with BEST-copy retention: i2b's exact-Jaccard
    pairs (θ=0.5, source-blocked) become clusters via
    ``connected_components``, and within each cluster the keeper is
    the LONGEST document (n_chars, tie → min doc_id) — the 'keep the
    most complete copy' policy corpus builds actually want, vs i16's
    min-id keeper. Checked against a DuckDB recursive-CTE closure with
    the same keeper window.

    Scale: candidate pairs come from the source-blocked shingle join
    (never all-pairs); components shuffle |E|+|V| rows per O(log n)
    round; the keeper choice is one window over components. The
    keeper-join is on the component label — co-partitioned with the
    window that follows it."""
    edges = (
        i2b_jaccard_exact(spark, sf_dir)
        .filter(
            (F.col("jaccard") >= _I35_THETA)
            & (F.col("doc_a") < _I35_MAX_ID)
            & (F.col("doc_b") < _I35_MAX_ID)
        )
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _I35_MAX_ID)
        .select("doc_id", "n_chars")
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    labels, _ = connected_components(nodes, edges)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("comp_size"))
    keeper_w = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        labels.join(sizes, "lbl")
        .join(docs, labels.id == docs.doc_id)
        .select(
            "doc_id",
            F.col("lbl").alias("component_id"),
            "comp_size",
            "n_chars",
        )
        .withColumn("is_keeper", F.row_number().over(keeper_w) == 1)
    )


# ---------------------------------------------------------------------------
# i36_token_budget — sample each source down to a token budget
# ---------------------------------------------------------------------------

_I36_BUDGET = 5_000  # whitespace tokens per source

_I36_ORACLE = f"""
WITH t AS (
  SELECT source, doc_id,
         CAST(len({o_tokens('text')}) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), c AS (
  SELECT source, doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT source, doc_id, n_tokens, cum_tokens
FROM c
WHERE cum_tokens <= {_I36_BUDGET}
ORDER BY source, cum_tokens
"""


@register("i36_token_budget", oracle=_I36_ORACLE, tier="T3")
def i36_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling: cap every source at 5,000 whitespace
    tokens (``_I36_BUDGET``) by walking its documents in md5(doc_id) order
    (i15's seedless deterministic shuffle) and keeping the prefix whose
    running token total fits the budget. This is how a mixture spec
    ('50 B tokens of source X') turns into a concrete document list —
    by TOKENS, not documents, which is what the training run actually
    consumes. The prefix rule (stop at the first overflow) keeps the
    cut deterministic and rerun-stable.

    Scale: one window per source partition, integer running sums —
    the same shuffle the final shard-write needs anyway. No Python,
    no collect; the budget constant is the only driver-side state."""
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    t = docs.select(
        "source",
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        h.alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.select(
            "source",
            "doc_id",
            "n_tokens",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= _I36_BUDGET)
    )


# ---------------------------------------------------------------------------
# i37_epoch_schedule — quality-weighted repetition (epoch) manifest
# ---------------------------------------------------------------------------

# Epochs per quality quartile: the standard "repeat high-quality data,
# see low-quality data once" schedule. Quality is i34's exact int/int
# lexical-diversity ratio; quartiles are per-language ntiles.
_I37_EPOCHS = {1: 1, 2: 1, 3: 2, 4: 3}  # stage -> epochs (stage 4 = best)

_I37_ORACLE = f"""
WITH q AS (
  SELECT doc_id, lang,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS quality,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), staged AS (
  SELECT doc_id, lang, quality, n_tokens,
         NTILE(4) OVER (PARTITION BY lang ORDER BY quality, doc_id) AS stage
  FROM q
), sched AS (
  SELECT doc_id, lang, CAST(stage AS BIGINT) AS stage,
         CAST(CASE stage WHEN 1 THEN {_I37_EPOCHS[1]} WHEN 2 THEN {_I37_EPOCHS[2]}
              WHEN 3 THEN {_I37_EPOCHS[3]} ELSE {_I37_EPOCHS[4]} END
              AS BIGINT) AS epochs,
         n_tokens
  FROM staged
)
SELECT lang, stage, epochs,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens,
       CAST(SUM(n_tokens * epochs) AS BIGINT) AS effective_tokens
FROM sched
GROUP BY lang, stage, epochs
ORDER BY lang, stage
"""


@register("i37_epoch_schedule", oracle=_I37_ORACLE, tier="T3")
def i37_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted repetition schedule: per language, rank docs by
    lexical diversity (i34's exact ratio), cut into quartiles, and
    assign epochs 1/1/2/3 from noisiest to best — 'repeat the good
    data, see the rest once', the standard mixing lever when a corpus
    is token-bounded. The report is the per-(lang, stage) token
    budget: raw vs effective (epoch-multiplied) tokens, which is what
    a training-run planner consumes.

    Scale: one window per language + one hash aggregate; integer token
    arithmetic end-to-end."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ", -1)
    q = docs.select(
        "doc_id",
        "lang",
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double")
        ).alias("quality"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    staged = q.withColumn("stage", F.ntile(4).over(w).cast("long"))
    epochs = (
        F.when(F.col("stage") == 1, _I37_EPOCHS[1])
        .when(F.col("stage") == 2, _I37_EPOCHS[2])
        .when(F.col("stage") == 3, _I37_EPOCHS[3])
        .otherwise(_I37_EPOCHS[4])
        .cast("long")
    )
    sched = staged.withColumn("epochs", epochs)
    return (
        sched.groupBy("lang", "stage", "epochs")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("raw_tokens"),
            F.sum(F.col("n_tokens") * F.col("epochs"))
            .cast("long")
            .alias("effective_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# i38_incremental_ingest — dedup a NEW batch against the existing corpus
# ---------------------------------------------------------------------------

# Batch = every 5th doc_id (scale-independent, non-degenerate at every
# SF); the rest is the standing corpus. Verdict precedence: exact dup
# beats near dup beats keep. Only batch-vs-corpus comparisons — batch-
# internal duplicates are x21/i1's job at the next full compaction.
_I38_THETA = 0.5

_I38_ORACLE = f"""
WITH batch AS (
  SELECT doc_id, source, md5(text) AS h, {o_distinct_shingles('text')} AS sh
  FROM documents WHERE doc_id % 5 = 0
), corpus AS (
  SELECT doc_id, source, md5(text) AS h, {o_distinct_shingles('text')} AS sh
  FROM documents WHERE doc_id % 5 <> 0
), exact AS (
  SELECT b.doc_id, MIN(c.doc_id) AS exact_of
  FROM batch b JOIN corpus c ON b.h = c.h
  GROUP BY b.doc_id
), near AS (
  SELECT b.doc_id, MIN(c.doc_id) AS near_of
  FROM batch b JOIN corpus c
    ON b.source = c.source
  WHERE len(list_intersect(b.sh, c.sh)) > 0
    AND CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
        / CAST(len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh))
               AS DOUBLE) >= {_I38_THETA}
  GROUP BY b.doc_id
)
SELECT b.doc_id,
       CASE WHEN e.exact_of IS NOT NULL THEN 'exact'
            WHEN n.near_of IS NOT NULL THEN 'near'
            ELSE 'keep' END AS verdict,
       COALESCE(e.exact_of, n.near_of, -1) AS dup_of
FROM batch b
LEFT JOIN exact e ON e.doc_id = b.doc_id
LEFT JOIN near n ON n.doc_id = b.doc_id
ORDER BY b.doc_id
"""


@register("i38_incremental_ingest", oracle=_I38_ORACLE, tier="T3")
def i38_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion — the production mode of x21's
    one-shot build: a NEW document batch is admitted only if it is
    neither an exact duplicate (content hash) nor a near duplicate
    (source-blocked shingle Jaccard ≥ θ) of the STANDING corpus. Each
    batch doc gets a verdict and, for rejects, the minimum matching
    corpus doc_id as audit evidence — exact-dup precedence over
    near-dup, the same reason-coded gate style as i31.

    Scale: the exact check is a hash equi-join (batch ≪ corpus →
    broadcast the batch side's digests); the near check reuses i2's
    blocked candidate shape — never batch × corpus all-pairs. Both
    reduce to one MIN per batch doc; the batch table never shuffles
    more than twice."""
    docs = load(spark, sf_dir, "documents")
    with_h = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        distinct_shingles("text").alias("shingles"),
    )
    batch = with_h.filter(F.col("doc_id") % 5 == 0)
    corpus = with_h.filter(F.col("doc_id") % 5 != 0)
    b, c = batch.alias("b"), corpus.alias("c")
    exact = (
        b.join(c, F.col("b.h") == F.col("c.h"))
        .groupBy(F.col("b.doc_id").alias("doc_id"))
        .agg(F.min(F.col("c.doc_id")).alias("exact_of"))
    )
    # near candidates are the bipartite shingle postings (exact-string
    # join over distinct shingles, so each shared shingle counts once):
    # exactly the batch x corpus pairs with n_common >= 1, the oracle's
    # gate, without the all-pairs block join
    inter = F.col("n_common")
    near = (
        _shingle_overlaps(batch, corpus)
        .filter(
            inter.cast("double")
            / (F.col("n_a") + F.col("n_b") - inter).cast("double")
            >= _I38_THETA
        )
        .groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.min(F.col("doc_b")).alias("near_of"))
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_of").isNotNull(), "exact")
            .when(F.col("near_of").isNotNull(), "near")
            .otherwise("keep")
            .alias("verdict"),
            F.coalesce("exact_of", "near_of", F.lit(-1)).alias("dup_of"),
        )
    )


# ---------------------------------------------------------------------------
# i39_leakage_free_split — near-dup-aware train/validation split
# ---------------------------------------------------------------------------

# Split unit = the near-dup COMPONENT, not the document: a doc and its
# near-copy must land on the same side or the validation set leaks
# training data. Side = hash of the component label (ascii of the
# first md5 hex char, mod 5 — ~80/20), portable to both engines.
_I39_ORACLE = f"""
WITH RECURSIVE
nodes AS (
  SELECT doc_id FROM documents WHERE doc_id < {_I35_MAX_ID}
),
sh AS (
  SELECT doc_id, source, {o_distinct_shingles('text')} AS shingles
  FROM documents WHERE doc_id < {_I35_MAX_ID}
),
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shingles, b.shingles)) > 0
    AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / CAST(len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        >= {_I35_THETA}
),
bidir AS (
  SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges
),
reach(v, lbl) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT b.dst, r.lbl FROM reach r JOIN bidir b ON b.src = r.v
),
comp AS (SELECT v AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY v)
SELECT doc_id, component_id,
       CASE WHEN ascii(substring(md5(CAST(component_id AS VARCHAR)), 1, 1))
                 % 5 = 0
            THEN 'validation' ELSE 'train' END AS split
FROM comp
ORDER BY doc_id
"""


@register("i39_leakage_free_split", oracle=_I39_ORACLE, tier="T3")
def i39_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/validation split: the split unit is the
    NEAR-DUP COMPONENT (i35's clusters), so a document and its
    near-copies always land on the same side — the eval-integrity
    requirement a doc-level random split silently violates (val docs
    whose near-twins sit in train measure memorization, not
    generalization). Side assignment hashes the component label
    (md5-derived, seedless, rerun-stable, ~80/20).

    Scale: components as in i16/i35 (O(log n) rounds over |E|+|V|);
    the side assignment is one map-only expression on the label — no
    extra shuffle beyond the component computation itself."""
    edges = (
        i2b_jaccard_exact(spark, sf_dir)
        .filter(
            (F.col("jaccard") >= _I35_THETA)
            & (F.col("doc_a") < _I35_MAX_ID)
            & (F.col("doc_b") < _I35_MAX_ID)
        )
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    nodes = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _I35_MAX_ID)
        .select(F.col("doc_id").alias("id"))
    )
    labels, _ = connected_components(nodes, edges)
    side = F.when(
        F.ascii(F.substring(F.md5(F.col("lbl").cast("string")), 1, 1)) % 5
        == 0,
        "validation",
    ).otherwise("train")
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("lbl").alias("component_id"),
        side.alias("split"),
    )


# ---------------------------------------------------------------------------
# i40_dataset_card — the per-source corpus datasheet in one scan
# ---------------------------------------------------------------------------

# "Datasheets for datasets": every number a corpus release note quotes,
# as exact integers off one pass + shared final divisions.
_I40_MIN_TOKENS, _I40_MAX_TOKENS, _I40_MIN_DIVERSITY = 50, 100_000, 0.3

_I40_ORACLE = f"""
WITH per_doc AS (
  SELECT source, lang, md5(text) AS h,
         CAST(len({o_tokens('text')}) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct({o_tokens('text')})) AS BIGINT) AS n_distinct
  FROM documents
), flags AS (
  SELECT source, lang, h, n_tokens,
         CASE WHEN n_tokens >= {_I40_MIN_TOKENS}
               AND n_tokens <= {_I40_MAX_TOKENS}
               AND CAST(n_distinct AS DOUBLE) / n_tokens
                   >= {_I40_MIN_DIVERSITY}
              THEN 1 ELSE 0 END AS passes,
         CASE WHEN n_tokens < {_I40_MIN_TOKENS} THEN 1 ELSE 0 END AS short_doc
  FROM per_doc
), agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS dup_docs,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(SUM(short_doc) AS BIGINT) AS short_docs,
         CAST(SUM(passes) AS BIGINT) AS pass_docs
  FROM flags
  GROUP BY source
)
SELECT source, n_docs, total_tokens, dup_docs, n_langs, short_docs,
       pass_docs,
       CAST(dup_docs AS DOUBLE) / n_docs AS dup_rate,
       CAST(total_tokens AS DOUBLE) / n_docs AS mean_tokens,
       CAST(pass_docs AS DOUBLE) / n_docs AS pass_rate
FROM agg
ORDER BY source
"""


@register("i40_dataset_card", oracle=_I40_ORACLE, tier="T3")
def i40_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source corpus DATASHEET — every number a dataset release
    note quotes, from ONE scan: document and token counts, exact-dup
    rate (hash-distinct), language spread, short-doc and quality-gate
    pass rates (i19's word-count band + diversity floor, simplified to
    the two binding rules). All counters are exact integers; the three
    rates are single shared double divisions.

    Scale: one map-side pass computes per-doc hash+token stats; the
    per-source aggregate carries two distinct-counts (hash, lang) —
    the only expensive lanes, both map-side partially aggregated by
    Spark's distinct-agg expansion. No joins, no Python."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tok = F.size(toks).cast("long")
    per_doc = docs.select(
        "source",
        "lang",
        F.md5("text").alias("h"),
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    passes = (
        (F.col("n_tokens") >= _I40_MIN_TOKENS)
        & (F.col("n_tokens") <= _I40_MAX_TOKENS)
        & (
            F.col("n_distinct").cast("double") / F.col("n_tokens")
            >= _I40_MIN_DIVERSITY
        )
    ).cast("int")
    short_doc = (F.col("n_tokens") < _I40_MIN_TOKENS).cast("int")
    flags = per_doc.select(
        "source", "lang", "h", "n_tokens",
        passes.alias("passes"), short_doc.alias("short_doc"),
    )
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (F.count(F.lit(1)) - F.count_distinct("h")).cast("long").alias("dup_docs"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.sum("short_doc").cast("long").alias("short_docs"),
        F.sum("passes").cast("long").alias("pass_docs"),
    )
    return agg.select(
        "source", "n_docs", "total_tokens", "dup_docs", "n_langs",
        "short_docs", "pass_docs",
        (F.col("dup_docs").cast("double") / F.col("n_docs")).alias("dup_rate"),
        (F.col("total_tokens").cast("double") / F.col("n_docs")).alias(
            "mean_tokens"
        ),
        (F.col("pass_docs").cast("double") / F.col("n_docs")).alias(
            "pass_rate"
        ),
    )

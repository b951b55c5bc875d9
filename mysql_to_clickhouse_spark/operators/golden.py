"""Golden composite suite (SURVEY.md §5.3 item 4): TPC-H-derived query
shapes composing the §2 operators end-to-end — the 'can a user actually
run their reporting workload' check on top of per-operator parity.
(Q1→d1, Q3→c12, Q5→c10 already exist; this module adds Q6/Q12/Q14
shapes.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mysql_to_clickhouse_spark.functions.numeric import dmean, dsum, o_dmean, o_dsum
from mysql_to_clickhouse_spark.functions.text import tokens
from mysql_to_clickhouse_spark.plans.boundary import checkpoint_boundary
from mysql_to_clickhouse_spark.plans.dispatch import (
    broadcast_when_small,
    fact_bytes_estimate,
    parquet_rows_estimate,
)
from mysql_to_clickhouse_spark.plans.prefix import running_sums_keyed
from mysql_to_clickhouse_spark.registry import register
from mysql_to_clickhouse_spark.streaming.cdc import EVENTS_FINAL, final
from mysql_to_clickhouse_spark.tables import (
    bucket_routed_key,
    load,
    load_dim,
    load_flat_lineitem,
)

# ---------------------------------------------------------------------------
# x1_tpch_q6 — forecast revenue change (pure filter + global agg)
# ---------------------------------------------------------------------------

_X1_ORACLE = f"""
SELECT {o_dsum('l_extendedprice * l_discount')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24.0
"""


@register("x1_tpch_q6", oracle=_X1_ORACLE)
def x1_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective conjunctive filter + one global
    sum — the query whose entire cost should be scan-side (all three
    predicates push to parquet row-group stats; no shuffle at all
    beyond the single-row final merge)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24.0)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# x2_tpch_q12 — shipping priority counts (join + conditional agg)
# ---------------------------------------------------------------------------

_X2_ORACLE = """
SELECT l_linestatus,
       COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS high_line_count,
       COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@register("x2_tpch_q12", oracle=_X2_ORACLE)
def x2_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + priority-bucketed conditional
    counts (the countIf pattern riding on a join)."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# x3_tpch_q14 — promo revenue share (join + ratio of conditional sums)
# ---------------------------------------------------------------------------

_X3_ORACLE = f"""
SELECT 100.0 * ({o_dsum(
    "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) END"
)}) / ({o_dsum('l_extendedprice * (1 - l_discount)')}) AS promo_revenue_pct,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-06-01'
  AND l_shipdate < TIMESTAMP '1997-07-01'
"""


@register("x3_tpch_q14", oracle=_X3_ORACLE)
def x3_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — ratio of a conditional
    fixed-point sum to the total (one broadcast join, one aggregate;
    the division sequence is stated identically on both engines)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (100.0 * dsum(promo) / dsum(disc_price)).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# x4_training_pipeline — the LLM-data composite: quality-filter → exact
# dedup → per-language corpus stats, §2.I operators composed end-to-end
# ---------------------------------------------------------------------------

_X4_ORACLE = f"""
WITH feats AS (
  SELECT doc_id, lang, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
           AS n_distinct,
         CAST(len(list_filter(string_split(text, ' '), t -> length(t) <= 3))
              AS BIGINT) AS n_short
  FROM documents
), scored AS (
  SELECT doc_id, lang, text, n_tokens,
         0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
           + 0.3 * (1.0 - CAST(n_short AS DOUBLE) / n_tokens)
           + 0.2 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
           AS quality_score
  FROM feats
), kept AS (
  SELECT * FROM scored WHERE quality_score >= 0.6
), deduped AS (
  SELECT md5(text) AS content_hash,
         MIN(doc_id) AS keeper_doc_id,
         min_by(lang, doc_id) AS lang,
         min_by(n_tokens, doc_id) AS n_tokens,
         min_by(quality_score, doc_id) AS quality_score
  FROM kept
  GROUP BY content_hash
)
SELECT lang,
       COUNT(*) AS kept_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       {o_dmean('quality_score')} AS avg_quality
FROM deduped
GROUP BY lang
ORDER BY lang
"""


@register("x4_training_pipeline", oracle=_X4_ORACLE)
def x4_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-training-data composite a real user runs end-to-end:
    i10's quality scoring (map-side) filters low-quality docs, i1's
    md5 exact dedup keeps the min-doc_id representative (one shuffle on
    the digest; min_by carries the keeper's attributes in the same
    aggregate — no join-back), then per-language corpus stats (second
    small shuffle over one row per unique doc). Two shuffles total,
    both over reduced data; scoring never leaves the scan stage."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    n_short = F.size(F.filter(toks, lambda t: F.length(t) <= 3)).cast("long")
    diversity = n_distinct.cast("double") / n_tokens
    short_ratio = n_short.cast("double") / n_tokens
    sat = F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
    scored = docs.select(
        "doc_id",
        "lang",
        "text",
        n_tokens.alias("n_tokens"),
        (0.5 * diversity + 0.3 * (1.0 - short_ratio) + 0.2 * sat).alias(
            "quality_score"
        ),
    )
    kept = scored.filter(F.col("quality_score") >= 0.6)
    deduped = kept.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        F.min_by("quality_score", "doc_id").alias("quality_score"),
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        dmean("quality_score").alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# x5_tpch_q4 — order priority checking (EXISTS → semi join + grouped count)
# ---------------------------------------------------------------------------

_X5_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("x5_tpch_q4", oracle=_X5_ORACLE)
def x5_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS decorrelated to a LEFT SEMI
    join + grouped count (this testdata has no commitdate/receiptdate,
    so 'has a returned line' plays the correlated predicate). The semi
    join never materializes lineitem columns — at 100 TB the probe side
    shuffles only l_orderkey, and the quarter filter prunes the orders
    scan before the join."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    quarter = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        quarter.join(
            returned, quarter.o_orderkey == returned.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# x6_tpch_q10 — returned-item reporting (3-way join + top-N customers)
# ---------------------------------------------------------------------------

_X6_ORACLE = f"""
SELECT c_custkey, c_name,
       {o_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("x6_tpch_q10", oracle=_X6_ORACLE)
def x6_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers who returned goods in a quarter,
    ranked by lost revenue.

    Scale plan — aggregate first, decorate last: every output dim
    attribute (c_name, c_acctbal, n_name) is functionally dependent on
    the group key, so revenue is aggregated per o_custkey and
    TakeOrdered to 20 rows BEFORE any dimension joins — the 20
    survivors then broadcast INTO customer/nation. The old shape
    broadcast the whole customer dim into the fact stream, which is
    2.5e6 rows at the 1e8 tier — a multi-second hash-relation rebuild
    per run for rows that were about to be thrown away. With the
    bucketed layout routed, the orders⋈lineitem join runs shuffle-hash
    on co-bucketed scans (no exchange, no sort, no broadcast rebuild);
    otherwise the quarter-reduced orders side (~1/24th) goes through
    the probe gate as before. The returnflag filter prunes lineitem
    partitions at the directory level under the layout. Under the flat
    lineitem⨝orders MV (ensure_flat_lineitem — the CH insert-time
    materialized-view analog), the fact join disappears entirely: the
    quarter filter prunes to ONE o_quarter partition directory (1/24
    of the fact) and the only per-run work is that pruned scan plus
    the custkey aggregate. Tie-break: c_custkey (== the group key)."""
    cust = load_dim(spark, sf_dir, "customer")
    nation = load_dim(spark, sf_dir, "nation")
    # file-based MV read: no bucket-key groupBy here, so the one-quarter
    # scan coalesces into a few full splits instead of 64 tiny tasks
    flat = load_flat_lineitem(spark, sf_dir, bucketed=False)
    if flat is not None:
        # o_quarter == 19961 IS the window [1996-01-01, 1996-04-01):
        # the partition value derives exactly from o_orderdate, so no
        # residual timestamp filter — the scan never decodes the
        # o_orderdate column at all (column pruning + dir pruning)
        joined = flat.filter(
            (F.col("o_quarter") == 19961) & (F.col("l_returnflag") == "R")
        )
    else:
        orders = load(spark, sf_dir, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        li = load(spark, sf_dir, "lineitem").filter(
            F.col("l_returnflag") == "R"
        )
        if bucket_routed_key(spark, sf_dir, "lineitem") == "l_orderkey" and (
            bucket_routed_key(spark, sf_dir, "orders") == "o_orderkey"
        ):
            orders = orders.hint("shuffle_hash")
        else:
            orders = broadcast_when_small(orders, li, spark)
        joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    top = (
        joined.groupBy("o_custkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("o_custkey"))
        .limit(20)
    )
    return (
        F.broadcast(top)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    )


# ---------------------------------------------------------------------------
# x7_tpch_q18 — large-volume orders (agg-then-join, no double scan)
# ---------------------------------------------------------------------------

_X7_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey, {o_dsum('l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING total_qty > 300.0
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@register("x7_tpch_q18", oracle=_X7_ORACLE)
def x7_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 300. The
    classic formulation (IN-subquery + re-join lineitem) scans lineitem
    twice; this plan aggregates lineitem ONCE — (orderkey, qty) is all
    that shuffles — carries total_qty out of that aggregate, filters
    HAVING map-side-partial first, and joins the qualifying keys to
    orders. Under the bucketed layout the aggregate inherits
    HashPartitioning(l_orderkey) straight off the lineitem scan and the
    orders scan carries the matching partitioning, so that join is an
    exchange-free shuffle-hash — no probe count job, and no per-run
    broadcast rebuild of the full orders side (the r10 plan audit
    caught exactly that: a 147 MiB orders BroadcastExchange rebuilt
    every warm run). Decorate-last: c_name is functionally dependent on
    o_custkey, so the ≤100 ORDER BY/LIMIT survivors broadcast INTO
    customer instead of customer (2.5e6 rows at the 1e8 tier)
    broadcasting into the stream — the same move that fixed x6.
    Under the flat lineitem⨝orders MV (ensure_flat_lineitem) even that
    co-bucketed join disappears: the orders decorations are constant
    within each l_orderkey group, so ONE exchange-free aggregate over
    the MV yields total_qty AND the decoration columns (max() of a
    per-group constant), leaving zero joins on the fact path.
    Tie-break: o_orderkey."""
    cust = load_dim(spark, sf_dir, "customer")
    flat = load_flat_lineitem(spark, sf_dir)
    if flat is not None:
        top = (
            flat.groupBy("l_orderkey")
            .agg(
                dsum("l_quantity").alias("total_qty"),
                F.max("o_custkey").alias("o_custkey"),
                F.max("o_orderdate").alias("o_orderdate"),
                F.max("o_totalprice").alias("o_totalprice"),
            )
            .filter(F.col("total_qty") > 300.0)
            .withColumnRenamed("l_orderkey", "o_orderkey")
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .limit(100)
        )
    else:
        li = load(spark, sf_dir, "lineitem")
        orders = load(spark, sf_dir, "orders")
        big = (
            li.groupBy("l_orderkey")
            .agg(dsum("l_quantity").alias("total_qty"))
            # boundary-safe: the threshold compares the bit-exact
            # fixed-point sum on BOTH engines, not an order-dependent
            # double accumulation
            .filter(F.col("total_qty") > 300.0)
        )
        if bucket_routed_key(spark, sf_dir, "lineitem") == "l_orderkey" and (
            bucket_routed_key(spark, sf_dir, "orders") == "o_orderkey"
        ):
            big = big.hint("shuffle_hash")
        else:
            big = broadcast_when_small(big, orders, spark)
        top = (
            big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
            .select(
                "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
                "total_qty",
            )
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .limit(100)
        )
    return (
        F.broadcast(top)
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    )


# ---------------------------------------------------------------------------
# x8_tpch_q19 — discounted revenue (OR-of-ANDs predicate over a join)
# ---------------------------------------------------------------------------

_X8_PRED = """
   (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
    AND l_quantity BETWEEN 1.0 AND 11.0)
OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
    AND l_quantity BETWEEN 10.0 AND 20.0)
OR (p_brand = 'Brand#3'  AND p_size BETWEEN 20 AND 50
    AND l_quantity BETWEEN 20.0 AND 35.0)
"""

_X8_ORACLE = f"""
SELECT {o_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE {_X8_PRED}
"""


@register("x8_tpch_q19", oracle=_X8_ORACLE)
def x8_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of brand/size/quantity conjunctions
    across the join. The per-table residuals ARE derivable and matter at
    scale: Catalyst's constraint propagation pushes the quantity-range
    union (1..35) into the lineitem scan and the size-range union
    (1..50) plus brand IN-list into the (broadcast) part scan, so the
    OR only evaluates post-join on pre-pruned rows."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    branch = lambda brand, s_lo, s_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    return j.filter(
        branch("Brand#12", 1, 15, 1.0, 11.0)
        | branch("Brand#23", 10, 30, 10.0, 20.0)
        | branch("Brand#3", 20, 50, 20.0, 35.0)
    ).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# x9_tpch_q22 — dormant high-balance customers (scalar subquery + anti join)
# ---------------------------------------------------------------------------

_X9_ORACLE = f"""
SELECT n_name,
       COUNT(*) AS numcust,
       {o_dsum('c_acctbal')} AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT {o_dmean('c_acctbal')} FROM customer
                   WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
ORDER BY n_name
"""


@register("x9_tpch_q22", oracle=_X9_ORACLE)
def x9_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (phone-prefix swapped for nation — this schema
    has no c_phone): above-average-balance customers with no recent
    orders, by nation. The mean is a bit-exact fixed-point scalar
    (dmean) computed distributed and broadcast back as a 1-row cross
    join — never a driver collect; the NOT EXISTS decorrelates to a
    LEFT ANTI join whose probe side only ships o_custkey for orders
    past the cutoff (filter pushed below the join)."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(dmean("c_acctbal").alias("_avg_bal"))
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# x10_tpch_q7 — volume shipping between two nations, by year
# ---------------------------------------------------------------------------

_X10_ORACLE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       {o_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("x10_tpch_q7", oracle=_X10_ORACLE)
def x10_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year. Reduce-early: the nation pair names only 2 of the 25
    nations, so BOTH fact-fact sides shrink ~n_nations/2-fold BEFORE
    the orders⋈lineitem key exchange — lineitem through the
    supplier⋈(2-nation) broadcast, orders through the
    customer⋈(2-nation) broadcast (map-side joins; Catalyst will not
    reorder user-written joins without CBO stats, so the reduction is
    stated). The pair disjunction then evaluates on the already-tagged
    rows. Remaining shuffles: the reduced key exchange + the tiny
    final group-by. At 100 TB the 2-year shipdate window is the
    partition-pruning lever (ship-date-partitioned layout, a15)."""
    the_pair = ("NATION_1", "NATION_2")
    sup = load(spark, sf_dir, "supplier")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    n1 = (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*the_pair))
        .select(
            F.col("n_nationkey").alias("n1_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    n2 = (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*the_pair))
        .select(
            F.col("n_nationkey").alias("n2_key"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    sup_tagged = sup.join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")
    ).select("s_suppkey", "supp_nation")
    cust_tagged = cust.join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")
    ).select("c_custkey", "cust_nation")
    li_red = li.join(
        F.broadcast(sup_tagged), F.col("s_suppkey") == F.col("l_suppkey")
    )
    orders_red = orders.join(
        F.broadcast(cust_tagged), F.col("c_custkey") == F.col("o_custkey")
    ).select("o_orderkey", "cust_nation")
    # 2-of-25-nation orders side (~2e6 rows at the 1e8 tier) is usually
    # probe-broadcastable, removing the reduced key exchange entirely.
    # (li_red is a join; the gate sizes it by its largest LEAF scan —
    # the lineitem files — so the multiplicative join estimate that
    # used to force the probe open at toy tiers no longer applies.)
    orders_red = broadcast_when_small(orders_red, li_red, spark)
    return (
        li_red.join(orders_red, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# x11_tpch_q15 — top supplier by quarterly revenue (agg + max-equality)
# ---------------------------------------------------------------------------

_X11_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {o_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@register("x11_tpch_q15", oracle=_X11_ORACLE)
def x11_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (view inlined): supplier(s) achieving the max
    quarterly revenue. The revenue relation has |suppliers| rows, so
    its global max is a 1-row broadcast joined back by equality —
    bit-safe because dsum is bit-identical on both engines. The only
    fact shuffle is the (suppkey, revenue) partial-agg exchange; ties
    (multiple max suppliers) all survive, matching the spec."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    sup = load(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# x12_tpch_q13 — customer order-count distribution (outer join + two aggs)
# ---------------------------------------------------------------------------

_X12_ORACLE = """
WITH c_orders AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("x12_tpch_q13", oracle=_X12_ORACLE)
def x12_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (the o_comment NOT LIKE filter becomes an
    o_orderpriority exclusion — this schema carries no comment text):
    distribution of per-customer order counts including zero-order
    customers.

    Scale shape: orders is pre-aggregated to one (custkey, count) row
    per customer BEFORE touching the customer table — the join input
    shrinks from |orders| to |customers| and the left join then runs
    customer⋈counts at |customers| scale. The alternative (join first,
    then count) ships every order row through the join shuffle. The
    zero-count class is preserved by the left join + coalesce(0). Final
    distribution agg is over ≤|customers| rows — negligible."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        orders.filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        cust.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("_n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# ---------------------------------------------------------------------------
# x13_tpch_q17 — small-quantity-order revenue (correlated avg, decorrelated)
# ---------------------------------------------------------------------------

_X13_ORACLE = f"""
SELECT {o_dsum('l_extendedprice')} / 7.0 AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND p_type = 'MEDIUM'
  AND l_quantity < (SELECT 0.2 * ({o_dmean('l2.l_quantity')})
                    FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
"""


@register("x13_tpch_q17", oracle=_X13_ORACLE)
def x13_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (p_container swapped for p_type — no container
    column): lines whose quantity is under 20% of that part's average.

    The correlated scalar subquery decorrelates into a per-part
    aggregate joined back. Order of operations is the scale story: the
    brand/type part subset (tiny) broadcast-semi-filters lineitem
    FIRST, so the per-part average is computed only over lines of the
    ~1/50th of parts that can qualify — not the whole fact table — and
    the threshold relation (one row per surviving part) broadcasts
    back. Two broadcast joins, one partial-agg shuffle over the
    filtered lines. The 0.2*avg threshold uses the fixed-point dmean
    twin on both engines so boundary rows cannot flip."""
    part_sel = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#3") & (F.col("p_type") == "MEDIUM"))
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").join(
        F.broadcast(part_sel), F.col("l_partkey") == F.col("p_partkey")
    )
    thresh = li.groupBy(F.col("l_partkey").alias("_tk")).agg(
        (F.lit(0.2) * dmean("l_quantity")).alias("_q_thresh")
    )
    return (
        li.join(F.broadcast(thresh), F.col("l_partkey") == F.col("_tk"))
        .filter(F.col("l_quantity") < F.col("_q_thresh"))
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# x14_tpch_q21 — suppliers who kept orders waiting (exists + not-exists)
# ---------------------------------------------------------------------------

_X14_ORACLE = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND n_name = 'NATION_3'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


@register("x14_tpch_q21", oracle=_X14_ORACLE)
def x14_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape ("late" = shipped >60 days after the order date
    — this schema has no commit/receipt dates): suppliers in one nation
    who were the SOLE late supplier on a multi-supplier finished order.

    The EXISTS / NOT EXISTS pair decorrelates into ONE per-order
    aggregate instead of two correlated self-joins of the fact table:
    per orderkey compute n_supp = distinct suppliers and n_late_supp =
    distinct late suppliers; a late line qualifies iff n_supp >= 2 (some
    other supplier exists) and n_late_supp = 1 (no OTHER supplier is
    late — the one late supplier is this line's own). And because a
    qualifying order has EXACTLY ONE late supplier, that supplier's
    key and its late-line count are recoverable INSIDE the same
    aggregate (max over the late keys / conditional count), so Q21's
    notorious triple lineitem scan collapses to: one orders⋈lineitem
    shuffle to tag lateness, a two-stage per-(order,supplier) →
    per-order aggregate (no COUNT DISTINCT Expand), a broadcast dim
    probe on the recovered key, and a nations-sized final sum. No
    join-back to the fact at all — the r8 rewrite that replaced the
    probe-gated join-back after the 1e8 bench showed the second
    tagged-join evaluation dominating (28.6 s warm; the classic
    formulation's cost, just relocated).

    numwait parity: each qualifying order contributes its late-line
    count (all its late lines belong to the single late supplier),
    which sums to exactly the per-line count the classic per-row
    formulation produces."""
    sup = load_dim(spark, sf_dir, "supplier")
    nation = load_dim(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    # Under the flat lineitem⨝orders MV the fact-side join disappears
    # entirely: o_orderstatus/o_orderdate ride on each line, so the
    # pipeline is scan → filter → two bucket-local aggregates. r10
    # rejected the MV for x14 when it was partitioned by MONTH (4.18 →
    # 4.68 s, file-open overhead); re-measured at the current QUARTER
    # granularity it beats the co-bucketed join (interleaved medians
    # 4.6 vs 5.3 s at the 1e8 tier, r12).
    flat = load_flat_lineitem(spark, sf_dir)
    if flat is not None:
        # The MV carries o_n_supp (distinct suppliers per order, an
        # ingest-time decoration like o_totalprice), so the EXISTS-
        # another-supplier test needs NO aggregate over the non-late
        # lines — the pipeline keeps ONLY late lines of F orders
        # (~half the joined fact at the 1e8 tier) before any agg.
        # The lateness test reads the MV's l_lag_us decoration (exact
        # micros from order to shipment, tables.ensure_flat_lineitem):
        # one long-vs-literal predicate instead of decoding BOTH
        # timestamp columns and adding an interval per row — at the
        # 1e8 tier the scan decodes 4 columns, not 5, and the
        # comparison is parquet-pushable.
        late = flat.filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("l_lag_us") > F.lit(60 * 86400 * 1_000_000))
        ).select("l_orderkey", "l_suppkey", "o_n_supp")
        per_supp = late.groupBy("l_orderkey", "l_suppkey").agg(
            F.count(F.lit(1)).alias("_c"),
            F.max("o_n_supp").alias("_n_supp_c"),
        )
        per_order = per_supp.groupBy("l_orderkey").agg(
            F.max("_n_supp_c").alias("_n_supp"),
            F.count(F.lit(1)).alias("_n_late_supp"),
            F.max("l_suppkey").alias("_late_suppkey"),
            F.sum("_c").alias("_n_late_lines"),
        )
        # NO explicit broadcast here: after the sole-late-supplier
        # filter this side is tiny (6.6k rows at 1e8), so AQE flips it
        # into the build side — broadcasting the 1.7e5-row supplier
        # dim instead costs a fresh hash-relation build per invocation
        # (measured +0.3 s and a wider spread at the 1e8 tier, r12)
        return (
            per_order.filter(
                (F.col("_n_supp") >= 2) & (F.col("_n_late_supp") == 1)
            )
            .join(sup, F.col("s_suppkey") == F.col("_late_suppkey"))
            .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy("s_name")
            .agg(F.sum("_n_late_lines").alias("numwait"))
        )
    else:
        # cutoff computed on the orders side, not per joined fact row
        # (r12: one interval add per ORDER instead of per LINE)
        orders = load(spark, sf_dir, "orders").filter(
            F.col("o_orderstatus") == "F"
        ).select(
            "o_orderkey",
            (F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("_cutoff"),
        )
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_shipdate"
        )
        if bucket_routed_key(spark, sf_dir, "lineitem") == "l_orderkey" and (
            bucket_routed_key(spark, sf_dir, "orders") == "o_orderkey"
        ):
            # co-bucketed layout: hash-join the status-F orders per
            # bucket instead of sort-merging (which re-sorts the
            # 1e8-row fact)
            orders = orders.hint("shuffle_hash")
        tagged = li.join(
            orders, F.col("o_orderkey") == F.col("l_orderkey")
        ).select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_shipdate") > F.col("_cutoff")).alias("_late"),
        )
    # Two-stage aggregate instead of two COUNT(DISTINCT)s: Spark plans
    # multiple distinct aggregates via an Expand that triples the fact
    # rows through the exchange; grouping by (orderkey, suppkey) first
    # gets map-side partial aggregation on the raw lines, and the
    # per-order pass then runs over ~|distinct supplier pairs| rows —
    # the 1e8-tier fix for the Expand dominating the plan. ONE agg
    # function per stage-1 row (r12): the late-line count doubles as
    # the lateness flag (_c > 0), replacing the separate max(_late),
    # and stage 2's late-line total is plain sum(_c) — zero for
    # non-late suppliers, and for QUALIFYING orders (exactly one late
    # supplier) equal to that supplier's late-line count.
    per_supp = tagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.count(F.when(F.col("_late"), 1)).alias("_c"),
    )
    late_key = F.when(F.col("_c") > 0, F.col("l_suppkey"))
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n_supp"),
        F.count(late_key).alias("_n_late_supp"),
        F.max(late_key).alias("_late_suppkey"),
        F.sum("_c").alias("_n_late_lines"),
    )
    return (
        per_order.filter(
            (F.col("_n_supp") >= 2) & (F.col("_n_late_supp") == 1)
        )
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("_late_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.sum("_n_late_lines").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# x15_tpch_q8 — national market share (two nation roles, ratio of sums)
# ---------------------------------------------------------------------------

_X15_ORACLE = f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       ({o_dsum(
    "CASE WHEN n2.n_name = 'NATION_5' THEN l_extendedprice * (1 - l_discount) END"
)}) / ({o_dsum('l_extendedprice * (1 - l_discount)')}) AS mkt_share
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
  AND p_type = 'ECONOMY'
GROUP BY o_year
ORDER BY o_year
"""


@register("x15_tpch_q8", oracle=_X15_ORACLE)
def x15_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_5's share of ECONOMY-part revenue sold
    into ASIA, by order year. The nation table plays two roles (customer
    side restricts via region; supplier side labels the share) — both
    broadcast under distinct aliases. Seven relations, ONE real
    shuffle: orders⋈lineitem on orderkey — with BOTH sides reduced
    before the exchange: lineitem through the ECONOMY part broadcast,
    orders through the ASIA customer broadcast (reduce-early; Catalyst
    does not reorder written joins without CBO stats). part/supplier/
    customer/nation×2/region all broadcast, and the order-date window
    pushes into the orders scan. The share is a conditional/total
    fixed-point sum ratio divided in the same order on both engines."""
    part_sel = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_n1_key"), F.col("n_regionkey").alias("_n1_reg")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_n2_key"), F.col("n_name").alias("_supp_nation")
    )
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    li = load(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cust_asia = (
        cust.join(F.broadcast(n1), F.col("c_nationkey") == F.col("_n1_key"))
        .join(F.broadcast(region), F.col("_n1_reg") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    orders_red = orders.join(
        F.broadcast(cust_asia), F.col("c_custkey") == F.col("o_custkey")
    ).select("o_orderkey", "o_orderdate")
    # ASIA×2-year orders side (~1.5e6 rows at the 1e8 tier) is usually
    # probe-broadcastable, removing the orderkey exchange entirely.
    orders_red = broadcast_when_small(orders_red, li, spark)
    return (
        li.join(F.broadcast(part_sel), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("_n2_key"))
        .join(orders_red, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                dsum(F.when(F.col("_supp_nation") == "NATION_5", volume))
                / dsum(volume)
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# x16_tpch_q9 — product-line profit by nation and year (cost-proxy adapted)
# ---------------------------------------------------------------------------

_X16_ORACLE = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       {o_dsum(
    'l_extendedprice * (1 - l_discount) - 0.01 * p_retailprice * l_quantity'
)} AS sum_profit
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
"""


@register("x16_tpch_q9", oracle=_X16_ORACLE)
def x16_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (ps_supplycost proxied as 1% of p_retailprice —
    no partsupp table in this schema): profit on '%bolt%' parts by
    supplier nation and order year. The profit expression mixes
    columns from part (broadcast), lineitem (fact), and orders (fact);
    the one real shuffle is orders⋈lineitem — the p_name LIKE filter
    broadcast-prunes lineitem to ~1/6th before that exchange, which is
    exactly the join-order freedom Q9 exists to exercise. Group-by
    cardinality is |nations|×|years| — trivially small final agg.

    Under the flat MV (r12) even that shuffle disappears: o_year is
    the o_quarter PARTITION value div 10 (never decoded from data),
    so the plan is one path-read scan of six columns + three broadcast
    joins + a tiny aggregate.

    Probe-gate wiring (the expensive-build shape): the reduced side
    here is ITSELF fact-derived (part-filtered lineitem), so a
    declined probe would cost a full lineitem pass. The gate is
    therefore pre-sized with footer stats — |lineitem| × the
    dim-measured LIKE selectivity (|bolt parts| / |parts|) — and only
    probes when that estimate says the reduced fact could plausibly
    broadcast (a very selective part filter at a big tier); otherwise
    the honest orderkey shuffle stands with zero probe cost."""
    part_sel = (
        load_dim(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey", "p_retailprice")
    )
    sup = load_dim(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_dim(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.01
    ) * F.col("p_retailprice") * F.col("l_quantity")

    # r12: the MV path WINS for this full scan after all — not via
    # pruning (Q9 has no date window) but because o_year is derivable
    # from the o_quarter PARTITION value (o_quarter div 10): the scan
    # decodes only the four profit columns + l_partkey/l_suppkey, the
    # orders join disappears, and o_orderdate is never read. The r10
    # boundary ("full scans stay on the base join") was measured when
    # the MV could not answer the query without decoding o_orderdate —
    # see docs/SCALING.md boundary 1.
    flat = load_flat_lineitem(spark, sf_dir, bucketed=False)
    if flat is not None:
        return (
            flat.join(
                F.broadcast(part_sel),
                F.col("p_partkey") == F.col("l_partkey"),
            )
            .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
            .join(
                F.broadcast(nation),
                F.col("s_nationkey") == F.col("n_nationkey"),
            )
            .groupBy(
                F.col("n_name").alias("nation"),
                F.expr("o_quarter div 10").cast("int").alias("o_year"),
            )
            .agg(dsum(profit).alias("sum_profit"))
        )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem")

    def _li_red_rows_est() -> float:
        n_sel = part_sel.count()  # dim-sized job: the stats lookup
        n_all = max(parquet_rows_estimate(sf_dir, "part"), 1)
        return parquet_rows_estimate(sf_dir, "lineitem") * (n_sel / n_all)

    li_red = li.join(
        F.broadcast(part_sel), F.col("p_partkey") == F.col("l_partkey")
    )
    if bucket_routed_key(spark, sf_dir, "lineitem") == "l_orderkey" and (
        bucket_routed_key(spark, sf_dir, "orders") == "o_orderkey"
    ):
        # co-bucketed layout: shuffle-hash on the orderkey join — no
        # exchange either side (the part broadcast preserves lineitem's
        # bucket partitioning), no sort-merge re-sort of the fact
        li_red = li_red.hint("shuffle_hash")
    else:
        li_red = broadcast_when_small(
            li_red, orders, spark, build_rows_estimate=_li_red_rows_est
        )
    return (
        li_red
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum(profit).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# x17_replication_pipeline — the reference's whole reason to exist,
# end-to-end: CDC apply (FINAL) → dimension enrichment → report
# ---------------------------------------------------------------------------

_X17_ORACLE = f"""
WITH versioned AS (
  SELECT user_id, value, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC
         ) AS rn
  FROM events
), final AS (
  SELECT user_id, value FROM versioned
  WHERE rn = 1 AND event_type != 'error'
)
SELECT c_mktsegment,
       COUNT(*) AS n_entities,
       {o_dsum('value')} AS latest_value_sum
FROM final JOIN customer ON c_custkey = (user_id % 1500) + 1
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("x17_replication_pipeline", oracle=_X17_ORACLE)
def x17_replication_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The category's end-to-end story in one query: the CDC stream
    (events as versioned row images) collapses to ReplacingMergeTree
    FINAL state (``streaming.cdc.EVENTS_FINAL``, as in a4), the surviving
    entities enrich against the replicated customer dimension
    (broadcast — h13's stream-static topology, batch form), and the
    report aggregates per segment. This is what a mysql-to-clickhouse
    user actually runs after replication lands.

    One window exchange on the CDC key does the FINAL collapse; the
    dim probe is broadcast (zero fact exchange); the final agg is
    segments-sized. At 100 TB the collapse shuffle is the pipeline's
    only fact-scale exchange — same bound as a4 itself. The customer
    dim is a REPLICATED table that grows with the source DB, so its
    broadcast goes through the probe gate rather than a blind hint: at
    small tiers Spark's auto-broadcast threshold picks it up
    unchanged; at probe tiers one dim-sized count either confirms the
    broadcast or lets an outsized dim degrade to a shuffle instead of
    an executor OOM."""
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cust = broadcast_when_small(cust, ev, spark)
    return (
        final(ev, EVENTS_FINAL)
        .withColumn("c_key", F.pmod(F.col("user_id"), F.lit(1500)) + 1)
        .join(cust, F.col("c_key") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            dsum("value").alias("latest_value_sum"),
        )
    )


# ---------------------------------------------------------------------------
# x18_dashboard — the replication-health dashboard composite
# ---------------------------------------------------------------------------

_X18_ORACLE = f"""
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         event_type, user_id, value
  FROM events
), per_type AS (
  SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM daily GROUP BY day, event_type
), top_type AS (
  SELECT day, event_type AS top_event_type
  FROM (
    SELECT day, event_type,
           ROW_NUMBER() OVER (PARTITION BY day
                              ORDER BY cnt DESC, event_type) AS rn
    FROM per_type
  ) WHERE rn = 1
)
SELECT CAST(d.day AS VARCHAR) AS day_str,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS n_users,
       {o_dsum('d.value')} AS revenue,
       CAST(SUM(CASE WHEN d.event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN d.event_type = 'view' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_views,
       MAX(t.top_event_type) AS top_event_type
FROM daily d JOIN top_type t ON d.day = t.day
GROUP BY d.day
ORDER BY day_str
"""


@register("x18_dashboard", oracle=_X18_ORACLE, tier="T2")
def x18_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The replication-health dashboard a MySQL→ClickHouse operator
    actually watches: per ingest day — event volume, distinct users,
    exact revenue, purchase/view counts (CH ``countIf``), and the
    dominant event type (CH ``topK(1)``/argMax) — one composite over a
    single fact scan.

    Scale: the daily grain aggregate is map-side-combinable off one
    scan; the dominant-type pick runs over the tiny (day, type) frame
    and broadcast-joins back. That broadcast is deliberately NOT
    probe-gated: the build is cardinality-bounded by construction
    (one row per day after the rank-1 filter — a few thousand rows per
    decade at ANY fact scale), so the static hint is already the
    100 TB-correct plan and a probe would only add a job. The
    distinct-user count is the only expensive aggregate (exact
    distinct per day) — at 100 TB swap in d4's HLL sketch for it; the
    exact form is kept here because the dashboard is the correctness
    gate for the sketch."""
    ev = load(spark, sf_dir, "events")
    daily = ev.select(
        F.col("ts").cast("date").alias("day"), "event_type", "user_id", "value"
    )
    per_type = daily.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.partitionBy("day").orderBy(F.desc("cnt"), F.asc("event_type"))
    top_type = (
        per_type.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("day", F.col("event_type").alias("top_event_type"))
    )
    agg = daily.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        dsum("value").alias("revenue"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("n_views"),
    )
    return (
        agg.join(F.broadcast(top_type), "day")
        .select(
            F.col("day").cast("string").alias("day_str"),
            "n_events",
            "n_users",
            "revenue",
            "n_purchases",
            "n_views",
            "top_event_type",
        )
    )


# ---------------------------------------------------------------------------
# x19_switchover_check — migration-completion validation (CHECKSUM TABLE)
# ---------------------------------------------------------------------------

# Row digest = first 12 hex chars of md5 over a canonical row rendering,
# parsed to int48 and XOR-folded: order-independent, overflow-free, and
# computable identically by both engines (Spark conv(); DuckDB 0x-cast).
_X19_ORACLE = """
WITH o_src AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         bit_xor(CAST(concat('0x', substr(md5(
           concat_ws('|', CAST(o_orderkey AS VARCHAR),
                     CAST(o_custkey AS VARCHAR), o_orderpriority)
         ), 1, 12)) AS BIGINT)) AS digest
  FROM orders
), c_src AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         bit_xor(CAST(concat('0x', substr(md5(
           concat_ws('|', CAST(c_custkey AS VARCHAR), c_mktsegment)
         ), 1, 12)) AS BIGINT)) AS digest
  FROM customer
)
SELECT 'customer' AS table_name, n AS src_rows, digest AS src_digest,
       n AS sink_rows, digest AS sink_digest,
       CAST(1 AS BIGINT) AS rows_match, CAST(1 AS BIGINT) AS digest_match
FROM c_src
UNION ALL
SELECT 'orders', n, digest, n, digest, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
FROM o_src
ORDER BY table_name
"""


@register("x19_switchover_check", oracle=_X19_ORACLE, tier="T2")
def x19_switchover_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The migration-completion gate every MySQL→ClickHouse cutover
    runs (CHECKSUM TABLE on both ends): row counts and an
    order-independent content digest computed on the SOURCE and on the
    replicated SINK (here: a real write+read round trip), with equality
    surfaced per table. The digest is an XOR fold of per-row truncated
    md5 over a canonical column rendering — partition- and
    insertion-order-proof, overflow-free, and cheap enough to run on
    every sync cycle.

    Scale: the digest is a map-side fold (one scalar per side per
    table); validation cost is one scan of each end — at 100 TB run it
    per partition instead and compare the partition-digest vectors to
    localize any mismatch to one partition."""
    from mysql_to_clickhouse_spark.functions.tmputil import scratch_dir

    base = scratch_dir("x19_sink_")

    def digest(df: DataFrame, cols: list[str]):
        canon = F.concat_ws(
            "|", *[F.col(c).cast("string") for c in cols]
        )
        row_h = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("long")
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.bit_xor(row_h).alias("digest"),
        )

    out = []
    for name, cols in (
        ("customer", ["c_custkey", "c_mktsegment"]),
        ("orders", ["o_orderkey", "o_custkey", "o_orderpriority"]),
    ):
        src = load(spark, sf_dir, name).select(*cols)
        path = f"{base}/{name}"
        src.write.mode("overwrite").parquet(path)   # the "migration"
        sink = spark.read.parquet(path)
        s = digest(src, cols).first()
        k = digest(sink, cols).first()
        out.append(
            (
                name,
                s["n"],
                s["digest"],
                k["n"],
                k["digest"],
                1 if s["n"] == k["n"] else 0,
                1 if s["digest"] == k["digest"] else 0,
            )
        )
    return spark.createDataFrame(
        out,
        "table_name string, src_rows long, src_digest long, sink_rows long,"
        " sink_digest long, rows_match long, digest_match long",
    )


# ---------------------------------------------------------------------------
# x20_mom_report — month-over-month revenue deltas (the BI staple)
# ---------------------------------------------------------------------------

_X20_ORACLE = f"""
WITH monthly AS (
  SELECT o_orderpriority AS segment,
         strftime(o_orderdate, '%Y-%m') AS ym,
         {o_dsum('o_totalprice')} AS revenue
  FROM orders
  GROUP BY segment, ym
)
SELECT segment, ym, revenue,
       LAG(revenue) OVER (PARTITION BY segment ORDER BY ym) AS prev_revenue,
       CASE WHEN LAG(revenue) OVER (PARTITION BY segment ORDER BY ym)
                 IS NULL THEN NULL
            ELSE ROUND((revenue - LAG(revenue) OVER (
                   PARTITION BY segment ORDER BY ym))
                 / LAG(revenue) OVER (PARTITION BY segment ORDER BY ym)
                 * 100.0, 6)
       END AS mom_pct
FROM monthly
ORDER BY segment, ym
"""


@register("x20_mom_report", oracle=_X20_ORACLE, tier="T2")
def x20_mom_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue report per order priority — the
    composite every BI tool generates (monthly rollup + lag + percent
    delta). Revenue is the exact fixed-point sum; the division is one
    fixed-order IEEE expression rounded at 6 on both engines.

    Scale: the monthly grain collapses the fact table first
    (map-side-combinable); the lag window runs over |segments|·|months|
    rows — the window never sees raw facts."""
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("segment"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    ).agg(dsum("o_totalprice").alias("revenue"))
    w = Window.partitionBy("segment").orderBy("ym")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "segment",
        "ym",
        "revenue",
        prev.alias("prev_revenue"),
        F.when(prev.isNull(), None)
        .otherwise(F.round((F.col("revenue") - prev) / prev * 100.0, 6))
        .alias("mom_pct"),
    )


# ---------------------------------------------------------------------------
# x21_corpus_build — the corpus-construction DAG in one query
# ---------------------------------------------------------------------------

# filter gate (i31's Gopher+length subset) -> exact dedup keeper (i1)
# -> deterministic renumber -> greedy 2000-char shard packing (i13's
# running-sum div) -> per-shard manifest. One DAG, every stage exact.
_X21_ORACLE = """
WITH s AS (
  SELECT doc_id, n_chars, md5(text) AS h,
         string_split(text, ' ') AS toks
  FROM documents
), flags AS (
  SELECT doc_id, n_chars, h,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT)
           AS n_word_chars,
         CAST(len(list_filter(toks, w -> length(w) <= 2)) AS BIGINT)
           AS n_tiny,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
  FROM s
), kept AS (
  SELECT f.doc_id, f.n_chars
  FROM flags f
  JOIN (SELECT h, MIN(doc_id) AS keeper FROM flags GROUP BY h) k
    ON f.h = k.h AND f.doc_id = k.keeper
  WHERE (f.n_words BETWEEN 5 AND 100000)
    AND (CAST(f.n_word_chars AS DOUBLE) / f.n_words BETWEEN 3.0 AND 12.0)
    AND (CAST(f.n_tiny AS DOUBLE) / f.n_words <= 0.4)
    AND (CAST(f.n_distinct AS DOUBLE) / f.n_words >= 0.2)
    AND f.n_chars BETWEEN 50 AND 5000
), packed AS (
  SELECT doc_id, n_chars,
         CAST((SUM(n_chars) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_chars) // 2000 AS BIGINT) AS shard
  FROM kept
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM packed
GROUP BY shard
ORDER BY shard
"""


@register("x21_corpus_build", oracle=_X21_ORACLE, tier="T2")
def x21_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-construction capstone — quality gate (i31's Gopher +
    length subset) → exact-dedup keeper (i1) → deterministic
    2000-char greedy shard packing (i13's prefix-sum-div trick) →
    per-shard manifest, all in ONE declarative DAG that Catalyst
    plans end to end. This is the 'run the whole pipeline' query a
    user of the reference would schedule nightly.

    Scale: the gate is map-only, dedup is one md5-key exchange, and
    the packing prefix-sum runs as the two-phase parallel scan
    (plans/prefix.py — range-partitioned doc order, 32 broadcast
    offsets), never a single-partition window, so the global manifest
    sequence survives a corpus-scale kept set. No Python anywhere.

    Corpus-tier segmentation (r10 postmortem: one mega-DAG OOMed the
    24g driver at 1e8 docs): when the documents scan exceeds
    ``spark.mysql2ch.corpus.boundaryBytes`` (default 2 GiB compressed),
    the kept set is cut at a ``checkpoint_boundary`` — 2-column
    parquet write-behind, fresh scan back, upstream tokenize/md5/join
    shuffles force-released — so the prefix scan starts from a clean
    slate instead of stacking on the dedup chain's retained state.
    Fixture tiers stay on the single declarative DAG (hash-identical;
    the boundary only moves WHERE stages materialize)."""
    docs = load(spark, sf_dir, "documents")

    # Gate BEFORE dedup (r12): every gate input (n_words, n_word_chars,
    # n_tiny, n_distinct, and n_chars == length(text) by the FIXTURES.md
    # contract, asserted in tests/test_pipeline_ops.py) is a function of
    # the text, so all duplicates of a hash pass or fail together and
    # keeper-then-gate == gate-then-keeper. Filtering first drops gated
    # rows BEFORE the exchange and shrinks the keeper row to its two
    # surviving fields.
    #
    # r14: the WHOLE gate is one exists(array(split(text)), λt. …)
    # expression — the token array binds to the lambda variable ONCE
    # per row, so every gate term reads the bound array instead of
    # re-evaluating split. The previous Project-then-Filter form looked
    # materialized in code, but PushDownPredicate re-inlined split(text)
    # at all 7 column references when it pushed the gate below the
    # Project (optimized-plan dump in plans/r14/). Conjuncts run
    # cheapest-first (And short-circuits per row: n_chars band →
    # n_words band → mean word length → tiny-token walk → distinct
    # walk); md5 moves AFTER the filter so only survivors pay it.
    # n_word_chars identity (r12): for a 1-char separator,
    # sum(length(token)) == length(text) - (n_words - 1) — split keeps
    # empty tokens, so separators are exactly n_words - 1. The oracle
    # keeps the list_sum/list_filter forms, so every term of this
    # rewrite is hash-checked on every drive.
    def _gate(t):
        nw = F.size(t).cast("long")
        mean_wl = (F.length("text").cast("long") - nw + 1).cast(
            "double"
        ) / nw
        return (
            F.col("n_chars").between(50, 5000)
            & nw.between(5, 100000)
            & mean_wl.between(3.0, 12.0)
            & (
                F.size(F.filter(t, lambda w: F.length(w) <= 2)).cast(
                    "double"
                ) / nw
                <= 0.4
            )
            & (F.size(F.array_distinct(t)).cast("double") / nw >= 0.2)
        )

    gated = docs.filter(
        F.exists(F.array(F.split("text", " ")), _gate)
    ).select(
        # 16-byte binary key: same dedup groups as the hex string at
        # half the shuffle-key bytes and memcmp compares (r12)
        F.unhex(F.md5("text")).alias("h"),
        "doc_id",
        "n_chars",
    )
    # Keeper = min-doc_id row per hash. min(doc_id) + min_by(n_chars,
    # doc_id) instead of min(struct(doc_id, n_chars)) (r14): identical
    # values (doc_id is globally unique, so the struct min IS the
    # min-doc_id row and min_by has no tie to break), but the struct
    # buffer forced ObjectHashAggregate while the two primitive-buffer
    # aggregates run in codegen'd HashAggregate — the 1e8 gate+dedup
    # stage measured 36.8 s -> 30.9 s first-run, and the struct form's
    # GC swing (median 70 s under block pressure) disappears.
    kept = gated.groupBy("h").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("n_chars", "doc_id").alias("n_chars"),
    )
    boundary_bytes = int(
        spark.conf.get("spark.mysql2ch.corpus.boundaryBytes", str(2 << 30))
    )
    if fact_bytes_estimate(docs) > boundary_bytes:
        kept = checkpoint_boundary(kept)
    # Single-shuffle prefix (r12): deterministic sampled-boundary
    # buckets instead of the RangePartitioner+DISK_ONLY-pin two-phase
    # scan — see plans/prefix.py running_sums_keyed (80 s -> ~35 s for
    # the prefix+pack stage at 1e8).
    cum, _ = running_sums_keyed(
        kept, "doc_id", {"cum_chars": F.col("n_chars")}
    )
    packed = cum.withColumn(
        "shard",
        F.expr("CAST((cum_chars - n_chars) DIV 2000 AS BIGINT)"),
    )
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
        .select("shard", "n_docs", "total_chars", "first_doc", "last_doc")
    )

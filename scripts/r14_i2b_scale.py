"""r14: growth-law A/B for the i2b/i22 inverted-index rewrite (§5b of
OPTIMIZATION_r14.md) on synthetic single-source corpora — the worst
case for the old form (one block ⇒ all-pairs: O(n²) candidate pairs,
each paying an array_intersect), and the shape where the inverted
index shows its law: postings scale O(n·shingles), joined rows scale
with TRUE overlap (planted dup families + hash collisions), not with
pairs.

Old = the pre-r14 blocked all-pairs array_intersect form (inlined
verbatim below, driven only where its quadratic work is feasible);
new = the committed llmops.i2b_jaccard_exact. Digests must be equal at
every co-measured tier.

Usage: python scripts/r14_i2b_scale.py [--docs-base /root/scale_docs]
Writes docs/STRESS_SHINGLES_r14.md.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs-base", default="/root/scale_docs")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from mysql_to_clickhouse_spark.operators import llmops
    from mysql_to_clickhouse_spark.session import build_session
    from scripts.stress_docs import synth_docs_spark

    spark = build_session(app_name="r14_i2b_scale", master="local[32]",
                          shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    tiers = [2_000, 5_000, 50_000, 500_000]
    OLD_FEASIBLE = 50_000  # 1.25e9 pairs, ~4 min at measured pair rate

    for n in tiers:
        base = f"{args.docs_base}_{n}"
        if not os.path.isdir(f"{base}/documents.parquet"):
            synth_docs_spark(spark, f"{base}/documents.parquet", n, 12, 0)
            print(f"synthesized {n:,} docs", flush=True)

    from mysql_to_clickhouse_spark.functions.text import distinct_shingles
    from mysql_to_clickhouse_spark.tables import load

    def old_i2b(sf_dir):
        sh = load(spark, sf_dir, "documents").select(
            "doc_id", "source", distinct_shingles("text").alias("shingles"))
        a, b = sh.alias("a"), sh.alias("b")
        inter = F.size(
            F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
        na = F.size(F.col("a.shingles"))
        nb = F.size(F.col("b.shingles"))
        return (a.join(b, [F.col("a.source") == F.col("b.source"),
                           F.col("a.doc_id") < F.col("b.doc_id")])
                .filter(inter > 0)
                .select(F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b"),
                        inter.cast("long").alias("n_common"),
                        na.cast("long").alias("n_a"),
                        nb.cast("long").alias("n_b"),
                        (inter.cast("double")
                         / (na + nb - inter).cast("double")).alias("jaccard")))

    def digest(out):
        return tuple(out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_common").cast("long").alias("s_c"),
            F.sum(F.col("n_a") + F.col("n_b")).cast("long").alias("s_ab"),
            F.sum(F.floor(F.col("jaccard") * 1e6)).cast("long").alias("s_j"),
        ).collect()[0])

    def timed(fn):
        t0 = time.time()
        d = fn()
        return time.time() - t0, d

    lines = [
        "# STRESS_SHINGLES — i2b inverted-index rewrite growth law (r14)",
        "",
        "Single-source synthetic corpora (scripts/stress_docs.py domains:"
        " 12-word docs, 1M-word vocab, planted near-dup families, hot=0) —"
        " ONE block, the old blocked-all-pairs form's worst case: candidate"
        " pairs = n²/2, each paying an array_intersect. The committed"
        " inverted-index form joins postings on (source, shingle), so its"
        " work scales with docs x shingles + TRUE overlaps. Old form driven"
        " only where its quadratic work is feasible (<= 50k docs = 1.25e9"
        " pairs); the growth column is the law. Digests (count +"
        " fixed-point sums over n_common/sizes/jaccard) must be equal at"
        " every co-measured tier. i22 and i38 share _shingle_overlaps, so"
        " this law carries to them. Generated by scripts/r14_i2b_scale.py.",
        "",
        "| docs (1 block) | pairs | old (s) | new (s) | digests equal |",
        "|---|---|---|---|---|",
    ]

    # throwaway warm-up so the first tier's 'new' number is not
    # charged the cold-JVM codegen/JIT constant
    digest(llmops.i2b_jaccard_exact(spark, f"{args.docs_base}_{tiers[0]}"))

    for n in tiers:
        base = f"{args.docs_base}_{n}"
        spark.sparkContext.setJobDescription(f"i2b new @{n}")
        new_t, new_d = timed(
            lambda: digest(llmops.i2b_jaccard_exact(spark, base)))
        pairs = n * (n - 1) // 2
        if n <= OLD_FEASIBLE:
            spark.sparkContext.setJobDescription(f"i2b old @{n}")
            old_t, old_d = timed(lambda: digest(old_i2b(base)))
            eq = old_d == new_d
            lines.append(f"| {n:,} | {pairs:,} | {old_t:.1f} | {new_t:.1f} |"
                         f" {eq} |")
            print(f"i2b@{n:,}: old {old_t:.1f}s new {new_t:.1f}s "
                  f"equal={eq} digest={new_d}", flush=True)
            assert eq, (n, old_d, new_d)
        else:
            lines.append(f"| {n:,} | {pairs:,} | (infeasible) | {new_t:.1f} |"
                         f" — |")
            print(f"i2b@{n:,}: new {new_t:.1f}s digest={new_d}", flush=True)

    doc = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "docs", "STRESS_SHINGLES_r14.md")
    with open(doc, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {doc}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

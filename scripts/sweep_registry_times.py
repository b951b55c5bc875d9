"""r13 breadth sweep: Spark-side wall time of EVERY registered query.

For each registry entry at $SPARK_GRAFT_SF_DIR (default sf0.01):
cold = build+execute+toPandas of a fresh invocation;
warm = median of 3 repeats on the same DataFrame (prepared-plan model).
Each run also records the generated classes Spark compiled during it
and their Janino compile milliseconds (``*_compiles``,
``*_compile_ms``; warm = median of the 3 repeats), read from Spark's
own codegen counters, so no second pass over the data. Warm runs
reuse the DataFrame's plan: a warm compile means the codegen cache
evicted the class, not that the query generates new code per call.
Writes JSON to stdout, sorted by cold desc. Purely diagnostic — the
optimization round's checklist source.

Usage: python scripts/sweep_registry_times.py [out.json]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _codegen_counters(spark) -> tuple[int, int]:
    """(classes compiled, compile ns) so far in this JVM. Local mode runs
    tasks in the driver JVM, so task-side compiles are counted too."""
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return metrics.METRIC_COMPILATION_TIME().getCount(), codegen.compileTime()


def _timed(spark, fn):
    """Run ``fn``; return (its result, wall s, classes compiled, compile ms)."""
    n0, ns0 = _codegen_counters(spark)
    t0 = time.perf_counter()
    result = fn()
    wall = time.perf_counter() - t0
    n1, ns1 = _codegen_counters(spark)
    return result, wall, n1 - n0, (ns1 - ns0) / 1e6


def _build_and_fetch(spark, q, sf_dir):
    df = q.fn(spark, sf_dir)
    df.toPandas()
    return df


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")

    from mysql_to_clickhouse_spark.registry import all_queries
    from mysql_to_clickhouse_spark.session import build_session

    spark = build_session(app_name="sweep_registry")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name, q in sorted(all_queries().items()):
        try:
            df, cold, cold_n, cold_ms = _timed(
                spark, lambda: _build_and_fetch(spark, q, sf_dir)
            )
            _, warm, warm_n, warm_ms = zip(
                *(_timed(spark, df.toPandas) for _ in range(3))
            )
            out[name] = {
                "cold": round(cold, 3),
                "warm": round(statistics.median(warm), 3),
                "cold_compiles": cold_n,
                "cold_compile_ms": round(cold_ms, 1),
                "warm_compiles": statistics.median(warm_n),
                "warm_compile_ms": round(statistics.median(warm_ms), 1),
            }
        except Exception as exc:  # noqa: BLE001
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        print(f"{name}: {out[name]}", file=sys.stderr, flush=True)

    ranked = dict(
        sorted(out.items(), key=lambda kv: kv[1].get("cold", 99), reverse=True)
    )
    dest = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sweep_registry.json"
    with open(dest, "w") as fh:
        json.dump(ranked, fh, indent=1)
    print(json.dumps({"n": len(out), "out": dest}))


if __name__ == "__main__":
    main()

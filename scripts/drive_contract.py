"""Driver simulation — the verify surface for this repo.

Imports the ``__spark_entry__.py`` of the checkout this script lives in
the way the round driver does (by path, fresh process, its own
SparkSession), runs the smoke entry and every declared query vs its
DuckDB oracle with an order-insensitive value hash. A copy of the script
in another checkout drives that checkout's code.

Usage: python scripts/drive_contract.py [--sf DIR] [--only NAME]
"""
import argparse
import hashlib
import importlib.util
import time
from pathlib import Path

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(pdf):
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
    rows = sorted(tuple(str(v) for v in row) for row in pdf.itertuples(index=False))
    return hashlib.md5(repr(rows).encode()).hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    # deliberately a plain session (like the verification driver's):
    # no timezone/broadcast/AQE tuning — the engine must self-configure
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    t0 = time.time()
    rows = mod.entry(spark).collect()
    print(f"entry(): {len(rows)} rows in {time.time() - t0:.1f}s")
    assert len(rows) > 0

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{args.sf}/{t}.parquet'")

    qs, oracles = mod.queries(), mod.oracle_sql()
    print(f"{len(qs)} queries, {len(oracles)} oracles")
    failed = []
    for name, fn in sorted(qs.items()):
        if args.only and name not in args.only.split(","):
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, args.sf).toPandas()
            if name in oracles:
                opdf = con.sql(oracles[name]).df()
                ok = (len(spdf) == len(opdf)) and value_hash(spdf) == value_hash(opdf)
                tag = f"hash_match={ok}"
                if not ok:
                    failed.append(name)
                    srows = sorted(
                        tuple(str(v) for v in row)
                        for row in spdf[sorted(spdf.columns)].itertuples(index=False)
                    )
                    orows = sorted(
                        tuple(str(v) for v in row)
                        for row in opdf[sorted(opdf.columns)].itertuples(index=False)
                    )
                    tag += f" rows={len(spdf)}/{len(opdf)}"
                    for srow, orow in zip(srows, orows):
                        if srow != orow:
                            tag += f"\n    spark : {srow}\n    oracle: {orow}"
                            break
                    tag += f"\n    dtypes spark={dict(spdf.dtypes.astype(str))}"
                    tag += f"\n    dtypes oracle={dict(opdf.dtypes.astype(str))}"
            else:
                tag = f"rows-only rows={len(spdf)}"
        except Exception as exc:  # noqa: BLE001
            tag = f"ERROR {type(exc).__name__}: {exc}"
            failed.append(name)
        print(f"  {name}: {tag} ({time.time() - t0:.1f}s)")
    if failed:
        raise SystemExit(f"FAILED: {failed}")
    print("ALL OK")


if __name__ == "__main__":
    main()

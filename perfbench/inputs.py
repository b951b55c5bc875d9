"""Seeded benchmark inputs: the ten fixture tables and the binlog op stream.

Everything here is a pure function of the seed. The tables follow the
schemas and value domains of FIXTURES.md at sf0.1 (row counts, dtypes,
categorical domains), so registry queries and their DuckDB oracles run
on them unchanged. The binlog op stream is generated in memory and
written as ROW-format rotations by the package's own writer before the
timed phase starts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
N_USERS = 1_500
WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()
_DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator, n: dict[str, int]) -> dict[str, pa.Table]:
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "FURNITURE", "MACHINERY", "HOUSEHOLD", "BUILDING"])
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": segs[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    ptypes = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    })
    no = n["orders"]
    d0 = np.datetime64("1995-01-01", "us").astype("int64")
    odate = d0 + rng.integers(0, 2405, no) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    l_order.sort()
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    run_id = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, nl]))
    lineno = np.arange(nl) - starts[run_id] + 1
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(odate[l_order] + rng.integers(1, 122, nl) * _DAY_US),
    })
    out["events"] = pa.table(events_columns(rng, n["events"]))
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def events_columns(rng: np.random.Generator, ne: int) -> dict[str, object]:
    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    step = 29 * _DAY_US // ne
    ts = t0 + np.arange(ne) * step + rng.integers(0, step, ne)
    return {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, N_USERS, ne),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.0, 560.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    words = np.array(WORDS)
    texts = []
    for _ in range(nd):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    # a few exact duplicates and near duplicates (one word swapped, a
    # "dup" marker appended) so the dedup operators find real work
    for i in rng.choice(nd, 16, replace=False):
        texts[i] = texts[(i + 1) % nd]
    for i in rng.choice(nd, 64, replace=False):
        w = texts[(i + 7) % nd].split()
        w[int(rng.integers(0, len(w)))] = str(rng.choice(words))
        texts[i] = " ".join(w) + " dup"
    for i in rng.choice(nd, 32, replace=False):
        w = texts[(i + 13) % nd].split()
        texts[i] = " ".join(w[: max(8, len(w) * 3 // 4)])
    return pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": np.array(["en", "en", "en", "zh", "de", "fr", "es"])[rng.integers(0, 7, nd)],
        "source": np.char.add("src", (np.arange(nd) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=2.0, size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, nv * 64 + 1, 64, dtype="int32"))
    return pa.table({
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(seed: int, out_dir: str,
                 rows: dict[str, int] | None = None) -> str:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; ``rows``
    overrides sf0.1 row counts per table. Returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    n = {**SF01_ROWS, **(rows or {})}
    for name, table in _tables(np.random.default_rng(seed), n).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# binlog op stream
# ---------------------------------------------------------------------------

BINLOG_COLS = ["user_id", "event_id", "ts_us", "event_type", "value"]
BINLOG_TYPES = ["long", "long", "long", "string", "double"]


def binlog_schema():
    from mysql_to_clickhouse_spark.sources.binlog import (
        MYSQL_TYPE_DOUBLE,
        MYSQL_TYPE_LONGLONG,
        MYSQL_TYPE_VARCHAR,
        TableSchema,
    )

    return TableSchema("app", "events_cdc", [
        ("user_id", MYSQL_TYPE_LONGLONG, 0),
        ("event_id", MYSQL_TYPE_LONGLONG, 0),
        ("ts_us", MYSQL_TYPE_LONGLONG, 0),
        ("event_type", MYSQL_TYPE_VARCHAR, 255),
        ("value", MYSQL_TYPE_DOUBLE, 8),
    ])


def binlog_ops(seed: int, n_rotations: int, rows_per_rotation: int):
    """Seeded ROW-event stream over the sf0.1 ``events`` rows.

    Returns ``(rotations, expected)``: ``rotations[i]`` is the op list of
    rotation i in the package writer's format, and ``expected[i]`` is the
    FINAL replica's ``{event_type: count}`` after rotation i is applied
    (latest row per user_id in log order, deletes dropped). Inserts take
    the events rows in event_id order (event ids stay unique across
    wrap-around); updates and deletes hit a live replica row, so every
    op changes the replica. Mix: 70% insert, 20% update, 10% delete."""
    rng = np.random.default_rng(seed + 1)
    cols = events_columns(rng, SF01_ROWS["events"])
    n_ev = len(cols["event_id"])
    users = cols["user_id"]
    ts_us = cols["ts"].to_numpy().astype("int64")
    etype = cols["event_type"]
    value = cols["value"]
    live: dict[int, tuple] = {}
    live_keys: list[int] = []  # user ids, possibly stale; checked on use
    rotations, expected = [], []
    next_insert = 0
    for _ in range(n_rotations):
        kinds = rng.random(rows_per_rotation)
        picks = rng.random(rows_per_rotation)
        new_types = rng.integers(0, 5, rows_per_rotation)
        new_vals = np.round(rng.uniform(0.0, 560.0, rows_per_rotation), 2)
        ops = []
        for j in range(rows_per_rotation):
            if kinds[j] >= 0.7 and live:
                while True:
                    key = live_keys[int(picks[j] * len(live_keys))]
                    if key in live:
                        break
                    live_keys.remove(key)
                before = live[key]
                if kinds[j] < 0.9:
                    after = (before[0], before[1], before[2] + 1,
                             EVENT_TYPES[new_types[j]], float(new_vals[j]))
                    ops.append(("update", (before, after)))
                    live[key] = after
                else:
                    ops.append(("delete", before))
                    del live[key]
                continue
            i = next_insert % n_ev
            row = (int(users[i]), next_insert, int(ts_us[i]),
                   str(etype[i]), float(value[i]))
            next_insert += 1
            ops.append(("insert", row))
            if row[0] not in live:
                live_keys.append(row[0])
            live[row[0]] = row
        rotations.append(ops)
        counts: dict[str, int] = {}
        for r in live.values():
            counts[r[3]] = counts.get(r[3], 0) + 1
        expected.append(counts)
    return rotations, expected

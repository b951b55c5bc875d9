"""ROW-format binlog writer/decoder (sources/binlog.py) — format
round-trip properties plus the distributed read path (a35)."""

import os
import struct

import pytest

from mysql_to_clickhouse_spark.sources.binlog import (
    MAGIC,
    MYSQL_TYPE_DOUBLE,
    MYSQL_TYPE_LONGLONG,
    MYSQL_TYPE_VARCHAR,
    TableSchema,
    decode_binlog_bytes,
    read_binlog,
    write_binlog,
)

TS = TableSchema(
    "app", "t",
    [
        ("pk", MYSQL_TYPE_LONGLONG, 0),
        ("name", MYSQL_TYPE_VARCHAR, 64),
        ("v", MYSQL_TYPE_DOUBLE, 8),
    ],
)


def _write(tmp_path, ops, ts=TS):
    p = os.path.join(str(tmp_path), "binlog.000001")
    write_binlog(p, ts, ops)
    return open(p, "rb").read()


def test_round_trip_all_ops(tmp_path):
    ops = [
        ("insert", (1, "a", 1.5)),
        ("update", ((1, "a", 1.5), (1, "a+u", 3.0))),
        ("delete", (1, "a+u", 3.0)),
        ("insert", (2, None, -0.25)),  # NULL varchar -> null bitmap
    ]
    evs = list(decode_binlog_bytes(_write(tmp_path, ops)))
    assert [e["op"] for e in evs] == ["insert", "update", "delete", "insert"]
    assert evs[0]["after"] == (1, "a", 1.5) and evs[0]["before"] is None
    assert evs[1]["before"] == (1, "a", 1.5)
    assert evs[1]["after"] == (1, "a+u", 3.0)
    assert evs[2]["before"] == (1, "a+u", 3.0) and evs[2]["after"] is None
    assert evs[3]["after"] == (2, None, -0.25)


def test_batched_inserts_share_log_pos_and_stay_ordered(tmp_path):
    ops = [("insert", (i, f"r{i}", float(i))) for i in range(10)]
    evs = list(decode_binlog_bytes(_write(tmp_path, ops)))
    assert len(evs) == 10
    # one WRITE_ROWS statement batches them: single log_pos, wire order
    assert len({e["log_pos"] for e in evs}) == 1
    assert [e["after"][0] for e in evs] == list(range(10))


def test_wide_varchar_uses_two_byte_length_prefix(tmp_path):
    wide = TableSchema("app", "t", [("pk", MYSQL_TYPE_LONGLONG, 0),
                                    ("txt", MYSQL_TYPE_VARCHAR, 1024)])
    long_s = "x" * 700  # needs the 2-byte prefix path
    evs = list(decode_binlog_bytes(
        _write(tmp_path, [("insert", (7, long_s))], ts=wide)))
    assert evs[0]["after"] == (7, long_s)


def test_doubles_round_trip_bit_exact(tmp_path):
    vals = [0.1, -1e300, 5e-324, 2.0 ** 53 + 2, float("inf")]
    ops = [("insert", (i, "d", v)) for i, v in enumerate(vals)]
    evs = list(decode_binlog_bytes(_write(tmp_path, ops)))
    got = [e["after"][2] for e in evs]
    assert [struct.pack("<d", g) for g in got] == [
        struct.pack("<d", v) for v in vals
    ]


def test_log_pos_monotone_and_decoder_raises_loudly(tmp_path):
    buf = _write(tmp_path, [("insert", (1, "a", 1.0)),
                            ("delete", (1, "a", 1.0))])
    lps = [e["log_pos"] for e in decode_binlog_bytes(buf)]
    assert lps == sorted(lps)
    with pytest.raises(ValueError, match="magic"):
        list(decode_binlog_bytes(b"nope" + buf[4:]))
    # unknown event type byte raises with the code named
    bad = bytearray(buf)
    bad[4 + 4] = 99  # first event header's type_code
    with pytest.raises(ValueError, match="99"):
        list(decode_binlog_bytes(bytes(bad)))


def test_unsupported_column_type_raises():
    odd = TableSchema("app", "t", [("pk", 255, 0)])  # GEOMETRY: not impl
    with pytest.raises(ValueError, match="255"):
        write_binlog("/dev/null", odd, [("insert", (1,))])


def test_read_binlog_distributed_multi_file(spark, tmp_path):
    d = str(tmp_path)
    write_binlog(os.path.join(d, "binlog.000001"), TS,
                 [("insert", (1, "a", 1.0)), ("insert", (2, "b", 2.0))])
    write_binlog(os.path.join(d, "binlog.000002"), TS,
                 [("update", ((1, "a", 1.0), (1, "a2", 10.0))),
                  ("delete", (2, "b", 2.0))])
    df = read_binlog(spark, d, ["pk", "name", "v"],
                     ["long", "string", "double"])
    rows = sorted(
        df.collect(), key=lambda r: (r["log_file"], r["log_pos"], r["seq"])
    )
    assert [r["op"] for r in rows] == ["insert", "insert", "update", "delete"]
    assert rows[0]["log_file"] == "binlog.000001"
    assert rows[2]["log_file"] == "binlog.000002"
    # update surfaces the AFTER image; delete the BEFORE image
    assert (rows[2]["pk"], rows[2]["name"], rows[2]["v"]) == (1, "a2", 10.0)
    assert (rows[3]["pk"], rows[3]["name"], rows[3]["v"]) == (2, "b", 2.0)
    # seq restarts per file
    assert [r["seq"] for r in rows] == [0, 1, 0, 1]


def test_wide_type_round_trip(tmp_path):
    """r12: the full a22-grade column surface round-trips bit-exact —
    fixed-width ints (TINY/SHORT/INT24/LONG), FLOAT, NEWDECIMAL,
    DATETIME2(6), TIMESTAMP2, DATE, BLOB — including NULLs in every
    position (null-bitmap coverage across >8 columns)."""
    import datetime
    import decimal

    from mysql_to_clickhouse_spark.sources.binlog import (
        MYSQL_TYPE_BLOB,
        MYSQL_TYPE_DATE,
        MYSQL_TYPE_DATETIME2,
        MYSQL_TYPE_FLOAT,
        MYSQL_TYPE_INT24,
        MYSQL_TYPE_LONG,
        MYSQL_TYPE_NEWDECIMAL,
        MYSQL_TYPE_SHORT,
        MYSQL_TYPE_TIMESTAMP2,
        MYSQL_TYPE_TINY,
    )

    wide = TableSchema(
        "app", "wide",
        [
            ("id", MYSQL_TYPE_LONGLONG, 0),
            ("t", MYSQL_TYPE_TINY, 0),
            ("s", MYSQL_TYPE_SHORT, 0),
            ("m", MYSQL_TYPE_INT24, 0),
            ("l", MYSQL_TYPE_LONG, 0),
            ("f", MYSQL_TYPE_FLOAT, 4),
            ("dec", MYSQL_TYPE_NEWDECIMAL, (12 << 8) | 2),
            ("dt", MYSQL_TYPE_DATETIME2, 6),
            ("ts", MYSQL_TYPE_TIMESTAMP2, 0),
            ("day", MYSQL_TYPE_DATE, 0),
            ("note", MYSQL_TYPE_VARCHAR, 255),
            ("blob", MYSQL_TYPE_BLOB, 2),
        ],
    )
    row = (
        123456789012, -128, -30000, -(1 << 23), (1 << 31) - 1, 2.25,
        decimal.Decimal("-1234567890.12"),
        datetime.datetime(2026, 8, 16, 12, 34, 56, 789123),
        datetime.datetime(2021, 1, 2, 3, 4, 5),
        datetime.date(1999, 12, 31),
        "héllo", b"\x00\x01binary",
    )
    nulls = (1,) + (None,) * 11
    evs = list(decode_binlog_bytes(
        _write(tmp_path, [("insert", row), ("insert", nulls),
                          ("update", (row, row)), ("delete", row)],
               ts=wide)))
    assert evs[0]["after"] == row
    assert evs[1]["after"] == nulls
    assert evs[2]["before"] == row and evs[2]["after"] == row
    assert evs[3]["before"] == row


def test_gtid_framing_and_rotate(tmp_path):
    """GTID mode: each tx is framed GTID -> QUERY(BEGIN) -> TABLE_MAP
    -> rows -> XID; decoded rows carry sid:gno; a rotation series
    continues the gno sequence and each non-final file ends with a
    ROTATE_EVENT the decoder accepts."""
    import os
    import uuid

    sid = uuid.UUID("12345678-1234-5678-1234-567812345678")
    d = str(tmp_path)
    ops1 = [("insert", (1, "a", 1.0)), ("delete", (1, "a", 1.0))]
    ops2 = [("insert", (2, "b", 2.0))]
    nxt = write_binlog(os.path.join(d, "binlog.000001"), TS, ops1,
                       gtid_sid=sid.bytes, gtid_start=1,
                       rotate_to="binlog.000002")
    assert nxt == 3  # two single-op txs consumed gno 1 and 2
    write_binlog(os.path.join(d, "binlog.000002"), TS, ops2,
                 gtid_sid=sid.bytes, gtid_start=nxt)
    evs1 = list(decode_binlog_bytes(
        open(os.path.join(d, "binlog.000001"), "rb").read()))
    evs2 = list(decode_binlog_bytes(
        open(os.path.join(d, "binlog.000002"), "rb").read()))
    assert [e["gtid"] for e in evs1] == [f"{sid}:1", f"{sid}:2"]
    assert [e["gtid"] for e in evs2] == [f"{sid}:3"]


def test_checkpoint_resume_skips_applied_events(spark, tmp_path):
    """(log_file, log_pos) resume: decode-all == decode-prefix +
    decode-resumed-suffix, with zero overlap and zero gaps — the
    replicator restart contract. File-level pruning: rotations named
    before the checkpoint file are filtered at the scan."""
    import os

    d = str(tmp_path)
    all_ops = [("insert", (i, f"r{i}", float(i))) for i in range(12)]
    # 3 rotation files x 4 single-row txs (events_per_tx=1 so every
    # row gets its own log_pos -> resume can cut between any two rows)
    for i in range(3):
        write_binlog(os.path.join(d, f"binlog.{i + 1:06d}"), TS,
                     all_ops[i * 4:(i + 1) * 4], events_per_tx=1)
    names = ["pk", "name", "v"]
    types = ["long", "string", "double"]
    full = sorted(
        read_binlog(spark, d, names, types).collect(),
        key=lambda r: (r["log_file"], r["log_pos"], r["seq"]),
    )
    assert [r["pk"] for r in full] == list(range(12))
    # checkpoint after the 6th row (2nd row of file 2)
    ckpt = full[5]
    resumed = sorted(
        read_binlog(spark, d, names, types,
                    start_file=ckpt["log_file"],
                    start_pos=ckpt["log_pos"]).collect(),
        key=lambda r: (r["log_file"], r["log_pos"], r["seq"]),
    )
    assert [r["pk"] for r in resumed] == list(range(6, 12))
    # prefix + suffix == full, no overlap
    assert {(r["log_file"], r["log_pos"]) for r in full[:6]}.isdisjoint(
        {(r["log_file"], r["log_pos"]) for r in resumed}
    )


def test_streaming_tail_equals_batch_decode(spark, tmp_path):
    """a35c (streaming tail: two availableNow drains over one
    checkpoint, rotations 3-4 written only after the first drain)
    must produce exactly the batch decode+apply's relation — the
    stream==batch differential for the binlog path — and must have
    committed MORE THAN ONE state version (proving the second drain
    actually resumed from the file-source WAL instead of rescanning)."""
    from mysql_to_clickhouse_spark.operators.scans import (
        a35_binlog_cdc,
        a35c_binlog_stream,
    )
    from mysql_to_clickhouse_spark.streaming.cdc import _committed_versions
    from tests.conftest import SMOKE_SF_DIR

    state_root = str(tmp_path / "state")
    import os

    os.makedirs(state_root)
    batch = sorted(map(tuple, a35_binlog_cdc(spark, SMOKE_SF_DIR).collect()))
    streamed = sorted(
        map(
            tuple,
            a35c_binlog_stream(
                spark, SMOKE_SF_DIR, state_root=state_root
            ).collect(),
        )
    )
    assert streamed == batch
    # two drains over one checkpoint -> at least two committed state
    # versions: the second query resumed from the file-source WAL and
    # merged only the new rotations, it did not rebuild from scratch
    assert len(_committed_versions(state_root)) >= 2


def test_ddl_bridge_unsigned_round_trip(tmp_path):
    """ONE parsed CREATE TABLE configures both replica halves (a22
    type map + ROW-event codec), and UNSIGNED columns — whose
    signedness the binlog wire does NOT carry — round-trip values
    above the sign bit once the DDL-derived flags are injected at
    decode. The same bytes decoded WITHOUT the flags show the classic
    corruption (negative values), proving the flags are load-bearing."""
    from mysql_to_clickhouse_spark.sources.ddl import (
        parse_mysql_ddl,
        to_binlog_schema,
        unsigned_flags,
    )

    ddl = """CREATE TABLE counters (
      `id` BIGINT UNSIGNED NOT NULL,
      `hits` INT UNSIGNED NOT NULL,
      `small` TINYINT UNSIGNED,
      `delta` INT NOT NULL,
      `label` VARCHAR(16),
      PRIMARY KEY (`id`)
    )"""
    cols = parse_mysql_ddl(ddl)
    ts = to_binlog_schema(cols, "app", "counters")
    flags = unsigned_flags(cols)
    assert flags == [True, True, True, False, False]
    row = ((1 << 63) + 5, (1 << 31) + 7, 200, -42, "x")
    p = os.path.join(str(tmp_path), "binlog.000001")
    write_binlog(p, ts, [("insert", row)])
    buf = open(p, "rb").read()
    evs = list(decode_binlog_bytes(buf, unsigned_cols=flags))
    assert evs[0]["after"] == row
    # without the DDL flags the sign bit corrupts every wide value
    bad = list(decode_binlog_bytes(buf))[0]["after"]
    assert bad[0] < 0 and bad[1] < 0 and bad[2] == 200 - 256
    # flag-count mismatch raises rather than mis-zipping
    with pytest.raises(ValueError, match="flags"):
        list(decode_binlog_bytes(buf, unsigned_cols=[True]))


def test_ddl_bridge_rejects_unsupported_wire_types():
    from mysql_to_clickhouse_spark.sources.ddl import (
        parse_mysql_ddl,
        to_binlog_schema,
    )

    cols = parse_mysql_ddl(
        "CREATE TABLE t (\n"
        "  `id` BIGINT NOT NULL,\n"
        "  `s` ENUM('a','b') NOT NULL\n"
        ")"
    )
    assert [c.mysql_type for c in cols] == ["bigint", "enum"]
    with pytest.raises(ValueError, match="binlog codec"):
        to_binlog_schema(cols, "app", "t")


def test_streaming_tail_honors_unsigned_flags(spark, tmp_path):
    """read_binlog_stream must ride unsigned_cols through to the shared
    decoder exactly as read_binlog does (r12 ADVICE: the streaming twin
    silently decoded UNSIGNED columns as signed — values above the sign
    bit came back negative)."""
    from mysql_to_clickhouse_spark.sources.binlog import read_binlog_stream
    from mysql_to_clickhouse_spark.sources.ddl import (
        parse_mysql_ddl,
        to_binlog_schema,
        unsigned_flags,
    )

    ddl = """CREATE TABLE counters (
      `id` BIGINT UNSIGNED NOT NULL,
      `label` VARCHAR(16),
      PRIMARY KEY (`id`)
    )"""
    cols = parse_mysql_ddl(ddl)
    ts = to_binlog_schema(cols, "app", "counters")
    flags = unsigned_flags(cols)
    big = (1 << 63) + 5  # above the sign bit: corrupts without flags
    d = str(tmp_path / "log")
    os.makedirs(d)
    write_binlog(os.path.join(d, "binlog.000001"), ts,
                 [("insert", (big, "x"))])

    def drain(unsigned):
        q = (
            read_binlog_stream(spark, d, ["id", "label"],
                               ["decimal(20,0)", "string"],
                               unsigned_cols=unsigned)
            .writeStream.format("memory")
            .queryName("u_stream")
            .option("checkpointLocation", str(tmp_path / f"ck{unsigned}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.sql("SELECT id FROM u_stream").collect()
        spark.catalog.dropTempView("u_stream")
        return [int(r["id"]) for r in rows]

    assert drain(flags) == [big]
    assert drain(None) == [big - (1 << 64)]  # signed misread, the bug


def test_read_binlog_decodes_from_any_cwd(tmp_path):
    """The decode closure runs on Python workers, which import this
    package by name. A fresh process whose cwd is not the repo root has
    no such module on its workers unless the reader ships the package
    zip itself, so decode one rotation from exactly that process."""
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    write_binlog(str(tmp_path / "binlog.000001"), TS,
                 [("insert", (1, "a", 1.0)), ("delete", (1, "a", 1.0))])
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repo!r})
        from mysql_to_clickhouse_spark.session import build_session
        from mysql_to_clickhouse_spark.sources.binlog import read_binlog
        spark = build_session(app_name="any_cwd", master="local[1]")
        rows = read_binlog(spark, {str(tmp_path)!r}, ["pk", "name", "v"],
                           ["long", "string", "double"]).collect()
        print(sorted(r["op"] for r in rows))
        spark.stop()
    """)
    # the package must reach the workers through the reader, never
    # through an inherited PYTHONPATH
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "['delete', 'insert']"

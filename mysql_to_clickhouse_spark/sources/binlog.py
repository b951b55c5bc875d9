"""MySQL ROW-format binlog: fixture writer + distributed decoder.

The reference category's core input is the MySQL binary log in ROW
format — ``python-mysql-replication``'s ``BinLogStreamReader`` yields
``WriteRows/UpdateRows/DeleteRowsEvent`` objects that replicators
(Altinity clickhouse-mysql-data-reader, long2ice/synch) fold into
versioned ClickHouse inserts (SURVEY §3.1 entry point 2). No MySQL
server exists in this sandbox and egress is blocked, so this module
closes the gap at the FORMAT level, which is public and fully
specified (MySQL internals manual, "Binary log file format"; the same
layout python-mysql-replication's packet parsers consume):

- file magic ``\\xfe bin``;
- v4 event header (19 bytes): timestamp u32, type_code u8,
  server_id u32, event_size u32, log_pos u32, flags u16 — all LE;
- FORMAT_DESCRIPTION_EVENT (15): binlog_version u16 = 4, 50-byte
  server version, create timestamp, header length, per-type
  post-header-length table;
- TABLE_MAP_EVENT (19): table_id u48 + flags, then schema/table names
  (length-prefixed, NUL-terminated), column count (net-packed int),
  per-column type bytes, the type-metadata block, and the nullability
  bitmap;
- WRITE/UPDATE/DELETE_ROWS_EVENT v2 (30/31/32): table_id u48, flags,
  extra-data length (>= 2, counts itself), column count, present-
  column bitmap(s) (two for UPDATE: before + after), then per row a
  null bitmap followed by the column values. UPDATE rows alternate
  before-image / after-image.

Column types implemented (r12: the full a22 DDL-contract surface, all
public MySQL internals layouts): the fixed-width signed ints TINY/
SHORT/INT24/LONG/LONGLONG (1/2/3/4/8-byte LE), FLOAT/DOUBLE (IEEE-754
LE, 1-byte size metadata), VARCHAR (2-byte max-length metadata; 1- or
2-byte value length prefix by max length, exactly the MySQL rule),
NEWDECIMAL (precision/scale metadata; base-1e9 digit groups big-endian
with the dig2bytes leftover compression, negatives one's-complemented,
sign bit XORed — strings/decimal.c), DATETIME2 (1-byte fsp metadata;
5-byte big-endian packed year*13+month/day/h/m/s plus (fsp+1)/2
fraction bytes), TIMESTAMP2 (4-byte BE epoch seconds + fraction),
DATE (3-byte packed day|month<<5|year<<9), and BLOB/TEXT (1-byte
metadata = length-prefix width). Unknown type codes raise loudly with
the code named — a decoder that guesses silently corrupts a replica.

Event surface beyond rows events: ROTATE_EVENT (file hand-off),
GTID_LOG_EVENT + PREVIOUS_GTIDS (transaction identity, surfaced as a
``gtid`` column), QUERY_EVENT (ROW-mode BEGIN framing, skipped), and
(log_file, log_pos) checkpoint-resume — files before the checkpoint
are pruned at the binaryFile scan, events at or before it within the
checkpoint file are skipped by end-position.

Scale design: binlogs arrive as ROTATED FILES (a deployment caps them
at ~1 GiB); ``read_binlog`` loads them via ``spark.read.format
("binaryFile")`` and decodes each file inside ``mapInPandas`` — one
Python decode pass per file, Arrow-batched out, so a directory of
rotations decodes with per-file parallelism and NOTHING passes through
the driver. Ordering is (file name, log_pos), both emitted, so the
CDC apply can take latest-wins across rotations. Checksums: written
with checksum_alg = 0 (CHECKSUM_NONE, the pre-5.6.1 and
binlog_checksum=NONE wire shape); the decoder asserts that byte.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from mysql_to_clickhouse_spark.tables import _ship_package

MAGIC = b"\xfebin"

QUERY_EVENT = 2
ROTATE_EVENT = 4
FORMAT_DESCRIPTION_EVENT = 15
XID_EVENT = 16
TABLE_MAP_EVENT = 19
WRITE_ROWS_EVENT_V2 = 30
UPDATE_ROWS_EVENT_V2 = 31
DELETE_ROWS_EVENT_V2 = 32
GTID_LOG_EVENT = 33
PREVIOUS_GTIDS_EVENT = 35

MYSQL_TYPE_TINY = 1
MYSQL_TYPE_SHORT = 2
MYSQL_TYPE_LONG = 3
MYSQL_TYPE_FLOAT = 4
MYSQL_TYPE_DOUBLE = 5
MYSQL_TYPE_LONGLONG = 8
MYSQL_TYPE_INT24 = 9
MYSQL_TYPE_DATE = 10
MYSQL_TYPE_TIMESTAMP2 = 17
MYSQL_TYPE_DATETIME2 = 18
MYSQL_TYPE_VARCHAR = 15
MYSQL_TYPE_BLOB = 252
MYSQL_TYPE_NEWDECIMAL = 246

_FIXED_INTS = {  # type -> byte width, little-endian signed
    MYSQL_TYPE_TINY: 1,
    MYSQL_TYPE_SHORT: 2,
    MYSQL_TYPE_INT24: 3,
    MYSQL_TYPE_LONG: 4,
    MYSQL_TYPE_LONGLONG: 8,
}

_HEADER = struct.Struct("<IBIIIH")  # ts, type, server_id, size, log_pos, flags
_SERVER_ID = 1
_POST_HEADER_LEN = {  # v4 post-header lengths for the types we emit
    QUERY_EVENT: 13,
    ROTATE_EVENT: 8,
    FORMAT_DESCRIPTION_EVENT: 84,
    XID_EVENT: 0,
    TABLE_MAP_EVENT: 8,
    WRITE_ROWS_EVENT_V2: 10,
    UPDATE_ROWS_EVENT_V2: 10,
    DELETE_ROWS_EVENT_V2: 10,
    GTID_LOG_EVENT: 25,
    PREVIOUS_GTIDS_EVENT: 0,
}

# NEWDECIMAL: digits are stored in base-10^9 groups of 4 bytes
# big-endian; a leftover group of d digits compresses to this many
# bytes (MySQL strings/decimal.c dig2bytes table, the layout
# python-mysql-replication's read_new_decimal consumes).
_DEC_BYTES = [0, 1, 1, 2, 2, 3, 3, 4, 4]
_DIG_PER_GROUP = 9


def _packed_int(n: int) -> bytes:
    """MySQL net-packed (length-encoded) integer — writer side."""
    if n < 251:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def _read_packed_int(buf: bytes, off: int) -> tuple[int, int]:
    b0 = buf[off]
    if b0 < 251:
        return b0, off + 1
    if b0 == 0xFC:
        return struct.unpack_from("<H", buf, off + 1)[0], off + 3
    if b0 == 0xFD:
        return int.from_bytes(buf[off + 1:off + 4], "little"), off + 4
    if b0 == 0xFE:
        return struct.unpack_from("<Q", buf, off + 1)[0], off + 9
    raise ValueError(f"bad packed-int lead byte {b0:#x} at offset {off}")


class TableSchema:
    """Column layout of one replicated table: (name, mysql_type,
    metadata[, unsigned]) tuples in column order (3-tuples normalize
    to signed). The PK is positional (MySQL ROW events carry no key
    metadata — replicators resolve the PK from the table map + their
    own config, as this does). UNSIGNEDNESS is likewise absent from
    the wire — the raw two's-complement bytes are all the binlog
    carries, and a replica that decodes an unsigned column as signed
    silently corrupts every value above the sign bit; the flag rides
    here (from the table DDL, sources/ddl.to_binlog_schema) exactly as
    python-mysql-replication takes it from
    information_schema.COLUMNS."""

    def __init__(self, schema: str, table: str,
                 cols: list[tuple]):
        self.schema = schema
        self.table = table
        self.cols = [
            (c[0], c[1], c[2], bool(c[3]) if len(c) > 3 else False)
            for c in cols
        ]


def _dec_layout(precision: int, scale: int) -> tuple[int, int, int, int, int]:
    """(intg digits, uncompressed int groups, compressed int digits,
    uncompressed frac groups, compressed frac digits)."""
    intg = precision - scale
    ui, ci = divmod(intg, _DIG_PER_GROUP)
    uf, cf = divmod(scale, _DIG_PER_GROUP)
    return intg, ui, ci, uf, cf


def _encode_newdecimal(precision: int, scale: int, v) -> bytes:
    """MySQL NEWDECIMAL on-disk/wire form (strings/decimal.c): base-1e9
    groups big-endian, leftover digits in 1–4 bytes, negative values
    one's-complemented, first byte's sign bit XORed."""
    import decimal

    with decimal.localcontext() as ctx:
        ctx.prec = 65  # MySQL's DECIMAL precision ceiling
        d = decimal.Decimal(str(v)).quantize(
            decimal.Decimal(1).scaleb(-scale),
            rounding=decimal.ROUND_HALF_UP,
        )
    neg = d < 0
    # copy_abs is context-free: abs() would round >28-digit values
    # through the default decimal context and corrupt the tail digits
    txt = format(d.copy_abs(), "f")
    ip, _, fp = txt.partition(".")
    intg, ui, ci, uf, cf = _dec_layout(precision, scale)
    if len(ip.lstrip("0") or "0") > intg and intg > 0 or (
        intg == 0 and int(ip) != 0
    ):
        raise ValueError(
            f"DECIMAL({precision},{scale}) overflow encoding {v!r}"
        )
    ip = ip.rjust(intg, "0")[-intg:] if intg else ""
    fp = fp.ljust(scale, "0")[:scale]
    out = bytearray()
    pos = 0
    if ci:
        out += int(ip[:ci] or "0").to_bytes(_DEC_BYTES[ci], "big")
        pos = ci
    for _ in range(ui):
        out += int(ip[pos:pos + 9]).to_bytes(4, "big")
        pos += 9
    pos = 0
    for _ in range(uf):
        out += int(fp[pos:pos + 9]).to_bytes(4, "big")
        pos += 9
    if cf:
        out += int(fp[pos:pos + cf]).to_bytes(_DEC_BYTES[cf], "big")
    if neg:
        out = bytearray(b ^ 0xFF for b in out)
    out[0] ^= 0x80
    return bytes(out)


def _decode_newdecimal(precision: int, scale: int, buf: bytes,
                       off: int):
    import decimal

    intg, ui, ci, uf, cf = _dec_layout(precision, scale)
    size = _DEC_BYTES[ci] + ui * 4 + uf * 4 + _DEC_BYTES[cf]
    raw = bytearray(buf[off:off + size])
    neg = not (raw[0] & 0x80)
    raw[0] ^= 0x80
    if neg:
        raw = bytearray(b ^ 0xFF for b in raw)
    p = 0
    ip = ""
    if ci:
        ip += str(int.from_bytes(raw[p:p + _DEC_BYTES[ci]], "big"))
        p += _DEC_BYTES[ci]
    for _ in range(ui):
        ip += str(int.from_bytes(raw[p:p + 4], "big")).rjust(9, "0")
        p += 4
    fp = ""
    for _ in range(uf):
        fp += str(int.from_bytes(raw[p:p + 4], "big")).rjust(9, "0")
        p += 4
    if cf:
        fp += str(
            int.from_bytes(raw[p:p + _DEC_BYTES[cf]], "big")
        ).rjust(cf, "0")
    txt = (("-" if neg else "") + (ip.lstrip("0") or "0")
           + ("." + fp if scale else ""))
    return decimal.Decimal(txt), off + size


def _encode_datetime2(fsp: int, v) -> bytes:
    """DATETIME2: 5 bytes big-endian packed fields (sign bit always 1
    for valid dates, year*13+month in 17 bits, then day/hour/min/sec),
    plus a (fsp+1)//2-byte big-endian fractional part."""
    ym = v.year * 13 + v.month
    packed = ((1 << 39) | (ym << 22) | (v.day << 17) | (v.hour << 12)
              | (v.minute << 6) | v.second)
    out = packed.to_bytes(5, "big")
    if fsp:
        nb = (fsp + 1) // 2
        frac = v.microsecond // (10 ** (6 - fsp))
        out += frac.to_bytes(nb, "big")
    return out


def _decode_datetime2(fsp: int, buf: bytes, off: int):
    import datetime as _dt

    packed = int.from_bytes(buf[off:off + 5], "big")
    off += 5
    micro = 0
    if fsp:
        nb = (fsp + 1) // 2
        micro = int.from_bytes(buf[off:off + nb], "big") * (
            10 ** (6 - fsp)
        )
        off += nb
    ym = (packed >> 22) & 0x1FFFF
    return _dt.datetime(
        ym // 13, ym % 13, (packed >> 17) & 0x1F,
        (packed >> 12) & 0x1F, (packed >> 6) & 0x3F, packed & 0x3F,
        micro,
    ), off


def _encode_value(mysql_type: int, meta: int, v,
                  unsigned: bool = False) -> bytes:
    if mysql_type in _FIXED_INTS:
        return int(v).to_bytes(_FIXED_INTS[mysql_type], "little",
                               signed=not unsigned)
    if mysql_type == MYSQL_TYPE_DOUBLE:
        return struct.pack("<d", float(v))
    if mysql_type == MYSQL_TYPE_FLOAT:
        return struct.pack("<f", float(v))
    if mysql_type == MYSQL_TYPE_VARCHAR:
        raw = str(v).encode("utf-8")
        if len(raw) > meta:
            raise ValueError(f"VARCHAR value exceeds max_len {meta}")
        pre = (struct.pack("<B", len(raw)) if meta < 256
               else struct.pack("<H", len(raw)))
        return pre + raw
    if mysql_type == MYSQL_TYPE_NEWDECIMAL:
        return _encode_newdecimal(meta >> 8, meta & 0xFF, v)
    if mysql_type == MYSQL_TYPE_DATETIME2:
        return _encode_datetime2(meta, v)
    if mysql_type == MYSQL_TYPE_TIMESTAMP2:
        secs = int(v.timestamp()) if hasattr(v, "timestamp") else int(v)
        out = secs.to_bytes(4, "big")
        if meta:
            nb = (meta + 1) // 2
            micro = getattr(v, "microsecond", 0)
            out += (micro // (10 ** (6 - meta))).to_bytes(nb, "big")
        return out
    if mysql_type == MYSQL_TYPE_DATE:
        packed = v.day | (v.month << 5) | (v.year << 9)
        return packed.to_bytes(3, "little")
    if mysql_type == MYSQL_TYPE_BLOB:
        raw = v if isinstance(v, (bytes, bytearray)) else str(v).encode()
        if len(raw) >= 1 << (8 * meta):
            raise ValueError(f"BLOB value exceeds {meta}-byte length")
        return len(raw).to_bytes(meta, "little") + bytes(raw)
    raise ValueError(f"unsupported MySQL column type {mysql_type}")


def _decode_value(mysql_type: int, meta: int, buf: bytes,
                  off: int, unsigned: bool = False) -> tuple[object, int]:
    if mysql_type in _FIXED_INTS:
        w = _FIXED_INTS[mysql_type]
        return int.from_bytes(buf[off:off + w], "little",
                              signed=not unsigned), off + w
    if mysql_type == MYSQL_TYPE_DOUBLE:
        return struct.unpack_from("<d", buf, off)[0], off + 8
    if mysql_type == MYSQL_TYPE_FLOAT:
        return struct.unpack_from("<f", buf, off)[0], off + 4
    if mysql_type == MYSQL_TYPE_VARCHAR:
        if meta < 256:
            ln = buf[off]
            off += 1
        else:
            ln = struct.unpack_from("<H", buf, off)[0]
            off += 2
        return buf[off:off + ln].decode("utf-8"), off + ln
    if mysql_type == MYSQL_TYPE_NEWDECIMAL:
        return _decode_newdecimal(meta >> 8, meta & 0xFF, buf, off)
    if mysql_type == MYSQL_TYPE_DATETIME2:
        return _decode_datetime2(meta, buf, off)
    if mysql_type == MYSQL_TYPE_TIMESTAMP2:
        import datetime as _dt

        secs = int.from_bytes(buf[off:off + 4], "big")
        off += 4
        micro = 0
        if meta:
            nb = (meta + 1) // 2
            micro = int.from_bytes(buf[off:off + nb], "big") * (
                10 ** (6 - meta)
            )
            off += nb
        return _dt.datetime.fromtimestamp(
            secs, _dt.timezone.utc
        ).replace(tzinfo=None) + _dt.timedelta(microseconds=micro), off
    if mysql_type == MYSQL_TYPE_DATE:
        import datetime as _dt

        packed = int.from_bytes(buf[off:off + 3], "little")
        return _dt.date(packed >> 9, (packed >> 5) & 0xF,
                        packed & 0x1F), off + 3
    if mysql_type == MYSQL_TYPE_BLOB:
        ln = int.from_bytes(buf[off:off + meta], "little")
        off += meta
        return bytes(buf[off:off + ln]), off + ln
    raise ValueError(
        f"unsupported MySQL column type {mysql_type} — refusing to guess"
    )


def _null_bitmap(row: tuple, n: int) -> bytes:
    bits = bytearray((n + 7) // 8)
    for i in range(n):
        if row[i] is None:
            bits[i // 8] |= 1 << (i % 8)
    return bytes(bits)


def _encode_row(ts_cols: list[tuple], row: tuple) -> bytes:
    out = [_null_bitmap(row, len(ts_cols))]
    for (name, typ, mlen, unsigned), v in zip(ts_cols, row):
        if v is not None:
            out.append(_encode_value(typ, mlen, v, unsigned))
    return b"".join(out)


class _Writer:
    def __init__(self):
        self.chunks = [MAGIC]
        self.pos = 4

    def event(self, type_code: int, body: bytes, timestamp: int = 0) -> None:
        size = 19 + len(body)
        self.pos += size
        self.chunks.append(
            _HEADER.pack(timestamp, type_code, _SERVER_ID, size, self.pos, 0)
        )
        self.chunks.append(body)

    def bytes(self) -> bytes:
        return b"".join(self.chunks)


def _fde_body() -> bytes:
    ver = b"5.7.44-log".ljust(50, b"\x00")
    post = bytearray(39)  # post-header length per type code 1..39
    for code, ln in _POST_HEADER_LEN.items():
        post[code - 1] = ln
    # trailing byte: checksum algorithm 0 = CHECKSUM_NONE
    return struct.pack("<H", 4) + ver + struct.pack("<I", 0) + b"\x13" \
        + bytes(post) + b"\x00"


def _meta_bytes(t: int, m: int) -> bytes:
    """TABLE_MAP per-column type-metadata, by type (MySQL internals
    manual, Table_map_event column metadata): VARCHAR 2-byte max-len,
    FLOAT/DOUBLE 1-byte size, NEWDECIMAL (precision, scale) bytes,
    DATETIME2/TIMESTAMP2 1-byte fsp, BLOB 1-byte length-prefix width;
    fixed-width ints and DATE carry none."""
    if t == MYSQL_TYPE_VARCHAR:
        return struct.pack("<H", m)
    if t == MYSQL_TYPE_DOUBLE:
        return b"\x08"
    if t == MYSQL_TYPE_FLOAT:
        return b"\x04"
    if t == MYSQL_TYPE_NEWDECIMAL:
        return bytes([m >> 8, m & 0xFF])
    if t in (MYSQL_TYPE_DATETIME2, MYSQL_TYPE_TIMESTAMP2):
        return bytes([m])
    if t == MYSQL_TYPE_BLOB:
        return bytes([m])
    return b""


def _meta_parse(t: int, body: bytes, p: int) -> tuple[int, int]:
    """Inverse of _meta_bytes: (meta int, next offset)."""
    if t == MYSQL_TYPE_VARCHAR:
        return struct.unpack_from("<H", body, p)[0], p + 2
    if t in (MYSQL_TYPE_DOUBLE, MYSQL_TYPE_FLOAT):
        return body[p], p + 1
    if t == MYSQL_TYPE_NEWDECIMAL:
        return (body[p] << 8) | body[p + 1], p + 2
    if t in (MYSQL_TYPE_DATETIME2, MYSQL_TYPE_TIMESTAMP2):
        return body[p], p + 1
    if t == MYSQL_TYPE_BLOB:
        return body[p], p + 1
    return 0, p


def _table_map_body(table_id: int, ts: TableSchema) -> bytes:
    # table_id u48 (low 4 bytes + 2 zero high bytes) + flags u16
    body = [struct.pack("<I", table_id) + b"\x00\x00" + struct.pack("<H", 0)]
    sch = ts.schema.encode()
    tbl = ts.table.encode()
    body.append(bytes([len(sch)]) + sch + b"\x00")
    body.append(bytes([len(tbl)]) + tbl + b"\x00")
    body.append(_packed_int(len(ts.cols)))
    body.append(bytes(c[1] for c in ts.cols))
    meta = b"".join(_meta_bytes(c[1], c[2]) for c in ts.cols)
    body.append(_packed_int(len(meta)) + meta)
    body.append(b"\xff" * ((len(ts.cols) + 7) // 8))  # all nullable
    return b"".join(body)


def _rows_body(table_id: int, ts: TableSchema, rows: list,
               update: bool) -> bytes:
    ncols = len(ts.cols)
    present = b"\xff" * ((ncols + 7) // 8)
    body = [
        struct.pack("<I", table_id) + b"\x00\x00",  # table_id u48
        struct.pack("<H", 0),                       # flags
        struct.pack("<H", 2),                       # extra-data len (self)
        _packed_int(ncols),
        present,
    ]
    if update:
        body.append(present)  # after-image present bitmap
    for r in rows:
        if update:
            before, after = r
            body.append(_encode_row(ts.cols, before))
            body.append(_encode_row(ts.cols, after))
        else:
            body.append(_encode_row(ts.cols, r))
    return b"".join(body)


def _query_begin_body() -> bytes:
    """Minimal QUERY_EVENT carrying "BEGIN" — the tx-open framing a
    ROW-format server writes before each event group: thread_id u32,
    exec_time u32, schema_len u8, error_code u16, status_vars_len u16,
    status vars (none), schema + NUL, query text."""
    schema = b"app"
    return (struct.pack("<IIBHH", 1, 0, len(schema), 0, 0)
            + schema + b"\x00" + b"BEGIN")


def write_binlog(path: str, ts: TableSchema, ops: list, *,
                 table_id: int = 109, events_per_tx: int = 64,
                 gtid_sid: bytes | None = None, gtid_start: int = 1,
                 rotate_to: str | None = None) -> int:
    """Serialize ``ops`` — a list of ``("insert", row)``,
    ``("update", (before, after))``, ``("delete", row)`` — into one
    ROW-format binlog file at ``path``. Consecutive same-op entries
    are batched into one rows-event (MySQL batches per statement), a
    TABLE_MAP precedes every rows-event (the MySQL rule: table maps
    are re-sent per event group), and an XID closes each ~tx batch.

    GTID mode: pass ``gtid_sid`` (16 source-id bytes) to frame each tx
    with GTID_LOG_EVENT(sid, gno) starting at ``gtid_start`` — a
    PREVIOUS_GTIDS event follows the FDE, as servers write. Pass
    ``rotate_to`` (the next rotation's file name) to close the file
    with a ROTATE_EVENT, the on-disk hand-off marker. Returns the
    NEXT gno (so a rotation series continues the GTID sequence)."""
    w = _Writer()
    w.event(FORMAT_DESCRIPTION_EVENT, _fde_body())
    gno = gtid_start
    if gtid_sid is not None:
        if len(gtid_sid) != 16:
            raise ValueError("gtid_sid must be 16 bytes")
        # empty previous-set (n_sids = 0): fixture logs start clean
        w.event(PREVIOUS_GTIDS_EVENT, struct.pack("<Q", 0))
    i, n, xid = 0, len(ops), 1
    while i < n:
        op = ops[i][0]
        j = i
        while j < n and ops[j][0] == op and j - i < events_per_tx:
            j += 1
        batch = [ops[k][1] for k in range(i, j)]
        if gtid_sid is not None:
            w.event(GTID_LOG_EVENT,
                    b"\x01" + gtid_sid + struct.pack("<Q", gno))
            gno += 1
            w.event(QUERY_EVENT, _query_begin_body())
        w.event(TABLE_MAP_EVENT, _table_map_body(table_id, ts))
        code = {"insert": WRITE_ROWS_EVENT_V2,
                "update": UPDATE_ROWS_EVENT_V2,
                "delete": DELETE_ROWS_EVENT_V2}[op]
        w.event(code, _rows_body(table_id, ts, batch, op == "update"))
        w.event(XID_EVENT, struct.pack("<Q", xid))
        xid += 1
        i = j
    if rotate_to is not None:
        w.event(ROTATE_EVENT,
                struct.pack("<Q", 4) + rotate_to.encode())
    with open(path, "wb") as f:
        f.write(w.bytes())
    return gno


def decode_binlog_bytes(buf: bytes, *, start_pos: int = 0,
                        unsigned_cols: list[bool] | None = None,
                        ) -> Iterator[dict]:
    """Decode one binlog file's bytes into row-change dicts:
    ``{"log_pos", "op", "before", "after", "gtid"}`` where before/after
    are column-value tuples (None where absent) and gtid is the last
    GTID_LOG_EVENT's ``sid:gno`` (None in a GTID-less log). Pure
    Python, no Spark — the unit the mapInPandas wrapper runs per file.

    ``start_pos`` is the checkpoint-resume cursor: rows events whose
    END position (the header's log_pos, what SHOW MASTER STATUS /
    a replicator checkpoint records) is <= start_pos were already
    applied and are skipped. Format/rotate/gtid bookkeeping events are
    always processed — resume still needs the schema from TABLE_MAP
    and the FDE's checksum declaration, which precede the cursor.

    ``unsigned_cols`` injects per-column signedness (the wire carries
    only the raw two's-complement bytes — MySQL keeps UNSIGNED in the
    table DDL, not the binlog, so a replicator must supply it from
    information_schema or a parsed CREATE TABLE;
    sources/ddl.unsigned_flags builds the list from the a22 map)."""
    if buf[:4] != MAGIC:
        raise ValueError("not a binlog file (bad magic)")
    off = 4
    table: TableSchema | None = None
    gtid: str | None = None
    while off < len(buf):
        ts_, code, _sid, size, log_pos, _fl = _HEADER.unpack_from(buf, off)
        body = buf[off + 19:off + size]
        off += size
        if code == ROTATE_EVENT:
            # post-header: next-file start position u64; body: next
            # file name (no NUL). Informational for a per-file decode —
            # ordering across rotations is the (file, pos) sort key.
            continue
        if code == PREVIOUS_GTIDS_EVENT:
            continue
        if code == QUERY_EVENT:
            continue  # ROW-format tx framing (BEGIN) — no row payload
        if code == GTID_LOG_EVENT:
            # flags u8, SID 16 bytes, GNO u64 LE
            sid = body[1:17]
            gno = struct.unpack_from("<Q", body, 17)[0]
            import uuid as _uuid

            gtid = f"{_uuid.UUID(bytes=sid)}:{gno}"
            continue
        if code == FORMAT_DESCRIPTION_EVENT:
            ver = struct.unpack_from("<H", body, 0)[0]
            if ver != 4:
                raise ValueError(f"binlog version {ver}, expected 4")
            if body[-1] != 0:
                raise ValueError(
                    f"checksum algorithm {body[-1]} unsupported "
                    "(write with binlog_checksum=NONE)"
                )
            continue
        if code == XID_EVENT:
            continue
        if code == TABLE_MAP_EVENT:
            p = 8  # table_id u48 + flags u16
            slen = body[p]
            schema = body[p + 1:p + 1 + slen].decode()
            p += 1 + slen + 1
            tlen = body[p]
            tname = body[p + 1:p + 1 + tlen].decode()
            p += 1 + tlen + 1
            ncols, p = _read_packed_int(body, p)
            types = list(body[p:p + ncols])
            p += ncols
            mlen, p = _read_packed_int(body, p)
            meta_end = p + mlen
            cols = []
            for t in types:
                m, p = _meta_parse(t, body, p)
                cols.append((f"c{len(cols)}", t, m))
            if p != meta_end:
                raise ValueError("type-metadata block length mismatch")
            table = TableSchema(schema, tname, cols)
            if unsigned_cols is not None:
                if len(unsigned_cols) != len(table.cols):
                    raise ValueError(
                        f"unsigned_cols has {len(unsigned_cols)} flags "
                        f"for a {len(table.cols)}-column table map"
                    )
                table.cols = [
                    (n, t, m, bool(u))
                    for (n, t, m, _), u in zip(table.cols, unsigned_cols)
                ]
            continue
        if code in (WRITE_ROWS_EVENT_V2, UPDATE_ROWS_EVENT_V2,
                    DELETE_ROWS_EVENT_V2):
            if table is None:
                raise ValueError("rows event before any TABLE_MAP")
            if log_pos <= start_pos:
                continue  # checkpoint resume: already applied
            p = 8  # table_id + flags
            extra = struct.unpack_from("<H", body, p)[0]
            p += extra  # extra-data length counts itself
            ncols, p = _read_packed_int(body, p)
            nbm = (ncols + 7) // 8
            p += nbm  # present bitmap (we write all-present)
            if code == UPDATE_ROWS_EVENT_V2:
                p += nbm
            while p < len(body):
                row1, p = _decode_row(table, body, p)
                if code == UPDATE_ROWS_EVENT_V2:
                    row2, p = _decode_row(table, body, p)
                    yield {"log_pos": log_pos, "op": "update",
                           "before": row1, "after": row2, "gtid": gtid}
                elif code == WRITE_ROWS_EVENT_V2:
                    yield {"log_pos": log_pos, "op": "insert",
                           "before": None, "after": row1, "gtid": gtid}
                else:
                    yield {"log_pos": log_pos, "op": "delete",
                           "before": row1, "after": None, "gtid": gtid}
            continue
        raise ValueError(f"unsupported binlog event type {code}")


def _decode_row(table: TableSchema, body: bytes,
                p: int) -> tuple[tuple, int]:
    n = len(table.cols)
    nulls = body[p:p + (n + 7) // 8]
    p += (n + 7) // 8
    vals = []
    for i, (_nm, t, m, unsigned) in enumerate(table.cols):
        if nulls[i // 8] >> (i % 8) & 1:
            vals.append(None)
        else:
            v, p = _decode_value(t, m, body, p, unsigned)
            vals.append(v)
    return tuple(vals), p


def _decoder(col_names: list[str], col_types: list[str],
             start_file: str | None, start_pos: int,
             unsigned_cols: list[bool] | None = None):
    """The per-file decode closure + its output schema — shared by the
    batch scan (read_binlog) and the streaming tail
    (read_binlog_stream) so the two paths cannot drift."""
    fields = ", ".join(
        f"{n} {t}" for n, t in zip(col_names, col_types)
    )
    out_schema = (
        f"log_file string, log_pos long, seq long, op string, "
        f"gtid string, {fields}"
    )
    as_str = [t.strip().lower() == "string" for t in col_types]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, file_row in pdf.iterrows():
                rows = []
                fname = file_row["path"].rsplit("/", 1)[-1]
                cursor = (start_pos if start_file is not None
                          and fname == start_file else 0)
                for seq, ev in enumerate(
                    decode_binlog_bytes(bytes(file_row["content"]),
                                        start_pos=cursor,
                                        unsigned_cols=unsigned_cols)
                ):
                    img = ev["after"] if ev["after"] is not None \
                        else ev["before"]
                    img = tuple(
                        v.decode("utf-8")
                        if s and isinstance(v, bytes) else v
                        for v, s in zip(img, as_str)
                    )
                    rows.append(
                        (fname, ev["log_pos"], seq, ev["op"],
                         ev["gtid"], *img)
                    )
                if rows:
                    yield pd.DataFrame(
                        rows,
                        columns=["log_file", "log_pos", "seq", "op",
                                 "gtid", *col_names],
                    )

    return decode, out_schema


def read_binlog(spark: SparkSession, path: str,
                col_names: list[str], col_types: list[str], *,
                start_file: str | None = None,
                start_pos: int = 0,
                unsigned_cols: list[bool] | None = None) -> DataFrame:
    """Distributed binlog decode: ``binaryFile`` scan of the rotation
    directory, one Python decode per FILE inside mapInPandas (Arrow
    out). Emits (log_file, log_pos, seq, op, gtid, <after-image
    columns>) rows, where seq is the 0-based decoded-row ordinal
    within its file — rows batched into one statement's event share a
    log_pos, so (log_file, log_pos, seq) is the total apply order, and
    gtid carries the framing transaction's ``sid:gno`` (null for a
    GTID-less log). DELETE rows surface the before-image under the
    same columns with op='delete' — exactly the (pk, version, op,
    image) frame the a4 apply path consumes. Column NAMES are
    caller-supplied (a table map carries types, not names — same
    contract as the MySQL wire); a BLOB/TEXT column declared as
    ``string`` is utf-8 decoded at this boundary (the wire carries
    bytes; charset intent lives with the caller, as in a replica's
    column mapping).

    Checkpoint resume: ``(start_file, start_pos)`` is the last APPLIED
    position — files named < start_file are pruned at the SCAN (never
    read, the partition-pruning shape), the start file itself skips
    rows events whose end-position is <= start_pos, and later
    rotations decode in full."""
    _ship_package(spark)
    decode, out_schema = _decoder(col_names, col_types,
                                  start_file, start_pos, unsigned_cols)
    files = spark.read.format("binaryFile").load(path)
    if start_file is not None:
        from pyspark.sql import functions as F

        files = files.filter(
            F.element_at(F.split(F.col("path"), "/"), -1) >= start_file
        )
    return files.select("path", "content").mapInPandas(
        decode, schema=out_schema
    )


_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, "
    "content binary"
)


def read_binlog_stream(spark: SparkSession, path: str,
                       col_names: list[str],
                       col_types: list[str],
                       unsigned_cols: list[bool] | None = None,
                       ) -> DataFrame:
    """Streaming twin of ``read_binlog``: the rotation directory TAILED
    as a Structured Streaming file source — new binlog rotations are
    discovered per micro-batch, decoded with the SAME per-file closure
    as the batch path (shared ``_decoder``, so the two cannot drift),
    and the streaming checkpoint WAL remembers which files were
    consumed (the binlog-position bookmark a replicator keeps,
    SURVEY §3.1 step 5 — here it is Spark's own file-source offset
    log, exactly-once by construction).

    ``binaryFile`` is a FileFormat, so it streams like text/parquet;
    its fixed schema must be passed explicitly (streaming sources
    cannot infer). Downstream, pair with a foreachBatch latest-wins
    merge ordered by (log_file, log_pos, seq) — a35c_binlog_stream is
    the end-to-end operator, streaming/cdc.py the state discipline."""
    _ship_package(spark)
    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINARYFILE_SCHEMA)
        .load(path)
    )
    # unsigned_cols rides through exactly as in the batch path (r12
    # ADVICE: the streaming twin silently decoded unsigned as signed)
    decode, out_schema = _decoder(col_names, col_types, None, 0,
                                  unsigned_cols)
    return files.select("path", "content").mapInPandas(
        decode, schema=out_schema
    )

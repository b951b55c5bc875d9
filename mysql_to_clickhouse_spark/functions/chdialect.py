"""ClickHouse-dialect SQL surface: run CH-idiom query text near-verbatim.

A user migrating from the reference category carries ClickHouse SQL —
``countIf``, ``uniq``, ``argMax``, ``quantile(0.5)(x)``, ``toYYYYMM``,
``JSONExtractInt``, ``splitByChar``, ``arrayJoin`` … The engine has had
the *semantics* of each since the §2 operators landed (d5, d4, d6, d8,
g4, g9, g2, g12); this module makes the *names* resolve, via two
mechanisms chosen by what Spark can express:

1. **Real function registration**: a scalar CH name becomes a Spark
   SQL UDF — ``CREATE OR REPLACE TEMPORARY FUNCTION name(args)
   RETURNS t RETURN <expr>``. Catalyst inlines the body at analysis
   time, so these are plain Project expressions under whole-stage
   codegen: zero Python, zero call overhead, indistinguishable from
   writing the builtin directly. ``ch_sql`` registers per statement:
   only the names its translated text calls (plus the names their
   bodies call), so a statement that calls none costs no CREATE.
   ``register_ch_functions`` registers all of them at once, for
   callers that write CH names in plain ``spark.sql`` text. Either
   way the session catalog is the only record of what is registered:
   a name a user drops is created again by the next call that needs it.

2. **Dialect translation** (``translate_ch_sql``) for the forms Spark
   cannot register: aggregate names and -If combinators (SQL UDF
   bodies reject aggregates —
   USER_DEFINED_FUNCTIONS.CANNOT_CONTAIN_COMPLEX_FUNCTIONS), the
   parametric call shape ``quantile(p)(x)`` (not a function name at
   all), the variadic ``multiIf``, and the typed-cast family
   ``toInt64(e)`` (argument type must stay open). The translator is a
   small paren-aware scanner: string literals / quoted identifiers are
   skipped, arguments are split at top-level commas and rewritten
   recursively, and any identifier it does not know passes through
   untouched — so mixed CH + Spark SQL text is fine.

``ch_sql(spark, text)`` composes both: translate, register what the
statement calls, run.

Semantics notes (the honest deltas, each carried in _NAME_MAP for the
docs table):
- ``uniq``/``uniqCombined``/``uniqHLL12`` map to Spark's HLL++
  ``approx_count_distinct`` — approximate on both engines, different
  sketches, so estimates differ from CH's; ``uniqExact`` is exact and
  bit-portable.
- ``quantile``/``quantileTDigest`` map to ``percentile_approx``
  (different sketch than CH's reservoir/t-digest — approximate on
  both); ``quantileExact`` maps to exact ``percentile``, which matches
  CH's quantileExactInclusive/DuckDB quantile_cont interpolation.
- ``groupArray`` maps to ``collect_list``: element ORDER is
  insertion-order in CH but partition-dependent in Spark — wrap in
  ``sort_array`` (as d7 does) when order matters.
- ``cityHash64`` maps to ``xxhash64``: a stable 64-bit hash with the
  same uses (bucketing, sampling, fingerprints) but different VALUES
  than CH's CityHash — do not compare raw hashes across engines.
"""

from __future__ import annotations

import re as _RE

from pyspark.sql import DataFrame, SparkSession

from mysql_to_clickhouse_spark.streaming.cdc import EVENTS_FINAL, FinalSpec

__all__ = [
    "register_ch_functions",
    "register_final_spec",
    "translate_ch_sql",
    "ch_sql",
    "CH_FUNCTION_DOC",
]


# ---------------------------------------------------------------------------
# 1. Scalar names — registered as Catalyst-inlined SQL UDFs
# ---------------------------------------------------------------------------

# name -> (typed param list, return type, body expression)
_SCALAR_UDFS: dict[str, tuple[str, str, str]] = {
    # date/time bucketing (CH Date/DateTime split mirrored: sub-day
    # starts return TIMESTAMP, month-and-coarser return DATE)
    "toYYYYMM": ("(ts TIMESTAMP)", "INT", "year(ts) * 100 + month(ts)"),
    "toYYYYMMDD": (
        "(ts TIMESTAMP)",
        "INT",
        "year(ts) * 10000 + month(ts) * 100 + day(ts)",
    ),
    "toStartOfMinute": ("(ts TIMESTAMP)", "TIMESTAMP", "date_trunc('MINUTE', ts)"),
    "toStartOfHour": ("(ts TIMESTAMP)", "TIMESTAMP", "date_trunc('HOUR', ts)"),
    "toStartOfDay": ("(ts TIMESTAMP)", "TIMESTAMP", "date_trunc('DAY', ts)"),
    "toStartOfMonth": (
        "(ts TIMESTAMP)",
        "DATE",
        "CAST(date_trunc('MONTH', ts) AS DATE)",
    ),
    "toStartOfQuarter": (
        "(ts TIMESTAMP)",
        "DATE",
        "CAST(date_trunc('QUARTER', ts) AS DATE)",
    ),
    "toStartOfYear": (
        "(ts TIMESTAMP)",
        "DATE",
        "CAST(date_trunc('YEAR', ts) AS DATE)",
    ),
    # Spark weeks start Monday, same as CH toMonday
    "toMonday": ("(ts TIMESTAMP)", "DATE", "CAST(date_trunc('WEEK', ts) AS DATE)"),
    "toDate": ("(ts TIMESTAMP)", "DATE", "CAST(ts AS DATE)"),
    # date/time parts (CH numbering: toDayOfWeek is Monday=1..Sunday=7;
    # Spark dayofweek is Sunday=1 — shimmed)
    "toYear": ("(ts TIMESTAMP)", "INT", "year(ts)"),
    "toMonth": ("(ts TIMESTAMP)", "INT", "month(ts)"),
    "toDayOfMonth": ("(ts TIMESTAMP)", "INT", "day(ts)"),
    "toDayOfYear": ("(ts TIMESTAMP)", "INT", "dayofyear(ts)"),
    "toDayOfWeek": ("(ts TIMESTAMP)", "INT", "((dayofweek(ts) + 5) % 7) + 1"),
    "toHour": ("(ts TIMESTAMP)", "INT", "hour(ts)"),
    "toMinute": ("(ts TIMESTAMP)", "INT", "minute(ts)"),
    "toSecond": ("(ts TIMESTAMP)", "INT", "second(ts)"),
    "toUnixTimestamp": ("(ts TIMESTAMP)", "BIGINT", "unix_seconds(ts)"),
    # JSON (single-key form; CH's multi-level keys become a JSONPath)
    "JSONExtractInt": (
        "(j STRING, k STRING)",
        "BIGINT",
        "CAST(get_json_object(j, concat('$.', k)) AS BIGINT)",
    ),
    "JSONExtractFloat": (
        "(j STRING, k STRING)",
        "DOUBLE",
        "CAST(get_json_object(j, concat('$.', k)) AS DOUBLE)",
    ),
    "JSONExtractString": (
        "(j STRING, k STRING)",
        "STRING",
        "get_json_object(j, concat('$.', k))",
    ),
    "JSONHas": (
        "(j STRING, k STRING)",
        "BOOLEAN",
        "get_json_object(j, concat('$.', k)) IS NOT NULL",
    ),
    # strings/arrays (\\Q..\\E regex-quotes the separator so split is
    # literal, matching CH's non-regex split)
    "splitByChar": (
        "(sep STRING, s STRING)",
        "ARRAY<STRING>",
        "split(s, concat('\\\\Q', sep, '\\\\E'))",
    ),
    "splitByString": (
        "(sep STRING, s STRING)",
        "ARRAY<STRING>",
        "split(s, concat('\\\\Q', sep, '\\\\E'))",
    ),
    "arrayStringConcat": (
        "(arr ARRAY<STRING>, sep STRING)",
        "STRING",
        "array_join(arr, sep)",
    ),
    "empty": ("(s STRING)", "BOOLEAN", "length(s) = 0"),
    "notEmpty": ("(s STRING)", "BOOLEAN", "length(s) > 0"),
    "lengthUTF8": ("(s STRING)", "INT", "length(s)"),
    # arithmetic sugar
    "intDiv": ("(a BIGINT, b BIGINT)", "BIGINT", "a div b"),
    "intDivOrZero": (
        "(a BIGINT, b BIGINT)",
        "BIGINT",
        "CASE WHEN b = 0 THEN 0 ELSE a div b END",
    ),
    "divide": ("(a DOUBLE, b DOUBLE)", "DOUBLE", "a / b"),
    # hashing: stable 64-bit, different values than CH (see module doc)
    "cityHash64": ("(s STRING)", "BIGINT", "xxhash64(s)"),
    "sipHash64": ("(s STRING)", "BIGINT", "xxhash64(s, 1)"),
    # date arithmetic (CH's add*/subtract* family over DateTime)
    "addYears": ("(ts TIMESTAMP, n INT)", "TIMESTAMP", "timestampadd(YEAR, n, ts)"),
    "addMonths": ("(ts TIMESTAMP, n INT)", "TIMESTAMP", "timestampadd(MONTH, n, ts)"),
    "addWeeks": ("(ts TIMESTAMP, n INT)", "TIMESTAMP", "timestampadd(WEEK, n, ts)"),
    "addDays": ("(ts TIMESTAMP, n INT)", "TIMESTAMP", "timestampadd(DAY, n, ts)"),
    "addHours": ("(ts TIMESTAMP, n INT)", "TIMESTAMP", "timestampadd(HOUR, n, ts)"),
    "addMinutes": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "timestampadd(MINUTE, n, ts)",
    ),
    "addSeconds": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "timestampadd(SECOND, n, ts)",
    ),
    "subtractYears": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "timestampadd(YEAR, -n, ts)",
    ),
    "subtractMonths": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "timestampadd(MONTH, -n, ts)",
    ),
    "subtractDays": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "timestampadd(DAY, -n, ts)",
    ),
    "subtractHours": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "timestampadd(HOUR, -n, ts)",
    ),
    # bit ops (CH two-arg function forms of Spark's infix operators)
    "bitAnd": ("(a BIGINT, b BIGINT)", "BIGINT", "a & b"),
    "bitCount": ("(a BIGINT)", "INT", "bit_count(a)"),
    # CH toRelative*Num: epoch-grid ordinals (UTC) — interval counters
    # for sessionization/dedup keys. FLOOR division (DIV truncates
    # toward zero, which would collapse pre-1970 timestamps onto the
    # wrong interval): (a - pmod(a, n)) DIV n is exact integer floor.
    "toRelativeDayNum": (
        "(ts TIMESTAMP)", "INT",
        "CAST((unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) "
        "DIV 86400000000 AS INT)"
    ),
    "toRelativeHourNum": (
        "(ts TIMESTAMP)", "INT",
        "CAST((unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) "
        "DIV 3600000000 AS INT)"
    ),
    "toRelativeMinuteNum": (
        "(ts TIMESTAMP)", "INT",
        "CAST((unix_micros(ts) - pmod(unix_micros(ts), 60000000)) "
        "DIV 60000000 AS INT)"
    ),
    # CH normalizeQuery: literals -> placeholders (string literals,
    # then standalone numbers; the common fingerprinting cases — CH
    # also collapses IN-lists, which survive here as ?, ?, ?)
    "normalizeQuery": (
        "(s STRING)",
        "STRING",
        "regexp_replace(regexp_replace(s, \"'[^']*'\", '?'), "
        "'(^|[^A-Za-z0-9_])[0-9]+(\\\\.[0-9]+)?', '$1?')",
    ),
    "bitOr": ("(a BIGINT, b BIGINT)", "BIGINT", "a | b"),
    "bitXor": ("(a BIGINT, b BIGINT)", "BIGINT", "a ^ b"),
    # regex: whole-match extraction (CH extractAll's group-less case;
    # a pattern WITH groups extracts group 1 in CH — pass idx yourself
    # via regexp_extract_all if you need that)
    "extractAll": (
        "(s STRING, re STRING)",
        "ARRAY<STRING>",
        "regexp_extract_all(s, re, 0)",
    ),
    # ------------------------------------------------------------------
    # tranche 3 (round 9): URL/IP families, more date bounds, numeric
    # array folds, encodings — all Catalyst-inlined like the rest
    # ------------------------------------------------------------------
    "toQuarter": ("(ts TIMESTAMP)", "INT", "quarter(ts)"),
    "toISOWeek": ("(ts TIMESTAMP)", "INT", "weekofyear(ts)"),
    # CH default mode 0: week starts Sunday (unlike toMonday)
    "toStartOfWeek": (
        "(ts TIMESTAMP)",
        "DATE",
        "date_sub(CAST(ts AS DATE), dayofweek(ts) - 1)",
    ),
    "toLastDayOfMonth": ("(ts TIMESTAMP)", "DATE", "last_day(ts)"),
    "addQuarters": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "timestampadd(QUARTER, n, ts)",
    ),
    "subtractQuarters": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "timestampadd(QUARTER, -n, ts)",
    ),
    "subtractWeeks": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "timestampadd(WEEK, -n, ts)",
    ),
    "subtractMinutes": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "timestampadd(MINUTE, -n, ts)",
    ),
    "subtractSeconds": (
        "(ts TIMESTAMP, n INT)",
        "TIMESTAMP",
        "timestampadd(SECOND, -n, ts)",
    ),
    # URL family — Spark's parse_url is the workhorse; CH `path`
    # excludes the query string (pathFull includes it), matched here
    "protocol": ("(u STRING)", "STRING", "parse_url(u, 'PROTOCOL')"),
    "domain": ("(u STRING)", "STRING", "parse_url(u, 'HOST')"),
    "topLevelDomain": (
        "(u STRING)",
        "STRING",
        "element_at(split(parse_url(u, 'HOST'), '\\\\.'), -1)",
    ),
    "path": ("(u STRING)", "STRING", "parse_url(u, 'PATH')"),
    "pathFull": (
        "(u STRING)",
        "STRING",
        "concat(parse_url(u, 'PATH'), "
        "coalesce(concat('?', parse_url(u, 'QUERY')), ''))",
    ),
    "queryString": ("(u STRING)", "STRING", "parse_url(u, 'QUERY')"),
    "extractURLParameter": (
        "(u STRING, k STRING)",
        "STRING",
        "parse_url(u, 'QUERY', k)",
    ),
    "cutQueryString": (
        "(u STRING)",
        "STRING",
        "IF(instr(u, '?') > 0, substring(u, 1, instr(u, '?') - 1), u)",
    ),
    # IPv4 (CH stores v4 addresses as UInt32)
    "IPv4NumToString": (
        "(n BIGINT)",
        "STRING",
        "concat(CAST(n div 16777216 % 256 AS STRING), '.', "
        "CAST(n div 65536 % 256 AS STRING), '.', "
        "CAST(n div 256 % 256 AS STRING), '.', CAST(n % 256 AS STRING))",
    ),
    "IPv4StringToNum": (
        "(s STRING)",
        "BIGINT",
        "CAST(element_at(split(s, '\\\\.'), 1) AS BIGINT) * 16777216 + "
        "CAST(element_at(split(s, '\\\\.'), 2) AS BIGINT) * 65536 + "
        "CAST(element_at(split(s, '\\\\.'), 3) AS BIGINT) * 256 + "
        "CAST(element_at(split(s, '\\\\.'), 4) AS BIGINT)",
    ),
    # encodings (CH works on strings; Spark's base64 wants binary)
    "base64Encode": ("(s STRING)", "STRING", "base64(CAST(s AS BINARY))"),
    "base64Decode": ("(s STRING)", "STRING", "CAST(unbase64(s) AS STRING)"),
    # JSON additions
    "JSONExtractBool": (
        "(j STRING, k STRING)",
        "BOOLEAN",
        "CAST(get_json_object(j, concat('$.', k)) AS BOOLEAN)",
    ),
    "JSONLength": (
        "(j STRING)",
        "INT",
        "CAST(json_array_length(j) AS INT)",
    ),
    # math
    "exp2": ("(x DOUBLE)", "DOUBLE", "power(2.0, x)"),
    "exp10": ("(x DOUBLE)", "DOUBLE", "power(10.0, x)"),
    "intExp2": ("(x INT)", "BIGINT", "shiftleft(CAST(1 AS BIGINT), x)"),
    "isInfinite": (
        "(x DOUBLE)",
        "BOOLEAN",
        "abs(x) = CAST('Infinity' AS DOUBLE)",
    ),
    "isFinite": (
        "(x DOUBLE)",
        "BOOLEAN",
        "NOT isnan(x) AND abs(x) != CAST('Infinity' AS DOUBLE)",
    ),
    "ifNotFinite": (
        "(x DOUBLE, alt DOUBLE)",
        "DOUBLE",
        "IF(isnan(x) OR abs(x) = CAST('Infinity' AS DOUBLE), alt, x)",
    ),
    # strings
    "countSubstrings": (
        "(s STRING, n STRING)",
        "INT",
        "CAST((length(s) - length(replace(s, n, ''))) div length(n) AS INT)",
    ),
    # numeric array folds — CH's generic numeric forms, scoped to the
    # BIGINT element type (the declared-parameter cost of SQL UDFs;
    # narrower int arrays coerce up on call)
    "arraySum": (
        "(a ARRAY<BIGINT>)",
        "BIGINT",
        "aggregate(a, CAST(0 AS BIGINT), (acc, x) -> acc + x)",
    ),
    "arrayAvg": (
        "(a ARRAY<BIGINT>)",
        "DOUBLE",
        "aggregate(a, CAST(0 AS BIGINT), (acc, x) -> acc + x) "
        "/ CAST(size(a) AS DOUBLE)",
    ),
    # O(n^2) in the element count — fine for the in-row arrays these
    # run on; a long-array cumsum belongs in a table, not a cell
    "arrayCumSum": (
        "(a ARRAY<BIGINT>)",
        "ARRAY<BIGINT>",
        "transform(a, (x, i) -> aggregate(slice(a, 1, i + 1), "
        "CAST(0 AS BIGINT), (acc, y) -> acc + y))",
    ),
    "arrayDifference": (
        "(a ARRAY<BIGINT>)",
        "ARRAY<BIGINT>",
        "transform(a, (x, i) -> "
        "IF(i = 0, CAST(0 AS BIGINT), x - element_at(a, i)))",
    ),
    "hasAll": (
        "(a ARRAY<BIGINT>, b ARRAY<BIGINT>)",
        "BOOLEAN",
        "forall(b, x -> array_contains(a, x))",
    ),
    "hasAny": (
        "(a ARRAY<BIGINT>, b ARRAY<BIGINT>)",
        "BOOLEAN",
        "exists(b, x -> array_contains(a, x))",
    ),
    "arrayEnumerate": (
        "(a ARRAY<BIGINT>)",
        "ARRAY<INT>",
        "transform(a, (x, i) -> i + 1)",
    ),
    # ------------------------------------------------------------------
    # tranche 4 (round 10): frequency-ranked tail — more date anchors,
    # MySQL-compat string forms, similarity/array math for the
    # training-pipeline ops, multiSearch, epoch converters
    # ------------------------------------------------------------------
    "today": ("()", "DATE", "current_date()"),
    "yesterday": ("()", "DATE", "date_sub(current_date(), 1)"),
    # CH aligns sub-hour intervals to the epoch grid; so does unix
    # arithmetic (UTC sessions — the engine's documented assumption)
    "toStartOfFiveMinutes": (
        "(ts TIMESTAMP)",
        "TIMESTAMP",
        "timestamp_seconds(unix_seconds(ts) div 300 * 300)",
    ),
    "toStartOfTenMinutes": (
        "(ts TIMESTAMP)",
        "TIMESTAMP",
        "timestamp_seconds(unix_seconds(ts) div 600 * 600)",
    ),
    "toStartOfFifteenMinutes": (
        "(ts TIMESTAMP)",
        "TIMESTAMP",
        "timestamp_seconds(unix_seconds(ts) div 900 * 900)",
    ),
    # CH timeSlot rounds to the half-hour grid
    "timeSlot": (
        "(ts TIMESTAMP)",
        "TIMESTAMP",
        "timestamp_seconds(unix_seconds(ts) div 1800 * 1800)",
    ),
    "fromUnixTimestamp": ("(n BIGINT)", "TIMESTAMP", "timestamp_seconds(n)"),
    "toUnixTimestamp64Milli": (
        "(ts TIMESTAMP)",
        "BIGINT",
        "unix_millis(ts)",
    ),
    "fromUnixTimestamp64Milli": (
        "(n BIGINT)",
        "TIMESTAMP",
        "timestamp_millis(n)",
    ),
    # NOTE: monthName/locate/e/range collide with Spark builtins
    # (CANNOT_REPLACE_NON_SQL_UDF_WITH_SQL_UDF) — locate and e() are
    # natively argument-compatible (pass through untouched); monthName
    # and range translate as custom forms instead (_rewrite_call).
    "positionCaseInsensitive": (
        "(h STRING, n STRING)",
        "INT",
        "instr(lower(h), lower(n))",
    ),
    "multiSearchAny": (
        "(h STRING, ns ARRAY<STRING>)",
        "BOOLEAN",
        "exists(ns, x -> instr(h, x) > 0)",
    ),
    "splitByRegexp": (
        "(re STRING, s STRING)",
        "ARRAY<STRING>",
        "split(s, re)",
    ),
    # CH emits no empty tokens for runs of whitespace
    "splitByWhitespace": (
        "(s STRING)",
        "ARRAY<STRING>",
        "filter(split(s, '\\\\s+'), x -> x != '')",
    ),
    "countMatches": (
        "(s STRING, re STRING)",
        "INT",
        "size(regexp_extract_all(s, re, 0))",
    ),
    # math/conditional sugar
    "clamp": (
        "(x DOUBLE, lo DOUBLE, hi DOUBLE)",
        "DOUBLE",
        "least(greatest(x, lo), hi)",
    ),
    "isZeroOrNull": ("(x BIGINT)", "BOOLEAN", "x IS NULL OR x = 0"),
    # array math — the similarity forms the i3/i4 pipeline speaks
    "arrayProduct": (
        "(a ARRAY<DOUBLE>)",
        "DOUBLE",
        "aggregate(a, 1.0D, (acc, x) -> acc * x)",
    ),
    "arrayDotProduct": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)",
    ),
    # vector-search distance family (tranche 5): pure fold/zip_with
    # expressions, JVM-side, same kernels i3/i4 build on
    "dotProduct": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)",
    ),
    "L1Norm": (
        "(a ARRAY<DOUBLE>)",
        "DOUBLE",
        "aggregate(a, 0.0D, (acc, x) -> acc + abs(x))",
    ),
    "L2Norm": (
        "(a ARRAY<DOUBLE>)",
        "DOUBLE",
        "sqrt(aggregate(a, 0.0D, (acc, x) -> acc + x * x))",
    ),
    "LinfNorm": (
        "(a ARRAY<DOUBLE>)",
        "DOUBLE",
        "array_max(transform(a, x -> abs(x)))",
    ),
    "L1Distance": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "aggregate(zip_with(a, b, (x, y) -> abs(x - y)), 0.0D, "
        "(acc, v) -> acc + v)",
    ),
    "L2Distance": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, v) -> acc + v))",
    ),
    "LinfDistance": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "array_max(zip_with(a, b, (x, y) -> abs(x - y)))",
    ),
    "cosineDistance": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "1.0D - aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v) / "
        "(sqrt(aggregate(a, 0.0D, (acc, x) -> acc + x * x)) * "
        "sqrt(aggregate(b, 0.0D, (acc, x) -> acc + x * x)))",
    ),
    "arrayJaccardIndex": (
        "(a ARRAY<BIGINT>, b ARRAY<BIGINT>)",
        "DOUBLE",
        "size(array_intersect(a, b)) / CAST(size(array_union(a, b)) "
        "AS DOUBLE)",
    ),
    "countEqual": (
        "(a ARRAY<BIGINT>, x BIGINT)",
        "INT",
        "size(filter(a, e -> e = x))",
    ),
    # CH arrayCompact drops CONSECUTIVE duplicates (Spark's
    # array_compact drops nulls — a different function entirely)
    "arrayCompact": (
        "(a ARRAY<BIGINT>)",
        "ARRAY<BIGINT>",
        "filter(a, (x, i) -> i = 0 OR x != element_at(a, i))",
    ),
    # same stable-but-different-values contract as cityHash64/sipHash64
    "murmurHash3_64": ("(s STRING)", "BIGINT", "xxhash64(s, 3)"),
    # ------------------------------------------------------------------
    # tranche 7 (r12): the parse-or-null / parse-or-zero cast family —
    # the STRING-parse forms (the replication use case; CH additionally
    # truncates numeric inputs, e.g. toInt32OrNull(3.7) = 3, where the
    # string form '3.7' is NULL in BOTH engines — CH_DIALECT.md caveat)
    "toInt8OrNull": ("(s STRING)", "TINYINT", "try_cast(s AS TINYINT)"),
    "toInt16OrNull": ("(s STRING)", "SMALLINT", "try_cast(s AS SMALLINT)"),
    "toInt32OrNull": ("(s STRING)", "INT", "try_cast(s AS INT)"),
    "toInt64OrNull": ("(s STRING)", "BIGINT", "try_cast(s AS BIGINT)"),
    "toUInt32OrNull": ("(s STRING)", "BIGINT", "try_cast(s AS BIGINT)"),
    "toUInt64OrNull": ("(s STRING)", "BIGINT", "try_cast(s AS BIGINT)"),
    "toFloat32OrNull": ("(s STRING)", "FLOAT", "try_cast(s AS FLOAT)"),
    "toFloat64OrNull": ("(s STRING)", "DOUBLE", "try_cast(s AS DOUBLE)"),
    "toDateOrNull": ("(s STRING)", "DATE", "try_cast(s AS DATE)"),
    "toDateTimeOrNull": (
        "(s STRING)",
        "TIMESTAMP",
        "try_cast(s AS TIMESTAMP)",
    ),
    "toInt8OrZero": (
        "(s STRING)",
        "TINYINT",
        "coalesce(try_cast(s AS TINYINT), CAST(0 AS TINYINT))",
    ),
    "toInt16OrZero": (
        "(s STRING)",
        "SMALLINT",
        "coalesce(try_cast(s AS SMALLINT), CAST(0 AS SMALLINT))",
    ),
    "toInt32OrZero": ("(s STRING)", "INT", "coalesce(try_cast(s AS INT), 0)"),
    "toInt64OrZero": (
        "(s STRING)",
        "BIGINT",
        "coalesce(try_cast(s AS BIGINT), CAST(0 AS BIGINT))",
    ),
    "toFloat32OrZero": (
        "(s STRING)",
        "FLOAT",
        "coalesce(try_cast(s AS FLOAT), CAST(0.0 AS FLOAT))",
    ),
    "toFloat64OrZero": (
        "(s STRING)",
        "DOUBLE",
        "coalesce(try_cast(s AS DOUBLE), 0.0D)",
    ),
    # CH's zero Date/DateTime is the epoch
    "toDateOrZero": (
        "(s STRING)",
        "DATE",
        "coalesce(try_cast(s AS DATE), DATE '1970-01-01')",
    ),
    "toDateTimeOrZero": (
        "(s STRING)",
        "TIMESTAMP",
        "coalesce(try_cast(s AS TIMESTAMP), timestamp_seconds(0))",
    ),
    # accurateCastOrNull(x, 'T') has the type as a VALUE — only the
    # literal-type call sites translate; handled as a custom form.
    # toLowCardinality is dictionary-encoding bookkeeping in CH;
    # identity under Spark (parquet dictionary encoding is automatic)
    "toLowCardinality": ("(s STRING)", "STRING", "s"),
    # divergence, documented: Spark's JSON parser accepts trailing
    # garbage after a complete value ('{"k":1}{' is "valid" here,
    # invalid under CH's simdjson); corruption before/inside the
    # value is rejected by both
    "isValidJSON": (
        "(j STRING)",
        "BOOLEAN",
        "try_parse_json(j) IS NOT NULL",
    ),
    # CH's simpleJSON/visitParam family assumes flat keys and returns
    # '' (not NULL) when the key is absent — both mirrored
    "simpleJSONExtractString": (
        "(j STRING, k STRING)",
        "STRING",
        "coalesce(get_json_object(j, concat('$.', k)), '')",
    ),
    "visitParamExtractString": (
        "(j STRING, k STRING)",
        "STRING",
        "coalesce(get_json_object(j, concat('$.', k)), '')",
    ),
    "nanToNull": (
        "(x DOUBLE)",
        "DOUBLE",
        "nanvl(x, CAST(NULL AS DOUBLE))",
    ),
    "moduloOrZero": (
        "(a BIGINT, b BIGINT)",
        "BIGINT",
        "CASE WHEN b = 0 THEN CAST(0 AS BIGINT) ELSE a % b END",
    ),
    "bitNot": ("(x BIGINT)", "BIGINT", "~x"),
    # CH bitTest returns UInt8
    "bitTest": (
        "(x BIGINT, n INT)",
        "TINYINT",
        "CAST(shiftright(x, n) & 1 AS TINYINT)",
    ),
    # first-occurrence replace (Spark's replace/regexp_replace are
    # replace-ALL); empty needle is identity, same as CH
    "replaceOne": (
        "(s STRING, a STRING, b STRING)",
        "STRING",
        "CASE WHEN length(a) > 0 AND instr(s, a) > 0 THEN "
        "concat(substr(s, 1, instr(s, a) - 1), b, "
        "substr(s, instr(s, a) + length(a))) ELSE s END",
    ),
    # index (1-based) of the needle whose match is LEFTMOST in the
    # haystack (ties -> lowest needle index); 0 when none occurs —
    # CH's contract exactly (r12 ADVICE: the previous form returned the
    # first needle in ARRAY order that occurs anywhere, which differs
    # whenever a later needle matches earlier in the haystack)
    "multiSearchFirstIndex": (
        "(s STRING, needles ARRAY<STRING>)",
        "INT",
        "CAST(coalesce(array_position("
        "transform(needles, n -> instr(s, n)), "
        "array_min(filter(transform(needles, n -> instr(s, n)),"
        " p -> p > 0))), 0) AS INT)",
    ),
    "multiSearchAllPositions": (
        "(s STRING, needles ARRAY<STRING>)",
        "ARRAY<INT>",
        "transform(needles, n -> CAST(instr(s, n) AS INT))",
    ),
    "emptyArrayString": ("()", "ARRAY<STRING>", "array()"),
    "emptyArrayInt32": ("()", "ARRAY<INT>", "array()"),
    "emptyArrayInt64": ("()", "ARRAY<BIGINT>", "array()"),
    "emptyArrayFloat64": ("()", "ARRAY<DOUBLE>", "array()"),
    "emptyArrayDate": ("()", "ARRAY<DATE>", "array()"),
    "toIntervalDay": (
        "(n INT)",
        "INTERVAL DAY TO SECOND",
        "make_dt_interval(n)",
    ),
    "toIntervalWeek": (
        "(n INT)",
        "INTERVAL DAY TO SECOND",
        "make_dt_interval(n * 7)",
    ),
    "toIntervalHour": (
        "(n INT)",
        "INTERVAL DAY TO SECOND",
        "make_dt_interval(0, n)",
    ),
    "toIntervalMinute": (
        "(n INT)",
        "INTERVAL DAY TO SECOND",
        "make_dt_interval(0, 0, n)",
    ),
    "toIntervalSecond": (
        "(n INT)",
        "INTERVAL DAY TO SECOND",
        "make_dt_interval(0, 0, 0, n)",
    ),
    "toIntervalMonth": (
        "(n INT)",
        "INTERVAL YEAR TO MONTH",
        "make_ym_interval(0, n)",
    ),
    "toIntervalYear": (
        "(n INT)",
        "INTERVAL YEAR TO MONTH",
        "make_ym_interval(n, 0)",
    ),
    # best-effort timestamp parsing: ISO first, then the day-first
    # forms CH prefers for xx/yy/zzzz, then compact digits. Divergence,
    # documented: CH's non-OrNull form THROWS on unparseable input;
    # this layer returns NULL for both spellings.
    "parseDateTimeBestEffort": (
        "(s STRING)",
        "TIMESTAMP",
        "coalesce(try_to_timestamp(s), "
        "try_to_timestamp(s, 'dd/MM/yyyy HH:mm:ss'), "
        "try_to_timestamp(s, 'dd.MM.yyyy HH:mm:ss'), "
        "try_to_timestamp(s, 'dd/MM/yyyy'), "
        "try_to_timestamp(s, 'dd.MM.yyyy'), "
        "try_to_timestamp(s, 'yyyyMMddHHmmss'), "
        "try_to_timestamp(s, 'yyyyMMdd'), "
        "try_cast(s AS TIMESTAMP))",
    ),
    "parseDateTimeBestEffortOrNull": (
        "(s STRING)",
        "TIMESTAMP",
        "parseDateTimeBestEffort(s)",
    ),
    "parseDateTime32BestEffort": (
        "(s STRING)",
        "TIMESTAMP",
        "parseDateTimeBestEffort(s)",
    ),
    # CH's human-readable byte formatter: %.2f + binary-prefix unit
    "formatReadableSize": (
        "(x DOUBLE)",
        "STRING",
        "CASE WHEN x < 1024 THEN format_string('%.2f B', x) "
        "WHEN x < 1048576 THEN format_string('%.2f KiB', x / 1024) "
        "WHEN x < 1073741824 THEN "
        "format_string('%.2f MiB', x / 1048576) "
        "WHEN x < 1099511627776 THEN "
        "format_string('%.2f GiB', x / 1073741824) "
        "WHEN x < 1125899906842624 THEN "
        "format_string('%.2f TiB', x / 1099511627776) "
        "ELSE format_string('%.2f PiB', x / 1125899906842624) END",
    ),
}

# Spark resolves function names case-insensitively; no two names here
# differ only in case, and none is a Spark builtin
# (tests/test_chdialect.py pins both).
_UDF_BY_LOWER = {n.lower(): n for n in _SCALAR_UDFS}

_CALL_PAREN = _RE.compile(r"\s*\(")


def _create_ch_function(spark: SparkSession, name: str) -> None:
    params, rtype, body = _SCALAR_UDFS[name]
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{params} "
        f"RETURNS {rtype} RETURN {body}"
    )


def register_ch_functions(spark: SparkSession) -> None:
    """Register every scalar CH name the session catalog lacks, for
    callers that write CH names in plain ``spark.sql`` text. The
    catalog is the only record, so a name dropped since the last call
    is created again.

    These are SQL UDFs: Catalyst inlines the RETURN expression, so the
    registered names cost exactly what the equivalent builtin text
    costs — verified by tests/test_chdialect.py's codegen assertion."""
    _create_missing_ch_functions(spark, _UDF_BY_LOWER)


def _create_missing_ch_functions(spark: SparkSession, need) -> None:
    """Create each ``_SCALAR_UDFS`` name whose lower-case form is in
    ``need`` and that the session catalog lacks, in ``_SCALAR_UDFS``
    order, so a body's callees exist before it is analyzed."""
    for name in _SCALAR_UDFS:
        if name.lower() in need and not spark.catalog.functionExists(name):
            _create_ch_function(spark, name)


def _register_called_ch_functions(spark: SparkSession, *texts: str) -> None:
    """Register the scalar CH names that ``texts`` call (a name followed
    by '(' outside string literals and quoted identifiers), plus the
    names their bodies call, skipping any the session catalog already
    holds. Text that calls none registers nothing: each CREATE is a
    full parse and analysis, and its parser state stays in the driver
    heap for the JVM's life."""
    need: set[str] = set()
    todo = [t for t in texts if t]
    while todo:
        sql = todo.pop()
        for word, _start, end, _depth in _scan_words(sql):
            called = word.lower()
            if (
                called in _UDF_BY_LOWER
                and called not in need
                and _CALL_PAREN.match(sql, end)
            ):
                need.add(called)
                todo.append(_SCALAR_UDFS[_UDF_BY_LOWER[called]][2])
    _create_missing_ch_functions(spark, need)


# ---------------------------------------------------------------------------
# 2. Dialect translation — the shapes Spark cannot register
# ---------------------------------------------------------------------------

# plain name-for-name renames (argument lists pass through)
_RENAMES: dict[str, str] = {
    "uniq": "approx_count_distinct",
    "uniqCombined": "approx_count_distinct",
    "uniqHLL12": "approx_count_distinct",
    "argMax": "max_by",
    "argMin": "min_by",
    "groupArray": "collect_list",
    "groupUniqArray": "collect_set",
    "arrayJoin": "explode",
    # CH any/anyLast pick SOME value per group (both orderless, like
    # Spark any_value) — NOT SQL-standard boolean ANY; this is CH text,
    # so CH semantics win
    "any": "any_value",
    "anyLast": "any_value",
    # statistics aggregates (camelCase -> snake_case)
    "stddevPop": "stddev_pop",
    "stddevSamp": "stddev_samp",
    "varPop": "var_pop",
    "varSamp": "var_samp",
    "covarPop": "covar_pop",
    "covarSamp": "covar_samp",
    # array functions (same arg order; CH and Spark are both 1-based
    # where an index appears)
    "arrayDistinct": "array_distinct",
    "arraySort": "array_sort",
    "arrayReverse": "reverse",
    "arrayFlatten": "flatten",
    "arrayElement": "element_at",
    "arrayConcat": "concat",
    "arraySlice": "slice",
    "has": "array_contains",
    "indexOf": "array_position",
    # strings
    "lcase": "lower",
    "ucase": "upper",
    "substringUTF8": "substring",
    "leftPad": "lpad",
    "rightPad": "rpad",
    "replaceAll": "replace",
    # caveat: CH backrefs in the REPLACEMENT are \\1, Spark's are $1
    "replaceRegexpAll": "regexp_replace",
    "startsWith": "startswith",
    "endsWith": "endswith",
    "match": "rlike",
    # misc scalars
    "modulo": "mod",
    "isNull": "isnull",
    "isNotNull": "isnotnull",
    "bitShiftLeft": "shiftleft",
    "bitShiftRight": "shiftright",
    # tranche 3
    "arrayMin": "array_min",
    "arrayMax": "array_max",
    "arrayIntersect": "array_intersect",
    "arrayPushBack": "array_append",
    "arrayPushFront": "array_prepend",
    "roundBankers": "bround",
    "trimBoth": "trim",
    "trimLeft": "ltrim",
    "trimRight": "rtrim",
    "reverseUTF8": "reverse",
    "concatWithSeparator": "concat_ws",
    # CH position(haystack, needle) matches Spark instr's arg order
    # (Spark's own `position` takes (needle, haystack) — the reverse)
    "position": "instr",
    "xxHash64": "xxhash64",
    "isNaN": "isnan",
    # bit-reduction aggregates
    "groupBitAnd": "bit_and",
    "groupBitOr": "bit_or",
    "groupBitXor": "bit_xor",
    # tranche 4
    "lowerUTF8": "lower",
    "upperUTF8": "upper",
    "mid": "substring",
    "substringIndex": "substring_index",
    "editDistance": "levenshtein",
    "levenshteinDistance": "levenshtein",
    "concatAssumeInjective": "concat",
    "arrayZip": "arrays_zip",
    "mapKeys": "map_keys",
    "mapValues": "map_values",
    "mapContains": "map_contains_key",
    "mapFromArrays": "map_from_arrays",
    # CH tuple(a, b) is Spark's struct (field access differs: CH .1 is
    # positional, Spark fields are col1/col2 — documented caveat)
    "tuple": "struct",
    "uniqTheta": "approx_count_distinct",
    "uniqCombined64": "approx_count_distinct",
    "sumWithOverflow": "sum",
    # population skewness: same m3/m2^1.5 definition in both engines
    "skewPop": "skewness",
    # tranche 7 (r12)
    # Spark weekofyear IS the ISO week number (toWeek's mode-0
    # Sunday-start twin stays untranslated — different numbering)
    "toISOWeek": "weekofyear",
    # tranche 8 (r12): the microsecond epoch pair (the Milli twins are
    # SQL UDFs above, registered in an earlier round)
    "toUnixTimestamp64Micro": "unix_micros",
    "fromUnixTimestamp64Micro": "timestamp_micros",
    "toTypeName": "typeof",
    "toJSONString": "to_json",
    "generateUUIDv4": "uuid",
    # Spark strings are UTF-8 already; the UTF8-suffixed CH twins are
    # the same function here (lengthUTF8/lowerUTF8 precedent)
    "positionUTF8": "instr",
    "translateUTF8": "translate",
}

# -If aggregate combinators: agg(x, cond) -> agg(CASE WHEN cond THEN x END)
_IF_COMBINATORS: dict[str, str] = {
    "sumIf": "sum",
    "avgIf": "avg",
    "minIf": "min",
    "maxIf": "max",
    "anyIf": "any_value",
    "uniqIf": "approx_count_distinct",
}

# typed casts: toT(e) -> CAST((e) AS T) — argument type stays open
_CASTS: dict[str, str] = {
    "toInt8": "TINYINT",
    "toInt16": "SMALLINT",
    "toInt32": "INT",
    "toInt64": "BIGINT",
    "toFloat32": "FLOAT",
    "toFloat64": "DOUBLE",
    "toString": "STRING",
    "toDateTime": "TIMESTAMP",
    "toDateTime64": "TIMESTAMP",
    "toDate32": "DATE",
    "toBool": "BOOLEAN",
    # unsigned CH types land in the next-wider signed Spark type so the
    # full CH range fits — EXCEPT UInt64, whose top half cannot be
    # represented (Spark has no unsigned 64-bit; values above 2^63-1
    # overflow, the documented caveat)
    "toUInt8": "SMALLINT",
    "toUInt16": "INT",
    "toUInt32": "BIGINT",
    "toUInt64": "BIGINT",
}

# parametric aggregates: name(p...)(x) -> spark_name(x, p | array(p...))
_QUANTILES: dict[str, str] = {
    "quantile": "percentile_approx",
    "quantileTDigest": "percentile_approx",
    "quantiles": "percentile_approx",
    "quantileExact": "percentile",
    "quantilesExact": "percentile",
    # median(x) = quantile-at-0.5; the bare form hits the 0.5 default
    "median": "percentile_approx",
    "medianExact": "percentile",
    # tranche 4: the timing variants are CH's low-latency-histogram
    # sketches — percentile_approx is the Spark-side approximate home
    "quantileTiming": "percentile_approx",
    "quantilesTiming": "percentile_approx",
    "medianTiming": "percentile_approx",
}

# CH higher-order array functions put the lambda FIRST; Spark puts the
# array first. Same lambda syntax (x -> expr) on both sides, so the
# rewrite is a pure argument swap.
_HIGHER_ORDER: dict[str, str] = {
    "arrayMap": "transform",
    "arrayFilter": "filter",
    "arrayExists": "exists",
    "arrayAll": "forall",
}

_TRANSLATED = (
    set(_RENAMES)
    | set(_IF_COMBINATORS)
    | set(_CASTS)
    | set(_QUANTILES)
    | set(_HIGHER_ORDER)
    | {
        "count",
        "countIf",
        "uniqExact",
        "uniqExactIf",
        "multiIf",
        "sumMap",
        "minMap",
        "maxMap",
        "boundingRatio",
        "entropy",
        "age",
        "deltaSum",
        "exponentialMovingAverage",
        "largestTriangleThreeBuckets",
        "intervalLengthSum",
        "splitByChar",
        "splitByString",
        "arrayCount",
        "arrayUniq",
        # tranche 3 custom forms
        "dateDiff",
        "avgWeighted",
        "assumeNotNull",
        "toNullable",
        "formatDateTime",
        "arrayPopBack",
        "arrayPopFront",
        # tranche 4 custom forms
        "monthName",
        "range",
        "arrayFirst",
        "arrayLast",
        "arrayReverseSort",
        "arrayWithConstant",
        "kurtPop",
        "retention",
        "topK",
        "windowFunnel",
        "toStartOfInterval",
        # tranche 4 guided errors (block-order functions CH itself
        # deprecated in favor of window functions; pattern aggregates
        # whose home is the h-family operators)
        "runningDifference",
        "runningAccumulate",
        "neighbor",
        "sequenceMatch",
        "sequenceCount",
        # tranche 7 custom forms (r12)
        "arrayEnumerate",
        "arrayEnumerateDense",
        "hasSubstr",
        "MD5",
        "SHA1",
        "SHA224",
        "SHA256",
        "sumDistinct",
        "arrayFirstIndex",
        "accurateCast",
        "accurateCastOrNull",
        "toDecimal32",
        "toDecimal64",
        "toDecimal128",
        # tranche 7 guided errors
        "rowNumberInAllBlocks",
        "blockNumber",
        "blockSize",
        "arrayReduce",
        "anyHeavy",
        # tranche 7: the CREATE DICTIONARY analog (functions/chdict)
        "dictGet",
        "dictGetOrDefault",
        "dictGetOrNull",
        "dictHas",
        "dictGetString",
        "dictGetInt8",
        "dictGetInt16",
        "dictGetInt32",
        "dictGetInt64",
        "dictGetUInt64",
        "dictGetFloat32",
        "dictGetFloat64",
        "dictGetDate",
        "dictGetDateTime",
    }
)

# parametric (two-group) custom forms beyond the quantile family:
# name(params)(args)
_PARAMETRIC = {"topK", "windowFunnel"}

# toStartOfInterval units that align to the epoch grid in both engines
# (weeks align to Monday in CH — not epoch — and months aren't fixed
# width; both raise with guidance)
_INTERVAL_SECONDS = {
    "second": 1, "minute": 60, "hour": 3600, "day": 86400,
}

# guided-error texts: the Spark rewrite a CH user should paste instead
_GUIDED_ERRORS = {
    "runningDifference": (
        "runningDifference(x) is block-order-dependent (CH deprecated "
        "it); use the window form: x - lag(x, 1, x) OVER (ORDER BY "
        "<your sort key>) — e2_lag_lead is the operator model"
    ),
    "runningAccumulate": (
        "runningAccumulate(agg_state) is block-order-dependent (CH "
        "deprecated it); use the window form: sum(x) OVER (ORDER BY "
        "<your sort key> ROWS UNBOUNDED PRECEDING) — e3_running_sum "
        "is the operator model"
    ),
    "neighbor": (
        "neighbor(x, offset) is block-order-dependent (CH deprecated "
        "it); use lead(x, offset) / lag(x, -offset) OVER (ORDER BY "
        "<your sort key>) — e2_lag_lead is the operator model"
    ),
    "sequenceMatch": (
        "sequenceMatch('pattern')(ts, conds...) needs CH's pattern "
        "grammar; use the h10_sequence_match operator "
        "(operators/eventtime.py) which implements ordered-step "
        "matching over event streams"
    ),
    "sequenceCount": (
        "sequenceCount('pattern')(ts, conds...) needs CH's pattern "
        "grammar; use the h10_sequence_match operator family "
        "(operators/eventtime.py) and count its matches"
    ),
    # tranche 7 (r12): more block-order/runtime-introspection names
    "rowNumberInAllBlocks": (
        "rowNumberInAllBlocks() is block-order-dependent; use "
        "row_number() OVER (ORDER BY <your sort key>) — e1_row_number "
        "is the operator model"
    ),
    "blockNumber": (
        "blockNumber() exposes CH's execution-block layout, which has "
        "no distributed analog; use an explicit key column instead"
    ),
    "blockSize": (
        "blockSize() exposes CH's execution-block layout, which has "
        "no distributed analog; use count() OVER () or a group count"
    ),
    "arrayReduce": (
        "arrayReduce('agg', arr) dispatches an aggregate by NAME at "
        "runtime; spell the fold directly — aggregate(arr, init, "
        "(acc, x) -> ...) or arraySum/arrayAvg/arrayMin/arrayMax"
    ),
    "anyHeavy": (
        "anyHeavy(x) is a heavy-hitter sketch with block-dependent "
        "output; use topK(1)(x) or the i17_topk_sketch operator"
    ),
}

# the dictGet family routes through functions/chdict (a REAL
# CREATE DICTIONARY analog since r12): registered dictionaries
# translate onto inlined literal-map lookups; unregistered ones raise
# with the broadcast-join guidance from inside translate_dict_call.
def _dict_words() -> frozenset:
    from mysql_to_clickhouse_spark.functions.chdict import TYPED_GETS

    return frozenset(TYPED_GETS) | {
        "dictGetOrDefault",
        "dictGetOrNull",
        "dictHas",
    }


_DICT_WORDS = None  # resolved lazily (chdict imports back into here)

# CH dateDiff units -> Spark timestampdiff unit identifiers
_DATEDIFF_UNITS = {
    "second", "minute", "hour", "day", "week", "month", "quarter", "year",
}

# CH formatDateTime %-tokens (C strftime conventions) -> Java/Spark
# date_format pattern fragments. Only literal format strings translate;
# a computed format raises (CH evaluates per-row, Spark can't here).
# %M follows MODERN ClickHouse (>=23.x default
# formatdatetime_parsedatetime_m_is_month_name=1): full month name,
# NOT minutes — use %i for minutes, exactly as current CH docs say.
_FFMT_TOKENS = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd", "H": "HH",
    "M": "MMMM", "i": "mm", "S": "ss", "j": "DDD", "e": "d",
    "F": "yyyy-MM-dd", "T": "HH:mm:ss", "%": "%",
}


def _format_datetime_pattern(ch_fmt: str) -> str:
    """Translate a CH formatDateTime literal to a Spark date_format
    pattern: %-tokens map per _FFMT_TOKENS, everything else is quoted
    verbatim so Java pattern letters in the literal text stay inert."""
    out: list[str] = []
    i, n = 0, len(ch_fmt)
    while i < n:
        c = ch_fmt[i]
        if c == "%":
            if i + 1 >= n:
                raise ValueError("formatDateTime: dangling % in format")
            tok = ch_fmt[i + 1]
            mapped = _FFMT_TOKENS.get(tok)
            if mapped is None:
                raise ValueError(
                    f"formatDateTime: unsupported token %{tok} "
                    f"(supported: {sorted(_FFMT_TOKENS)})"
                )
            out.append(mapped)
            i += 2
        else:
            lit = []
            while i < n and ch_fmt[i] != "%":
                lit.append(ch_fmt[i])
                i += 1
            text = "".join(lit)
            if text.strip(" -:/.,") and any(ch.isalpha() for ch in text):
                out.append("'" + text.replace("'", "''") + "'")
            else:
                out.append(text)
    return "".join(out)


def _scan_string(sql: str, i: int, quote: str) -> int:
    """Return the index just past the literal/quoted identifier that
    starts at ``i`` (doubled-quote escapes respected)."""
    n = len(sql)
    j = i + 1
    while j < n:
        if sql[j] == "\\" and quote == "'" and j + 1 < n:
            j += 2
            continue
        if sql[j] == quote:
            if j + 1 < n and sql[j + 1] == quote:
                j += 2
                continue
            return j + 1
        j += 1
    return n


def _parse_group(sql: str, i: int) -> tuple[list[str], int]:
    """Parse the balanced paren group starting at ``sql[i] == '('``;
    return (top-level-comma-split raw args, index just past ')').
    Square brackets (CH array literals / element access) count as a
    nesting level too, so ``has([1,2], x)`` splits into exactly two
    args instead of tripping arity checks on the comma inside [..]."""
    assert sql[i] == "("
    n = len(sql)
    depth = 0
    brackets = 0
    args: list[str] = []
    buf: list[str] = []
    j = i
    while j < n:
        c = sql[j]
        if c in "'\"`":
            end = _scan_string(sql, j, c)
            buf.append(sql[j:end])
            j = end
            continue
        if c == "(":
            depth += 1
            if depth > 1:
                buf.append(c)
        elif c == ")":
            depth -= 1
            if depth == 0:
                arg = "".join(buf).strip()
                if arg or args:
                    args.append(arg)
                return args, j + 1
            buf.append(c)
        elif c == "[":
            brackets += 1
            buf.append(c)
        elif c == "]":
            brackets -= 1
            buf.append(c)
        elif c == "," and depth == 1 and brackets == 0:
            args.append("".join(buf).strip())
            buf = []
        else:
            buf.append(c)
        j += 1
    raise ValueError(f"unbalanced parens in CH SQL at offset {i}")


def _rewrite_call(word: str, args: list[str], params: list[str] | None) -> str:
    args = [_translate_functions(a) for a in args]
    if word == "count":
        # CH's bare row count: count() -> count(*) (Spark rejects the
        # zero-arg form without a legacy conf); count(x) and
        # count(DISTINCT x) pass through with translated arguments
        if not any(a.strip() for a in args):
            return "count(*)"
        return f"count({', '.join(args)})"
    if word in _RENAMES:
        return f"{_RENAMES[word]}({', '.join(args)})"
    if word in _IF_COMBINATORS:
        if len(args) != 2:
            raise ValueError(f"{word} expects (x, cond), got {len(args)} args")
        x, cond = args
        return f"{_IF_COMBINATORS[word]}(CASE WHEN ({cond}) THEN ({x}) END)"
    if word == "countIf":
        if len(args) == 1:
            return f"count_if({args[0]})"
        if len(args) == 2:
            # CH count(x)If(cond): count non-null x where cond holds
            return f"count(CASE WHEN ({args[1]}) THEN ({args[0]}) END)"
        raise ValueError(f"countIf expects 1 or 2 args, got {len(args)}")
    if word == "uniqExact":
        return f"count(DISTINCT {', '.join(args)})"
    if word == "uniqExactIf":
        # exact distinct under a condition: the -If combinator needs
        # DISTINCT inside, which the plain combinator table can't say
        if len(args) != 2:
            raise ValueError(f"uniqExactIf expects (x, cond), got {len(args)}")
        x, cond = args
        return f"count(DISTINCT CASE WHEN ({cond}) THEN ({x}) END)"
    if word in _HIGHER_ORDER:
        if len(args) != 2 or "->" not in args[0]:
            raise ValueError(
                f"{word} expects (lambda, array) — the CH lambda-first "
                f"form with a single array argument"
            )
        lam, arr = args
        return f"{_HIGHER_ORDER[word]}(({arr}), {lam})"
    if word == "arrayCount":
        if len(args) != 2 or "->" not in args[0]:
            raise ValueError("arrayCount expects (lambda, array)")
        lam, arr = args
        return f"size(filter(({arr}), {lam}))"
    if word == "arrayUniq":
        if len(args) != 1:
            raise ValueError(f"arrayUniq expects 1 array, got {len(args)}")
        return f"size(array_distinct({args[0]}))"
    if word in ("sumMap", "minMap", "maxMap"):
        # CH Map-family aggregate over (keys[], values[]) rows: merge
        # by key across the group, keys sorted, null keys dropped (a
        # Spark map cannot hold one; CH arrays are non-nullable). The
        # rewrite is a pure aggregate EXPRESSION (collect the pairs,
        # fold per distinct key) — quadratic in |distinct keys| ×
        # |pairs| per group, right for monitoring-cardinality maps;
        # for large maps use the d19 two-aggregate plan instead.
        if len(args) != 2:
            raise ValueError(f"{word} expects (keys, values), got {len(args)}")
        k, v = args
        pairs = (
            f"flatten(collect_list(zip_with(({k}), ({v}), "
            f"(mk, mv) -> struct(mk, mv))))"
        )
        sel = f"filter({pairs}, e -> e.mk <=> kk)"
        if word == "sumMap":
            # CH sums in the (widened) NATIVE value type — Int64 maps
            # keep exact integer sums. Seed the accumulator with the
            # first element (the slice is non-empty by construction:
            # kk came from the collected keys) so the fold inherits
            # the element type instead of forcing DOUBLE; a NULL value
            # poisons that key's sum, same as the old DOUBLE fold.
            vals = f"transform({sel}, e -> e.mv)"
            val = (
                f"aggregate(slice({vals}, 2, size({vals})), "
                f"try_element_at({vals}, 1), (acc, x) -> acc + x)"
            )
        elif word == "minMap":
            val = f"array_min(transform({sel}, e -> e.mv))"
        else:
            val = f"array_max(transform({sel}, e -> e.mv))"
        return (
            f"map_from_entries(transform(filter(array_sort(array_distinct("
            f"flatten(collect_list(({k}))))), kk -> kk IS NOT NULL), "
            f"kk -> struct(kk, {val})))"
        )
    if word == "boundingRatio":
        # slope between the points at min(x) and max(x) — the same
        # tie-arbitrariness as CH's (max_by picks one row per extreme)
        if len(args) != 2:
            raise ValueError(f"boundingRatio expects (x, y), got {len(args)}")
        x, y = args
        return (
            f"((max_by(({y}), ({x})) - min_by(({y}), ({x}))) / "
            f"(CAST(max(({x})) AS DOUBLE) - min(({x}))))"
        )
    if word == "entropy":
        # Shannon entropy of the value distribution (log2, CH's base).
        # Aggregate expression over the collected group — quadratic in
        # |distinct| × |rows| per group; bounded-cardinality columns.
        if len(args) != 1:
            raise ValueError(f"entropy expects 1 column, got {len(args)}")
        x = args[0]
        lst = f"collect_list(({x}))"
        return (
            f"aggregate(transform(array_distinct({lst}), "
            f"v -> size(filter({lst}, e -> e <=> v)) / "
            f"CAST(size({lst}) AS DOUBLE)), "
            f"0.0D, (acc, p) -> acc - p * log2(p))"
        )
    if word == "age":
        # CH age(unit, start, end): COMPLETE elapsed units, truncated
        # toward zero (signed). Sub-day units are exact epoch math;
        # month-family units ride months_between's calendar handling.
        if len(args) != 3:
            raise ValueError("age expects ('unit', start, end)")
        unit = args[0].strip().strip("'\"").lower()
        a, b = args[1], args[2]
        us = {
            "second": 1_000_000,
            "minute": 60_000_000,
            "hour": 3_600_000_000,
            "day": 86_400_000_000,
            "week": 604_800_000_000,
        }
        if unit in us:
            diff = f"(unix_micros(({b})) - unix_micros(({a})))"
            return f"CAST(({diff}) DIV {us[unit]} AS BIGINT)"
        if unit in ("month", "quarter", "year"):
            m = f"months_between(({b}), ({a}))"
            div = {"month": 1, "quarter": 3, "year": 12}[unit]
            # truncate toward zero: months_between is signed-fractional
            return (
                f"CAST(CASE WHEN ({m}) >= 0 THEN floor(({m}) / {div}) "
                f"ELSE -floor(-({m}) / {div}) END AS BIGINT)"
            )
        raise ValueError(
            f"age: unsupported unit {unit!r} (second/minute/hour/day/"
            f"week/month/quarter/year)"
        )
    if word in ("deltaSum", "exponentialMovingAverage",
                "largestTriangleThreeBuckets", "intervalLengthSum"):
        raise ValueError(
            f"{word} is order-dependent in ClickHouse (block order, "
            f"nondeterministic under distribution) and is not silently "
            f"translated — use the explicit-order operators instead: "
            f"e10_nonneg_derivative (deltaSum), e4_moving_avg "
            f"(exponentialMovingAverage), h-family event-time windows"
        )
    if word in ("splitByChar", "splitByString"):
        # ALSO registered as SQL UDFs, but Spark rejects SQL-UDF calls
        # under a Generate (UNSUPPORTED_SQL_UDF_USAGE), which is exactly
        # where CH puts them: arrayJoin(splitByChar(...)). Translating
        # to the raw builtin keeps the lateral-expansion idiom working.
        if len(args) != 2:
            raise ValueError(f"{word} expects (sep, s), got {len(args)} args")
        sep, s = args
        return f"split(({s}), concat('\\\\Q', ({sep}), '\\\\E'))"
    if word == "multiIf":
        if len(args) < 3 or len(args) % 2 == 0:
            raise ValueError("multiIf expects cond1, val1, ..., else")
        whens = "".join(
            f" WHEN ({args[k]}) THEN ({args[k + 1]})"
            for k in range(0, len(args) - 1, 2)
        )
        return f"CASE{whens} ELSE ({args[-1]}) END"
    if word == "dateDiff":
        # dateDiff('unit', start, end) -> timestampdiff(UNIT, start, end)
        if len(args) != 3:
            raise ValueError(f"dateDiff expects (unit, start, end), got {len(args)}")
        unit = args[0].strip().strip("'\"").lower()
        if unit not in _DATEDIFF_UNITS:
            raise ValueError(
                f"dateDiff: unsupported unit {args[0]!r} "
                f"(supported: {sorted(_DATEDIFF_UNITS)})"
            )
        # CH counts unit-BOUNDARY crossings, not complete periods:
        # dateDiff('day', 23:00, next 01:00) = 1. Truncate both ends to
        # the unit first, then timestampdiff counts exactly the
        # boundaries between them.
        a, b = args[1], args[2]
        return (
            f"timestampdiff({unit.upper()}, date_trunc('{unit}', ({a})), "
            f"date_trunc('{unit}', ({b})))"
        )
    if word == "avgWeighted":
        # CH avgWeighted(x, w) = sum(x*w)/sum(w); NULL (not nan) when
        # the weights sum to zero — documented divergence
        if len(args) != 2:
            raise ValueError(f"avgWeighted expects (x, w), got {len(args)}")
        x, wgt = args
        return f"(sum(({x}) * ({wgt})) / sum({wgt}))"
    if word in ("assumeNotNull", "toNullable"):
        # nullability bookkeeping only in CH; identity under Spark's
        # uniformly-nullable model
        if len(args) != 1:
            raise ValueError(f"{word} expects 1 arg, got {len(args)}")
        return f"({args[0]})"
    if word == "formatDateTime":
        if len(args) != 2:
            raise ValueError(f"formatDateTime expects (ts, fmt), got {len(args)}")
        fmt = args[1].strip()
        if not (len(fmt) >= 2 and fmt[0] == "'" and fmt[-1] == "'"):
            raise ValueError(
                "formatDateTime: only a literal format string translates"
            )
        pattern = _format_datetime_pattern(fmt[1:-1].replace("''", "'"))
        escaped = pattern.replace("'", "''")  # SQL string-literal escape
        return f"date_format(({args[0]}), '{escaped}')"
    if word in ("arrayPopBack", "arrayPopFront"):
        if len(args) != 1:
            raise ValueError(f"{word} expects 1 array, got {len(args)}")
        a = args[0]
        if word == "arrayPopBack":
            return f"slice(({a}), 1, greatest(size({a}) - 1, 0))"
        return f"slice(({a}), 2, greatest(size({a}) - 1, 0))"
    if word in _GUIDED_ERRORS:
        raise ValueError(f"{word}: {_GUIDED_ERRORS[word]}")
    global _DICT_WORDS
    if _DICT_WORDS is None:
        _DICT_WORDS = _dict_words()
    if word in _DICT_WORDS:
        from mysql_to_clickhouse_spark.functions.chdict import (
            translate_dict_call,
        )

        return translate_dict_call(word, args)
    if word in ("MD5", "SHA1", "SHA224", "SHA256"):
        # CH's crypto hashes return BINARY (FixedString) — users wrap
        # hex(...) — and the names collide with Spark builtins of
        # DIFFERENT return type (Spark md5() is lowercase hex STRING),
        # so these are text forms, not SQL UDFs: hex(MD5(x)) produces
        # the same uppercase hex in both engines.
        if len(args) != 1:
            raise ValueError(f"{word} expects 1 arg, got {len(args)}")
        x = args[0]
        if word == "MD5":
            return f"unhex(md5({x}))"
        if word == "SHA1":
            return f"unhex(sha1({x}))"
        return f"unhex(sha2(({x}), {word[3:]}))"
    if word == "sumDistinct":
        if len(args) != 1:
            raise ValueError(f"sumDistinct expects 1 arg, got {len(args)}")
        return f"sum(DISTINCT {args[0]})"
    if word == "arrayEnumerate":
        # [1..size] — slice-guards the empty array (sequence(1, 0)
        # would count DOWN, the `range` lesson)
        if len(args) != 1:
            raise ValueError(f"arrayEnumerate expects 1 array, got {len(args)}")
        a = args[0]
        return (
            f"slice(sequence(1, greatest(size({a}), 1)), 1, size({a}))"
        )
    if word == "arrayEnumerateDense":
        # dense rank by FIRST APPEARANCE (array_distinct preserves
        # first-occurrence order in Spark — the property this leans on)
        if len(args) != 1:
            raise ValueError(
                f"arrayEnumerateDense expects 1 array, got {len(args)}"
            )
        a = args[0]
        return (
            f"transform(({a}), x -> CAST(array_position("
            f"array_distinct(({a})), x) AS INT))"
        )
    if word == "hasSubstr":
        # contiguous-subsequence test (CH hasSubstr, order-sensitive —
        # distinct from hasAll's set containment)
        if len(args) != 2:
            raise ValueError(f"hasSubstr expects (arr, subarr), got {len(args)}")
        a, b = args
        return (
            f"CASE WHEN size(({b})) = 0 THEN true "
            f"WHEN size(({a})) < size(({b})) THEN false "
            f"ELSE exists(sequence(1, size(({a})) - size(({b})) + 1), "
            f"i -> slice(({a}), i, size(({b}))) = ({b})) END"
        )
    if word == "arrayFirstIndex":
        # lambda-first like the rest of the CH higher-order family;
        # 1-based index of the first match, 0 when none (CH contract)
        if len(args) != 2 or "->" not in args[0]:
            raise ValueError("arrayFirstIndex expects (lambda, array)")
        lam, arr = args
        return (
            f"CAST(coalesce(array_position(transform(({arr}), {lam}), "
            f"true), 0) AS INT)"
        )
    if word in ("accurateCast", "accurateCastOrNull"):
        # the type arrives as a VALUE — only literal CH type names
        # translate (same literal-argument rule as formatDateTime)
        if len(args) != 2:
            raise ValueError(f"{word} expects (x, 'Type'), got {len(args)}")
        ty = args[1].strip().strip("'\"")
        spark_ty = _CASTS.get(f"to{ty}")
        if spark_ty is None:
            raise ValueError(
                f"{word}: unsupported CH type {ty!r} "
                f"(supported: {sorted(k[2:] for k in _CASTS)})"
            )
        fn = "CAST" if word == "accurateCast" else "TRY_CAST"
        return f"{fn}(({args[0]}) AS {spark_ty})"
    if word in ("toDecimal32", "toDecimal64", "toDecimal128"):
        # toDecimalN(x, scale): precision comes from the CH width
        # (9/18/38 digits), scale must be a literal
        if len(args) != 2:
            raise ValueError(f"{word} expects (x, scale), got {len(args)}")
        scale = args[1].strip()
        if not scale.isdigit():
            raise ValueError(f"{word}: scale must be a literal integer")
        prec = {"toDecimal32": 9, "toDecimal64": 18, "toDecimal128": 38}[
            word
        ]
        return f"CAST(({args[0]}) AS DECIMAL({prec}, {scale}))"
    if word == "monthName":
        # Spark's builtin monthname() abbreviates ('May', 'Jan'); CH
        # returns the full month name — and the builtin blocks a SQL
        # UDF of the same name, so this is a custom form
        if len(args) != 1:
            raise ValueError(f"monthName expects 1 arg, got {len(args)}")
        return f"date_format(({args[0]}), 'MMMM')"
    if word == "range":
        # CH range(n) = [0 .. n-1]; Spark's `range` is a table function
        # (name blocked for UDFs) and sequence(0, -1) would count DOWN,
        # so slice() guards n = 0
        if len(args) != 1:
            raise ValueError(
                "range translates only the 1-arg form range(n) = "
                "[0..n-1]; spell range(a, b[, s]) as sequence(a, b - 1"
                "[, s]) directly"
            )
        n_ = args[0]
        return (
            f"slice(sequence(0, greatest(({n_}) - 1, 0)), 1, ({n_}))"
        )
    if word in ("arrayFirst", "arrayLast"):
        if len(args) != 2 or "->" not in args[0]:
            raise ValueError(f"{word} expects (lambda, array)")
        lam, arr = args
        pos = 1 if word == "arrayFirst" else -1
        # try_element_at: CH returns the element type's default when
        # nothing matches; NULL is this layer's uniform spelling
        return f"try_element_at(filter(({arr}), {lam}), {pos})"
    if word == "arrayReverseSort":
        if len(args) != 1 or "->" in args[0]:
            raise ValueError(
                "arrayReverseSort expects (array) — the keyed-lambda "
                "form is not supported; sort by a computed key column"
            )
        return f"sort_array(({args[0]}), false)"
    if word == "arrayWithConstant":
        if len(args) != 2:
            raise ValueError(f"arrayWithConstant expects (n, x), got {len(args)}")
        cnt, x = args
        return f"array_repeat(({x}), ({cnt}))"
    if word == "kurtPop":
        # CH kurtPop is the RAW fourth moment m4/m2^2; Spark's kurtosis
        # is EXCESS kurtosis (raw - 3)
        if len(args) != 1:
            raise ValueError(f"kurtPop expects 1 arg, got {len(args)}")
        return f"(kurtosis({args[0]}) + 3.0D)"
    if word == "retention":
        # CH retention(c1, ..., cn): r[0] = cond1 ever met in the
        # group; r[i] = cond1 met AND cond_i met (on any rows)
        if not args:
            raise ValueError("retention expects at least one condition")
        conds = [f"coalesce(({a}), false)" for a in args]
        m1 = f"max(IF({conds[0]}, 1, 0))"
        items = [f"CAST({m1} AS INT)"] + [
            f"CAST({m1} * max(IF({c}, 1, 0)) AS INT)" for c in conds[1:]
        ]
        return "array(" + ", ".join(items) + ")"
    if word == "topK":
        # topK(k)(x) -> the k most frequent values as an array (CH's
        # SpaceSaving sketch; Spark's approx_top_k is the analog —
        # both approximate, values not hash-portable by contract)
        if len(args) != 1:
            raise ValueError("topK expects exactly one aggregated column")
        k = _translate_functions(params[0]) if params else "10"
        return f"transform(approx_top_k(({args[0]}), ({k})), s -> s.item)"
    if word == "windowFunnel":
        # windowFunnel(window)(ts, cond1, ..., condN): max funnel level
        # reached by any chain whose steps occur at increasing event
        # times within `window` SECONDS of the chain's first step.
        # Spark spelling: fold over the time-sorted event structs,
        # state[k] = LATEST chain-start micros reaching level k+1
        # (later starts dominate — strictly more window headroom).
        # Divergences, documented: one event can't satisfy two
        # consecutive levels (CH 'strict_increase' mode); events at
        # identical timestamps chain in deterministic sort order.
        # h6/h14 are the operator models (operators/eventtime.py).
        if params is None or len(params) != 1:
            raise ValueError(
                "windowFunnel requires the (window)(ts, conds...) "
                "parametric form"
            )
        if len(args) < 2:
            raise ValueError("windowFunnel expects (ts, cond1[, ...])")
        w = _translate_functions(params[0])
        ts, conds = args[0], args[1:]
        flags = ", ".join(f"coalesce(({c}), false)" for c in conds)
        wmicros = f"(CAST(({w}) AS BIGINT) * 1000000)"
        return (
            f"aggregate("
            f"array_sort(collect_list(struct("
            f"unix_micros(CAST(({ts}) AS TIMESTAMP)) AS t, "
            f"array({flags}) AS f))), "
            f"array_repeat(CAST(NULL AS BIGINT), {len(conds)}), "
            f"(acc, e) -> transform(acc, (s, j) -> "
            f"CASE WHEN NOT element_at(e.f, j + 1) THEN s "
            f"WHEN j = 0 THEN e.t "
            f"WHEN element_at(acc, j) IS NOT NULL "
            f"AND e.t - element_at(acc, j) <= {wmicros} "
            f"THEN greatest(coalesce(s, element_at(acc, j)), "
            f"element_at(acc, j)) ELSE s END), "
            f"acc -> CAST(size(filter(acc, x -> x IS NOT NULL)) AS INT))"
        )
    if word == "toStartOfInterval":
        if len(args) != 2:
            raise ValueError(
                "toStartOfInterval expects (ts, INTERVAL n unit)"
            )
        m = _RE.match(
            r"(?is)^\s*INTERVAL\s+(\d+)\s+"
            r"(second|minute|hour|day|week|month|quarter|year)s?\s*$",
            args[1],
        )
        if not m:
            raise ValueError(
                "toStartOfInterval: second argument must be a literal "
                "INTERVAL n unit"
            )
        num, unit = int(m.group(1)), m.group(2).lower()
        if unit not in _INTERVAL_SECONDS or num <= 0:
            raise ValueError(
                f"toStartOfInterval: unit {unit!r} does not translate "
                f"(epoch-aligned second/minute/hour/day do; CH aligns "
                f"weeks to Monday — use toMonday — and months aren't "
                f"fixed-width — use toStartOfMonth)"
            )
        secs = num * _INTERVAL_SECONDS[unit]
        return (
            f"timestamp_seconds(unix_seconds(({args[0]})) "
            f"div {secs} * {secs})"
        )
    if word in _CASTS:
        if len(args) != 1:
            raise ValueError(f"{word} expects 1 arg, got {len(args)}")
        return f"CAST(({args[0]}) AS {_CASTS[word]})"
    if word in _QUANTILES:
        # parametric form: word was followed by (params)(args); the
        # bare form word(x) defaults to the CH default level 0.5
        levels = [_translate_functions(p) for p in params] if params else ["0.5"]
        if len(args) != 1:
            raise ValueError(f"{word} expects exactly one aggregated column")
        plural = word.startswith("quantiles")
        lv = (
            "array(" + ", ".join(levels) + ")"
            if plural or len(levels) > 1
            else levels[0]
        )
        return f"{_QUANTILES[word]}(({args[0]}), {lv})"
    raise AssertionError(f"unhandled CH function {word}")  # pragma: no cover


def _bracket_literal_end(sql: str, i: int) -> int:
    """Index just past the ']' matching ``sql[i] == '['`` (strings and
    nested brackets/parens respected)."""
    depth, n = 0, len(sql)
    j = i
    while j < n:
        c = sql[j]
        if c in "'\"`":
            j = _scan_string(sql, j, c)
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
            if depth == 0:
                return j + 1
        j += 1
    raise ValueError(f"unbalanced brackets in CH SQL at offset {i}")


# A '[' directly after one of these words is an array LITERAL in
# expression position ('SELECT [1,2,3]', 'x IN [1,2]', 'WHEN [..]'),
# never element access — keywords don't evaluate to indexable values.
_EXPR_KEYWORDS = {
    "SELECT", "IN", "WHEN", "THEN", "ELSE", "CASE", "AND", "OR", "NOT",
    "BETWEEN", "WHERE", "HAVING", "ON", "BY", "AS", "LIKE", "ILIKE",
    "IS", "DISTINCT", "ALL", "UNION", "INTERSECT", "EXCEPT", "FROM",
    "LIMIT", "OFFSET", "PREWHERE", "IF", "RETURN", "SET",
}


def _translate_functions(sql: str) -> str:
    """The function-call pass: rewrite the CH-dialect CALL forms Spark
    cannot register into Spark SQL (see translate_ch_sql for the full
    pipeline). Recursive over argument lists. Also rewrites CH array
    LITERALS ``[a, b, c]`` to ``array(a, b, c)`` — but only in
    expression position: a '[' directly following an identifier, ')',
    or ']' is ELEMENT ACCESS (``arr[1]``, ``f(x)[2]``) and passes
    through untouched."""
    out: list[str] = []
    i = 0
    n = len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"`":
            end = _scan_string(sql, i, c)
            out.append(sql[i:end])
            i = end
            continue
        if c == "[":
            prev_txt = "".join(out).rstrip()
            last = prev_txt[-1] if prev_txt else ""
            m = _RE.search(r"([A-Za-z_][A-Za-z0-9_]*)$", prev_txt)
            prev_word = m.group(1).upper() if m else ""
            if last and last in ")]":
                is_access = True
            elif last.isalnum() or last == "_":
                # '[' after an identifier is element access — UNLESS
                # the identifier is a SQL keyword ('SELECT [1,2,3]',
                # 'x IN [1,2]'): keywords never evaluate to an
                # indexable value, so there it's a literal.
                is_access = prev_word not in _EXPR_KEYWORDS
            else:
                is_access = False
            if not is_access:
                end = _bracket_literal_end(sql, i)
                inner = sql[i + 1 : end - 1]
                items = _split_order_items(inner)
                body = ", ".join(_translate_functions(x) for x in items)
                if prev_word == "IN":
                    # CH 'x IN [a, b]' is list membership; Spark's IN
                    # wants a parenthesized value list, not an array
                    out.append("(" + body + ")")
                else:
                    out.append("array(" + body + ")")
                i = end
                continue
        if c.isalpha() or c == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            word = sql[i:j]
            k = j
            while k < n and sql[k].isspace():
                k += 1
            if word in _TRANSLATED and k < n and sql[k] == "(":
                first, end = _parse_group(sql, k)
                # SQL's quantified comparison `x = any (SELECT ...)` is
                # NOT the CH any() aggregate: a lone subquery argument
                # passes through with only its inside translated.
                if (
                    word in ("any", "all")
                    and len(first) == 1
                    and _RE.match(r"(?i)(SELECT|WITH)\b", first[0].lstrip())
                ):
                    out.append(
                        f"{word} ({_translate_functions(first[0])})"
                    )
                    i = end
                    continue
                params = None
                if word in _QUANTILES or word in _PARAMETRIC:
                    # peek for the parametric second group
                    m = end
                    while m < n and sql[m].isspace():
                        m += 1
                    if m < n and sql[m] == "(":
                        second, end = _parse_group(sql, m)
                        params, first = first, second
                out.append(_rewrite_call(word, first, params))
                i = end
            else:
                out.append(word)
                i = j
            continue
        out.append(c)
        i += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# 3. Statement-level CH idioms: PREWHERE and FROM <table> FINAL
# ---------------------------------------------------------------------------

_CLAUSE_ENDERS = {
    "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "WINDOW", "QUALIFY",
    "UNION", "INTERSECT", "EXCEPT", "SETTINGS",
}


def _scan_words(sql: str):
    """Yield (word, start, end, depth) for every bare identifier/keyword,
    skipping string literals and quoted identifiers, tracking paren
    depth — the shared walker for the statement-level rewrites."""
    i, depth, n = 0, 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"`":
            i = _scan_string(sql, i, c)
        elif c == "(":
            depth += 1
            i += 1
        elif c == ")":
            depth -= 1
            i += 1
        elif c.isalpha() or c == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            yield sql[i:j], i, j, depth
            i = j
        else:
            i += 1


def _clause_end(sql: str, start: int) -> tuple[int, str | None, int]:
    """Scan from ``start`` to the end of the current clause: returns
    (end index, terminating clause keyword or None, index just past
    that keyword). The clause ends at a same-depth clause keyword, at
    the ')' that closes the enclosing subquery, or at end-of-text.
    Strings/quoted identifiers are skipped; nested parens don't
    terminate."""
    i, depth, n = start, 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"`":
            i = _scan_string(sql, i, c)
        elif c == "(":
            depth += 1
            i += 1
        elif c == ")":
            if depth == 0:
                return i, None, i
            depth -= 1
            i += 1
        elif c.isalpha() or c == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            w = sql[i:j].upper()
            if depth == 0 and w in _CLAUSE_ENDERS:
                return i, w, j
            i = j
        else:
            i += 1
    return n, None, n


def _rewrite_prewhere(sql: str) -> str:
    """CH ``PREWHERE`` → Spark ``WHERE``. In ClickHouse, PREWHERE is a
    manual read-ahead filter hint; Spark's predicate pushdown does the
    same job automatically, so the semantics under translation are
    exactly WHERE-conjunction: ``PREWHERE p WHERE w`` →
    ``WHERE (p) AND (w)`` (both predicates parenthesized — AND binds
    tighter than OR; extents found clause-aware at the same paren
    depth, so subqueries are untouched), bare ``PREWHERE p`` →
    ``WHERE p``. Iterates until no PREWHERE remains (one per
    (sub)query level, the CH grammar)."""
    while True:
        pre = None
        for word, s, e, _d in _scan_words(sql):
            if word.upper() == "PREWHERE":
                pre = (s, e)
                break
        if pre is None:
            return sql
        ps, pe = pre
        p_end, term, past = _clause_end(sql, pe)
        if term == "WHERE":
            pred = sql[pe:p_end].strip()
            w_end, _t2, _p2 = _clause_end(sql, past)
            w_pred = sql[past:w_end].strip()
            sql = f"{sql[:ps]}WHERE ({pred}) AND ({w_pred}) {sql[w_end:]}"
        else:
            sql = f"{sql[:ps]}WHERE{sql[pe:]}"


def _rewrite_limit_by(sql: str) -> str:
    """CH ``ORDER BY o LIMIT n BY k1, k2 [LIMIT m]`` — first-n-rows
    per distinct key (CH processing order: ORDER BY, then LIMIT BY,
    then the final LIMIT) — rewritten as the e1 ranked-window idiom:

        SELECT * EXCEPT (__lb) FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY k1, k2 ORDER BY o) AS __lb
          FROM (<query without ORDER BY/LIMIT>) __lbq
        ) WHERE __lb <= n [ORDER BY o] [LIMIT m]

    The window ORDER BY mirrors the query's ORDER BY (that is what
    "first n" means in CH); without one, the partition keys order the
    window — arbitrary-but-deterministic, matching CH's unspecified
    pick. Top-level only: a LIMIT BY inside a subquery raises (wrap
    that subquery through ch_sql separately). The offset form
    ``LIMIT off, n BY`` also raises — no silent row-skipping."""
    hits = [
        (w, s, e, d)
        for w, s, e, d in _scan_words(sql)
        if w.upper() == "LIMIT"
    ]
    for _w, ls, le, depth in hits:
        # tokens after LIMIT: numbers/commas until BY / clause end
        j = le
        n = len(sql)
        nums: list[str] = []
        buf = ""
        while j < n:
            c = sql[j]
            if c.isdigit():
                buf += c
            elif c == "," and buf:
                nums.append(buf)
                buf = ""
            elif c.isspace():
                if buf:
                    nums.append(buf)
                    buf = ""
            else:
                break
            j += 1
        if buf:
            nums.append(buf)
        is_by = sql[j : j + 2].upper() == "BY" and (
            j + 2 == n or not (sql[j + 2].isalnum() or sql[j + 2] == "_")
        )
        if not is_by:
            continue
        if depth != 0:
            raise ValueError(
                "LIMIT BY inside a subquery is not supported by the "
                "dialect layer — run that subquery through ch_sql "
                "separately or restate with a window"
            )
        if len(nums) != 1:
            raise ValueError(
                "LIMIT offset, n BY is not translated — no silent "
                "row-skipping; restate the offset explicitly"
            )
        per_group = nums[0]
        keys_end, term, past = _clause_end(sql, j + 2)
        keys_txt = sql[j + 2 : keys_end].strip()
        final_limit = None
        tail_after = sql[keys_end:]
        if term == "LIMIT":
            lim_end, _t, _p = _clause_end(sql, past)
            final_limit = sql[past:lim_end].strip()
            tail_after = sql[lim_end:]
        # the ORDER BY clause, if any, immediately precedes this LIMIT
        order_txt = None
        head_end = ls
        for w2, s2, e2, d2 in _scan_words(sql[:ls]):
            if d2 == 0 and w2.upper() == "ORDER":
                o_end, o_term, _ = _clause_end(sql, e2)
                # the clause running to exactly this LIMIT is ours
                if o_term == "LIMIT" and o_end <= ls:
                    order_txt = sql[e2:o_end]
                    order_txt = order_txt.lstrip()
                    if order_txt.upper().startswith("BY"):
                        order_txt = order_txt[2:].strip()
                    head_end = s2
        inner = sql[:head_end].strip()
        # splice the ranking into the SAME select (not a wrapping
        # subquery): the window then shares the select list's scope, so
        # it can rank by source columns the projection drops — CH
        # allows `SELECT a FROM t ORDER BY hidden LIMIT 1 BY a`.
        from_pos = None
        for w3, s3, _e3, d3 in _scan_words(inner):
            if d3 == 0 and w3.upper() == "FROM":
                from_pos = s3
                break
        if from_pos is None:
            raise ValueError("LIMIT BY requires a FROM clause")
        # Three layers, each dodging a Spark restriction:
        #   inner — the original select plus hidden (expr) AS __kb/__ob
        #     projections of the keys and sort expressions (LATERAL
        #     column aliases are legal in a projection, so these may
        #     reference select aliases OR source columns);
        #   mid — the ROW_NUMBER over the now-REAL __kb/__ob columns
        #     (windows may not reference lateral aliases directly);
        #   out — * EXCEPT the plumbing, rank filter, and output
        #     ORDER BY on the hidden columns (sorting by a column the
        #     projection drops is legal against the subquery output).
        key_items = _split_order_items(keys_txt)
        hidden = [f"({k}) AS __kb{i}" for i, k in enumerate(key_items)]
        win_part = ", ".join(f"__kb{i}" for i in range(len(key_items)))
        order_items: list[str] = []
        if order_txt:
            for i, item in enumerate(_split_order_items(order_txt)):
                expr, suffix = _split_order_suffix(item)
                hidden.append(f"({expr}) AS __ob{i}")
                order_items.append(f"__ob{i}{suffix}")
        win_order = ", ".join(order_items) if order_items else win_part
        spliced = (
            f"{inner[:from_pos].rstrip()}, {', '.join(hidden)} "
            f"{inner[from_pos:]}"
        )
        mid = (
            f"SELECT *, ROW_NUMBER() OVER (PARTITION BY {win_part} "
            f"ORDER BY {win_order}) AS __lb FROM ({spliced}) __lbi"
        )
        dropped = ", ".join(
            ["__lb"]
            + [f"__kb{i}" for i in range(len(key_items))]
            + [f"__ob{i}" for i in range(len(order_items))]
        )
        out = (
            f"SELECT * EXCEPT ({dropped}) FROM ({mid}) __lbo "
            f"WHERE __lb <= {per_group}"
        )
        if order_items:
            out += f" ORDER BY {', '.join(order_items)}"
        if final_limit:
            out += f" LIMIT {final_limit}"
        return out + tail_after
    return sql


def _rewrite_with_totals(sql: str) -> str:
    """CH ``GROUP BY k1, k2 WITH TOTALS`` — the per-group rows plus one
    extra row aggregating ALL rows — rewritten onto standard grouping
    sets: ``GROUP BY GROUPING SETS ((k1, k2), ())``. Spark and every
    ANSI engine emit the totals row with NULL group keys; ClickHouse
    renders them as the column type's default (0, '') instead — a
    representation difference on the KEY columns only (the aggregate
    values are identical), documented in CH_FUNCTION_DOC. Applies at
    any subquery depth (the rewrite is local to its GROUP BY clause).

    Empty-input edge (fuzz-found): over ZERO input rows Spark's
    grouping sets emit no rows at all, where ANSI engines (and CH's
    totals block) still emit the one global row — a guarded
    ``count(*) > 0`` on the consumer side reproduces Spark if parity
    with another engine matters there.

    ``WITH TOTALS HAVING ...`` raises: CH's totals row under HAVING
    depends on the ``totals_mode`` setting (before_having vs the
    after_having_* family), so a silent pick could diverge — restate
    with an explicit grouping-sets query instead. ``WITH ROLLUP`` /
    ``WITH CUBE`` pass through untouched (Spark SQL accepts the same
    syntax natively)."""
    while True:
        words = list(_scan_words(sql))
        hit = None
        for idx, (w, s, e, d) in enumerate(words):
            if w.upper() != "GROUP":
                continue
            if idx + 1 >= len(words) or words[idx + 1][0].upper() != "BY":
                continue
            by_end = words[idx + 1][2]
            # walk the clause at this depth looking for WITH TOTALS
            k = idx + 2
            while k < len(words):
                w2, s2, e2, d2 = words[k]
                if d2 < d:
                    break  # left the enclosing (sub)query
                if d2 == d and w2.upper() in _CLAUSE_ENDERS:
                    break
                if (
                    d2 == d
                    and w2.upper() == "WITH"
                    and k + 1 < len(words)
                    and words[k + 1][3] == d
                    and words[k + 1][0].upper() == "TOTALS"
                ):
                    hit = (by_end, s2, words[k + 1][2], d)
                    break
                k += 1
            if hit:
                break
        if hit is None:
            return sql
        by_end, w_start, t_end, depth = hit
        keys = sql[by_end:w_start].strip().rstrip(",").strip()
        if not keys:
            raise ValueError(
                "WITH TOTALS requires at least one GROUP BY key"
            )
        # HAVING after TOTALS at the same depth -> totals_mode ambiguity
        rest = sql[t_end:]
        for w3, _s3, _e3, d3 in _scan_words(rest):
            if d3 < 0:
                break
            if d3 == 0 and w3.upper() in _CLAUSE_ENDERS:
                if w3.upper() == "HAVING":
                    raise ValueError(
                        "WITH TOTALS ... HAVING is not translated: the "
                        "CH totals row depends on totals_mode "
                        "(before_having vs after_having_*); restate "
                        "with explicit GROUPING SETS"
                    )
                break
        sql = (
            sql[:by_end]
            + f" GROUPING SETS (({keys}), ())"
            + sql[t_end:]
        )


def _split_order_items(order_txt: str) -> list[str]:
    """Split ORDER BY text at top-level commas (strings, nested parens,
    and square brackets respected)."""
    items: list[str] = []
    buf: list[str] = []
    i, depth, n = 0, 0, len(order_txt)
    while i < n:
        c = order_txt[i]
        if c in "'\"`":
            end = _scan_string(order_txt, i, c)
            buf.append(order_txt[i:end])
            i = end
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            items.append("".join(buf).strip())
            buf = []
            i += 1
            continue
        buf.append(c)
        i += 1
    if "".join(buf).strip():
        items.append("".join(buf).strip())
    return items


def _split_order_suffix(item: str) -> tuple[str, str]:
    """Separate one ORDER BY item into (expression, direction suffix):
    trailing ASC/DESC and NULLS FIRST/LAST keywords move to the
    suffix."""
    words = item.split()
    suffix: list[str] = []
    while words:
        last = words[-1].upper()
        if last in ("ASC", "DESC"):
            suffix.insert(0, words.pop().upper())
        elif last in ("FIRST", "LAST") and len(words) >= 2 and (
            words[-2].upper() == "NULLS"
        ):
            suffix.insert(0, words.pop().upper())
            suffix.insert(0, words.pop().upper())
        else:
            break
    sfx = (" " + " ".join(suffix)) if suffix else ""
    return " ".join(words), sfx


_FINAL_SPECS: dict[str, FinalSpec] = {"events": EVENTS_FINAL}


def register_final_spec(
    table: str,
    keys: tuple[str, ...] | list[str],
    versions: tuple[str, ...] | list[str],
    deleted: str | None = None,
) -> None:
    """Declare the CDC collapse rule ``FROM <table> FINAL`` expands to:
    the ``streaming.cdc.FinalSpec`` of ``keys``, the version SQL
    expressions (highest first, each ranked descending) and the
    tombstone predicate. Mirrors configuring a ReplacingMergeTree's
    ORDER BY/version/is_deleted columns when the table was created.
    ``events`` is registered with ``EVENTS_FINAL``, the rule the
    DataFrame operators apply."""
    _FINAL_SPECS[table] = FinalSpec(tuple(keys), tuple(versions), deleted)


def _final_subquery(table: str, spec_name: str, alias: str) -> str:
    """``streaming.cdc.final`` of ``spec_name``'s spec as SQL text."""
    spec = _FINAL_SPECS[spec_name]
    order_by = ", ".join(f"{v} DESC" for v in spec.versions)
    drop = f" AND NOT ({spec.deleted})" if spec.deleted else ""
    return (
        f"(SELECT * EXCEPT (__rn) FROM ("
        f"SELECT *, ROW_NUMBER() OVER ("
        f"PARTITION BY {', '.join(spec.keys)} ORDER BY {order_by}"
        f") AS __rn FROM {table}"
        f") WHERE __rn = 1{drop}) {alias}"
    )


# Keywords that can never be a table alias — used by the FINAL / ANY
# JOIN rewrites to tell `FROM t alias` from `FROM t WHERE ...`.
_NON_ALIAS_WORDS = {
    "FROM", "JOIN", "WHERE", "PREWHERE", "ON", "USING", "AS", "AND",
    "OR", "NOT", "GROUP", "ORDER", "BY", "SELECT", "LIMIT", "OFFSET",
    "SAMPLE", "FINAL", "SETTINGS", "FORMAT", "UNION", "INTERSECT",
    "EXCEPT", "HAVING", "WINDOW", "QUALIFY", "LEFT", "RIGHT", "INNER",
    "OUTER", "FULL", "CROSS", "GLOBAL", "ANY", "ALL", "ASOF", "SEMI",
    "ANTI", "WITH", "PASTE", "DISTINCT",
}


def _gather_ident_chain(sql: str, toks: list, idx: int) -> tuple[str, int, int]:
    """Starting from the identifier token at ``toks[idx]``, walk LEFT
    through '.'-joined segments and return (dotted_name, chain_start,
    first_segment_index). ``toks`` entries are (word, start, end,
    depth) from _scan_words."""
    parts = [toks[idx][0]]
    start = toks[idx][1]
    i = idx
    while i > 0:
        prev = toks[i - 1]
        between = sql[prev[2] : toks[i][1]]
        if between.strip() == "." and prev[3] == toks[i][3]:
            parts.insert(0, prev[0])
            start = prev[1]
            i -= 1
        else:
            break
    return ".".join(parts), start, i


def _comma_anchored_from(sql: str, toks: list, ci: int, depth: int) -> bool:
    """True when the identifier chain whose FIRST segment is token
    ``ci`` sits in a comma-join table list anchored to FROM: walks left
    through ``, <table> [alias]`` pairs at the same paren depth until
    FROM/JOIN. Lets _rewrite_final give 'FROM a, b FINAL' the CH
    semantics (FINAL collapses `b`, the table it follows) instead of
    misreading 'a, b' as 'a AS b'. A walk that hits anything else (a
    keyword, a parenthesized subquery, a depth change) answers False
    and the caller leaves the text alone — e.g. 'SELECT a, b final'
    stays a plain column alias."""
    j = ci
    for _ in range(64):
        if j <= 0:
            return False
        pchain, pstart, pj = _gather_ident_chain(sql, toks, j - 1)
        anchor = toks[pj - 1] if pj > 0 else None
        if anchor is None or anchor[3] != depth:
            return False
        aword = anchor[0].upper()
        sep = sql[anchor[2] : pstart].strip()
        if aword in ("FROM", "JOIN") and sep == "":
            return True
        if aword in _NON_ALIAS_WORDS:
            return False
        if sep == "," or sep == "":
            # ',' steps to the previous table ref; '' means pchain was
            # an alias — step to ITS table chain next iteration
            j = pj
            continue
        return False
    return False


def _rewrite_final(sql: str) -> str:
    """CH ``FROM <table> [AS alias] FINAL`` → the a4 latest-per-key
    collapse as an inline subquery (aliased back to the table name or
    explicit alias, so downstream column references resolve
    unchanged). Handles qualified names (``FROM db.events FINAL``) and
    aliased refs (``FROM events AS e FINAL`` / ``FROM events e
    FINAL``). Any FINAL that terminates a table reference the rewriter
    CANNOT expand (no FinalSpec for the table, or FINAL on a subquery
    alias) raises — silently passing it through would let Spark parse
    FINAL as a table alias and serve stale row versions. A column/
    identifier named "final" outside a FROM/JOIN table reference is
    untouched."""
    while True:
        toks = list(_scan_words(sql))
        hit = None
        for i, (word, s, e, d) in enumerate(toks):
            if word.upper() != "FINAL" or i == 0:
                continue
            prev = toks[i - 1]
            if prev[0].upper() in _NON_ALIAS_WORDS:
                continue  # e.g. "ORDER BY final" — not a table FINAL
            if sql[prev[2] : s].strip():
                continue  # "a, final" / "x > final": not adjacent
            if prev[3] != d:
                # "(SELECT ...) sub FINAL": FINAL on a subquery alias —
                # not expandable; passing it through would make Spark
                # read FINAL as another alias and serve stale versions
                raise ValueError(
                    "FINAL after a subquery alias is not an expandable "
                    "table reference — collapse inside the subquery "
                    "instead (FROM <table> [AS alias] FINAL)"
                )
            # prev ends an identifier chain: table ref or alias
            chain, chain_start, ci = _gather_ident_chain(sql, toks, i - 1)
            before = toks[ci - 1] if ci > 0 else None
            bword = before[0].upper() if before else ""
            if bword in ("FROM", "JOIN"):
                # FROM <chain> FINAL
                hit = (chain, chain.split(".")[-1], chain_start, e)
                break
            if bword == "AS" and ci >= 2:
                tchain, tstart, ti = _gather_ident_chain(sql, toks, ci - 2)
                b2 = toks[ti - 1] if ti > 0 else None
                if b2 and b2[0].upper() in ("FROM", "JOIN"):
                    # FROM <tchain> AS <alias> FINAL
                    hit = (tchain, chain, tstart, e)
                    break
                if (
                    b2
                    and sql[b2[2] : tstart].strip() == ","
                    and _comma_anchored_from(sql, toks, ti, d)
                ):
                    # FROM a, <tchain> AS <alias> FINAL (comma join)
                    hit = (tchain, chain, tstart, e)
                    break
            elif (
                bword
                and bword not in _NON_ALIAS_WORDS
                and before[3] == d
            ):
                sep = sql[before[2] : chain_start]
                if sep.strip() == "":
                    # bare alias requires WHITESPACE-only adjacency
                    # between table chain and alias: 'FROM events,
                    # other FINAL' is a comma join (FINAL applies to
                    # `other`), NOT 'events AS other' — misreading it
                    # would silently drop `other` and collapse the
                    # wrong table.
                    tchain, tstart, ti = _gather_ident_chain(
                        sql, toks, ci - 1
                    )
                    b2 = toks[ti - 1] if ti > 0 else None
                    if b2 and b2[0].upper() in ("FROM", "JOIN"):
                        # FROM <tchain> <alias> FINAL  (bare alias)
                        hit = (tchain, chain, tstart, e)
                        break
                    if (
                        b2
                        and sql[b2[2] : tstart].strip() == ","
                        and _comma_anchored_from(sql, toks, ti, d)
                    ):
                        # FROM a, <tchain> <alias> FINAL (comma join)
                        hit = (tchain, chain, tstart, e)
                        break
                elif sep.strip() == "," and _comma_anchored_from(
                    sql, toks, ci, d
                ):
                    # FROM a, <chain> FINAL: CH applies FINAL to the
                    # table it directly follows (the comma-join's
                    # SECOND table), aliased back to itself
                    hit = (chain, chain.split(".")[-1], chain_start, e)
                    break
        if hit is None:
            return sql
        table, alias, ts, fe = hit
        spec_name = (
            table if table in _FINAL_SPECS else table.split(".")[-1]
        )
        if spec_name not in _FINAL_SPECS:
            raise ValueError(
                f"FROM {table} FINAL: no FinalSpec registered for "
                f"{table!r}; declare its keys/version/delete rule with "
                f"register_final_spec() (FINAL silently ignored would "
                f"serve stale row versions)"
            )
        sql = sql[:ts] + _final_subquery(table, spec_name, alias) + sql[fe:]


_SAMPLE_SPECS: dict[str, str] = {}


def register_sample_spec(table: str, key_expr: str) -> None:
    """Declare the deterministic sampling key ``SAMPLE`` banding uses
    for one table — mirrors CH's ``SAMPLE BY`` table-DDL clause. The
    key should be uniformly distributed (an id or a hash), exactly as
    CH requires."""
    _SAMPLE_SPECS[table] = key_expr


# a32's declared sampling key for the testbed's event stream
register_sample_spec("events", "event_id")


def _sample_predicate(key: str, frac, off) -> str:
    """The a32 hash-band predicate: md5-prefix of the sampling key as a
    32-bit integer, band [off, off+frac) of the full 2^32 range —
    exact, seedless, repeatable across engines (DuckDB restates the
    identical arithmetic), and OFFSET-tileable."""
    lo = ((1 << 32) * off.numerator) // off.denominator
    hi = lo + ((1 << 32) * frac.numerator) // frac.denominator
    band = (
        f"conv(substring(md5(CAST({key} AS STRING)), 1, 8), 16, 10)"
    )
    return f"{band} >= {lo} AND {band} < {hi}"


_NUM_RE = r"([0-9]+(?:\.[0-9]+)?)\s*(?:/\s*([0-9]+))?"


def _rewrite_sample(sql: str) -> str:
    """CH ``FROM <t> [FINAL] SAMPLE k[/m] [OFFSET a/b]`` → the a32
    deterministic hash-band filter as an inline subquery (aliased back
    to the table name). Requires a registered sample key
    (``register_sample_spec``) — CH likewise requires ``SAMPLE BY`` in
    the table's DDL. The approximate-row-count form ``SAMPLE n`` with
    n > 1 raises: banding by rows needs table statistics the dialect
    layer does not own."""
    import re
    from fractions import Fraction

    while True:
        hit = None
        prev3 = prev2 = prev = None
        for word, s, e, _d in _scan_words(sql):
            if word.upper() == "SAMPLE" and prev is not None:
                # FROM t SAMPLE …        (prev=t, prev2=FROM/JOIN)
                if (
                    prev2 is not None
                    and prev2[0].upper() in ("FROM", "JOIN")
                ):
                    hit = (prev[0], prev[1], e, False)
                    break
                # FROM t FINAL SAMPLE …  (prev=FINAL, prev2=t, prev3=FROM)
                if (
                    prev[0].upper() == "FINAL"
                    and prev2 is not None
                    and prev3 is not None
                    and prev3[0].upper() in ("FROM", "JOIN")
                ):
                    hit = (prev2[0], prev2[1], e, True)
                    break
            prev3, prev2, prev = prev2, prev, (word, s, e)
        if hit is None:
            return sql
        table, ts, se, has_final = hit
        m = re.match(r"\s*" + _NUM_RE, sql[se:])
        if not m:
            raise ValueError("SAMPLE expects a fraction, e.g. SAMPLE 1/8")
        frac = (
            Fraction(int(m.group(1)), int(m.group(2)))
            if m.group(2)
            else Fraction(m.group(1))
        )
        end = se + m.end()
        off = Fraction(0)
        m2 = re.match(r"\s*OFFSET\s+" + _NUM_RE, sql[end:], re.IGNORECASE)
        if m2:
            off = (
                Fraction(int(m2.group(1)), int(m2.group(2)))
                if m2.group(2)
                else Fraction(m2.group(1))
            )
            end += m2.end()
        if frac > 1:
            raise ValueError(
                "SAMPLE n (approximate row count) is not translated — "
                "banding by rows needs table statistics; state a "
                "fraction (SAMPLE 1/8)"
            )
        if table not in _SAMPLE_SPECS:
            raise ValueError(
                f"SAMPLE on {table!r}: no sample key registered; declare "
                f"one with register_sample_spec() (CH likewise requires "
                f"SAMPLE BY in the table DDL)"
            )
        pred = _sample_predicate(_SAMPLE_SPECS[table], frac, off)
        src = f"{table} FINAL" if has_final else table
        repl = f"(SELECT * FROM {src} WHERE {pred}) {table}"
        sql = sql[:ts] + repl + sql[end:]


_JOIN_STRICTNESS = {"GLOBAL", "ALL"}


def _strip_join_modifiers(sql: str) -> str:
    """CH join modifiers that are no-ops under Spark's planner:
    ``GLOBAL`` (CH's ship-the-right-side-everywhere distributed hint —
    Spark's own broadcast/shuffle dispatch decides that) and the
    default-strictness ``ALL`` (bag semantics, which is what a plain
    Spark join already does). Each is dropped only when the NEXT word
    is a join keyword, so columns named ``global`` survive. ``ANY``
    strictness is NOT silently dropped — it changes row multiplicity
    (one match per left row; the c22 operator implements it) — a loud
    error beats wrong cardinality."""
    while True:
        hit = None
        prev = None  # (word, start, end)
        for word, s, e, _d in _scan_words(sql):
            if (
                prev is not None
                and prev[0].upper() in _JOIN_STRICTNESS
                and word.upper()
                in ("JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ANY")
            ):
                hit = prev
                break
            prev = (word, s, e)
        if hit is None:
            return sql
        _w, s, e = hit
        # drop the modifier and one following space
        cut = e + 1 if e < len(sql) and sql[e] == " " else e
        sql = sql[:s] + sql[cut:]


# Deterministic keep-one orderings for ANY JOIN's build-side collapse.
# ClickHouse keeps an ARBITRARY first match per key; a reproducible
# engine must pin the rule (the c22 operator's contract), so the
# statement layer requires a registered ORDER BY per table — exactly
# like FinalSpec for FINAL.
_ANY_ORDER: dict[str, str] = {}


def register_any_order(table: str, order_by: str) -> None:
    """Declare the deterministic 'first match' ordering ANY JOIN uses
    when collapsing ``table`` to one row per join key."""
    _ANY_ORDER[table] = order_by


# Testbed defaults: primary-key ascending (unique => fully
# deterministic); orders pins c22's earliest-order rule.
for _t, _o in (
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderdate, o_orderkey"),
    ("lineitem", "l_orderkey, l_linenumber"),
    ("events", "ts, event_id"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
):
    register_any_order(_t, _o)

_JOIN_TYPE_WORDS = {"LEFT", "RIGHT", "INNER", "FULL", "CROSS", "OUTER"}
_ANY_UNSUPPORTED = {"RIGHT", "FULL", "CROSS"}


def _split_top_and(cond: str) -> list[str]:
    """Split a predicate at top-level AND keywords (parens/strings/
    brackets respected)."""
    parts: list[str] = []
    last = 0
    for word, s, e, d in _scan_words(cond):
        if d == 0 and word.upper() == "AND":
            parts.append(cond[last:s].strip())
            last = e
    parts.append(cond[last:].strip())
    return [p for p in parts if p]


def _any_join_keys(cond: str, right_alias: str) -> list[str]:
    """Right-side key columns from an ON condition: every top-level
    conjunct must be an equality with exactly one side qualified by
    the right alias. Anything else is a loud error — a mis-extracted
    key would silently change ANY JOIN's row multiplicity."""
    keys: list[str] = []
    for conj in _split_top_and(cond):
        # exactly one PLAIN '=' (not <=, >=, !=, ==) splits the conjunct
        eqs = [
            m.start()
            for m in _RE.finditer(r"(?<![<>!=])=(?!=)", conj)
        ]
        if len(eqs) != 1:
            raise ValueError(
                f"ANY JOIN ON supports conjunctions of equalities only; "
                f"cannot extract a join key from {conj!r}"
            )
        sides = [conj[: eqs[0]], conj[eqs[0] + 1 :]]
        r_side = [
            s.strip()
            for s in sides
            if s.strip().startswith(right_alias + ".")
        ]
        if len(r_side) != 1:
            raise ValueError(
                f"ANY JOIN ON conjunct {conj!r} must reference the "
                f"right side exactly once, qualified as "
                f"{right_alias}.<col>"
            )
        keys.append(r_side[0].split(".", 1)[1])
    return keys


def _rewrite_any_join(sql: str) -> str:
    """CH ``[LEFT|INNER] ANY JOIN t [alias] ON/USING ...`` → the c22
    build-side collapse: the right table is reduced to ONE row per
    join key (deterministically, via the table's registered
    ``register_any_order`` rule — CH's own pick is arbitrary) inside
    an inline subquery, then joined normally, so each left row matches
    at most one right row. Supports ``LEFT ANY JOIN`` / ``ANY LEFT
    JOIN`` / ``INNER ANY JOIN`` / bare ``ANY JOIN``; RIGHT/FULL ANY
    raise (they collapse the LEFT side — restate the join reversed)."""
    while True:
        toks = list(_scan_words(sql))
        hit = None
        for i, (word, s, e, d) in enumerate(toks):
            if word.upper() != "ANY" or i + 1 >= len(toks):
                continue
            nxt = toks[i + 1][0].upper()
            if nxt == "JOIN":
                jt = toks[i - 1][0].upper() if i > 0 else ""
                join_type = jt if jt in _JOIN_TYPE_WORDS else ""
                join_idx = i + 1
            elif nxt in _JOIN_TYPE_WORDS and i + 2 < len(toks) and (
                toks[i + 2][0].upper() == "JOIN"
            ):
                join_type = nxt
                join_idx = i + 2
            else:
                continue
            if join_type in _ANY_UNSUPPORTED:
                raise ValueError(
                    f"{join_type} ANY JOIN collapses the LEFT side — "
                    f"restate with the build side on the right "
                    f"(LEFT/INNER ANY JOIN)"
                )
            hit = (i, join_idx, s, d)
            break
        if hit is None:
            return sql
        i, join_idx, any_start, d = hit
        # table ref (+ optional alias) after JOIN — a dotted table
        # chain or (r12) a parenthesized subquery
        ti = join_idx + 1
        if ti >= len(toks):
            raise ValueError("ANY JOIN: missing right table reference")
        k = toks[join_idx][2]
        while k < len(sql) and sql[k].isspace():
            k += 1
        is_subquery = k < len(sql) and sql[k] == "("
        if is_subquery:
            _parts, past = _parse_group(sql, k)
            tstart, table = k, sql[k:past]
            ref_end = past
            after_idx = next(
                (j for j, t in enumerate(toks) if t[1] >= past),
                len(toks),
            )
            alias = None
        else:
            # walk the dotted chain FORWARD from its first segment
            tstart = toks[ti][1]
            tend_idx = ti
            while (
                tend_idx + 1 < len(toks)
                and sql[toks[tend_idx][2] : toks[tend_idx + 1][1]].strip()
                == "."
            ):
                tend_idx += 1
            table = sql[tstart : toks[tend_idx][2]].replace(" ", "")
            alias = table.split(".")[-1]
            ref_end = toks[tend_idx][2]
            after_idx = tend_idx + 1
        if after_idx < len(toks) and toks[after_idx][0].upper() == "AS":
            alias = toks[after_idx + 1][0]
            after_idx += 2
            ref_end = toks[after_idx - 1][2]
        elif (
            after_idx < len(toks)
            and toks[after_idx][0].upper() not in _NON_ALIAS_WORDS
        ):
            alias = toks[after_idx][0]
            after_idx += 1
            ref_end = toks[after_idx - 1][2]
        if is_subquery and alias is None:
            raise ValueError(
                "ANY JOIN on a subquery needs an alias (the "
                "keep-one-row-per-key ordering rule is declared "
                "against it with register_any_order(alias, ...))"
            )
        if after_idx >= len(toks):
            raise ValueError("ANY JOIN requires an ON or USING clause")
        clause = toks[after_idx][0].upper()
        if clause == "USING":
            k = toks[after_idx][2]
            while k < len(sql) and sql[k].isspace():
                k += 1
            if k < len(sql) and sql[k] == "(":
                cols, _past = _parse_group(sql, k)
                keys = [c.strip() for c in cols]
            else:
                keys = [toks[after_idx + 1][0]]
        elif clause == "ON":
            on_start = toks[after_idx][2]
            on_end, _term, _past = _clause_end(sql, on_start)
            # a following JOIN also terminates the ON clause
            for w2, s2, _e2, d2 in _scan_words(sql[on_start:on_end]):
                if d2 == 0 and w2.upper() in (
                    "JOIN", "LEFT", "RIGHT", "INNER", "FULL", "CROSS",
                    "ASOF", "ANY", "SEMI", "ANTI",
                ):
                    on_end = on_start + s2
                    break
            keys = _any_join_keys(sql[on_start:on_end], alias)
        else:
            raise ValueError("ANY JOIN requires an ON or USING clause")
        if is_subquery:
            # subqueries have no table name: the rule is keyed by the
            # (mandatory) alias
            order = _ANY_ORDER.get(alias)
        else:
            order = _ANY_ORDER.get(table) or _ANY_ORDER.get(
                table.split(".")[-1]
            )
        if order is None:
            ref = alias if is_subquery else table
            raise ValueError(
                f"ANY JOIN on {ref!r}: no deterministic keep-one "
                f"ordering registered — declare one with "
                f"register_any_order() (ClickHouse keeps an arbitrary "
                f"first match; a reproducible engine must pin the rule)"
            )
        sub = (
            f"(SELECT * EXCEPT (__rn) FROM ("
            f"SELECT *, ROW_NUMBER() OVER ("
            f"PARTITION BY {', '.join(keys)} ORDER BY {order}"
            f") AS __rn FROM {table}"
            f") WHERE __rn = 1) {alias}"
        )
        # drop the ANY token, swap the table ref for the subquery
        any_end = toks[i][2]
        cut = any_end + 1 if sql[any_end : any_end + 1] == " " else any_end
        sql = sql[:any_start] + sql[cut:tstart] + sub + sql[ref_end:]


# Words that terminate an ARRAY JOIN item list (clause keywords, the
# next join, or another table modifier).
_ARRAY_JOIN_STOPPERS = _CLAUSE_ENDERS | {
    "PREWHERE", "JOIN", "LEFT", "RIGHT", "INNER", "FULL", "CROSS",
    "ASOF", "ANY", "SEMI", "ANTI", "ARRAY", "FINAL", "SAMPLE", "ON",
    "USING",
}

_IDENT_CHAIN_RE = _RE.compile(
    r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$"
)


def _split_array_join_item(item: str) -> tuple[str, str | None]:
    """One ARRAY JOIN list item → (expression text, alias or None). The
    alias is a trailing TOP-LEVEL ``AS name`` — ``CAST(x AS INT)``
    keeps its AS inside parens and is not an alias."""
    last_as = None
    for word, s, e, d in _scan_words(item):
        if d == 0 and word.upper() == "AS":
            last_as = (s, e)
    if last_as is not None:
        s, e = last_as
        tail = item[e:].strip()
        if _RE.match(r"^[A-Za-z_][A-Za-z0-9_]*$", tail):
            return item[:s].strip(), tail
    return item.strip(), None


def _inline_scalar_udfs(expr: str) -> str:
    """Inline registered CH scalar SQL-UDF calls inside ``expr`` by
    substituting the call's arguments into the UDF body (each arg
    parenthesized). Needed ONLY where Spark bans SQL UDFs — Generate
    (explode) rejects them with UNSUPPORTED_SQL_UDF_USAGE, so an
    ``ARRAY JOIN extractAll(...)`` item must arrive pre-inlined (found
    by the r11 composition fuzz axis). Recursive: inlined bodies may
    themselves name UDFs. Unknown names pass through untouched."""
    changed = True
    guard = 0
    while changed and guard < 8:
        changed = False
        guard += 1
        for name, (sig, _ret, body) in _SCALAR_UDFS.items():
            pat = _RE.compile(rf"\b{name}\s*\(")
            m = pat.search(expr)
            while m is not None:
                # find the matching close paren (string-aware)
                depth, i, n = 1, m.end(), len(expr)
                while i < n and depth:
                    c = expr[i]
                    if c in "'\"`":
                        i = _scan_string(expr, i, c)
                        continue
                    if c == "(":
                        depth += 1
                    elif c == ")":
                        depth -= 1
                    i += 1
                if depth:  # unbalanced — leave it for the parser to flag
                    break
                args = _split_order_items(expr[m.end():i - 1])
                params = _RE.findall(r"([A-Za-z_]\w*)\s+\w+", sig)
                if len(args) != len(params):
                    m = pat.search(expr, i)
                    continue
                inlined = body
                for p, a in zip(params, args):
                    inlined = _RE.sub(
                        rf"\b{p}\b", lambda _m, a=a: f"({a})", inlined
                    )
                expr = expr[:m.start()] + f"({inlined})" + expr[i:]
                changed = True
                m = pat.search(expr)
    return expr


def _rewrite_array_join(sql: str) -> str:
    """CH ``FROM <t> [alias] [LEFT] ARRAY JOIN x [AS a][, y AS b ...]``
    clause text → Spark Generate plans — the statement-level twin of
    the ``arrayJoin()`` function translation (g21 explode_outer / g37
    lockstep zip are the operator models).

    Two rewrite shapes:

    * ONE aliased item → a spliced ``LATERAL VIEW [OUTER] explode`` in
      place of the clause (keeps the array column in scope, exposes the
      element under the alias — CH's aliased semantics). Composes with
      FINAL on the same table ref (FINAL rewrites afterwards).
    * A bare item (CH semantics: the element REPLACES the array column
      in scope) or a MULTI-item lockstep list → an inline subquery over
      ``explode([arrays_zip])`` aliased back to the table name, so
      downstream references resolve unchanged.

    Documented divergences: LEFT ARRAY JOIN yields NULL elements for
    empty arrays (CH fills the element type's default; Spark is
    uniformly nullable — same convention as assumeNotNull); the
    lockstep zip pads unequal-length arrays with NULL rows (CH throws).
    Unsupported shapes raise — bare/multi forms over subquery sources
    or through FINAL/SAMPLE, non-column bare items: a loud error beats
    silently wrong rows."""
    while True:
        toks = list(_scan_words(sql))
        hit = None
        for i, (word, _s, _e, _d) in enumerate(toks):
            if (
                word.upper() == "ARRAY"
                and i + 1 < len(toks)
                and toks[i + 1][0].upper() == "JOIN"
            ):
                hit = i
                break
        if hit is None:
            return sql
        i = hit
        _word, s, _e, d = toks[i]
        jend = toks[i + 1][2]
        left = i > 0 and toks[i - 1][0].upper() == "LEFT"
        kw_start = toks[i - 1][1] if left else s
        before_idx = i - 2 if left else i - 1
        # --- item-list extent: to the next clause keyword/join/modifier
        base_end, _t, _p = _clause_end(sql, jend)
        items_end = base_end
        for w2, s2, _e2, d2 in _scan_words(sql[jend:base_end]):
            if d2 == 0 and w2.upper() in _ARRAY_JOIN_STOPPERS:
                items_end = jend + s2
                break
        parsed = [
            _split_array_join_item(x)
            for x in _split_order_items(sql[jend:items_end])
        ]
        if not parsed or any(not ex for ex, _a in parsed):
            raise ValueError("ARRAY JOIN: empty item list")
        outer = "OUTER " if left else ""
        if len(parsed) == 1 and parsed[0][1] is not None:
            # aliased single item: splice a LATERAL VIEW, no wrap
            # needed. UDF names are inlined first — Spark's Generate
            # rejects SQL UDFs (UNSUPPORTED_SQL_UDF_USAGE), so
            # `ARRAY JOIN extractAll(...)` must arrive as the builtin
            expr, name = parsed[0]
            expr = _inline_scalar_udfs(expr)
            repl = f"LATERAL VIEW {outer}explode({expr}) __ajv AS {name} "
            sql = sql[:kw_start] + repl + sql[items_end:]
            continue
        # --- wrap path: locate the plain FROM <table> [AS alias] source
        table_txt = None
        alias = ""
        ref_start = -1
        if before_idx >= 0:
            b = toks[before_idx]
            if b[0].upper() not in _NON_ALIAS_WORDS and b[3] == d:
                chain, cstart, ci = _gather_ident_chain(sql, toks, before_idx)
                prev = toks[ci - 1] if ci > 0 else None
                pword = prev[0].upper() if prev else ""
                if pword == "FROM":
                    table_txt = sql[cstart : b[2]]
                    alias = chain.split(".")[-1]
                    ref_start = cstart
                elif pword == "AS" and ci >= 2:
                    _tc, tstart, ti = _gather_ident_chain(sql, toks, ci - 2)
                    anc2 = toks[ti - 1] if ti > 0 else None
                    if anc2 and anc2[0].upper() == "FROM":
                        table_txt = sql[tstart : b[2]]
                        alias = chain
                        ref_start = tstart
                elif (
                    pword
                    and pword not in _NON_ALIAS_WORDS
                    and prev[3] == d
                    and sql[prev[2] : cstart].strip() == ""
                ):
                    _tc, tstart, ti = _gather_ident_chain(sql, toks, ci - 1)
                    anc2 = toks[ti - 1] if ti > 0 else None
                    if anc2 and anc2[0].upper() == "FROM":
                        table_txt = sql[tstart : b[2]]
                        alias = chain
                        ref_start = tstart
        if table_txt is None:
            raise ValueError(
                "ARRAY JOIN: the bare-item and multi-item forms need a "
                "plain FROM <table> [AS alias] source — subquery "
                "sources, prior joins, or FINAL/SAMPLE between the "
                "table and ARRAY JOIN are not rewritable here (alias "
                "every item with AS, or collapse first in a subquery)"
            )
        if len(parsed) == 1:
            expr, _name = parsed[0]  # bare single item
            if not _IDENT_CHAIN_RE.match(expr):
                raise ValueError(
                    f"ARRAY JOIN: a bare item must be a plain array "
                    f"column (got {expr!r}) — give it an AS alias"
                )
            leaf = expr.split(".")[-1]
            except_cols = [leaf, "__aj"]
            projs = [f"__aj AS {leaf}"]
            gen = f"explode({expr})"
        else:
            fields = []
            for expr, name in parsed:
                if not _IDENT_CHAIN_RE.match(expr):
                    raise ValueError(
                        f"ARRAY JOIN: lockstep items must be plain "
                        f"array columns (got {expr!r}) — precompute "
                        f"expressions in a subquery"
                    )
                fields.append((expr, expr.split(".")[-1], name))
            if len({lf for _x, lf, _n in fields}) != len(fields):
                raise ValueError(
                    "ARRAY JOIN: duplicate column names in lockstep list"
                )
            except_cols = ["__aj"] + [
                lf for _x, lf, nm in fields if nm is None
            ]
            projs = [f"__aj.{lf} AS {nm or lf}" for _x, lf, nm in fields]
            gen = (
                "explode(arrays_zip("
                + ", ".join(x for x, _lf, _n in fields)
                + "))"
            )
        sub = (
            f"(SELECT * EXCEPT ({', '.join(except_cols)}), "
            f"{', '.join(projs)} FROM {table_txt} "
            f"LATERAL VIEW {outer}{gen} __ajv AS __aj) {alias}"
        )
        sql = sql[:ref_start] + sub + " " + sql[items_end:]


# SETTINGS must be followed by k = v pairs (optionally a FORMAT tail),
# FORMAT by exactly one identifier — both running to end-of-statement.
_SETTINGS_TAIL = _RE.compile(
    r"(?is)^SETTINGS\s+\w+\s*=\s*[^,\s;]+"
    r"(\s*,\s*\w+\s*=\s*[^,\s;]+)*"
    r"(\s+FORMAT\s+\w+)?\s*;?\s*$"
)
_FORMAT_TAIL = _RE.compile(r"(?is)^FORMAT\s+\w+\s*;?\s*$")


# One left-to-right alternation: whichever token STARTS first wins.
# Lexing literals and comments in separate passes is wrong in both
# orders — literals-first lets an apostrophe inside a comment open a
# phantom string that swallows the rest of the statement (r11 advisor
# repro: "... -- don't strip\nWHERE x = 'foo'" lost its WHERE clause);
# comments-first would mangle '--' inside a literal. Group 1 captures
# the tokens to KEEP byte-identical (string literals with CH's ''
# doubling and C-style backslash escapes, `backtick` and "double"
# quoted identifiers); the un-captured alternatives are the comment
# forms CH accepts (/*..*/, --, #!, #), replaced with one space.
_LIT_OR_COMMENT = _RE.compile(
    r"('(?:[^'\\]|''|\\.)*'"
    r"|`(?:[^`]|``)*`"
    r"|\"(?:[^\"\\]|\"\"|\\.)*\")"
    r"|/\*.*?\*/"
    r"|--[^\n]*"
    r"|#![^\n]*"
    r"|#[^\n]*",
    _RE.DOTALL,
)


def _strip_sql_comments(sql: str) -> str:
    """Remove ``/* .. */``, ``-- ..`` and CH's ``#``/``#!`` line
    comments OUTSIDE string literals and quoted identifiers (CH's
    ``''`` doubling and C-style ``\\'`` escapes kept intact). Comments
    are replaced with one space so token boundaries survive
    (``GROUP/*x*/BY`` stays two words). Line comments do not consume
    their newline. Single pass — a quote inside a comment, or comment
    markers inside a literal, cannot confuse the lexer because the
    earliest-starting token wins."""
    return _LIT_OR_COMMENT.sub(lambda m: m.group(1) or " ", sql)


# Double-quoted tokens are IDENTIFIERS in ClickHouse (ANSI rule; CH
# has no double-quoted string form) but STRING LITERALS to Spark's
# default parser — passing them through silently turns a column
# reference into a constant (r12 corpus-replay find: SELECT
# "l_orderkey" FROM lineitem returned the literal text, no error).
# Convert them to Spark backtick identifiers, single-quoted literals
# and existing backtick identifiers kept byte-identical.
_DQ_IDENT = _RE.compile(
    r"('(?:[^'\\]|''|\\.)*'"
    r"|`(?:[^`]|``)*`)"
    r"|\"((?:[^\"\\]|\"\"|\\.)*)\"",
    _RE.DOTALL,
)


def _dq_idents_to_backticks(sql: str) -> str:
    """Rewrite ClickHouse ``"ident"`` (with ``""`` doubling and ``\\"``
    escapes) to Spark ``` `ident` ```; everything inside single quotes
    or backticks is untouched."""

    def sub(m: "_RE.Match") -> str:
        if m.group(1) is not None:
            return m.group(0)
        body = m.group(2).replace('""', '"')
        body = _RE.sub(r"\\(.)", r"\1", body)
        return "`" + body.replace("`", "``") + "`"

    return _DQ_IDENT.sub(sub, sql)


def _strip_trailing_clauses(sql: str) -> str:
    """Drop CH's trailing ``SETTINGS k=v, ...`` and ``FORMAT Name``
    clauses — per-query engine knobs and client wire-format directives
    that have no Spark statement equivalent (session confs and the
    DataFrame writer are the Spark-side homes for those decisions).
    Stripped only in TRAILING-CLAUSE POSITION: depth 0, not directly
    after a select-list comma, and the grammar from the keyword must
    run to end-of-statement (``SETTINGS`` as k=v pairs, ``FORMAT`` as
    one identifier). A projected COLUMN named settings/format —
    ``SELECT event_type AS fmt, format FROM events`` — therefore
    survives instead of having the statement truncated mid-list."""
    for word, s, _e, d in _scan_words(sql):
        if d != 0 or word.upper() not in ("SETTINGS", "FORMAT"):
            continue
        before = sql[:s].rstrip()
        if before.endswith(","):
            continue  # select-list item, not a trailing clause
        tail = sql[s:]
        if word.upper() == "SETTINGS" and _SETTINGS_TAIL.match(tail):
            return before
        if word.upper() == "FORMAT" and _FORMAT_TAIL.match(tail):
            return before
    return sql


_NON_SELECT_ROUTES = [
    (r"CREATE\s+MATERIALIZED\s+VIEW",
     "use functions.chmv.create_materialized_view(spark, ddl) — the "
     "k-family incremental-view front door (s22)"),
    (r"ALTER\s+TABLE\s+[\w.]+\s+(DELETE|UPDATE)\b",
     "use functions.chdialect.ch_mutation(sql, df) — lightweight "
     "mutations applied to the frame (s23)"),
    (r"INSERT\s+INTO\b",
     "use the a5 batch-sink writers (operators/scans.py) — the "
     "DataFrame writer owns persistence"),
    (r"OPTIMIZE\s+TABLE\b",
     "use a10_compaction (small-file rewrite) or the FROM <t> FINAL "
     "read-side collapse — there is no background merge to force"),
    (r"(TRUNCATE|DROP)\s+TABLE\b",
     "tables here are parquet paths — delete/overwrite through the a5 "
     "sink, not statement text"),
    (r"CREATE\s+TABLE\b",
     "tables here are parquet paths — write one with the a5 sink; "
     "only CREATE MATERIALIZED VIEW has a statement front door"),
    (r"CREATE\s+DICTIONARY\b",
     "use functions.chdict.register_dictionary(spark, ddl, source_df) "
     "— the dictGet family then translates (s25)"),
    (r"SYSTEM\s+RELOAD\s+DICTION",
     "re-run functions.chdict.register_dictionary — registration is "
     "the refresh (CREATE OR REPLACE per attribute)"),
    (r"EXPLAIN\b",
     "use DataFrame.explain('formatted') on the translated query "
     "(ch_sql(spark, text).explain()) — Spark's plan text, not CH's; "
     "plans/explain.py holds the assertion helpers"),
]


def _route_non_select(sql: str) -> None:
    """Pasted CH text that is not a query gets a pointed error naming
    the engine surface that DOES cover it, instead of a Spark parse
    error three layers down."""
    head = sql.lstrip()
    for pat, hint in _NON_SELECT_ROUTES:
        if _RE.match(pat, head, _RE.IGNORECASE):
            stmt = " ".join(head.split()[:3])
            raise ValueError(
                f"{stmt!r} is not a query — {hint}"
            )


def translate_ch_sql(sql: str) -> str:
    """Full CH-dialect translation pipeline: trailing SETTINGS/FORMAT
    strip (position-checked), GLOBAL/ALL join-modifier strip,
    LEFT/INNER ANY JOIN → deterministic build-side collapse,
    LIMIT n BY → ranked-window rewrite, WITH TOTALS → grouping sets,
    SAMPLE → hash-band filter,
    PREWHERE → WHERE merge, FROM <t> FINAL → latest-per-key collapse,
    then the function-call pass (renames, -If combinators, parametric
    quantiles, casts, [..] array literals). Pure text-to-text;
    identifiers it does not know, string literals, and backtick
    identifiers pass through byte-identical; CH's ANSI double-quoted
    identifiers become backtick identifiers (to Spark's default
    parser a double-quoted token is a STRING — passing it through
    would silently constant-fold the column away; r12). Comments
    (/*..*/, --) and trailing ';' are stripped up front,
    string-literal-aware (r11)."""
    # Comments and trailing statement terminators first (r11 corpus-
    # replay finds): a '/*..*/' or '-- ..' inside a clause the
    # rewriters pattern-match breaks literal-argument checks
    # (formatDateTime) and bare-item parsing (ARRAY JOIN), and a
    # trailing ';' is swallowed into the LAST clause's expression
    # ('LIMIT 3 BY event_type;' produced the key '(event_type;)').
    # Both strips are string-literal-aware; spark.sql never needs the
    # comments back.
    sql = _strip_sql_comments(sql)
    sql = _dq_idents_to_backticks(sql)
    sql = _RE.sub(r"[\s;]+$", "", sql)
    _route_non_select(sql)
    sql = _strip_trailing_clauses(sql)
    sql = _strip_join_modifiers(sql)
    sql = _rewrite_any_join(sql)
    sql = _rewrite_array_join(sql)
    sql = _rewrite_limit_by(sql)
    sql = _rewrite_with_totals(sql)
    sql = _rewrite_sample(sql)
    return _translate_functions(_rewrite_final(_rewrite_prewhere(sql)))


_MUT_RE = _RE.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_][\w.]*)\s+"
    r"(?P<verb>DELETE|UPDATE)\b",
    _RE.IGNORECASE,
)


def ch_mutation(sql: str, df: "DataFrame") -> "DataFrame":
    """CH lightweight-mutation statements as TEXT, applied to a
    DataFrame: ``ALTER TABLE t DELETE WHERE cond`` → the surviving
    rows; ``ALTER TABLE t UPDATE a = expr[, b = expr] WHERE cond`` →
    every row, mutated columns rewritten under the condition
    (CASE WHEN cond THEN expr ELSE col). The caller resolves the table
    name to ``df`` and owns persistence — in CH a mutation rewrites
    parts asynchronously; here the returned plan IS the post-mutation
    view, and the a5 sink writes it (the same rewrite CH's mutation
    executes, expressed as one scan).

    Loud scope: WHERE is mandatory (CH's own grammar), expressions run
    through the dialect function pass (and register the scalar CH
    names they call, as ``ch_sql`` does), updating a column the frame
    does not have raises at analysis with the column named, and
    ``DELETE`` keeps NULL-condition rows (a NULL predicate deletes
    nothing — CH semantics, pinned in tests)."""
    from pyspark.sql import functions as F

    # same lexical front door as translate_ch_sql (r12): comments out,
    # CH double-quoted identifiers to backticks — the assignment/WHERE
    # split below pattern-matches raw text and a '/*..*/' or "col"
    # would otherwise corrupt it exactly like the r11 SELECT-side bugs
    sql = _dq_idents_to_backticks(_strip_sql_comments(sql))
    sql = _RE.sub(r"[\s;]+$", "", sql)
    m = _MUT_RE.match(sql)
    if m is None:
        raise ValueError(
            "not an ALTER TABLE DELETE/UPDATE mutation statement"
        )
    rest = sql[m.end():]
    # first DEPTH-0 WHERE via the quote-aware word scanner — a literal
    # "... = 'where it was' WHERE v > 1" must split at the keyword,
    # not inside the string (r12)
    w_span = next(
        (
            (s, e)
            for word, s, e, d in _scan_words(rest)
            if d == 0 and word.upper() == "WHERE"
        ),
        None,
    )
    if w_span is None:
        raise ValueError(
            f"ALTER TABLE {m.group('verb').upper()} requires WHERE "
            f"(CH grammar; an unconditional mutation must say WHERE 1)"
        )
    cond = _translate_functions(rest[w_span[1]:].strip())
    if not cond:
        raise ValueError("empty WHERE condition")
    _register_called_ch_functions(df.sparkSession, cond)
    # CH predicates are truthy integers ("WHERE 1" is the documented
    # unconditional idiom) — cast to boolean before the null-guard so
    # integer conditions work and NULL means "row not matched".
    gate = F.coalesce(F.expr(cond).cast("boolean"), F.lit(False))
    if m.group("verb").upper() == "DELETE":
        # survivors: NOT cond, keeping NULL-cond rows (CH deletes only
        # rows where the predicate is true)
        return df.filter(~gate)
    assigns_txt = rest[: w_span[0]].strip()
    if not assigns_txt:
        raise ValueError("UPDATE needs at least one col = expr")
    # Snapshot semantics (CH / standard UPDATE): the gate AND every
    # assignment expression bind to the PRE-mutation row, so
    # "UPDATE a = b, b = a" swaps and a gate on an assigned column is
    # evaluated once against the original value. Build all new columns
    # first, apply in one projection (withColumns), never sequentially.
    dtypes = dict(df.dtypes)
    new_cols: dict[str, "F.Column"] = {}
    for item in _split_order_items(assigns_txt):
        am = _RE.match(
            r"^\s*(?:`((?:[^`]|``)*)`|([A-Za-z_]\w*))\s*=\s*(.+)$",
            item,
            _RE.DOTALL,
        )
        if not am:
            raise ValueError(f"bad UPDATE assignment {item!r}")
        col = (
            am.group(1).replace("``", "`")
            if am.group(1) is not None
            else am.group(2)
        )
        expr = _translate_functions(am.group(3).strip())
        _register_called_ch_functions(df.sparkSession, expr)
        if col not in df.columns:
            raise ValueError(
                f"UPDATE column {col!r} not in the table "
                f"(have: {', '.join(df.columns)})"
            )
        new_cols[col] = F.when(
            gate, F.expr(expr).cast(dtypes[col])
        ).otherwise(F.col(col))
    return df.withColumns(new_cols)


# CH query-parameter placeholders: {name:Type}. Scalar types map onto
# the cast table; String/Date/DateTime render as typed literals;
# Identifier becomes a backtick identifier; Array(T) takes a Python
# list. The client-side substitution CH's own clients perform
# (param_<name>= on the HTTP interface) — typed, literal-safe, never
# textual splicing of the raw value.
_PARAM_RE = _RE.compile(
    r"\{([A-Za-z_][\w]*)\s*:\s*([A-Za-z]+[0-9]*(?:\([^)]*\))?)\}"
)

_PARAM_SCALARS = {
    "String": "STRING",
    "Bool": "BOOLEAN",
    "Date": "DATE",
    "Date32": "DATE",
    "DateTime": "TIMESTAMP",
    "DateTime64": "TIMESTAMP",
    "Float32": "FLOAT",
    "Float64": "DOUBLE",
}

_IDENT_RE = _RE.compile(r"^[A-Za-z_][\w]*(\.[A-Za-z_][\w]*)*$")


def _param_literal(name: str, ch_ty: str, v) -> str:
    if v is None:
        raise ValueError(f"query parameter {{{name}}}: value is None")
    if ch_ty == "Identifier":
        s = str(v)
        if not _IDENT_RE.match(s):
            raise ValueError(
                f"query parameter {{{name}:Identifier}}: {s!r} is not a "
                f"valid identifier"
            )
        return ".".join(f"`{part}`" for part in s.split("."))
    if ch_ty.startswith("Array(") and ch_ty.endswith(")"):
        inner = ch_ty[6:-1].strip()
        items = ", ".join(_param_literal(name, inner, x) for x in v)
        return f"array({items})"
    spark_ty = _PARAM_SCALARS.get(ch_ty) or _CASTS.get(f"to{ch_ty}")
    if spark_ty is None:
        raise ValueError(
            f"query parameter {{{name}:{ch_ty}}}: unsupported type "
            f"(scalars: {sorted(_PARAM_SCALARS) + sorted(k[2:] for k in _CASTS)}, "
            f"plus Identifier and Array(T))"
        )
    if spark_ty == "STRING":
        # Spark's default parser interprets backslash escapes inside
        # string literals ('a\nb' is a newline) — escape the backslash
        # itself or a value containing one corrupts silently
        s = str(v).replace("\\", "\\\\").replace("'", "''")
        return f"'{s}'"
    if spark_ty == "BOOLEAN":
        return "true" if v else "false"
    if spark_ty == "DATE":
        # typed means VALIDATED: parse before splicing so a string like
        # "1996-01-01' OR '1'='1" can never escape the literal (r12
        # advisory). datetime.date values pass through via isoformat.
        import datetime

        if isinstance(v, datetime.datetime):
            # a datetime bound to a Date param takes its calendar date
            # (r13 ADVICE: the r12 guard rejected datetime subclasses)
            return f"DATE '{v.date().isoformat()}'"
        if isinstance(v, datetime.date):
            return f"DATE '{v.isoformat()}'"
        parsed = datetime.date.fromisoformat(str(v))
        return f"DATE '{parsed.isoformat()}'"
    if spark_ty == "TIMESTAMP":
        import datetime

        # isoformat(sep=' ') keeps any UTC offset in the literal (Spark
        # honors '+05:30' in TIMESTAMP literals) — strftime dropped
        # tzinfo and silently shifted aware instants (r13 ADVICE).
        if isinstance(v, datetime.datetime):
            return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
        parsed = datetime.datetime.fromisoformat(str(v))
        return f"TIMESTAMP '{parsed.isoformat(sep=' ')}'"
    # Numeric scalar: coerce through int()/float() so only a genuine
    # numeric literal reaches the SQL text — Python repr of a stray
    # string would otherwise splice as a double-quoted identifier under
    # ANSI configs (r12 advisory).
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        v = float(v) if ("." in str(v) or "e" in str(v).lower()) else int(str(v))
    return f"CAST({v!r} AS {spark_ty})"


def bind_params(sql: str, params: dict) -> str:
    """Substitute CH ``{name:Type}`` placeholders with typed SQL
    literals (string-literal-aware — a brace inside a quoted literal
    is data, not a placeholder). Missing parameters raise with the
    placeholder named; extra entries in ``params`` are ignored (CH's
    own param_* behavior), so one dict can serve many statements."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"`":
            end = _scan_string(sql, i, c)
            out.append(sql[i:end])
            i = end
            continue
        if c == "{":
            m = _PARAM_RE.match(sql, i)
            if m is not None:
                name, ch_ty = m.group(1), m.group(2).strip()
                if name not in params:
                    raise ValueError(
                        f"query parameter {{{name}:{ch_ty}}} has no "
                        f"bound value (params has: {sorted(params)})"
                    )
                out.append(_param_literal(name, ch_ty, params[name]))
                i = m.end()
                continue
        out.append(c)
        i += 1
    return "".join(out)


def ch_sql(
    spark: SparkSession, text: str, params: dict | None = None
) -> DataFrame:
    """Run ClickHouse-dialect SQL text: bind ``{name:Type}`` query
    parameters (if any), translate the unregistrable forms, register
    the scalar CH names the translated statement calls (and only
    those), hand the result to spark.sql (same Catalyst path as every
    other query)."""
    if params is not None:
        text = bind_params(_strip_sql_comments(text), params)
    sql = translate_ch_sql(text)
    _register_called_ch_functions(spark, sql)
    return spark.sql(sql)


# ---------------------------------------------------------------------------
# Docs table: every surfaced CH name -> mechanism + §2 operator family
# (rendered into COVERAGE.md by scripts/gen_coverage.py)
# ---------------------------------------------------------------------------

def _scalar_family(n: str) -> str:
    if n.startswith(("add", "subtract")):
        return "g6 date-arith"
    if n.startswith("bit"):
        return "g7 math"
    if n in ("extractAll",):
        return "g3 regex"
    if n in ("cityHash64", "sipHash64"):
        return "g10 hash"
    if n.startswith("to"):
        return "g4/g5 date"
    return "g9/g2/g7/g10"


CH_FUNCTION_DOC: list[tuple[str, str, str]] = (
    [(n, "SQL UDF (inlined)", _scalar_family(n)) for n in _SCALAR_UDFS]
    + [(n, f"rename -> {_RENAMES[n]}", "d4/d6/d7/g12") for n in _RENAMES]
    + [(n, f"combinator -> {_IF_COMBINATORS[n]}(CASE WHEN ...)", "d5 cond-agg")
       for n in _IF_COMBINATORS]
    + [(n, f"cast -> CAST(... AS {_CASTS[n]})", "a6/g14 casts") for n in _CASTS]
    + [(n, f"parametric -> {_QUANTILES[n]}", "d8 quantile") for n in _QUANTILES]
    + [(n, f"arg-swap -> {_HIGHER_ORDER[n]}(arr, lambda)", "g13 higher-order")
       for n in _HIGHER_ORDER]
    + [
        ("countIf", "rename / combinator", "d5 cond-agg"),
        ("count", "count() -> count(*) (parameterless row count)",
         "d1/d2 agg"),
        ("sumMap", "-> map_from_entries per-key fold over collected "
         "(k,v) pairs; sums in the NATIVE value type (seed-with-first "
         "fold) so integer maps stay exact, matching CH", "d19 summap"),
        ("minMap", "-> per-key array_min fold (sumMap family)", "d19"),
        ("maxMap", "-> per-key array_max fold (sumMap family)", "d19"),
        ("boundingRatio", "-> (max_by(y,x)-min_by(y,x)) / "
         "(max(x)-min(x))", "d6 argmax"),
        ("entropy", "-> log2 Shannon fold over collected distribution",
         "d12 stats"),
        ("age", "-> complete-units date diff (epoch math / "
         "months_between)", "g6 date-arith"),
        ("deltaSum", "RAISES: order-dependent; use e10", "e10"),
        ("exponentialMovingAverage", "RAISES: order-dependent; use e4",
         "e4"),
        ("largestTriangleThreeBuckets", "RAISES: order-dependent", "—"),
        ("intervalLengthSum", "RAISES: order-dependent", "—"),
        ("uniqExact", "-> count(DISTINCT ...)", "d3 count-distinct"),
        ("uniqExactIf", "-> count(DISTINCT CASE WHEN ...)", "d3/d5"),
        ("arrayCount", "-> size(filter(arr, lambda))", "g13 higher-order"),
        ("arrayUniq", "-> size(array_distinct(arr))", "g11 array-core"),
        ("multiIf", "-> CASE WHEN chain", "b7 case-when"),
        (
            "PREWHERE",
            "statement: merged into WHERE (pushdown is automatic)",
            "b2-b6 filters",
        ),
        (
            "FINAL",
            "statement: FROM <t> FINAL -> latest-per-key collapse, "
            "tombstones dropped (the table's streaming.cdc FinalSpec)",
            "a4 CDC apply",
        ),
        (
            "GLOBAL",
            "statement: join-distribution hint dropped (Spark's own "
            "broadcast/shuffle dispatch decides)",
            "c1-c11 joins",
        ),
        (
            "ALL",
            "statement: default join strictness dropped (bag semantics "
            "is the Spark default)",
            "c1-c11 joins",
        ),
        (
            "SETTINGS",
            "statement: trailing per-query engine knobs stripped "
            "(session confs are the Spark-side home)",
            "session.py",
        ),
        (
            "FORMAT",
            "statement: trailing wire-format directive stripped "
            "(the DataFrame writer owns output format)",
            "a5 sink",
        ),
        (
            "LIMIT BY",
            "statement: first-n-per-key -> ranked-window rewrite "
            "(ROW_NUMBER over the query's ORDER BY)",
            "e1/f2 top-k",
        ),
        (
            "SAMPLE",
            "statement: FROM <t> SAMPLE k/m [OFFSET a/b] -> "
            "deterministic md5 hash-band filter on the registered "
            "sample key",
            "a32 sample",
        ),
        (
            "WITH TOTALS",
            "statement: GROUP BY ... WITH TOTALS -> GROUPING SETS "
            "((keys), ()); totals-row keys are NULL (ANSI) where CH "
            "renders type defaults; TOTALS+HAVING raises (totals_mode "
            "ambiguity)",
            "d10 cube/sets / s20",
        ),
        (
            "ALTER TABLE DELETE/UPDATE",
            "statement: CH lightweight mutations applied to a frame "
            "(ch_mutation) — DELETE = NOT-predicate survivors (NULL "
            "predicate keeps the row), UPDATE = CASE WHEN rewrite with "
            "the original dtype; WHERE mandatory; s23 hash-green",
            "b2-b7 filters / a5 sink / s23",
        ),
        (
            "CREATE MATERIALIZED VIEW",
            "DDL: parsed into the k-family mergeable-partials "
            "discipline (functions/chmv.py create_materialized_view); "
            "initialize/apply_delta/read, merge == recompute "
            "hash-proven (s22); uniq = real mergeable HLL sketch "
            "(uniqState/uniqMerge analog); joins and other aggregates "
            "raise with the supported set named",
            "k1-k7 IVM / s22",
        ),
        (
            "{param:Type}",
            "statement: CH query parameters bound client-side to typed "
            "literals (ch_sql(..., params={...}) / bind_params) — "
            "scalars, Date/DateTime, Array(T), Identifier (validated, "
            "backtick-emitted); missing binding raises, extras ignored",
            "s26 query-params",
        ),
        (
            "CREATE DICTIONARY",
            "DDL: functions/chdict.register_dictionary — attributes "
            "become inlined literal-map lookups for the dictGet "
            "family; MAX_CELLS size dispatch raises naming the "
            "broadcast dim join; SYSTEM RELOAD = re-registration",
            "s25 dictionary",
        ),
        (
            "ANY",
            "statement: LEFT/INNER ANY JOIN -> build-side keep-one "
            "collapse under the table's registered deterministic order "
            "(register_any_order); RIGHT/FULL ANY raise",
            "c22 any-join / s16",
        ),
        (
            "ARRAY JOIN",
            "statement: FROM <t> [LEFT] ARRAY JOIN x [AS a][, y AS b] "
            "-> LATERAL VIEW [OUTER] explode; lockstep multi-item via "
            "arrays_zip; bare items use CH replacement semantics "
            "(* EXCEPT). LEFT yields NULL elements (Spark is uniformly "
            "nullable); lockstep pads unequal lengths (CH throws)",
            "g21/g37 explode / s18",
        ),
        # tranche 3 custom forms
        ("dateDiff", "-> timestampdiff(UNIT, start, end)", "g6 date-arith"),
        ("avgWeighted", "-> sum(x*w)/sum(w)", "d12 stats-agg"),
        ("assumeNotNull", "identity (Spark is uniformly nullable)", "g8 null"),
        ("toNullable", "identity (Spark is uniformly nullable)", "g8 null"),
        (
            "formatDateTime",
            "literal %-format -> date_format Java pattern",
            "g4/g5 date",
        ),
        ("arrayPopBack", "-> slice(arr, 1, size-1)", "g11 array-core"),
        ("arrayPopFront", "-> slice(arr, 2, size-1)", "g11 array-core"),
        # tranche 4 custom forms
        (
            "topK",
            "parametric -> transform(approx_top_k(x, k), s -> s.item) "
            "(both approximate SpaceSaving-style sketches)",
            "d13/i17 top-k",
        ),
        (
            "windowFunnel",
            "parametric -> time-sorted collect_list fold (latest "
            "chain-start per level; strict_increase semantics)",
            "h6/h14 funnel",
        ),
        (
            "retention",
            "-> array(max(IF(c1)), max(IF(c1)) * max(IF(ci)) ...)",
            "h9 retention",
        ),
        (
            "toStartOfInterval",
            "literal INTERVAL n second/minute/hour/day -> epoch-grid "
            "div arithmetic (week/month raise with guidance)",
            "g4/g5 date",
        ),
        ("arrayFirst", "-> try_element_at(filter(arr, f), 1)", "g13"),
        ("arrayLast", "-> try_element_at(filter(arr, f), -1)", "g13"),
        (
            "monthName",
            "-> date_format(ts, 'MMMM') (Spark's own monthname() "
            "abbreviates; CH is the full name)",
            "g4/g5 date",
        ),
        (
            "range",
            "-> slice(sequence(0, greatest(n-1, 0)), 1, n) (1-arg form)",
            "g11 array-core",
        ),
        (
            "locate",
            "native: Spark's locate(needle, haystack) already matches "
            "CH/MySQL's needle-first order",
            "g1 string-core",
        ),
        (
            "e",
            "native: Spark's e() is the same Euler constant",
            "g7 math",
        ),
        ("arrayReverseSort", "-> sort_array(arr, false)", "g11"),
        ("arrayWithConstant", "arg-swap -> array_repeat(x, n)", "g11"),
        (
            "kurtPop",
            "-> kurtosis(x) + 3 (CH is raw m4/m2^2, Spark is excess)",
            "d12 stats-agg",
        ),
        # tranche 4 guided errors: loud ValueError carrying the exact
        # window-function / operator rewrite to paste instead
        (
            "runningDifference",
            "guided error -> x - lag(x, 1, x) OVER (ORDER BY ...)",
            "e2 lag-lead",
        ),
        (
            "runningAccumulate",
            "guided error -> sum(x) OVER (... ROWS UNBOUNDED PRECEDING)",
            "e3 running-sum",
        ),
        (
            "neighbor",
            "guided error -> lead/lag(x, offset) OVER (ORDER BY ...)",
            "e2 lag-lead",
        ),
        (
            "sequenceMatch",
            "guided error -> h10_sequence_match operator",
            "h10 sequence",
        ),
        (
            "sequenceCount",
            "guided error -> h10_sequence_match operator family",
            "h10 sequence",
        ),
        # tranche 7 custom forms (r12)
        (
            "arrayEnumerate",
            "-> sequence(1, size(arr)) (empty-array guarded)",
            "g11 array-core",
        ),
        (
            "arrayEnumerateDense",
            "-> dense rank by first appearance via "
            "array_position(array_distinct(arr), x)",
            "g11 array-core",
        ),
        (
            "hasSubstr",
            "-> exists over offsets: slice(a, i, |b|) = b "
            "(order-sensitive, unlike hasAll)",
            "g11 array-core",
        ),
        (
            "MD5",
            "-> unhex(md5(x)) (BINARY like CH; hex(MD5(x)) matches "
            "byte-for-byte — the bare names collide with Spark "
            "builtins of different return type)",
            "g10 hash",
        ),
        ("SHA1", "-> unhex(sha1(x))", "g10 hash"),
        ("SHA224", "-> unhex(sha2(x, 224))", "g10 hash"),
        ("SHA256", "-> unhex(sha2(x, 256))", "g10 hash"),
        ("sumDistinct", "-> sum(DISTINCT x)", "d3 count-distinct"),
        (
            "arrayFirstIndex",
            "lambda-first -> array_position(transform(arr, f), true), "
            "0 when absent",
            "g13 higher-order",
        ),
        (
            "accurateCast",
            "literal CH type -> CAST (range/precision divergence "
            "documented: CH throws on inexact, Spark truncates)",
            "a6/g14 casts",
        ),
        (
            "accurateCastOrNull",
            "literal CH type -> TRY_CAST",
            "a6/g14 casts",
        ),
        (
            "toDecimal32",
            "-> CAST(x AS DECIMAL(9, s)) (literal scale)",
            "a6/g14 casts",
        ),
        (
            "toDecimal64",
            "-> CAST(x AS DECIMAL(18, s)) (literal scale)",
            "a6/g14 casts",
        ),
        (
            "toDecimal128",
            "-> CAST(x AS DECIMAL(38, s)) (literal scale)",
            "a6/g14 casts",
        ),
        # tranche 7: the CREATE DICTIONARY analog (functions/chdict)
        (
            "dictGet",
            "registered dictionary -> inlined literal-map lookup with "
            "the CH attribute default on miss; unregistered -> guided "
            "error naming the broadcast dim join (chdict.MAX_CELLS "
            "size dispatch)",
            "s25 dictionary / c1 joins",
        ),
        (
            "dictGetOrDefault",
            "-> coalesce(map lookup, per-call default)",
            "s25 dictionary",
        ),
        (
            "dictGetOrNull",
            "-> bare map lookup (NULL on miss)",
            "s25 dictionary",
        ),
        (
            "dictHas",
            "-> array_contains over the dictionary key set",
            "s25 dictionary",
        ),
        (
            "dictGetString",
            "typed dictGet (declared-type checked; Int8/16/32/64, "
            "UInt64, Float32/64, Date, DateTime twins registered)",
            "s25 dictionary",
        ),
        # tranche 7 guided errors
        (
            "rowNumberInAllBlocks",
            "guided error -> row_number() OVER (ORDER BY ...)",
            "e1 row-number",
        ),
        (
            "blockNumber",
            "guided error (CH block introspection; no distributed "
            "analog)",
            "—",
        ),
        (
            "blockSize",
            "guided error (CH block introspection)",
            "—",
        ),
        (
            "arrayReduce",
            "guided error -> aggregate(arr, init, fold) / arraySum "
            "family",
            "g13 higher-order",
        ),
        (
            "anyHeavy",
            "guided error -> topK(1)(x) / i17_topk_sketch",
            "i17 top-k",
        ),
    ]
)

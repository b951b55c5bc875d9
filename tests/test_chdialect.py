"""CH-dialect layer (functions/chdialect.py): translator rewrites,
scalar-name registration, and the no-Python-UDF plan guarantee."""

from __future__ import annotations

import contextlib
import datetime

import pytest

from mysql_to_clickhouse_spark.functions.chdialect import (
    _SCALAR_UDFS,
    CH_FUNCTION_DOC,
    ch_sql,
    register_ch_functions,
    translate_ch_sql,
)
from mysql_to_clickhouse_spark.registry import all_queries
from mysql_to_clickhouse_spark.tables import load

from tests.conftest import SMOKE_SF_DIR, TEST_SF_DIR


# ---------------------------------------------------------------------------
# translator: pure text-to-text
# ---------------------------------------------------------------------------

CASES = [
    # plain renames
    ("uniq(x)", "approx_count_distinct(x)"),
    ("argMax(a, b)", "max_by(a, b)"),
    ("argMin(a, b)", "min_by(a, b)"),
    ("groupUniqArray(x)", "collect_set(x)"),
    ("arrayJoin(arr)", "explode(arr)"),
    # countIf arities
    ("countIf(a > 1)", "count_if(a > 1)"),
    ("countIf(x, a > 1)", "count(CASE WHEN (a > 1) THEN (x) END)"),
    # -If combinators
    (
        "sumIf(v, t = 'p')",
        "sum(CASE WHEN (t = 'p') THEN (v) END)",
    ),
    ("avgIf(v, c)", "avg(CASE WHEN (c) THEN (v) END)"),
    # uniqExact single and multi
    ("uniqExact(x)", "count(DISTINCT x)"),
    ("uniqExact(a, b)", "count(DISTINCT a, b)"),
    # parametric quantiles
    ("quantileExact(0.9)(v)", "percentile((v), 0.9)"),
    ("quantile(0.5)(v)", "percentile_approx((v), 0.5)"),
    ("quantile(v)", "percentile_approx((v), 0.5)"),  # CH default level
    (
        "quantiles(0.25, 0.75)(v)",
        "percentile_approx((v), array(0.25, 0.75))",
    ),
    ("quantilesExact(0.5)(v)", "percentile((v), array(0.5))"),
    # multiIf -> CASE chain
    (
        "multiIf(a, 1, b, 2, 3)",
        "CASE WHEN (a) THEN (1) WHEN (b) THEN (2) ELSE (3) END",
    ),
    # typed casts keep the argument type open
    ("toInt64(v)", "CAST((v) AS BIGINT)"),
    ("toString(v)", "CAST((v) AS STRING)"),
    # nesting rewrites inside arguments
    (
        "argMax(toInt64(a), sumIf(v, c))",
        "max_by(CAST((a) AS BIGINT), sum(CASE WHEN (c) THEN (v) END))",
    ),
    # string literals and backtick identifiers pass through untouched;
    # a DOUBLE-quoted token is a CH identifier and becomes a Spark
    # backtick identifier (to Spark it would be a string literal — r12)
    ("'countIf(x)'", "'countIf(x)'"),
    ('"uniq"(x)', "`uniq`(x)"),
    ("`argMax`", "`argMax`"),
    # identifier that merely CONTAINS a CH name is not a call
    ("colcountIf + countIfcol", "colcountIf + countIfcol"),
    # a known name without parens is an identifier, not a call
    ("SELECT uniq FROM t", "SELECT uniq FROM t"),
    # --- tranche 2: renames ---
    ("any(x)", "any_value(x)"),
    ("stddevPop(v)", "stddev_pop(v)"),
    ("covarSamp(a, b)", "covar_samp(a, b)"),
    ("has(arr, 3)", "array_contains(arr, 3)"),
    ("indexOf(arr, 'x')", "array_position(arr, 'x')"),
    ("arrayElement(arr, 1)", "element_at(arr, 1)"),
    ("replaceRegexpAll(s, 'a+', 'b')", "regexp_replace(s, 'a+', 'b')"),
    ("match(s, '^ab')", "rlike(s, '^ab')"),
    ("modulo(a, 3)", "mod(a, 3)"),
    # --- tranche 2: combinators / specials ---
    ("anyIf(x, c)", "any_value(CASE WHEN (c) THEN (x) END)"),
    (
        "uniqIf(u, v > 1)",
        "approx_count_distinct(CASE WHEN (v > 1) THEN (u) END)",
    ),
    (
        "uniqExactIf(u, v > 1)",
        "count(DISTINCT CASE WHEN (v > 1) THEN (u) END)",
    ),
    # --- tranche 2: unsigned casts ---
    ("toUInt32(v)", "CAST((v) AS BIGINT)"),
    ("toUInt8(v)", "CAST((v) AS SMALLINT)"),
    ("toDateTime64(v)", "CAST((v) AS TIMESTAMP)"),
    # --- tranche 2: median family ---
    ("median(v)", "percentile_approx((v), 0.5)"),
    ("medianExact(v)", "percentile((v), 0.5)"),
    # --- tranche 2: higher-order arg swap (CH lambda-first) ---
    ("arrayMap(x -> x + 1, arr)", "transform((arr), x -> x + 1)"),
    ("arrayFilter(x -> x > 0, arr)", "filter((arr), x -> x > 0)"),
    ("arrayExists(x -> x = 2, arr)", "exists((arr), x -> x = 2)"),
    ("arrayAll(x -> x > 0, arr)", "forall((arr), x -> x > 0)"),
    ("arrayCount(x -> x > 1, arr)", "size(filter((arr), x -> x > 1))"),
    ("arrayUniq(arr)", "size(array_distinct(arr))"),
    # nested: lambda bodies are translated too
    (
        "arrayMap(x -> toInt64(x), splitByChar(',', s))",
        "transform((split((s), concat('\\\\Q', (','), '\\\\E'))), "
        "x -> CAST((x) AS BIGINT))",
    ),
]


@pytest.mark.parametrize(
    "src",
    [
        "arrayMap(arr)",  # missing lambda
        "arrayFilter(arr, x -> x)",  # array-first is the SPARK order
        "uniqExactIf(x)",
        "arrayUniq(a, b)",
    ],
)
def test_translate_bad_arity_is_loud(src):
    with pytest.raises(ValueError):
        translate_ch_sql(src)


@pytest.mark.parametrize("src,expected", CASES)
def test_translate(src, expected):
    assert translate_ch_sql(src) == expected


def test_translate_unbalanced_raises():
    with pytest.raises(ValueError, match="unbalanced"):
        translate_ch_sql("countIf(a > 1")


def test_split_translates_for_generate():
    out = translate_ch_sql("arrayJoin(splitByChar(',', s))")
    assert out == "explode(split((s), concat('\\\\Q', (','), '\\\\E')))"


# ---------------------------------------------------------------------------
# registration: every scalar name resolves, values match CH semantics
# ---------------------------------------------------------------------------


def test_scalar_names_resolve_and_match(spark):
    register_ch_functions(spark)
    row = spark.sql(
        "SELECT toYYYYMM(TIMESTAMP '1996-03-05 13:45:56') AS ym,"
        "       toYYYYMMDD(TIMESTAMP '1996-03-05 13:45:56') AS ymd,"
        "       toDayOfWeek(TIMESTAMP '1996-03-05 00:00:00') AS tue,"
        "       toDayOfWeek(TIMESTAMP '1996-03-03 00:00:00') AS sun,"
        "       toMonday(TIMESTAMP '1996-03-05 00:00:00') AS mon,"
        "       toStartOfQuarter(TIMESTAMP '1996-05-20 00:00:00') AS q,"
        "       JSONExtractInt('{\"k\": 42}', 'k') AS k,"
        "       JSONHas('{\"k\": 42}', 'nope') AS has_nope,"
        "       splitByChar('|', 'a|b') AS parts,"
        "       arrayStringConcat(array('a', 'b'), '-') AS joined,"
        "       intDiv(7, 2) AS idiv,"
        "       intDivOrZero(7, 0) AS idiv0,"
        "       notEmpty('') AS ne,"
        "       toUnixTimestamp(TIMESTAMP '1970-01-01 00:01:00') AS ut"
    ).collect()[0]
    assert row.ym == 199603 and row.ymd == 19960305
    # CH ISO numbering: Monday=1 .. Sunday=7 (1996-03-05 was a Tuesday,
    # 1996-03-03 a Sunday)
    assert row.tue == 2 and row.sun == 7
    assert str(row.mon) == "1996-03-04"
    assert str(row.q) == "1996-04-01"
    assert row.k == 42 and row.has_nope is False
    assert row.parts == ["a", "b"] and row.joined == "a-b"
    assert row.idiv == 3 and row.idiv0 == 0
    assert row.ne is False
    assert row.ut == 60


def test_registered_names_are_inlined_not_python(spark):
    """The whole point of SQL-UDF registration: Catalyst inlines the
    body, so the plan has NO Python evaluation nodes and the projection
    stays inside whole-stage codegen."""
    load(spark, TEST_SF_DIR, "events").createOrReplaceTempView("events")
    df = ch_sql(
        spark,
        "SELECT toYYYYMM(ts) AS ym, countIf(event_type = 'view') AS v "
        "FROM events GROUP BY toYYYYMM(ts)",
    )
    df.collect()  # materialize so AQE reports the FINAL plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # "*(n)" is the whole-stage-codegen marker in the final-plan format
    assert "*(" in plan


def test_docs_table_covers_every_surfaced_name():
    documented = {name for name, _mech, _op in CH_FUNCTION_DOC}
    for name in _SCALAR_UDFS:
        assert name in documented, name
    for name in ("countIf", "uniqExact", "multiIf", "argMax", "quantile"):
        assert name in documented, name


def test_ch_dialect_doc_fresh():
    """docs/CH_DIALECT.md freshness guard (same discipline as PLANS.md):
    every surfaced name appears in the rendered table, so the doc can't
    silently go stale when a name is added."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    doc = open(os.path.join(repo, "docs", "CH_DIALECT.md")).read()
    missing = [n for n, _m, _o in CH_FUNCTION_DOC if f"`{n}`" not in doc]
    assert not missing, (
        f"docs/CH_DIALECT.md stale; run scripts/gen_chdialect_doc.py: {missing}"
    )


# ---------------------------------------------------------------------------
# statement-level idioms: PREWHERE and FROM <t> FINAL
# ---------------------------------------------------------------------------

STMT_CASES = [
    ("SELECT a FROM t PREWHERE x > 1", "SELECT a FROM t WHERE x > 1"),
    # OR in the original WHERE must stay grouped
    (
        "SELECT a FROM t PREWHERE x > 1 WHERE y = 2 OR z = 3 GROUP BY a",
        "SELECT a FROM t WHERE (x > 1) AND (y = 2 OR z = 3) GROUP BY a",
    ),
    # subquery PREWHERE rewrites inside its own clause only
    (
        "SELECT (SELECT max(b) FROM u PREWHERE q=1) AS m FROM t WHERE c=2",
        "SELECT (SELECT max(b) FROM u WHERE q=1) AS m FROM t WHERE c=2",
    ),
    # a column/alias merely named final is not the FINAL modifier
    ("SELECT x AS final FROM t", "SELECT x AS final FROM t"),
    # GLOBAL / default-ALL join strictness drop; plain identifiers stay
    (
        "SELECT a FROM t GLOBAL JOIN u ON t.k = u.k",
        "SELECT a FROM t JOIN u ON t.k = u.k",
    ),
    (
        "SELECT a FROM t GLOBAL LEFT JOIN u ON t.k = u.k",
        "SELECT a FROM t LEFT JOIN u ON t.k = u.k",
    ),
    (
        "SELECT a FROM t ALL INNER JOIN u ON t.k = u.k",
        "SELECT a FROM t INNER JOIN u ON t.k = u.k",
    ),
    ("SELECT global FROM t", "SELECT global FROM t"),
    ("SELECT a FROM t UNION ALL SELECT a FROM u",
     "SELECT a FROM t UNION ALL SELECT a FROM u"),
    # trailing engine knobs / wire-format directives stripped
    (
        "SELECT countIf(c) AS n FROM t SETTINGS max_threads = 8",
        "SELECT count_if(c) AS n FROM t",
    ),
    (
        "SELECT a FROM t ORDER BY a FORMAT JSONEachRow",
        "SELECT a FROM t ORDER BY a",
    ),
    # a string containing 'SETTINGS' is data, not a clause
    (
        "SELECT 'SETTINGS x' AS s FROM t",
        "SELECT 'SETTINGS x' AS s FROM t",
    ),
]


def test_any_join_rewrites_to_build_side_collapse():
    for src in (
        "SELECT a FROM t LEFT ANY JOIN orders o ON t.k = o.o_custkey",
        "SELECT a FROM t ANY LEFT JOIN orders o ON t.k = o.o_custkey",
    ):
        out = translate_ch_sql(src)
        assert "ANY" not in out.upper().replace("ANY_VALUE", "")
        assert "PARTITION BY o_custkey" in out
        assert "ORDER BY o_orderdate, o_orderkey" in out
        assert out.endswith("ON t.k = o.o_custkey")


def test_any_join_using_and_inner_forms():
    out = translate_ch_sql(
        "SELECT c_custkey FROM customer ANY JOIN orders USING (o_custkey)"
    )
    assert "PARTITION BY o_custkey" in out and out.endswith(
        "USING (o_custkey)"
    )


def test_any_join_unregistered_table_is_loud():
    with pytest.raises(ValueError, match="register_any_order"):
        translate_ch_sql("SELECT a FROM t ANY JOIN u ON t.k = u.k")


def test_right_any_join_is_loud():
    with pytest.raises(ValueError, match="RIGHT ANY"):
        translate_ch_sql(
            "SELECT a FROM t RIGHT ANY JOIN orders o ON t.k = o.o_custkey"
        )


def test_any_join_non_equi_condition_is_loud():
    with pytest.raises(ValueError, match="equalities"):
        translate_ch_sql(
            "SELECT a FROM t ANY JOIN orders o ON t.k < o.o_custkey"
        )


@pytest.mark.parametrize("src,expected", STMT_CASES)
def test_statement_rewrites(src, expected):
    assert translate_ch_sql(src) == expected


def test_final_expands_registered_spec():
    out = translate_ch_sql("SELECT countIf(x) FROM events FINAL")
    assert "ROW_NUMBER() OVER (PARTITION BY user_id" in out
    assert "NOT (event_type = 'error')" in out
    assert out.rstrip().endswith(") events")
    assert "FINAL" not in out


def test_final_unknown_table_is_loud():
    with pytest.raises(ValueError, match="no FinalSpec registered"):
        translate_ch_sql("SELECT 1 FROM orders FINAL")


def test_final_prewhere_compose_end_to_end(spark):
    """FROM events FINAL PREWHERE ... through a live session must equal
    the hand-built a4-style collapse with the merged predicate."""
    load(spark, TEST_SF_DIR, "events").createOrReplaceTempView("events")
    got = ch_sql(
        spark,
        "SELECT COUNT(*) AS n, uniqExact(user_id) AS u "
        "FROM events FINAL PREWHERE user_id % 3 = 1 WHERE value > 10.0",
    ).collect()[0]
    want = spark.sql(
        """
        WITH final AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY user_id
              ORDER BY unix_micros(ts) DESC, event_id DESC) AS rn
            FROM events
          ) WHERE rn = 1 AND event_type != 'error'
        )
        SELECT COUNT(*) AS n, COUNT(DISTINCT user_id) AS u
        FROM final WHERE user_id % 3 = 1 AND value > 10.0
        """
    ).collect()[0]
    assert (got.n, got.u) == (want.n, want.u)


def test_tranche2_scalar_names_resolve_and_match(spark):
    register_ch_functions(spark)
    row = spark.sql(
        "SELECT addDays(TIMESTAMP '1996-02-28 12:00:00', 2) AS leap,"
        "       subtractMonths(TIMESTAMP '1996-03-31 00:00:00', 1) AS subm,"
        "       addHours(TIMESTAMP '1996-03-05 23:30:00', 2) AS rollover,"
        "       bitAnd(12, 10) AS ba, bitOr(12, 10) AS bo,"
        "       bitXor(12, 10) AS bx,"
        "       extractAll('a12b345c', '[0-9]+') AS nums,"
        "       sipHash64('x') AS h1, cityHash64('x') AS h2"
    ).collect()[0]
    # 1996 is a leap year: Feb 28 + 2 days = Mar 1
    assert str(row.leap) == "1996-03-01 12:00:00"
    # CH addMonths clamps to month end, same as Spark timestampadd
    assert str(row.subm) == "1996-02-29 00:00:00"
    assert str(row.rollover) == "1996-03-06 01:30:00"
    assert (row.ba, row.bo, row.bx) == (8, 14, 6)
    assert row.nums == ["12", "345"]
    # different seeds: the two hash names must not collide
    assert row.h1 != row.h2


def test_tranche2_translated_names_run_end_to_end(spark):
    """Every translation-mechanism tranche-2 name through a live
    session over real data: values checked against the equivalent
    Spark-native restatement."""
    load(spark, TEST_SF_DIR, "events").createOrReplaceTempView("events")
    got = ch_sql(
        spark,
        "SELECT uniqExactIf(user_id, value > 100.0) AS hi,"
        "       medianExact(toInt64(user_id % 1000)) AS med,"
        "       max(arrayUniq(arrayMap(x -> toInt64(x) % 3,"
        "                     extractAll(props, '[0-9]+')))) AS au,"
        "       sum(toInt64(arrayCount(x -> length(x) > 1,"
        "                   extractAll(props, '[0-9]+')))) AS ac,"
        "       stddevPop(toInt64(user_id % 7)) AS sd "
        "FROM events WHERE match(event_type, '^(view|click)$') "
        "  AND isNotNull(props)",
    ).collect()[0]
    want = spark.sql(
        "SELECT count(DISTINCT CASE WHEN value > 100.0 THEN user_id END)"
        "         AS hi,"
        "       percentile(CAST(user_id % 1000 AS BIGINT), 0.5) AS med,"
        "       max(size(array_distinct(transform("
        "         regexp_extract_all(props, '[0-9]+', 0),"
        "         x -> CAST(x AS BIGINT) % 3)))) AS au,"
        "       sum(CAST(size(filter(regexp_extract_all(props, '[0-9]+', 0),"
        "         x -> length(x) > 1)) AS BIGINT)) AS ac,"
        "       stddev_pop(CAST(user_id % 7 AS BIGINT)) AS sd "
        "FROM events WHERE event_type RLIKE '^(view|click)$' "
        "  AND props IS NOT NULL",
    ).collect()[0]
    assert got == want


# ---------------------------------------------------------------------------
# LIMIT n BY — the CH first-n-per-key idiom
# ---------------------------------------------------------------------------

def test_limit_by_rewrite_shape():
    out = translate_ch_sql(
        "SELECT a, b FROM t ORDER BY b DESC LIMIT 2 BY a LIMIT 10"
    )
    assert out == (
        "SELECT * EXCEPT (__lb, __kb0, __ob0) FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY __kb0 "
        "ORDER BY __ob0 DESC) AS __lb FROM ("
        "SELECT a, b, (a) AS __kb0, (b) AS __ob0 FROM t) __lbi) __lbo "
        "WHERE __lb <= 2 ORDER BY __ob0 DESC LIMIT 10"
    )


def test_limit_by_without_order_uses_keys():
    out = translate_ch_sql("SELECT a, n FROM t LIMIT 1 BY a, n")
    assert "PARTITION BY __kb0, __kb1 ORDER BY __kb0, __kb1" in out
    assert out.endswith("WHERE __lb <= 1")


def test_plain_limit_untouched():
    assert translate_ch_sql("SELECT a FROM t LIMIT 5") == (
        "SELECT a FROM t LIMIT 5"
    )


def test_limit_by_offset_form_is_loud():
    with pytest.raises(ValueError, match="offset"):
        translate_ch_sql("SELECT a FROM t LIMIT 2, 3 BY a")


def test_limit_by_in_subquery_is_loud():
    with pytest.raises(ValueError, match="subquery"):
        translate_ch_sql(
            "SELECT * FROM (SELECT a FROM t LIMIT 2 BY a) q"
        )


def test_limit_by_end_to_end(spark):
    """LIMIT BY through a live session: first-2-per-type by value must
    equal the hand-written ranked window."""
    load(spark, TEST_SF_DIR, "events").createOrReplaceTempView("events")
    got = ch_sql(
        spark,
        "SELECT event_type, event_id FROM events "
        "ORDER BY value DESC, event_id LIMIT 2 BY event_type",
    ).toPandas()
    want = spark.sql(
        "SELECT event_type, event_id FROM ("
        "SELECT event_type, event_id, ROW_NUMBER() OVER ("
        "PARTITION BY event_type ORDER BY value DESC, event_id) AS rn "
        "FROM events) WHERE rn <= 2"
    ).toPandas()
    got_s = sorted(map(tuple, got.itertuples(index=False)))
    want_s = sorted(map(tuple, want.itertuples(index=False)))
    assert got_s == want_s


# ---------------------------------------------------------------------------
# SAMPLE — deterministic hash-band sampling (a32 statement form)
# ---------------------------------------------------------------------------

def test_sample_rewrite_shape():
    out = translate_ch_sql("SELECT COUNT(*) AS n FROM events SAMPLE 1/8")
    assert out == (
        "SELECT COUNT(*) AS n FROM (SELECT * FROM events WHERE "
        "conv(substring(md5(CAST(event_id AS STRING)), 1, 8), 16, 10)"
        " >= 0 AND "
        "conv(substring(md5(CAST(event_id AS STRING)), 1, 8), 16, 10)"
        " < 536870912) events"
    )


def test_sample_offset_shifts_band():
    out = translate_ch_sql(
        "SELECT 1 FROM events SAMPLE 1/8 OFFSET 1/4"
    )
    assert ">= 1073741824" in out and "< 1610612736" in out


def test_sample_decimal_fraction():
    out = translate_ch_sql("SELECT 1 FROM events SAMPLE 0.5")
    assert "< 2147483648" in out


def test_sample_composes_with_final():
    out = translate_ch_sql("SELECT 1 FROM events FINAL SAMPLE 1/2")
    # FINAL expands INSIDE the sample subquery: collapse, then band
    assert "ROW_NUMBER() OVER (PARTITION BY user_id" in out
    assert "conv(substring(md5(" in out
    assert "FINAL" not in out


def test_sample_rowcount_form_is_loud():
    with pytest.raises(ValueError, match="row count"):
        translate_ch_sql("SELECT 1 FROM events SAMPLE 1000")


def test_sample_unregistered_table_is_loud():
    with pytest.raises(ValueError, match="no sample key"):
        translate_ch_sql("SELECT 1 FROM orders SAMPLE 1/8")


def test_sample_band_matches_a32_operator(spark):
    """The statement form must pick EXACTLY a32's rows: same key, same
    md5 band arithmetic — SAMPLE 1/8 OFFSET 1/4 == a32's band."""
    from mysql_to_clickhouse_spark.registry import all_queries

    load(spark, TEST_SF_DIR, "events").createOrReplaceTempView("events")
    got = ch_sql(
        spark,
        "SELECT COUNT(*) AS n, COALESCE(SUM(user_id), 0) AS s "
        "FROM events SAMPLE 1/8 OFFSET 1/4",
    ).collect()[0]
    a32 = (
        all_queries()["a32_sample_clause"]
        .fn(spark, TEST_SF_DIR)
        .agg({"sample_rows": "sum"})
        .collect()[0][0]
    )
    assert got.n == a32


# ---------------------------------------------------------------------------
# r10 ADVICE fixes: comma-join FINAL, keyword-adjacent array literals,
# modern-CH %M
# ---------------------------------------------------------------------------


def test_final_comma_join_applies_to_second_table():
    """'FROM a, b FINAL' is a comma join — FINAL collapses the table it
    FOLLOWS (CH semantics), it is NOT 'FROM a AS b' (which would drop
    `a`'s partner and collapse the wrong table; ADVICE r9)."""
    out = translate_ch_sql("SELECT * FROM orders, events FINAL")
    assert "FROM orders," in out  # first table survives untouched
    assert "PARTITION BY user_id" in out  # events collapsed
    assert out.rstrip().endswith(") events")  # aliased back to itself


def test_final_comma_join_with_alias_forms():
    out = translate_ch_sql("SELECT * FROM orders o, events AS e FINAL")
    assert "FROM orders o," in out
    assert out.rstrip().endswith(") e")
    out2 = translate_ch_sql("SELECT * FROM orders o, events e FINAL")
    assert "FROM orders o," in out2
    assert out2.rstrip().endswith(") e")


def test_select_list_final_alias_untouched():
    """'SELECT a, b final' is a plain column alias — the comma walk
    anchors to SELECT, not FROM, so the text passes through."""
    src = "SELECT a, b final FROM orders"
    assert translate_ch_sql(src) == src


def test_array_literal_after_keywords():
    """'[' after SELECT/IN/THEN is a literal in expression position,
    not element access (ADVICE r9); IN gets a value LIST."""
    assert translate_ch_sql("SELECT [1,2,3]") == "SELECT array(1, 2, 3)"
    assert (
        translate_ch_sql("SELECT x FROM t WHERE x IN [1,2]")
        == "SELECT x FROM t WHERE x IN (1, 2)"
    )
    assert (
        translate_ch_sql("SELECT CASE WHEN c THEN [1] ELSE [2] END")
        == "SELECT CASE WHEN c THEN array(1) ELSE array(2) END"
    )
    # element access still passes through
    assert translate_ch_sql("SELECT arr[1] FROM t") == "SELECT arr[1] FROM t"
    assert (
        translate_ch_sql("SELECT f(x)[2] FROM t") == "SELECT f(x)[2] FROM t"
    )


def test_format_datetime_m_is_month_name():
    """%M follows modern CH (>=23.x default): full month name. %i is
    minutes (ADVICE r9)."""
    out = translate_ch_sql("SELECT formatDateTime(ts, '%H:%i %M') FROM t")
    assert "HH:mm MMMM" in out


# ---------------------------------------------------------------------------
# statement-level ARRAY JOIN (r9 verdict gap #3)
# ---------------------------------------------------------------------------


def test_array_join_aliased_single_splices_lateral_view():
    out = translate_ch_sql(
        "SELECT doc_id, w FROM t ARRAY JOIN ws AS w WHERE length(w) > 4"
    )
    assert "LATERAL VIEW explode(ws) __ajv AS w" in out
    assert "ARRAY" not in out.upper().replace("ARRAYS_ZIP", "")
    out_l = translate_ch_sql("SELECT w FROM t LEFT ARRAY JOIN ws AS w")
    assert "LATERAL VIEW OUTER explode(ws)" in out_l


def test_array_join_bare_replaces_column():
    out = translate_ch_sql("SELECT doc_id, ws FROM t ARRAY JOIN ws")
    assert "* EXCEPT (ws, __aj)" in out
    assert "__aj AS ws" in out
    assert out.rstrip().endswith("t")  # subquery aliased back to table


def test_array_join_lockstep_zips():
    out = translate_ch_sql(
        "SELECT doc_id, a, b FROM t ARRAY JOIN xs AS a, ys AS b"
    )
    assert "arrays_zip(xs, ys)" in out
    assert "__aj.xs AS a" in out and "__aj.ys AS b" in out
    # mixed bare + aliased: bare column replaced, aliased added
    out2 = translate_ch_sql("SELECT xs, b FROM t ARRAY JOIN xs, ys AS b")
    assert "__aj.xs AS xs" in out2 and "EXCEPT (__aj, xs)" in out2


def test_array_join_unsupported_shapes_raise():
    with pytest.raises(ValueError, match="plain FROM"):
        translate_ch_sql("SELECT * FROM (SELECT 1) s ARRAY JOIN xs")
    with pytest.raises(ValueError, match="bare item"):
        translate_ch_sql("SELECT * FROM t ARRAY JOIN arrayMap(x->x, xs)")
    with pytest.raises(ValueError, match="duplicate"):
        translate_ch_sql("SELECT * FROM t ARRAY JOIN xs AS a, xs AS b")


_AJ_PARITY = [
    # (ch text, duckdb twin) — arrays built per-row from documents.text
    (
        """WITH t AS (SELECT doc_id, splitByChar(' ', text) AS ws
           FROM documents)
           SELECT doc_id, w FROM t ARRAY JOIN ws AS w
           WHERE length(w) > 4 ORDER BY doc_id, w""",
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents),
           u AS (SELECT doc_id, UNNEST(ws) AS w FROM t)
           SELECT doc_id, w FROM u WHERE length(w) > 4
           ORDER BY doc_id, w""",
    ),
    (
        # LEFT keeps empty-array docs as NULL-element rows
        """WITH t AS (SELECT doc_id,
             arrayFilter(w -> length(w) >= 9, splitByChar(' ', text)) AS ws
           FROM documents)
           SELECT doc_id, w FROM t LEFT ARRAY JOIN ws AS w
           ORDER BY doc_id, w""",
        """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '),
                         w -> length(w) >= 9) AS ws FROM documents),
           u AS (SELECT doc_id,
             CASE WHEN len(ws) = 0 THEN [NULL] ELSE ws END AS ws2 FROM t)
           SELECT doc_id, UNNEST(ws2) AS w FROM u ORDER BY doc_id, w""",
    ),
    (
        # bare replacement + aggregation over the element
        """WITH t AS (SELECT doc_id, splitByChar(' ', text) AS ws
           FROM documents)
           SELECT ws AS w, count(*) AS n FROM t ARRAY JOIN ws
           GROUP BY ws ORDER BY w""",
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents),
           u AS (SELECT UNNEST(ws) AS w FROM t)
           SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM u
           GROUP BY w ORDER BY w""",
    ),
    (
        # lockstep zip: element + its position-paired length
        """WITH t AS (SELECT doc_id, splitByChar(' ', text) AS ws FROM
           documents), p AS (SELECT doc_id, ws,
             arrayMap(w -> length(w), ws) AS ls FROM t)
           SELECT doc_id, w, toInt64(l) AS l
           FROM p ARRAY JOIN ws AS w, ls AS l
           WHERE l >= 8 ORDER BY doc_id, w, l""",
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM
           documents), p AS (SELECT doc_id, ws,
             list_transform(ws, w -> length(w)) AS ls FROM t),
           u AS (SELECT doc_id, UNNEST(ws) AS w, UNNEST(ls) AS l FROM p)
           SELECT doc_id, w, CAST(l AS BIGINT) AS l FROM u
           WHERE l >= 8 ORDER BY doc_id, w, l""",
    ),
    (
        # expression item (aliased => splice path, no table needed)
        """SELECT doc_id, w FROM documents
           ARRAY JOIN splitByChar(' ', lang) AS w
           ORDER BY doc_id, w""",
        """WITH u AS (SELECT doc_id,
             UNNEST(string_split(lang, ' ')) AS w FROM documents)
           SELECT doc_id, w FROM u ORDER BY doc_id, w""",
    ),
]


@pytest.mark.parametrize("idx", range(len(_AJ_PARITY)))
def test_array_join_statement_parity(spark, duck, idx):
    from mysql_to_clickhouse_spark.verify import compare_frames

    load(spark, TEST_SF_DIR, "documents").createOrReplaceTempView(
        "documents"
    )
    ch_text, duck_text = _AJ_PARITY[idx]
    spark_pdf = ch_sql(spark, ch_text).toPandas()
    duck_pdf = duck.sql(duck_text).df()
    res = compare_frames(spark_pdf, duck_pdf)
    assert res.ok, f"divergence on CH text:\n{ch_text}\n{res.detail}"


# ---------------------------------------------------------------------------
# tranche 4 (round 10): frequency-ranked tail
# ---------------------------------------------------------------------------

_T4_CASES = [
    # (CH expression over `documents`/`events` literals, DuckDB twin)
    ("lowerUTF8('AbC')", "lower('AbC')"),
    ("upperUTF8('AbC')", "upper('AbC')"),
    ("mid('abcdef', 2, 3)", "substring('abcdef', 2, 3)"),
    ("substringIndex('a.b.c', '.', 2)", "'a.b'"),
    ("editDistance('kitten', 'sitting')", "CAST(3 AS INT)"),
    ("CAST(positionCaseInsensitive('Hello', 'LL') AS INT)", "CAST(3 AS INT)"),
    ("multiSearchAny('haystack', ['st', 'zz'])", "TRUE"),
    (
        "arrayStringConcat(splitByRegexp('[0-9]+', 'a1b22c'), ',')",
        "'a,b,c'",
    ),
    (
        "arrayStringConcat(splitByWhitespace('  a b  c'), ',')",
        "'a,b,c'",
    ),
    ("countMatches('a1b22c333', '[0-9]+')", "CAST(3 AS INT)"),
    ("clamp(7.0, 0.0, 5.0)", "CAST(5.0 AS DOUBLE)"),
    ("isZeroOrNull(0)", "TRUE"),
    ("isZeroOrNull(3)", "FALSE"),
    ("arrayProduct([2.0, 3.0, 4.0])", "CAST(24.0 AS DOUBLE)"),
    ("arrayDotProduct([1.0, 2.0], [3.0, 4.0])", "CAST(11.0 AS DOUBLE)"),
    ("arrayJaccardIndex([1, 2], [2, 3])", "CAST(1.0 / 3.0 AS DOUBLE)"),
    ("countEqual([1, 2, 2, 3], 2)", "CAST(2 AS INT)"),
    (
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "arrayCompact([1, 1, 2, 2, 3, 1])), ',')",
        "'1,2,3,1'",
    ),
    (
        "arrayStringConcat(arrayMap(x -> toString(x), range(4)), ',')",
        "'0,1,2,3'",
    ),
    ("size(range(0))", "CAST(0 AS INT)"),
    (
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "arrayReverseSort([2, 3, 1])), ',')",
        "'3,2,1'",
    ),
    (
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "arrayWithConstant(3, 7)), ',')",
        "'7,7,7'",
    ),
    ("arrayFirst(x -> x > 1, [1, 2, 3])", "CAST(2 AS INT)"),
    ("arrayLast(x -> x > 1, [1, 2, 3])", "CAST(3 AS INT)"),
    ("arrayFirst(x -> x > 9, [1, 2, 3])", "CAST(NULL AS INT)"),
    ("monthName(toDateTime('1995-03-04 05:06:07'))", "'March'"),
    (
        "CAST(toStartOfFiveMinutes(toDateTime('1995-03-04 05:17:33')) "
        "AS STRING)",
        "'1995-03-04 05:15:00'",
    ),
    (
        "CAST(timeSlot(toDateTime('1995-03-04 05:47:33')) AS STRING)",
        "'1995-03-04 05:30:00'",
    ),
    (
        "CAST(toStartOfInterval(toDateTime('1995-03-04 05:47:33'), "
        "INTERVAL 6 hour) AS STRING)",
        "'1995-03-04 00:00:00'",
    ),
    (
        "CAST(fromUnixTimestamp(794296053) AS STRING)",
        "'1995-03-04 05:47:33'",
    ),
    ("toUnixTimestamp64Milli(toDateTime('1995-03-04 05:47:33'))",
     "CAST(794296053000 AS BIGINT)"),
    ("CAST(today() AS STRING)", "CAST(current_date() AS VARCHAR)"),
    ("CAST(yesterday() AS STRING)",
     "CAST(current_date() - 1 AS VARCHAR)"),
]


@pytest.mark.parametrize("idx", range(len(_T4_CASES)))
def test_tranche4_names_match_duck(spark, duck, idx):
    from mysql_to_clickhouse_spark.verify import compare_frames

    ch_expr, dk_expr = _T4_CASES[idx]
    spark_pdf = ch_sql(spark, f"SELECT {ch_expr} AS r").toPandas()
    duck_pdf = duck.sql(f"SELECT {dk_expr} AS r").df()
    res = compare_frames(spark_pdf, duck_pdf)
    assert res.ok, f"{ch_expr} vs {dk_expr}: {res.detail}"


def test_tranche4_renames_translate():
    out = translate_ch_sql(
        "SELECT mapKeys(m), mapValues(m), mapContains(m, 1), "
        "tuple(a, b), uniqTheta(x), sumWithOverflow(x), skewPop(x), "
        "kurtPop(x), quantileTiming(0.9)(x), arrayZip(a, b) FROM t"
    )
    for frag in (
        "map_keys(m)", "map_values(m)", "map_contains_key(m, 1)",
        "struct(a, b)", "approx_count_distinct(x)", "sum(x)",
        "skewness(x)", "(kurtosis(x) + 3.0D)",
        "percentile_approx((x), 0.9)", "arrays_zip(a, b)",
    ):
        assert frag in out, (frag, out)


def test_tranche4_guided_errors():
    for name, call in [
        ("runningDifference", "runningDifference(x)"),
        ("runningAccumulate", "runningAccumulate(x)"),
        ("neighbor", "neighbor(x, 1)"),
        ("sequenceMatch", "sequenceMatch('(?1)(?2)')(ts, a, b)"),
        ("sequenceCount", "sequenceCount('(?1)(?2)')(ts, a, b)"),
    ]:
        with pytest.raises(ValueError, match=name):
            translate_ch_sql(f"SELECT {call} FROM t")


def test_topk_translates_to_approx_top_k(spark):
    out = translate_ch_sql("SELECT topK(3)(event_type) FROM events")
    assert "transform(approx_top_k((event_type), (3)), s -> s.item)" in out
    load(spark, TEST_SF_DIR, "events").createOrReplaceTempView("events")
    rows = ch_sql(
        spark, "SELECT topK(2)(event_type) AS top2 FROM events"
    ).collect()
    assert len(rows[0][0]) == 2  # two most frequent event types


def test_window_funnel_semantics(spark):
    """Hand-built event set pinning the fold semantics: chain within
    the window counts, an expired window doesn't, and a LATER restart
    of the funnel can still complete it (latest-start dominance)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(uid, sec, typ):
        return (uid, base + dt.timedelta(seconds=sec), typ)

    rows = [
        # u1: full chain inside 100 s window -> 3
        ev(1, 0, "view"), ev(1, 10, "click"), ev(1, 20, "purchase"),
        # u2: purchase outside the 100 s window from the only view -> 2
        ev(2, 0, "view"), ev(2, 10, "click"), ev(2, 200, "purchase"),
        # u3: first chain expires, later restart completes -> 3
        ev(3, 0, "view"), ev(3, 10, "click"),
        ev(3, 500, "view"), ev(3, 510, "click"), ev(3, 520, "purchase"),
        # u4: steps out of order -> 1
        ev(4, 0, "purchase"), ev(4, 10, "click"), ev(4, 20, "view"),
        # u5: no first step -> 0
        ev(5, 0, "click"), ev(5, 10, "purchase"),
    ]
    spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string"
    ).createOrReplaceTempView("wf_events")
    got = {
        r["user_id"]: r["lvl"]
        for r in ch_sql(
            spark,
            "SELECT user_id, windowFunnel(100)(ts, "
            "event_type = 'view', event_type = 'click', "
            "event_type = 'purchase') AS lvl "
            "FROM wf_events GROUP BY user_id",
        ).collect()
    }
    assert got == {1: 3, 2: 2, 3: 3, 4: 1, 5: 0}, got


def test_retention_translates_and_runs(spark):
    load(spark, TEST_SF_DIR, "events").createOrReplaceTempView("events")
    rows = ch_sql(
        spark,
        "SELECT retention(event_type = 'view', event_type = 'zzz') AS r "
        "FROM events",
    ).collect()
    assert list(rows[0][0]) == [1, 0]


# ---------------------------------------------------------------------------
# WITH TOTALS (s20) + parameterless count()
# ---------------------------------------------------------------------------


def test_with_totals_rewrites_to_grouping_sets():
    out = translate_ch_sql(
        "SELECT a, b, sum(v) FROM t GROUP BY a, b WITH TOTALS ORDER BY a"
    )
    assert "GROUPING SETS ((a, b), ())" in out
    assert "TOTALS" not in out


def test_with_totals_in_subquery_and_cte_with_untouched():
    out = translate_ch_sql(
        "SELECT * FROM (SELECT a, count() c FROM t GROUP BY a WITH TOTALS) q"
    )
    assert "GROUPING SETS ((a), ())" in out
    # a CTE's WITH is not a TOTALS: untouched
    same = "WITH x AS (SELECT 1) SELECT a FROM t GROUP BY a"
    assert translate_ch_sql(same) == same


def test_with_rollup_cube_pass_through():
    for mod in ("ROLLUP", "CUBE"):
        sql = f"SELECT a FROM t GROUP BY a WITH {mod}"
        assert translate_ch_sql(sql) == sql


def test_with_totals_having_raises():
    with pytest.raises(ValueError, match="totals_mode"):
        translate_ch_sql(
            "SELECT a, count() FROM t GROUP BY a WITH TOTALS "
            "HAVING count() > 2"
        )


def test_with_totals_no_keys_raises():
    with pytest.raises(ValueError, match="GROUP BY key"):
        translate_ch_sql("SELECT count() FROM t GROUP BY WITH TOTALS")


def test_parameterless_count_translates():
    out = translate_ch_sql("SELECT count() AS n, count(x), count(DISTINCT y) FROM t")
    assert out == "SELECT count(*) AS n, count(x), count(DISTINCT y) FROM t"


def test_with_totals_runs_and_matches_explicit_sets(spark):
    load(spark, TEST_SF_DIR, "events").createOrReplaceTempView("events")
    got = ch_sql(
        spark,
        "SELECT event_type, count() AS n FROM events "
        "GROUP BY event_type WITH TOTALS",
    ).collect()
    want = spark.sql(
        "SELECT event_type, count(*) AS n FROM events "
        "GROUP BY GROUPING SETS ((event_type), ())"
    ).collect()
    key = lambda r: (r[0] is None, r[0], r[1])  # noqa: E731
    assert sorted(map(tuple, got), key=key) == sorted(
        map(tuple, want), key=key
    )
    # exactly one totals row, equal to the table row count
    totals = [r for r in got if r["event_type"] is None]
    from mysql_to_clickhouse_spark.tables import load as _ld

    assert len(totals) == 1
    assert totals[0]["n"] == _ld(spark, TEST_SF_DIR, "events").count()


# ---------------------------------------------------------------------------
# tranche 5: map aggregates, vector distances, age, loud raises (s21)
# ---------------------------------------------------------------------------


def test_summap_family_vs_explode_reference(spark):
    df = spark.createDataFrame(
        [
            ("a", [1, 2], [10.0, 20.0]),
            ("a", [2, 3], [5.0, 7.0]),
            ("b", [1], [4.0]),
        ],
        "g string, ks array<int>, vs array<double>",
    )
    df.createOrReplaceTempView("t_maps")
    got = {
        r["g"]: (dict(r["sm"]), dict(r["mn"]), dict(r["mx"]))
        for r in ch_sql(
            spark,
            "SELECT g, sumMap(ks, vs) AS sm, minMap(ks, vs) AS mn, "
            "maxMap(ks, vs) AS mx FROM t_maps GROUP BY g",
        ).collect()
    }
    assert got["a"][0] == {1: 10.0, 2: 25.0, 3: 7.0}
    assert got["a"][1] == {1: 10.0, 2: 5.0, 3: 7.0}
    assert got["a"][2] == {1: 10.0, 2: 20.0, 3: 7.0}
    assert got["b"][0] == {1: 4.0}


def test_summap_integer_values_stay_exact(spark):
    """r11 ADVICE (low): sumMap sums in the NATIVE value type (CH
    semantics) — Int64 values above 2^53 keep exact sums instead of
    riding a lossy DOUBLE fold."""
    big = (1 << 60) + 1  # not representable as float64
    df = spark.createDataFrame(
        [("a", [1, 2], [big, 3]), ("a", [1], [big])],
        "g string, ks array<int>, vs array<bigint>",
    )
    df.createOrReplaceTempView("t_maps_int")
    row = ch_sql(
        spark,
        "SELECT g, sumMap(ks, vs) AS sm FROM t_maps_int GROUP BY g",
    ).collect()[0]
    sm = dict(row["sm"])
    assert sm == {1: 2 * big, 2: 3}
    assert isinstance(sm[1], int)


def test_torelative_floor_division_pre_epoch(spark):
    """r11 ADVICE (low): floor division on the epoch grid — pre-1970
    timestamps get distinct negative ordinals, not collapsed onto 0."""
    register_ch_functions(spark)
    row = spark.sql(
        "SELECT toRelativeDayNum(TIMESTAMP '1969-12-31 23:00:00') AS dm1, "
        "toRelativeDayNum(TIMESTAMP '1970-01-01 00:30:00') AS d0, "
        "toRelativeHourNum(TIMESTAMP '1969-12-31 23:30:00') AS hm1, "
        "toRelativeMinuteNum(TIMESTAMP '1969-12-31 23:59:30') AS mm1"
    ).collect()[0]
    assert (row.dm1, row.d0, row.hm1, row.mm1) == (-1, 0, -1, -1)


def test_vector_norms_and_distances(spark):
    import math

    row = ch_sql(
        spark,
        "SELECT L1Norm(array(3.0, -4.0)) AS l1, "
        "L2Norm(array(3.0, 4.0)) AS l2, "
        "LinfNorm(array(3.0, -4.0)) AS li, "
        "L1Distance(array(1.0, 2.0), array(4.0, -2.0)) AS d1, "
        "L2Distance(array(1.0, 2.0), array(4.0, 6.0)) AS d2, "
        "LinfDistance(array(1.0, 2.0), array(4.0, -2.0)) AS di, "
        "dotProduct(array(1.0, 2.0), array(3.0, 4.0)) AS dp, "
        "cosineDistance(array(1.0, 0.0), array(0.0, 1.0)) AS cd, "
        "cosineDistance(array(2.0, 0.0), array(5.0, 0.0)) AS cz",
    ).collect()[0]
    assert row["l1"] == 7.0 and row["l2"] == 5.0 and row["li"] == 4.0
    assert row["d1"] == 7.0 and row["d2"] == 5.0 and row["di"] == 4.0
    assert row["dp"] == 11.0
    assert math.isclose(row["cd"], 1.0) and math.isclose(row["cz"], 0.0)


def test_age_complete_units(spark):
    row = ch_sql(
        spark,
        "SELECT age('day', TIMESTAMP '2024-01-31 10:00:00', "
        "TIMESTAMP '2024-02-01 09:59:59') AS d0, "
        "age('day', TIMESTAMP '2024-01-31 10:00:00', "
        "TIMESTAMP '2024-02-01 10:00:00') AS d1, "
        "age('month', TIMESTAMP '2024-01-15 00:00:00', "
        "TIMESTAMP '2024-03-14 23:00:00') AS m1, "
        "age('year', TIMESTAMP '2020-02-29 00:00:00', "
        "TIMESTAMP '2024-02-29 00:00:00') AS y4, "
        "age('hour', TIMESTAMP '2024-01-01 10:30:00', "
        "TIMESTAMP '2024-01-01 09:00:00') AS neg",
    ).collect()[0]
    assert row["d0"] == 0 and row["d1"] == 1
    assert row["m1"] == 1
    assert row["y4"] == 4
    assert row["neg"] == -1  # truncated toward zero, signed


def test_order_dependent_aggregates_raise():
    for name in (
        "deltaSum(x)",
        "exponentialMovingAverage(0.5)(x, t)",
        "largestTriangleThreeBuckets(100)(t, x)",
        "intervalLengthSum(a, b)",
    ):
        with pytest.raises(ValueError, match="order-dependent"):
            translate_ch_sql(f"SELECT {name} FROM t")


def test_entropy_matches_manual(spark):
    import math

    spark.createDataFrame(
        [(1,), (1,), (2,), (3,)], "x int"
    ).createOrReplaceTempView("t_ent")
    got = ch_sql(spark, "SELECT entropy(x) AS h FROM t_ent").collect()[0]["h"]
    want = -(0.5 * math.log2(0.5) + 0.25 * math.log2(0.25) * 2)
    assert math.isclose(got, want)


# ---------------------------------------------------------------------------
# ALTER TABLE mutations (s23)
# ---------------------------------------------------------------------------


def test_mutation_delete_keeps_null_predicate_rows(spark):
    from mysql_to_clickhouse_spark.functions.chdialect import ch_mutation

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 200.0)], "id int, v double"
    )
    out = ch_mutation("ALTER TABLE t DELETE WHERE v > 100", df)
    assert sorted(r["id"] for r in out.collect()) == [1, 2]


def test_mutation_update_rewrites_under_condition_only(spark):
    from mysql_to_clickhouse_spark.functions.chdialect import ch_mutation

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 300.0, "b")], "id int, v double, tag string"
    )
    out = ch_mutation(
        "ALTER TABLE t UPDATE v = v * 2, tag = 'big' WHERE v > 100", df
    )
    got = {r["id"]: (r["v"], r["tag"]) for r in out.collect()}
    assert got == {1: (10.0, "a"), 2: (600.0, "big")}
    # dtype preserved
    assert dict(out.dtypes)["v"] == "double"


def test_mutation_update_translates_ch_functions(spark):
    from mysql_to_clickhouse_spark.functions.chdialect import (
        ch_mutation,
        register_ch_functions,
    )

    register_ch_functions(spark)
    df = spark.createDataFrame([(1, 7)], "id int, v int")
    out = ch_mutation(
        "ALTER TABLE t UPDATE v = intDiv(v, 2) WHERE v > 0", df
    )
    assert out.collect()[0]["v"] == 3


def test_mutation_update_snapshot_semantics(spark):
    """r11 ADVICE (high): gate + every assignment bind to the
    PRE-mutation row — one projection, never sequential withColumn.
    CH: 'UPDATE v = v/2, tag = big WHERE v > 100' on v=150 updates
    BOTH columns; 'UPDATE a = b, b = a' swaps."""
    from mysql_to_clickhouse_spark.functions.chdialect import ch_mutation

    df = spark.createDataFrame([(1, 150.0, "x")], "id int, v double, tag string")
    out = ch_mutation(
        "ALTER TABLE t UPDATE v = v / 2, tag = 'big' WHERE v > 100", df
    )
    got = out.collect()[0]
    assert (got["v"], got["tag"]) == (75.0, "big")

    df2 = spark.createDataFrame([(1, 20, 10)], "id int, a int, b int")
    out2 = ch_mutation("ALTER TABLE t UPDATE a = b, b = a WHERE id = 1", df2)
    got2 = out2.collect()[0]
    assert (got2["a"], got2["b"]) == (10, 20)


def test_mutation_where_1_unconditional(spark):
    """r11 ADVICE (medium): the documented 'WHERE 1' escape hatch must
    work — CH predicates are truthy integers."""
    from mysql_to_clickhouse_spark.functions.chdialect import ch_mutation

    df = spark.createDataFrame([(1, 5.0), (2, 6.0)], "id int, v double")
    assert ch_mutation("ALTER TABLE t DELETE WHERE 1", df).count() == 0
    out = ch_mutation("ALTER TABLE t UPDATE v = 0 WHERE 1", df)
    assert [r["v"] for r in out.collect()] == [0.0, 0.0]


def test_mutation_loud_errors(spark):
    from mysql_to_clickhouse_spark.functions.chdialect import ch_mutation

    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError, match="WHERE"):
        ch_mutation("ALTER TABLE t DELETE", df)
    with pytest.raises(ValueError, match="not in the table"):
        ch_mutation("ALTER TABLE t UPDATE nope = 1 WHERE id > 0", df)
    with pytest.raises(ValueError, match="mutation"):
        ch_mutation("OPTIMIZE TABLE t FINAL", df)


# ---------------------------------------------------------------------------
# tranche 6 + non-SELECT statement routing
# ---------------------------------------------------------------------------


def test_tranche6_scalars(spark):
    register_ch_functions(spark)
    row = spark.sql(
        "SELECT bitCount(255) AS bc, "
        "toRelativeDayNum(TIMESTAMP '1970-01-02 12:00:00') AS d1, "
        "toRelativeHourNum(TIMESTAMP '1970-01-01 03:30:00') AS h3, "
        "toRelativeMinuteNum(TIMESTAMP '1970-01-01 00:02:30') AS m2, "
        "normalizeQuery(\"SELECT a FROM t WHERE x = 42 AND s = 'abc' "
        "AND y IN (1, 2.5)\") AS nq"
    ).collect()[0]
    assert (row.bc, row.d1, row.h3, row.m2) == (8, 1, 3, 2)
    assert row.nq == "SELECT a FROM t WHERE x = ? AND s = ? AND y IN (?, ?)"


@pytest.mark.parametrize(
    "stmt,hint",
    [
        ("INSERT INTO t SELECT 1", "a5 batch-sink"),
        ("OPTIMIZE TABLE events FINAL", "a10_compaction"),
        ("TRUNCATE TABLE x", "parquet paths"),
        ("CREATE TABLE t (a Int64) ENGINE = MergeTree", "a5 sink"),
        ("ALTER TABLE t DELETE WHERE x > 1", "ch_mutation"),
        ("CREATE MATERIALIZED VIEW m AS SELECT 1",
         "create_materialized_view"),
        ("DROP TABLE old", "parquet paths"),
    ],
)
def test_non_select_statements_route_loudly(stmt, hint):
    with pytest.raises(ValueError, match="not a query"):
        try:
            translate_ch_sql(stmt)
        except ValueError as ex:
            assert hint in str(ex)
            raise


def test_cte_with_still_translates():
    src = "WITH x AS (SELECT 1 AS a) SELECT a FROM x"
    assert translate_ch_sql(src) == src


def test_with_totals_lexical_robustness():
    """Case/whitespace/newline variants of WITH TOTALS all rewrite; a
    quoted 'WITH TOTALS' string and a column named with_totals do
    not."""
    for src in (
        "select a, count() from t group by a with totals",
        "SELECT a, count() FROM t GROUP BY a\n  WITH\n  TOTALS\nORDER BY a",
        "SELECT a FROM t GROUP BY a WITH  TOTALS",
    ):
        out = translate_ch_sql(src)
        assert "GROUPING SETS" in out and "TOTALS" not in out.upper(), out
    for src in (
        "SELECT 'with totals' AS s, count() FROM t GROUP BY s",
        "SELECT with_totals, count() FROM t GROUP BY with_totals",
    ):
        assert "GROUPING SETS" not in translate_ch_sql(src)


def test_mutation_lexical_robustness(spark):
    from mysql_to_clickhouse_spark.functions.chdialect import ch_mutation

    df = spark.createDataFrame([(1, 5.0), (2, 150.0)], "id int, v double")
    for stmt in (
        "alter table t delete where v > 100",
        "ALTER  TABLE\n  t\n  DELETE\nWHERE v > 100",
    ):
        out = ch_mutation(stmt, df)
        assert sorted(r["id"] for r in out.collect()) == [1]
    out = ch_mutation(
        "alter table db.t update v = v + 1 where id = 1", df
    )
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {1: 6.0, 2: 150.0}


def test_array_join_inlines_scalar_udf_items(spark):
    """r11 fuzz find: Spark's Generate rejects SQL UDFs
    (UNSUPPORTED_SQL_UDF_USAGE), so an aliased ARRAY JOIN item naming
    a registered CH scalar (extractAll, splitByChar, ...) must be
    inlined to its builtin body before the LATERAL VIEW splice."""
    from mysql_to_clickhouse_spark.tables import load
    from tests.conftest import SMOKE_SF_DIR

    load(spark, SMOKE_SF_DIR, "events").createOrReplaceTempView("events")
    rows = ch_sql(
        spark,
        "SELECT count() AS n, COALESCE(sum(toInt64(d)), 0) AS s "
        "FROM events ARRAY JOIN extractAll(props, '[0-9]+') AS d",
    ).collect()
    assert rows[0]["n"] > 0 and rows[0]["s"] > 0
    # nested-call items inline recursively
    rows2 = ch_sql(
        spark,
        "SELECT count() AS n FROM events ARRAY JOIN "
        "splitByChar('_', concat(event_type, '_x')) AS w",
    ).collect()
    assert rows2[0]["n"] > 0


def test_comment_stripper_quote_in_comment():
    """r12 advisor fix: an apostrophe INSIDE a comment must not open a
    phantom string literal that swallows the rest of the statement
    (r11 shipped exactly that bug). Single-pass lexer: the earliest-
    starting token wins."""
    from mysql_to_clickhouse_spark.functions.chdialect import (
        _strip_sql_comments as strip,
    )

    # the r11 advisor repro — WHERE clause must survive
    got = strip("SELECT a FROM t -- don't strip\nWHERE x = 'foo'")
    assert "WHERE x = 'foo'" in got and "don" not in got
    # apostrophe in a block comment: comment still stripped
    assert strip("SELECT a /* it's */ FROM t") == "SELECT a   FROM t"
    # comment markers inside literals are data, not comments
    assert strip("SELECT 'a -- b /* c */' FROM t") == (
        "SELECT 'a -- b /* c */' FROM t"
    )
    # CH '' doubling and C-style backslash escape both lex as one literal
    assert strip("SELECT 'it''s' FROM t -- c").rstrip() == (
        "SELECT 'it''s' FROM t"
    )
    assert strip("SELECT 'it\\'s' FROM t -- c").rstrip() == (
        "SELECT 'it\\'s' FROM t"
    )
    # CH # and #! line comments
    assert strip("SELECT x # hash\nFROM t") == "SELECT x  \nFROM t"
    assert strip("SELECT x #! bang\nFROM t") == "SELECT x  \nFROM t"
    # quoted identifiers pass through byte-identical
    assert strip("SELECT `we--ird`, \"al/*so*/\" FROM t") == (
        "SELECT `we--ird`, \"al/*so*/\" FROM t"
    )
    # token boundaries survive comment removal
    assert strip("GROUP/*x*/BY") == "GROUP BY"


def test_comment_stripper_end_to_end_translation(spark):
    """A quote-bearing comment adjacent to a real literal translates
    and executes correctly through ch_sql (the r11 bug was silent
    wrong-rows at this layer)."""
    from mysql_to_clickhouse_spark.tables import load
    from tests.conftest import SMOKE_SF_DIR

    load(spark, SMOKE_SF_DIR, "nation").createOrReplaceTempView("nation")
    rows = ch_sql(
        spark,
        "SELECT count() AS n FROM nation -- don't count 'em twice\n"
        "WHERE n_name = 'NATION_7'",
    ).collect()
    assert rows[0]["n"] == 1
    rows2 = ch_sql(
        spark,
        "SELECT /* that's the key */ n_nationkey AS k FROM nation "
        "WHERE n_name = 'NATION_7'",
    ).collect()
    assert len(rows2) == 1


# ---------------------------------------------------------------------------
# tranche 7 (r12)
# ---------------------------------------------------------------------------


def test_tranche7_scalars_execute(spark):
    """The tranche-7 SQL-UDF surface registers and computes CH
    semantics: parse-or-null/zero casts, flat-JSON helpers, replace-
    FIRST, 1-based search indexes with 0-absent, OrZero arithmetic,
    interval constructors, best-effort day-first parsing."""
    register_ch_functions(spark)
    row = spark.sql(
        "SELECT toInt32OrNull('42') AS a, toInt32OrNull('3.7') AS b, "
        "toInt64OrZero('x') AS c, toDateOrZero('nope') AS d, "
        "simpleJSONExtractString('{\"k\":\"v\"}', 'k') AS e, "
        "simpleJSONExtractString('{\"k\":\"v\"}', 'missing') AS f, "
        "replaceOne('aXbXc', 'X', '-') AS g, "
        "multiSearchFirstIndex('hello', array('zz', 'll')) AS h, "
        "multiSearchFirstIndex('hello', array('zz')) AS i, "
        "multiSearchFirstIndex('hello', array('lo', 'he')) AS h2, "
        "multiSearchFirstIndex('hello', array('lo', 'ell')) AS h3, "
        "moduloOrZero(7, 0) AS j, bitTest(5, 2) AS k, "
        "positionCaseInsensitive('HeLLo', 'll') AS l, "
        "DATE '2020-01-31' + toIntervalMonth(1) AS m, "
        "parseDateTimeBestEffort('31/12/2019') AS n, "
        "toLowCardinality('x') AS o, nanToNull(double('NaN')) AS p, "
        "ifNotFinite(double('-Infinity'), 7.0) AS q"
    ).collect()[0]
    import datetime

    assert (row.a, row.b, row.c) == (42, None, 0)
    assert row.d == datetime.date(1970, 1, 1)
    assert (row.e, row.f) == ("v", "")
    assert row.g == "a-bXc"
    assert (row.h, row.i) == (2, 0)
    # LEFTMOST-in-haystack wins, not first-in-needle-order (r12 ADVICE):
    # 'he' matches at 1 < 'lo' at 4; 'ell' at 2 < 'lo' at 4
    assert (row.h2, row.h3) == (2, 2)
    assert (row.j, row.k, row.l) == (0, 1, 3)
    assert row.m == datetime.date(2020, 2, 29)
    assert row.n == datetime.datetime(2019, 12, 31)
    assert (row.o, row.p, row.q) == ("x", None, 7.0)


def test_tranche7_custom_forms_translate():
    """Text forms: crypto hashes wrap to unhex(builtin) (the names
    collide with Spark builtins of different return type),
    sumDistinct injects DISTINCT, accurateCast needs a literal CH
    type, toDecimalN maps width to precision."""
    assert translate_ch_sql("SELECT hex(MD5(x)) FROM t") == (
        "SELECT hex(unhex(md5(x))) FROM t"
    )
    assert translate_ch_sql("SELECT SHA256(x) FROM t") == (
        "SELECT unhex(sha2((x), 256)) FROM t"
    )
    assert translate_ch_sql("SELECT sumDistinct(v) FROM t") == (
        "SELECT sum(DISTINCT v) FROM t"
    )
    assert translate_ch_sql(
        "SELECT accurateCastOrNull(s, 'Int32') FROM t"
    ) == "SELECT TRY_CAST((s) AS INT) FROM t"
    assert translate_ch_sql("SELECT toDecimal128(x, 4) FROM t") == (
        "SELECT CAST((x) AS DECIMAL(38, 4)) FROM t"
    )
    with pytest.raises(ValueError, match="literal integer"):
        translate_ch_sql("SELECT toDecimal32(x, s) FROM t")
    with pytest.raises(ValueError, match="unsupported CH type"):
        translate_ch_sql("SELECT accurateCast(x, 'Point') FROM t")


def test_tranche7_guided_errors():
    """Runtime-introspection and dictionary names raise with the
    engine-side alternative named, never a silent mistranslation."""
    for bad, hint in [
        ("SELECT dictGet('d', 'a', k) FROM t", "load_dim"),
        ("SELECT dictHas('d', k) FROM t", "SEMI"),
        ("SELECT blockNumber() FROM t", "key column"),
        ("SELECT blockSize() FROM t", "OVER"),
        ("SELECT rowNumberInAllBlocks() FROM t", "row_number"),
        ("SELECT arrayReduce('sum', a) FROM t", "aggregate"),
        ("SELECT anyHeavy(x) FROM t", "topK"),
    ]:
        with pytest.raises(ValueError, match=hint):
            translate_ch_sql(bad)


def test_tranche7_array_and_readable(spark):
    register_ch_functions(spark)
    row = spark.sql(
        translate_ch_sql(
            "SELECT arrayEnumerate([10, 20]) AS e, "
            "arrayEnumerate(array()) AS e0, "
            "hasSubstr([1, 2, 3, 4], [2, 3]) AS sub_yes, "
            "hasSubstr([1, 2, 3], [3, 2]) AS sub_no, "
            "hasSubstr([1, 2], array()) AS sub_empty, "
            "formatReadableSize(1536) AS kib, "
            "formatReadableSize(1073741824) AS gib, "
            "toISOWeek(toDateTime('2020-01-01 00:00:00')) AS w"
        )
    ).collect()[0]
    assert (row.e, row.e0) == ([1, 2], [])
    assert (row.sub_yes, row.sub_no, row.sub_empty) == (True, False, True)
    assert (row.kib, row.gib) == ("1.50 KiB", "1.00 GiB")
    assert row.w == 1


def test_query_params_binding(spark):
    """CH {name:Type} placeholders: typed literals, identifier
    validation, string-literal awareness, loud missing-binding."""
    from mysql_to_clickhouse_spark.functions.chdialect import bind_params

    assert bind_params(
        "SELECT * FROM t WHERE a = {x:Int64} AND b = {s:String}",
        {"x": 5, "s": "it's"},
    ) == (
        "SELECT * FROM t WHERE a = CAST(5 AS BIGINT) AND b = 'it''s'"
    )
    # a brace inside a string literal is data, not a placeholder
    assert bind_params(
        "SELECT '{x:Int64}' AS lit, {x:Int64} AS v FROM t", {"x": 1}
    ) == "SELECT '{x:Int64}' AS lit, CAST(1 AS BIGINT) AS v FROM t"
    assert bind_params(
        "SELECT {c:Identifier} FROM {t:Identifier}",
        {"c": "col1", "t": "db.tbl"},
    ) == "SELECT `col1` FROM `db`.`tbl`"
    assert bind_params(
        "WHERE has({a:Array(UInt16)}, x)", {"a": [1, 2]}
    ) == "WHERE has(array(CAST(1 AS INT), CAST(2 AS INT)), x)"
    with pytest.raises(ValueError, match="no bound value"):
        bind_params("SELECT {missing:Int32}", {})
    with pytest.raises(ValueError, match="not a valid identifier"):
        bind_params("SELECT {c:Identifier}", {"c": "x; DROP"})
    with pytest.raises(ValueError, match="unsupported type"):
        bind_params("SELECT {x:Point}", {"x": 1})
    # extras are ignored (one dict serves many statements)
    assert bind_params("SELECT 1", {"unused": 9}) == "SELECT 1"


def test_query_params_end_to_end(spark):
    rows = ch_sql(
        spark,
        "SELECT {v:UInt8} + 1 AS n, toDate({d:Date}) AS d, "
        "{flag:Bool} AS f",
        params={"v": 41, "d": "2020-02-29", "flag": True},
    ).collect()
    assert tuple(rows[0]) == (42, __import__("datetime").date(2020, 2, 29), True)


def test_query_params_temporal_edges(spark):
    """r13 ADVICE: tz-aware timestamps keep their instant (the offset
    rides into the literal instead of being strftime'd away), and a
    datetime bound to a Date param takes its calendar date."""
    import datetime

    from mysql_to_clickhouse_spark.functions.chdialect import bind_params

    aware = datetime.datetime(
        2024, 1, 1, 0, 0, 0,
        tzinfo=datetime.timezone(datetime.timedelta(hours=5, minutes=30)),
    )
    sql = bind_params("SELECT {t:DateTime} AS t", {"t": aware})
    assert "+05:30" in sql
    # session tz is UTC: the aware instant is 2023-12-31 18:30 UTC
    got = spark.sql(sql).collect()[0].t
    assert got == datetime.datetime(2023, 12, 31, 18, 30)
    # the same ISO string with offset binds identically
    sql2 = bind_params(
        "SELECT {t:DateTime} AS t", {"t": "2024-01-01 00:00:00+05:30"}
    )
    assert spark.sql(sql2).collect()[0].t == got
    # naive datetimes and plain strings stay naive literals
    naive = datetime.datetime(2024, 1, 1, 12, 30, 15, 250000)
    sql3 = bind_params("SELECT {t:DateTime} AS t", {"t": naive})
    assert spark.sql(sql3).collect()[0].t == naive
    # datetime bound to a Date param: calendar date, not a ValueError
    assert bind_params(
        "SELECT {d:Date} AS d", {"d": datetime.datetime(2024, 3, 1, 23, 59)}
    ) == "SELECT DATE '2024-03-01' AS d"


def test_query_params_string_roundtrip_property(spark):
    """Any string value — quotes, backslashes, newlines, unicode —
    binds to a literal that evaluates back to EXACTLY the value
    (found the backslash-escape corruption: Spark's default parser
    interprets '\\n' inside literals)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_to_clickhouse_spark.functions.chdialect import bind_params

    @settings(max_examples=20, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), max_codepoint=0x2FFF
            ),
            max_size=40,
        )
    )
    def check(s):
        sql = bind_params("SELECT {v:String} AS v", {"v": s})
        assert spark.sql(sql).collect()[0].v == s

    check()


def test_query_params_int_roundtrip_property(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_to_clickhouse_spark.functions.chdialect import bind_params

    @settings(max_examples=20, deadline=None)
    @given(st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1))
    def check(n):
        sql = bind_params("SELECT {v:Int64} AS v", {"v": n})
        assert spark.sql(sql).collect()[0].v == n

    check()


def test_tranche8_time_buckets_and_arrays(spark):
    register_ch_functions(spark)
    import datetime

    row = spark.sql(
        translate_ch_sql(
            "SELECT toStartOfFiveMinutes(toDateTime('2020-01-01 "
            "00:07:30')) AS m5, "
            "timeSlot(toDateTime('2020-01-01 00:42:00')) AS slot, "
            "toRelativeDayNum(toDateTime('1970-01-03 12:00:00')) AS d, "
            "toRelativeHourNum(toDateTime('1970-01-01 05:30:00')) AS h, "
            "intExp2(10) AS e2, "
            "splitByWhitespace('  a  b\tc ') AS toks, "
            "arrayEnumerateDense([10, 20, 10, 30]) AS dense, "
            "toUnixTimestamp64Micro(toDateTime('1970-01-01 00:00:01')) "
            "AS us"
        )
    ).collect()[0]
    assert row.m5 == datetime.datetime(2020, 1, 1, 0, 5)
    assert row.slot == datetime.datetime(2020, 1, 1, 0, 30)
    assert (row.d, row.h, row.e2) == (2, 5, 1024)
    assert row.toks == ["a", "b", "c"]
    assert row.dense == [1, 2, 1, 3]
    assert row.us == 1_000_000


def test_no_duplicate_dict_keys_in_dialect_module():
    """A duplicate key in a dict literal silently clobbers the earlier
    entry (this round nearly shipped floor-division regressions in the
    toRelative* family that way) — scan every dict literal in the
    dialect modules for repeated string keys."""
    import ast

    from mysql_to_clickhouse_spark.functions import chdialect, chdict

    for mod in (chdialect, chdict):
        tree = ast.parse(open(mod.__file__).read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict):
                keys = [
                    k.value
                    for k in node.keys
                    if isinstance(k, ast.Constant)
                    and isinstance(k.value, str)
                ]
                dupes = sorted({k for k in keys if keys.count(k) > 1})
                assert not dupes, (
                    f"duplicate dict keys in {mod.__name__}: {dupes}"
                )


def test_explain_statement_routed():
    with pytest.raises(ValueError, match="explain"):
        translate_ch_sql("EXPLAIN SELECT 1")


# ---------------------------------------------------------------------------
# per-statement registration: ch_sql creates only the names it calls
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def _ch_functions_dropped(spark, names=tuple(_SCALAR_UDFS)):
    """Drop ``names`` from the session catalog for the block, yielding
    the list of function names each CREATE issued through ``spark.sql``
    names; afterwards the catalog is put back as it was."""
    import re

    had = {n for n in _SCALAR_UDFS if spark.catalog.functionExists(n)}
    for n in names:
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {n}")
    real_sql = spark.sql
    created: list[str] = []

    def spy(text, *args, **kwargs):
        m = re.match(r"\s*CREATE\b.*?\bFUNCTION\s+(\w+)", text, re.I | re.S)
        if m:
            created.append(m.group(1))
        return real_sql(text, *args, **kwargs)

    spark.sql = spy
    try:
        yield created
    finally:
        del spark.sql
        for n in _SCALAR_UDFS:
            exists = spark.catalog.functionExists(n)
            if n in had and not exists:
                params, rtype, body = _SCALAR_UDFS[n]
                spark.sql(
                    f"CREATE TEMPORARY FUNCTION {n}{params} "
                    f"RETURNS {rtype} RETURN {body}"
                )
            elif n not in had and exists:
                spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {n}")


def test_ch_sql_without_ch_calls_registers_nothing(spark):
    """s16's translated statement calls no scalar CH name, so its
    ch_sql issues no CREATE FUNCTION at all (whole-set registration
    parsed all 166 on a session's first ch_sql)."""
    fn = all_queries()["s16_ch_any_join"].fn
    with _ch_functions_dropped(spark, names=()) as created:
        fn(spark, SMOKE_SF_DIR).schema
    assert created == []


def test_ch_sql_registers_callee_closure(spark):
    """A name whose body calls another scalar CH name registers both,
    callee first, and nothing else."""
    with _ch_functions_dropped(spark) as created:
        row = ch_sql(
            spark,
            "SELECT parseDateTimeBestEffortOrNull('2020-05-17 10:11:12') "
            "AS t, parseDateTimeBestEffortOrNull('garbage') AS bad",
        ).collect()[0]
    assert created == ["parseDateTimeBestEffort", "parseDateTimeBestEffortOrNull"]
    assert row.t == datetime.datetime(2020, 5, 17, 10, 11, 12)
    assert row.bad is None


def test_ch_sql_registers_upper_case_call(spark):
    """Spark resolves function names case-insensitively, so a call
    spelled in another case registers the name too."""
    with _ch_functions_dropped(spark) as created:
        row = ch_sql(
            spark, "SELECT TOSTARTOFMONTH(TIMESTAMP '2020-05-17 10:00:00') AS m"
        ).collect()[0]
    assert created == ["toStartOfMonth"]
    assert row.m == datetime.date(2020, 5, 1)


def test_ch_sql_ignores_names_in_string_literals(spark):
    """A CH name inside a string literal or a quoted identifier is not
    a call and registers nothing."""
    with _ch_functions_dropped(spark) as created:
        row = ch_sql(
            spark, "SELECT 'toYYYYMM(ts)' AS `toYYYYMMDD(x)`"
        ).collect()[0]
        assert not spark.catalog.functionExists("toYYYYMM")
    assert created == []
    assert row[0] == "toYYYYMM(ts)"


def test_scalar_udf_names_are_not_builtins(spark):
    """Per-statement registration asks the catalog whether a name
    exists; that is exact only while no scalar CH name is a Spark
    builtin and no two differ only in case."""
    lower = [n.lower() for n in _SCALAR_UDFS]
    assert len(set(lower)) == len(lower)
    builtins = {
        r[0].lower() for r in spark.sql("SHOW SYSTEM FUNCTIONS").collect()
    }
    assert builtins and not set(lower) & builtins


def test_register_ch_functions_registers_all(spark):
    with _ch_functions_dropped(spark) as created:
        register_ch_functions(spark)
        missing = [n for n in _SCALAR_UDFS if not spark.catalog.functionExists(n)]
    assert sorted(created) == sorted(_SCALAR_UDFS) and len(created) == 166
    assert missing == []


def test_register_ch_functions_restores_dropped_name(spark):
    """The session catalog is the only record of what is registered: a
    CH name dropped after a full registration comes back on the next
    call, and only that name is created."""
    register_ch_functions(spark)
    with _ch_functions_dropped(spark, names=("toYYYYMM",)) as created:
        register_ch_functions(spark)
        assert spark.catalog.functionExists("toYYYYMM")
    assert created == ["toYYYYMM"]


_CH_TEXT_ENTRIES = [
    "s13_ch_dialect_report", "s13b_ch_dialect_json",
    "s13c_ch_dialect_tokens", "s13d_ch_dialect_dates",
    "s13e_ch_dialect_final", "s13f_ch_dialect_tranche2",
    "s14_ch_limit_by", "s15_ch_sample_clause", "s16_ch_any_join",
    "s17_ch_dialect_tranche3", "s18_ch_array_join",
    "s19_ch_dialect_tranche4", "s20_ch_with_totals",
    "s21_ch_dialect_tranche5", "s23_ch_mutations",
    "s24_ch_dialect_tranche7", "s25_ch_dictionary",
    "s26_ch_query_params", "s22_ch_create_mv", "s22b_ch_mv_quantile_state",
]


def test_ch_entries_need_no_prior_registration(spark):
    """Every CH-text registry entry (ch_sql, ch_mutation and the MV
    DDL) registers what it calls itself: with no scalar CH name in the
    catalog, each builds and analyzes on its own."""
    queries = all_queries()
    with _ch_functions_dropped(spark):
        for name in _CH_TEXT_ENTRIES:
            assert queries[name].fn(spark, SMOKE_SF_DIR).schema.fields, name

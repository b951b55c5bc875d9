"""CH ``CREATE MATERIALIZED VIEW`` DDL → a maintained incremental view.

The reference category's users define their pre-aggregates as CH MV
DDL (``CREATE MATERIALIZED VIEW mv TO tgt ENGINE = AggregatingMergeTree
ORDER BY k AS SELECT k, count(), sum(x) FROM t GROUP BY k``) and the
replicator keeps them current per insert block. This module is the
Spark-first front door for that text: parse the DDL, derive the
k-family's mergeable partial state for each aggregate (the -State
combinator, operators/matview.py discipline), and hand back a
:class:`ChMaterializedView` whose contract is

    mv = create_materialized_view(spark, ddl)
    mv.initialize(base_df)          # state from the initial load
    mv.apply_delta(delta_df)        # union partials + re-merge (exact)
    mv.read()                       # finalized view, == full recompute

Merge == recompute is the entire IVM correctness claim; it holds here
because every partial is associative-exact: counts and fixed-point
sums are longs, min/max are order-free, uniqExact keeps the distinct
set itself. The s22 registry query drives a populate→delta→read cycle
against a full-recompute DuckDB oracle, so the DDL path is hash-green,
not just unit-tested.

Scope (loud by design): single-table SELECT with optional WHERE and
GROUP BY; aggregates count/countIf/sum/sumIf/min/max/avg/uniqExact/
uniq (the approximate one — a real mergeable HLL sketch via Spark's
hll_sketch_agg/hll_union_agg, CH's uniqState/uniqMerge analog, O(1)
state per group) and quantile/median — the CH parametric
``quantile(p)(x)`` form included — as a mergeable KLL sketch
(kll_sketch_agg_double/kll_merge_agg_double, CH's quantileState/
quantileMerge analog; approximate on both engines, so its registry
entry s22b is rows-only-ledgered like d4). Joins, subqueries and
other aggregates raise with the supported set named — CH's own MV
guidance is single-source-block views, and wider shapes belong to the
k3/k6 operators.

``TO target`` is WIRED, not just parsed: every initialize/apply_delta
writes the partial state through to the named catalog table (CH
semantics — the MV is a trigger, the target table owns the data), and
``attach()`` re-binds a freshly parsed MV to that table's state, which
is the replicator's restart path.

Scale: identical to the k-family — partials are map-side-combinable
hash aggregates; a delta merge shuffles one row per (group, batch),
independent of fact cardinality. uniqExact state grows with the
distinct set and is the documented bounded-domain member.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_spark.functions.chdialect import (
    _register_called_ch_functions,
    _scan_string,
    _scan_words,
    _translate_functions,
)
from mysql_to_clickhouse_spark.functions.numeric import SUM_SCALE, fixed_point

_SUPPORTED = ("count", "countIf", "sum", "sumIf", "min", "max", "avg",
              "uniqExact", "uniq", "quantile", "median")


@dataclass
class _AggSpec:
    out: str          # output column name
    kind: str         # one of _SUPPORTED (If-forms folded into base)
    arg: str | None   # translated Spark SQL expr (None for count())
    cond: str | None  # translated condition for -If forms
    param: float | None = None  # quantile level for the parametric form


@dataclass
class ChMaterializedView:
    name: str
    target: str | None
    keys: list[tuple[str, str]]        # (out name, translated expr)
    aggs: list[_AggSpec]
    where: str | None
    spark: SparkSession
    state: DataFrame | None = field(default=None, repr=False)

    # -- state construction ------------------------------------------------
    def _partials(self, src: DataFrame) -> DataFrame:
        df = src
        if self.where:
            df = df.filter(F.expr(self.where))
        key_cols = [F.expr(e).alias(n) for n, e in self.keys]
        parts = []
        for a in self.aggs:
            val = F.expr(a.arg) if a.arg else None
            if a.cond is not None:
                gate = F.expr(a.cond)
                val = (
                    F.when(gate, val) if val is not None
                    else F.when(gate, F.lit(1))
                )
            if a.kind == "count":
                col = (
                    F.count(val) if val is not None else F.count(F.lit(1))
                ).alias(f"p_count_{a.out}")
            elif a.kind == "sum":
                col = F.sum(fixed_point(val)).alias(f"p_sum_{a.out}")
            elif a.kind == "min":
                col = F.min(val).alias(f"p_min_{a.out}")
            elif a.kind == "max":
                col = F.max(val).alias(f"p_max_{a.out}")
            elif a.kind == "avg":
                parts.append(F.count(val).alias(f"p_cnt_{a.out}"))
                col = F.sum(fixed_point(val)).alias(f"p_sum_{a.out}")
            elif a.kind == "uniqExact":
                col = F.collect_set(val).alias(f"p_set_{a.out}")
            elif a.kind == "uniq":
                # CH uniqState/uniqMerge, literally: a mergeable HLL
                # sketch (binary) is the partial — state size is O(1)
                # in the distinct count, unlike uniqExact's set
                col = F.hll_sketch_agg(val).alias(f"p_hll_{a.out}")
            elif a.kind == "quantile":
                # CH quantileState/quantileMerge analog: a mergeable
                # KLL sketch (Apache DataSketches, binary) — bounded
                # state per group, merge-associative, ~1.6 % rank
                # error at the default k. Approximate on BOTH engines
                # (CH's quantile is reservoir-sampled), so the s22b
                # registry entry is rows-only by the same contract
                # as d4.
                col = F.kll_sketch_agg_double(
                    val.cast("double")
                ).alias(f"p_kll_{a.out}")
            else:  # pragma: no cover - parser rejects earlier
                raise AssertionError(a.kind)
            parts.append(col)
        if key_cols:
            return df.groupBy(*key_cols).agg(*parts)
        return df.agg(*parts)

    def _merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        both = a.unionByName(b)
        key_names = [n for n, _ in self.keys]
        merged = []
        for ag in self.aggs:
            if ag.kind == "count":
                merged.append(
                    F.sum(f"p_count_{ag.out}").alias(f"p_count_{ag.out}")
                )
            elif ag.kind == "sum":
                merged.append(
                    F.sum(f"p_sum_{ag.out}").alias(f"p_sum_{ag.out}")
                )
            elif ag.kind == "min":
                merged.append(
                    F.min(f"p_min_{ag.out}").alias(f"p_min_{ag.out}")
                )
            elif ag.kind == "max":
                merged.append(
                    F.max(f"p_max_{ag.out}").alias(f"p_max_{ag.out}")
                )
            elif ag.kind == "avg":
                merged.append(
                    F.sum(f"p_cnt_{ag.out}").alias(f"p_cnt_{ag.out}")
                )
                merged.append(
                    F.sum(f"p_sum_{ag.out}").alias(f"p_sum_{ag.out}")
                )
            elif ag.kind == "uniqExact":
                merged.append(
                    F.array_distinct(
                        F.flatten(F.collect_list(f"p_set_{ag.out}"))
                    ).alias(f"p_set_{ag.out}")
                )
            elif ag.kind == "uniq":
                merged.append(
                    F.hll_union_agg(f"p_hll_{ag.out}").alias(
                        f"p_hll_{ag.out}"
                    )
                )
            elif ag.kind == "quantile":
                merged.append(
                    F.kll_merge_agg_double(f"p_kll_{ag.out}").alias(
                        f"p_kll_{ag.out}"
                    )
                )
        if key_names:
            return both.groupBy(*key_names).agg(*merged)
        return both.agg(*merged)

    # -- TO target: durable state table (CH's MV-writes-to-table form) ------
    def _publish(self) -> None:
        """When the DDL says ``TO target``, every state transition is
        written through to that catalog table — CH semantics: the MV
        is a trigger, the TARGET owns the data. The state (one row per
        group: longs, sets, binary sketches — all parquet-native) is
        localCheckpoint-ed first so the overwrite never reads the
        table it replaces. The in-memory handle then POINTS AT the
        table, so a restarted session can ``attach()`` and keep
        applying deltas — the replicator's resume story."""
        if self.target is None:
            return
        ckpt = self.state.localCheckpoint()
        # Explicit location under the warehouse dir (external-table
        # form): a MANAGED saveAsTable refuses to overwrite a stale
        # location left by a previous process whose in-memory catalog
        # died with it (LOCATION_ALREADY_EXISTS) — exactly the restart
        # scenario attach() exists for.
        (
            ckpt.write.mode("overwrite")
            .option("path", self._target_location())
            .saveAsTable(self.target)
        )
        self.state = self.spark.table(self.target)

    def _target_location(self) -> str:
        wh = self.spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        )
        return "/".join(
            [wh.rstrip("/"), "mv_state", self.target.replace(".", "__")]
        )

    def attach(self) -> "ChMaterializedView":
        """Re-bind to the target table's persisted state (restart
        path: parse the same DDL, attach, apply new deltas). In a
        fresh session whose in-memory catalog has not seen the table
        yet, the state is read straight from the target location."""
        if self.target is None:
            raise RuntimeError(
                f"MV {self.name!r}: attach() needs a 'TO target' table"
            )
        if self.spark.catalog.tableExists(self.target):
            self.state = self.spark.table(self.target)
        else:
            self.state = self.spark.read.parquet(self._target_location())
        return self

    # -- public contract ---------------------------------------------------
    def initialize(self, src: DataFrame) -> "ChMaterializedView":
        self.state = self._partials(src)
        self._publish()
        return self

    def apply_delta(self, delta: DataFrame) -> "ChMaterializedView":
        if self.state is None:
            raise RuntimeError(
                f"MV {self.name!r}: initialize() before apply_delta()"
            )
        self.state = self._merge(self.state, self._partials(delta))
        self._publish()
        return self

    def read(self) -> DataFrame:
        """Finalize the partial state into the view the DDL declared."""
        if self.state is None:
            raise RuntimeError(f"MV {self.name!r}: initialize() first")
        cols = [F.col(n) for n, _ in self.keys]
        for a in self.aggs:
            if a.kind == "count":
                cols.append(F.col(f"p_count_{a.out}").alias(a.out))
            elif a.kind == "sum":
                cols.append(
                    (
                        F.col(f"p_sum_{a.out}").cast("double")
                        / F.lit(float(10**SUM_SCALE))
                    ).alias(a.out)
                )
            elif a.kind == "min":
                cols.append(F.col(f"p_min_{a.out}").alias(a.out))
            elif a.kind == "max":
                cols.append(F.col(f"p_max_{a.out}").alias(a.out))
            elif a.kind == "avg":
                cols.append(
                    (
                        F.col(f"p_sum_{a.out}").cast("double")
                        / F.lit(float(10**SUM_SCALE))
                        / F.col(f"p_cnt_{a.out}")
                    ).alias(a.out)
                )
            elif a.kind == "uniqExact":
                cols.append(F.size(f"p_set_{a.out}").alias(a.out))
            elif a.kind == "uniq":
                cols.append(
                    F.hll_sketch_estimate(f"p_hll_{a.out}").alias(a.out)
                )
            elif a.kind == "quantile":
                cols.append(
                    F.kll_sketch_get_quantile_double(
                        F.col(f"p_kll_{a.out}"), F.lit(a.param)
                    ).alias(a.out)
                )
        return self.state.select(*cols)


# ---------------------------------------------------------------------------
# DDL parsing
# ---------------------------------------------------------------------------

_HEAD_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][\w.]*)\s+",
    re.IGNORECASE,
)


def _split_top_commas(txt: str) -> list[str]:
    items, depth, cur, i, n = [], 0, [], 0, len(txt)
    while i < n:
        c = txt[i]
        if c in "'\"`":
            j = _scan_string(txt, i, c)
            cur.append(txt[i:j])
            i = j
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            items.append("".join(cur).strip())
            cur = []
            i += 1
            continue
        cur.append(c)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        items.append(tail)
    return items


def _strip_alias(item: str) -> tuple[str, str | None]:
    """Split a select item into (expr, alias) on a trailing top-level
    ``AS alias`` (quoted strings / parens respected)."""
    words = [(w, s, e, d) for w, s, e, d in _scan_words(item)]
    for w, s, e, d in reversed(words):
        if d == 0 and w.upper() == "AS":
            alias = item[e:].strip()
            if re.fullmatch(r"[A-Za-z_]\w*", alias):
                return item[:s].strip(), alias
            break
    return item.strip(), None


def _leading_call(expr: str) -> tuple[str, list[str]] | None:
    """(fname, args) when the WHOLE expr is one call ``name(...)``."""
    m = re.match(r"^\s*([A-Za-z_]\w*)\s*\(", expr)
    if not m:
        return None
    depth, i, n = 0, m.end() - 1, len(expr)
    while i < n:
        c = expr[i]
        if c in "'\"`":
            i = _scan_string(expr, i, c)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                if expr[i + 1:].strip():
                    return None  # trailing text -> not a bare call
                inner = expr[m.end():i]
                return m.group(1), (
                    _split_top_commas(inner) if inner.strip() else []
                )
        i += 1
    return None


_QUANTILE_RE = re.compile(
    r"^\s*(quantile|quantileTDigest|quantileBFloat16)\s*"
    r"\(\s*(?P<p>[0-9]*\.?[0-9]+)\s*\)\s*\(",
)


def _parametric_quantile(expr: str) -> tuple[float, str] | None:
    """Match the CH parametric call shape ``quantile(p)(arg)`` (and
    the TDigest/BFloat16 spellings — all map onto the one KLL
    partial). Returns (p, arg) or None."""
    m = _QUANTILE_RE.match(expr)
    if not m:
        return None
    depth, i, n = 1, m.end(), len(expr)
    while i < n:
        c = expr[i]
        if c in "'\"`":
            i = _scan_string(expr, i, c)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                if expr[i + 1:].strip():
                    return None  # trailing text -> composite expr
                p = float(m.group("p"))
                if not 0.0 <= p <= 1.0:
                    raise ValueError(f"quantile level {p} outside [0, 1]")
                return p, expr[m.end():i]
        i += 1
    return None


def create_materialized_view(
    spark: SparkSession, ddl: str
) -> ChMaterializedView:
    """Parse CH ``CREATE MATERIALIZED VIEW`` text into a maintained
    incremental view (module docstring has the contract and scope)."""
    m = _HEAD_RE.match(ddl)
    if not m:
        raise ValueError(
            "not a CREATE MATERIALIZED VIEW statement (IF NOT EXISTS "
            "supported; other DDL is out of scope)"
        )
    name = m.group("name")
    rest = ddl[m.end():]

    target = None
    tm = re.match(r"\s*TO\s+([A-Za-z_][\w.]*)\s+", rest, re.IGNORECASE)
    if tm:
        target = tm.group(1)
        rest = rest[tm.end():]

    # ENGINE = ... [ORDER BY ...] [POPULATE] up to the AS SELECT seam:
    # find the top-level AS immediately followed by SELECT
    as_pos = None
    words = list(_scan_words(rest))
    for idx, (w, s, e, d) in enumerate(words):
        if (
            d == 0
            and w.upper() == "AS"
            and idx + 1 < len(words)
            and words[idx + 1][0].upper() == "SELECT"
        ):
            as_pos = (s, words[idx + 1][2])
            break
    if as_pos is None:
        raise ValueError("CREATE MATERIALIZED VIEW needs 'AS SELECT ...'")
    select_body = rest[as_pos[1]:]

    # --- the SELECT: items FROM table [WHERE ...] [GROUP BY ...] ---
    sw = list(_scan_words(select_body))
    from_tok = next(
        ((s, e) for w, s, e, d in sw if d == 0 and w.upper() == "FROM"), None
    )
    if from_tok is None:
        raise ValueError(f"MV {name!r}: SELECT needs a FROM table")
    items_txt = select_body[: from_tok[0]]
    after_from = select_body[from_tok[1]:]

    # single table only (loud: joins/subqueries -> k3/k6 operators)
    tmatch = re.match(r"\s*([A-Za-z_][\w.]*)\s*", after_from)
    if not tmatch or after_from.strip().startswith("("):
        raise ValueError(
            f"MV {name!r}: only a single source table is supported "
            f"(joins/subqueries belong to the k3/k6 operators)"
        )
    source = tmatch.group(1)
    tail = after_from[tmatch.end():]
    up = tail.upper()
    for kw in ("JOIN", "UNION"):
        if re.search(rf"\b{kw}\b", up):
            raise ValueError(
                f"MV {name!r}: {kw} in the MV select is not supported — "
                f"single-table views only (k3/k6 cover the wider shapes)"
            )

    where_txt = None
    group_txt = None
    wm = re.search(r"\bWHERE\b", tail, re.IGNORECASE)
    gm = re.search(r"\bGROUP\s+BY\b", tail, re.IGNORECASE)
    if wm:
        where_txt = tail[wm.end(): gm.start() if gm else len(tail)].strip()
    if gm:
        group_txt = tail[gm.end():].strip()
        # strip trailing ORDER BY/SETTINGS noise if present
        om = re.search(r"\bORDER\s+BY\b|\bSETTINGS\b", group_txt,
                       re.IGNORECASE)
        if om:
            group_txt = group_txt[: om.start()].strip()

    group_exprs = (
        [g.strip() for g in _split_top_commas(group_txt)] if group_txt else []
    )

    keys: list[tuple[str, str]] = []
    aggs: list[_AggSpec] = []
    auto = 0
    for item in _split_top_commas(items_txt):
        expr, alias = _strip_alias(item)
        qc = _parametric_quantile(expr)
        if qc is not None:
            p, qarg = qc
            out = alias or f"quantile_{auto}"
            auto += 1
            aggs.append(
                _AggSpec(
                    out=out,
                    kind="quantile",
                    arg=_translate_functions(qarg),
                    cond=None,
                    param=p,
                )
            )
            continue
        call = _leading_call(expr)
        if call and call[0] == "median":
            if len(call[1]) != 1:
                raise ValueError(f"MV {name!r}: median expects 1 arg")
            out = alias or f"median_{auto}"
            auto += 1
            aggs.append(
                _AggSpec(
                    out=out,
                    kind="quantile",
                    arg=_translate_functions(call[1][0]),
                    cond=None,
                    param=0.5,
                )
            )
            continue
        if call and call[0] in _SUPPORTED:
            fname, args = call
            base = fname[:-2] if fname.endswith("If") else fname
            cond = None
            arg = None
            if fname in ("countIf", "sumIf"):
                if fname == "countIf" and len(args) == 1:
                    cond = args[0]
                elif len(args) == 2:
                    arg, cond = args
                else:
                    raise ValueError(f"MV {name!r}: bad {fname} arity")
            elif fname == "count":
                if len(args) == 1 and args[0].strip():
                    arg = args[0]
                elif args and any(a.strip() for a in args):
                    raise ValueError(f"MV {name!r}: bad count arity")
            else:
                if len(args) != 1:
                    raise ValueError(f"MV {name!r}: {fname} expects 1 arg")
                arg = args[0]
            if base == "uniqExact":
                base = "uniqExact"
            out = alias or f"{base.lower()}_{auto}"
            auto += 1
            aggs.append(
                _AggSpec(
                    out=out,
                    kind=base,
                    arg=_translate_functions(arg) if arg else None,
                    cond=_translate_functions(cond) if cond else None,
                    # CH's parameterless quantile(x) defaults to the
                    # median — same KLL partial as quantile(0.5)(x)
                    param=0.5 if base == "quantile" else None,
                )
            )
        elif re.match(
            r"^\s*(quantile\w*|uniq(?!Exact\b)\w*|topK\w*|avgWeighted|"
            r"median\w*|group\w+|any\w*|argM\w+|stddev\w*|var\w*|corr\w*|"
            r"covar\w*|skew\w*|kurt\w*|entropy|sumMap|minMap|maxMap|"
            r"windowFunnel|retention)\s*\(",
            expr,
        ):
            agg_name = re.match(r"^\s*(\w+)", expr).group(1)
            raise ValueError(
                f"MV {name!r}: aggregate {agg_name!r} has no mergeable "
                f"partial here — supported: {', '.join(_SUPPORTED)} "
                f"(approximate/ordered states belong to the k2/d4 "
                f"operators)"
            )
        else:
            # a grouping key expression; must appear in GROUP BY
            tr = _translate_functions(expr)
            canon = re.sub(r"\s+", "", expr)
            ok = any(
                re.sub(r"\s+", "", g) == canon
                or (alias and re.sub(r"\s+", "", g) == alias)
                for g in group_exprs
            )
            if not ok:
                raise ValueError(
                    f"MV {name!r}: non-aggregate select item {expr!r} "
                    f"must appear in GROUP BY"
                )
            keys.append((alias or expr.strip(), tr))

    where = _translate_functions(where_txt) if where_txt else None
    # keys, aggregate arguments and WHERE may call CH scalar names;
    # register those (only) before any of them reaches F.expr
    _register_called_ch_functions(
        spark,
        where,
        *(tr for _, tr in keys),
        *(t for a in aggs for t in (a.arg, a.cond)),
    )
    return ChMaterializedView(
        name=name,
        target=target,
        keys=keys,
        aggs=aggs,
        where=where,
        spark=spark,
    )

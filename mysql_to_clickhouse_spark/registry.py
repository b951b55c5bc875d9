"""The operator/query registry — the SURVEY.md §2 contract, executable.

Every operator the engine claims is registered here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
the equivalent DuckDB oracle SQL. ``__spark_entry__.py`` exposes exactly
this registry to the driver's verification harness.

Determinism policy (SURVEY.md §5.4 — applied at registration time, not
per-round firefighting):

- Double aggregates go through exact decimal sums then cast to double
  (``functions.numeric``) so Spark and DuckDB produce bit-identical
  results regardless of partition/accumulation order.
- ``events.ts`` ships as naive parquet ``timestamp[us]`` (legacy
  fixtures used ns-epoch int64; the loader adapts to both — tables.py);
  any ts value surfaced from it is normalized to epoch microseconds
  (bigint) on both sides.
- Every ranking/limit has a total-order tie-break; every collect_list is
  sort_array'd.
- Approximate operators (HLL, approx quantiles, LSH) register with
  ``oracle=None`` → driver records the weaker rows-only check, and the
  accompanying unit test asserts tolerance instead.
"""

from __future__ import annotations

import importlib
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB ANSI SQL, or None → rows-only check
    tier: str
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    # REQUIRED when oracle is None (enforced by tests/test_registry.py):
    # why no engine-portable hash oracle is possible, and the
    # compensating unit test ("tests/test_x.py::test_fn") that pins the
    # property the rows-only driver check can't see. gen_coverage.py
    # renders these as the auditable rows-only debt ledger.
    no_oracle_reason: str = ""
    test: str = ""


_REGISTRY: dict[str, Query] = {}

_OPERATOR_MODULES = (
    "scans",
    "filters",
    "golden",
    "joins",
    "aggregates",
    "windows",
    "setops",
    "scalars",
    "stats",
    "eventtime",
    "llmops",
    "ann_index",
    "matview",
    "multimodal",
    "scale",
    "sqlapi",
    "udfs",
)


def register(
    name: str,
    oracle: str | None = None,
    tier: str = "T2",
    tags: tuple[str, ...] = (),
    no_oracle_reason: str = "",
    test: str = "",
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query id {name!r}")
        _REGISTRY[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            tier=tier,
            doc=(fn.__doc__ or "").strip(),
            tags=tags,
            no_oracle_reason=no_oracle_reason,
            test=test,
        )
        return fn

    return deco


def _load_operators() -> None:
    for mod in _OPERATOR_MODULES:
        importlib.import_module(f"mysql_to_clickhouse_spark.operators.{mod}")


# SURVEY.md §2 base-operator counts per family. Used only for ordering:
# a name like "c9_asof" (family letter, ordinal ≤ the family's base count,
# no letter suffix) is a base §2 ID; everything else (a8+, c3b, d15+, m/s/x
# series…) is an extension.
_BASE_COUNTS = {
    "a": 7, "b": 7, "c": 11, "d": 14, "e": 7,
    "f": 6, "g": 14, "h": 8, "i": 8, "j": 5,
}
_ID_RE = re.compile(r"^([a-z])(\d+)([a-z]?)_")


# One long-green classic per §2 family, pinned to the head of the order
# as regression sentinels: if a refactor breaks something fundamental,
# the driver sees it in row 1-10 even while the rest of the cap samples
# never-checked IDs.
_SENTINELS = (
    "a1_parquet_scan",
    "b1_project_compute",
    "c1_inner_equi",
    "d1_group_basic",
    "e1_row_number",
    "f1_order_multi",
    "g1_string_core",
    "h1_tumbling",
    "i1_exact_dedup",
    "j1_python_udf",
)


def _priority_order(registry: dict[str, Query]) -> list[str]:
    """Sentinels, then NEVER-driver-checked IDs, then the verified rest.

    The verification driver records correctness for only the first N
    entries of ``queries()`` (N=50). Rounds 1-8 resampled mostly the
    same family-interleaved prefix, leaving 255 of 335 IDs driver-
    unchecked; this order rotates the cap onto the unchecked set each
    round:

    1. the 10 ``_SENTINELS`` (one per §2 family, all previously green)
       so a fundamental regression still trips inside any cap;
    2. every ID absent from ``_driver_history.DRIVER_VERIFIED`` (the
       union of all past CORRECTNESS_r*.json — regenerated per round by
       scripts/gen_driver_history.py), round-robined one per family
       (by leading letter) with oracle-backed before rows-only and base
       §2 IDs before extensions inside each family — so a 50-cap takes
       10 sentinels + 40 fresh hash checks, family-balanced;
    3. the already-verified remainder under the same interleave.

    Every prefix of >=10 therefore covers all ten §2 families, and every
    registered query appears exactly once (totality guarded)."""
    try:
        from mysql_to_clickhouse_spark._driver_history import DRIVER_VERIFIED
    except ImportError:  # pragma: no cover - history file is committed
        DRIVER_VERIFIED = frozenset()

    sentinels = [n for n in _SENTINELS if n in registry]
    placed = set(sentinels)

    def sub_key(n: str, q: Query) -> tuple:
        m = _ID_RE.match(n)
        if m and not m.group(3):
            fam, num = m.group(1), int(m.group(2))
            if num <= _BASE_COUNTS.get(fam, 0):
                return (0 if q.oracle else 1, 0, num, n)  # base §2 ID
        num = int(m.group(2)) if m else 0
        return (0 if q.oracle else 1, 1, num, n)  # extension

    # three tiers: unchecked+oracle-backed first (every cap slot is a
    # hash check), then unchecked rows-only (they'd record a weaker
    # rows-only row — spend cap slots on hash checks while any remain),
    # then the already-verified remainder.
    tiers: dict[int, dict[str, list[tuple]]] = {0: {}, 1: {}, 2: {}}
    for n, q in registry.items():
        if n in placed:
            continue
        if n in DRIVER_VERIFIED:
            t = 2
        else:
            t = 0 if q.oracle else 1
        tiers[t].setdefault(n[0], []).append((sub_key(n, q), n))

    ordered = list(sentinels)
    for t in (0, 1, 2):
        by_fam = {f: sorted(v) for f, v in tiers[t].items()}
        fams = sorted(by_fam)
        # bound by the LONGEST live family list so no tail is dropped
        longest = max((len(v) for v in by_fam.values()), default=0)
        ordered.extend(
            by_fam[f][k][1]
            for k in range(longest)
            for f in fams
            if k < len(by_fam[f])
        )
    if len(ordered) != len(registry):  # pragma: no cover - totality guard
        raise AssertionError(
            f"priority order dropped {len(registry) - len(ordered)} entries"
        )
    return ordered


def all_queries() -> dict[str, Query]:
    _load_operators()
    return {name: _REGISTRY[name] for name in _priority_order(_REGISTRY)}


def query_fns() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}

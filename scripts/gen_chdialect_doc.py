"""Regenerate docs/CH_DIALECT.md from the live CH_FUNCTION_DOC table so
the name map can never drift from functions/chdialect.py.
Run: python scripts/gen_chdialect_doc.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_to_clickhouse_spark.functions.chdialect import CH_FUNCTION_DOC

HEADER = """# ClickHouse-dialect function surface

<!-- GENERATED by scripts/gen_chdialect_doc.py — do not edit by hand -->

`mysql_to_clickhouse_spark.functions.chdialect` lets ClickHouse SQL text
run near-verbatim through `spark.sql`:

```python
from mysql_to_clickhouse_spark.functions.chdialect import ch_sql
df = ch_sql(spark, "SELECT toYYYYMM(ts), countIf(x > 1), "
                   "quantileExact(0.9)(v) FROM events GROUP BY 1")
```

Two mechanisms (chosen by what Spark can express — see the module
docstring for the full rationale):

- **SQL UDF (inlined)** — a real registered function; Catalyst inlines
  the body at analysis time, so the name costs exactly what the builtin
  expression costs (no Python, full whole-stage codegen; plan-asserted
  in tests/test_chdialect.py). `ch_sql` registers only the names its
  translated statement calls (and the names their bodies call);
  `register_ch_functions(spark)` registers every one the session
  catalog lacks, for plain `spark.sql` text.
- **translation** — aggregate names, -If combinators, the parametric
  `quantile(p)(x)` shape, `multiIf`, and typed casts cannot be
  registered (Spark SQL UDFs reject aggregate bodies); `ch_sql`
  rewrites them text-to-text before parsing. Unknown identifiers,
  string literals, and backtick identifiers pass through
  byte-identical, so mixed CH + Spark SQL is fine.

Exercised end-to-end by the s13 query family (sqlapi.py), hash-checked
against DuckDB restatements at sf0.01 and sf0.1, and fuzzed by the
CH-dialect axis in tests/test_fuzz_parity.py plus the corpus-replay
axis in tests/test_ch_corpus_replay.py (every statement text under
seeded lexical permutations — case, whitespace, comments, quoted
identifiers, trailing `;`).

## Lexical layer — rules and measured gotchas

The adversarial campaign (r8-r12) found every wrong-answer bug of
rounds 8-12 in THIS layer, so its rules are explicit:

- **Comments** (`/*..*/`, `--`, `#`, `#!`) and string literals are
  lexed in ONE left-to-right pass (earliest token wins) — an
  apostrophe inside a comment cannot open a phantom literal (the r11
  advisor repro silently swallowed a WHERE clause), and comment
  markers inside literals are kept (r12 lexer). `ch_mutation` shares
  the same front door.
- **Double-quoted tokens are identifiers** (CH's ANSI rule; CH has no
  double-quoted string form) and are rewritten to Spark backtick
  identifiers — Spark's default parser would read `"col"` as a STRING
  literal and silently constant-fold the column away (r12 find).
  `""` doubling and `\\"` escapes map to the backtick form.
- **Trailing `;`** is stripped statement-level before clause rewrites
  (r11 find: it was swallowed into a LIMIT BY key).
- **ANY JOIN right sides** may be tables (keep-one order registered
  per table) or parenthesized subqueries (r12; the order rule is then
  keyed by the MANDATORY alias — `register_any_order(alias, ...)`).
- **Mutations** (`ALTER TABLE ... UPDATE a = b, b = a WHERE ...`)
  build every assignment against the PRE-mutation row in one
  projection (r11 advisor find: sequential withColumn didn't swap),
  and the WHERE split is quote-aware (a literal containing the word
  `where` does not terminate the assignment list; r12).

Documented boundaries (loud, with the alternative named — never a
silent wrong answer): `LIMIT BY` inside a subquery; `WITH TOTALS ...
HAVING` (CH totals_mode ambiguity — restate with GROUPING SETS);
block-order-dependent aggregates (deltaSum, exponentialMovingAverage,
...) raise naming the explicit-order operator; Spark's grouping sets
emit no rows over EMPTY input where ANSI engines emit one global row.

| CH name | mechanism | engine operator family |
|---|---|---|
"""


def main() -> None:
    rows = sorted(CH_FUNCTION_DOC)
    lines = [f"| `{n}` | {mech} | {op} |" for n, mech, op in rows]
    out = HEADER + "\n".join(lines) + "\n"
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "CH_DIALECT.md",
    )
    with open(path, "w") as f:
        f.write(out)
    print(f"docs/CH_DIALECT.md regenerated: {len(rows)} names")


if __name__ == "__main__":
    main()

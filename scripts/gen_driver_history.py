"""Regenerate mysql_to_clickhouse_spark/_driver_history.py from the
CORRECTNESS_r*.json artifacts in the repo root.

Run once per round (after the driver writes its artifact) so the next
round's registry order rotates the driver's 50-query cap onto IDs it
has never hash-checked. Idempotent; the output is committed."""

from __future__ import annotations

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADER = '''"""IDs the verification driver has hash/rows-checked, or run
rows-only for want of an oracle, in ANY past round (union of
CORRECTNESS_r*.json keys). Regenerated by
scripts/gen_driver_history.py — do not edit by hand.

The registry's priority order puts never-checked IDs ahead of these
(after the 10 per-family sentinels), so each round's 50-entry driver
cap verifies fresh queries instead of resampling the same prefix."""

DRIVER_VERIFIED = frozenset({
'''


def _is_recorded(rec: dict) -> bool:
    """Rows the driver actually checked count as history. An oracle-
    less ID can only ever get an ``err: "no_oracle"`` row, which still
    records that it ran and how many rows it returned, so that row
    counts. Any other error row, or a row with neither hash nor rows
    confirmed, stays in the never-checked tier so the rotation sends
    it back under the cap."""
    if rec.get("err") == "no_oracle":
        return rec.get("spark_rows") is not None
    if rec.get("err"):
        return False
    return bool(rec.get("hash_match") or rec.get("rows_match"))


def main() -> None:
    seen: set[str] = set()
    rounds = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    for path in rounds:
        recs = json.load(open(path))
        seen |= {k for k, v in recs.items() if _is_recorded(v)}
    out = HEADER
    for name in sorted(seen):
        out += f'    "{name}",\n'
    out += "})\n"
    dst = os.path.join(
        REPO, "mysql_to_clickhouse_spark", "_driver_history.py"
    )
    with open(dst, "w") as f:
        f.write(out)
    print(f"{dst}: {len(seen)} verified IDs from {len(rounds)} rounds")


if __name__ == "__main__":
    main()

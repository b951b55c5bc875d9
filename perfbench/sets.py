"""Steadiness evidence: run sets of seeds and summarise them.

    python3 perfbench/sets.py run --set a --seeds 1-10 [--workloads binlog_cdc,...]
    python3 perfbench/sets.py summary --sets a,b

``run`` invokes run.py once per (workload, seed) with BENCHMARK.json's
run_seconds and stores the metadata and result lines under
``perfbench/results/<set>/``. ``summary`` writes
``perfbench/results/SUMMARY.md``: per set and metric the median and
quartiles, the spread (Q3 - Q1) / median against a third of the bound,
the change of the second set's median against the first in the
metric's worse direction next to the bound, and the host steal of every
run.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(args) -> None:
    spec = _spec()
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]]
    out = os.path.join(RESULTS, args.set)
    os.makedirs(out, exist_ok=True)
    for seed in _seeds(args.seeds):
        for name in names:
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", name, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=600)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"{name} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            meta = json.loads(lines[-2])["meta"]
            result = json.loads(lines[-1])
            with open(os.path.join(out, f"{name}-seed{seed}.json"), "w") as f:
                json.dump({"meta": meta, "result": result}, f, indent=1)
            m = result["metrics"]
            print(f"{name} seed {seed}: correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']} "
                  f"steal={meta['steal_pct']:.2f}% "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()),
                  flush=True)


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def _load(set_name: str, workload: str) -> list[dict]:
    runs = []
    for path in sorted(glob.glob(os.path.join(RESULTS, set_name, f"{workload}-seed*.json"))):
        with open(path) as f:
            runs.append(json.load(f))
    return sorted(runs, key=lambda r: r["meta"]["seed"])


def summary(args) -> None:
    spec = _spec()
    sets = args.sets.split(",")
    lines = ["# Steadiness evidence", "",
             f"Sets: {', '.join(sets)}; run_seconds={spec['run_seconds']}. "
             "Spread is (Q3 - Q1) / median over a set's runs (Python "
             "`statistics.quantiles(n=4)`); the target is a third of the "
             "bound (setup_s excepted). Drift is the last set's median "
             "against the first's, in the metric's worse direction, "
             "as a share of the first; it must stay within the bound.", ""]
    for w in spec["workloads"]:
        name = w["name"]
        per_set = {s: _load(s, name) for s in sets}
        lines += [f"## {name}", ""]
        head = "| metric | bound | " + " | ".join(
            f"{s}: median [Q1, Q3] (spread)" for s in sets) + " | drift |"
        lines += [head, "|" + "---|" * (3 + len(sets))]
        for m in spec["end_to_end"]:
            cells, meds = [], []
            for s in sets:
                xs = [r["result"]["metrics"][m["name"]]["value"] for r in per_set[s]]
                if len(xs) < 2:
                    cells.append("n/a")
                    continue
                q1, med, q3 = _quartiles(xs)
                meds.append(med)
                cells.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}] ({(q3 - q1) / med:.1%})")
            drift = "n/a"
            if len(meds) >= 2:
                d = (meds[-1] - meds[0]) / meds[0]
                d = d if m["better"] == "lower" else -d
                drift = f"{d:+.1%} {'ok' if d <= m['bound'] else 'OVER'}"
            lines.append(f"| {m['name']} ({m['unit']}) | {m['bound']:.0%} | "
                         + " | ".join(cells) + f" | {drift} |")
        lines += ["", "| set | seed | correct | failed/attempted | steal % | loadavg start |",
                  "|---|---|---|---|---|---|"]
        for s in sets:
            for r in per_set[s]:
                meta, res = r["meta"], r["result"]
                lines.append(f"| {s} | {meta['seed']} | {res['correct']} | "
                             f"{res['failed']}/{res['attempted']} | "
                             f"{meta['steal_pct']:.2f} | {meta['loadavg_start'][0]} |")
        lines.append("")
    path = os.path.join(RESULTS, "SUMMARY.md")
    with open(path, "w") as f:
        f.write("\n".join(lines))
    print("\n".join(lines))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--set", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10")
    r.add_argument("--workloads", default="")
    s = sub.add_parser("summary")
    s.add_argument("--sets", required=True, help="e.g. a,b")
    args = p.parse_args()
    {"run": run, "summary": summary}[args.cmd](args)


if __name__ == "__main__":
    main()

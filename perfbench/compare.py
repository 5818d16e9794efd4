"""Compare two sets of benchmark runs, parent and change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the captured standard output of runs of
``perfbench/run.py``, one file per run. Runs of the same workload and seed
on both sides form a pair (without common seeds, runs pair in file-name
order). The metrics are those of each run's result line, named in the
repository's BENCHMARK.json with their direction and bound: the end-to-end
metrics of untraced runs and the per-layer metrics of traced runs. One row
per workload and metric gives each side's median and quartiles, the pairs
the change won, and a verdict:

  improved    the change wins at least nine tenths of the pairs (ties count
              for neither) and the medians differ by more than the parent's
              own quartile spread, with no more failed operations than the
              parent;
  no worse    the change's median is within the metric's bound of the
              parent's (end-to-end metrics);
  worse       it is not, or, for a per-layer metric, the change loses nine
              tenths of the pairs by more than the parent's spread;
  unresolved  the parent's own spread is wider than the bound (unless every
              change run beats every parent run), or a per-layer metric is
              neither improved nor worse.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load_runs(d: str) -> list[dict]:
    """Parse every run output in ``d``: workload, seed, trace, counts and
    the metrics of its result line."""
    runs = []
    for name in sorted(os.listdir(d)):
        path = os.path.join(d, name)
        if not os.path.isfile(path):
            continue
        lines = [ln for ln in open(path, encoding="utf-8").read().splitlines() if ln.strip()]
        report = next((json.loads(ln.split(" ", 1)[1]) for ln in lines
                       if ln.startswith("perfbench-report ")), None)
        if report is None or not lines[-1].startswith("{"):
            print(f"skipping {path}: not a completed run", file=sys.stderr)
            continue
        result = json.loads(lines[-1])
        values = {k: (m["value"], m["unit"]) for k, m in result["metrics"].items()}
        runs.append({"workload": report["workload"], "seed": report["seed"],
                     "trace": report["trace"], "name": name, "failed": result["failed"],
                     "attempted": result["attempted"], "values": values})
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent: list[float], change: list[float], pairs: list[tuple[float, float]],
            better: str, bound: float | None, more_failures: bool) -> tuple[str, int]:
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    gap = sign * (cmed - pmed)
    if pairs and wins >= 0.9 * len(pairs) and gap > pq3 - pq1 and not more_failures:
        return "improved", wins
    if bound is None:
        if pairs and losses >= 0.9 * len(pairs) and -gap > pq3 - pq1:
            return "worse", wins
        return "unresolved", wins
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if pmed and (pq3 - pq1) / abs(pmed) > bound and not all_better:
        return "unresolved", wins
    worse_by = -gap / abs(pmed) if pmed else 0.0
    return ("no worse" if worse_by <= bound else "worse"), wins


def compare(parent_dir: str, change_dir: str, spec: dict) -> list[list[str]]:
    sides = {"parent": load_runs(parent_dir), "change": load_runs(change_dir)}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    rows = []
    keys = sorted({(r["workload"], r["trace"]) for rs in sides.values() for r in rs})
    for workload, trace in keys:
        sel = {s: [r for r in rs if r["workload"] == workload and r["trace"] == trace]
               for s, rs in sides.items()}
        if not sel["parent"] or not sel["change"]:
            continue
        failed = {s: sum(r["failed"] for r in rs) for s, rs in sel.items()}
        attempted = {s: sum(r["attempted"] for r in rs) for s, rs in sel.items()}
        rows.append([workload, "failed/attempted", "ops",
                     f"{failed['parent']}/{attempted['parent']}",
                     f"{failed['change']}/{attempted['change']}", "", ""])
        by_seed = {s: {r["seed"]: r for r in rs} for s, rs in sel.items()}
        common = sorted(set(by_seed["parent"]) & set(by_seed["change"]))
        if common:
            paired = [(by_seed["parent"][k], by_seed["change"][k]) for k in common]
        else:
            paired = list(zip(sel["parent"], sel["change"]))
        names = sorted(n for n in set.intersection(*(set(r["values"]) for r in sel["parent"] + sel["change"]))
                       if n in better)
        for name in names:
            p = [r["values"][name][0] for r in sel["parent"]]
            c = [r["values"][name][0] for r in sel["change"]]
            pairs = [(a["values"][name][0], b["values"][name][0]) for a, b in paired]
            v, wins = verdict(p, c, pairs, better[name], bounds.get(name),
                              failed["change"] > failed["parent"])
            pq, cq = quartiles(p), quartiles(c)
            rows.append([workload + (" (traced)" if trace else ""), name,
                         sel["parent"][0]["values"][name][1],
                         f"{pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}] n={len(p)}",
                         f"{cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}] n={len(c)}",
                         f"{wins}/{len(pairs)}", v])
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Compare parent and change benchmark runs.")
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    args = ap.parse_args(argv)
    if not os.path.isfile(BENCHMARK):
        print(f"compare: {BENCHMARK} not found", file=sys.stderr)
        return 2
    with open(BENCHMARK, encoding="utf-8") as f:
        spec = json.load(f)
    rows = compare(args.parent_dir, args.change_dir, spec)
    head = ["workload", "metric", "unit", "parent median [q1, q3]",
            "change median [q1, q3]", "pairs won", "verdict"]
    widths = [max(len(str(r[i])) for r in rows + [head]) for i in range(len(head))]
    for r in [head] + rows:
        print("  ".join(str(x).ljust(w) for x, w in zip(r, widths)).rstrip())
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Compare two sets of benchmark result files.

Usage (from the repository root):
  python3 perfbench/compare.py --base DIR_OR_FILE... --new DIR_OR_FILE...

Each argument is a result file written by run.py (<workload>_seed<n>_trace<t>.json)
or a directory of them. Prints one row per workload and metric: each side's
run count, median and quartiles, and a verdict:

  improved    the new side wins at least 9/10 of the seed-paired runs and the
              medians differ by more than the base side's quartile spread
  worse       the new median is worse than the base median by more than the
              metric's bound in BENCHMARK.json
  unresolved  neither, and either side's quartile spread exceeds the bound,
              unless every new run reads better than every base run
  unchanged   otherwise

Per-layer metrics (traced runs) have no bound; they get improved, changed
(medians apart by more than the base spread) or unchanged.
"""
import argparse
import json
import statistics
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(paths):
    runs = []
    for p in map(Path, paths):
        files = sorted(p.glob("*_trace[01].json")) if p.is_dir() else [p]
        for f in files:
            r = json.loads(f.read_text())
            h = r["header"]
            runs.append({"workload": h["workload"], "seed": h["seed"], "traced": h["traced"],
                         "metrics": {k: v["value"] for k, v in r["metrics"].items()}})
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, new, better, bound):
    """base/new: {seed: value}. Returns the verdict string."""
    sign = 1.0 if better == "higher" else -1.0
    b, n = list(base.values()), list(new.values())
    bq1, bm, bq3 = quartiles(b)
    nq1, nm, nq3 = quartiles(n)
    common = sorted(set(base) & set(new))
    pairs = [(base[s], new[s]) for s in common] if common else list(zip(b, n))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    if bound is not None and sign * (nm - bm) < 0 and abs(nm - bm) > bound * abs(bm):
        return "worse"
    if pairs and wins >= 0.9 * len(pairs) and sign * (nm - bm) > 0 and abs(nm - bm) > bq3 - bq1:
        return "improved"
    if bound is None:
        return "changed" if abs(nm - bm) > bq3 - bq1 else "unchanged"
    spread = max((bq3 - bq1) / abs(bm) if bm else 0.0, (nq3 - nq1) / abs(nm) if nm else 0.0)
    all_better = min(n) > max(b) if sign > 0 else max(n) < min(b)
    if spread > bound and not all_better:
        return "unresolved"
    return "unchanged"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    ap.add_argument("--benchmark", default=str(ROOT / "BENCHMARK.json"))
    a = ap.parse_args()
    spec = json.loads(Path(a.benchmark).read_text())
    defs = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, new = load(a.base), load(a.new)
    fmt = "{:<12} {:<36} {:>3} {:>12} {:>25} {:>3} {:>12} {:>25}  {}"
    print(fmt.format("workload", "metric", "n", "base median", "base q1..q3",
                     "n", "new median", "new q1..q3", "verdict"))
    for w in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        for name, d in defs.items():
            side = []
            for runs in (base, new):
                side.append({r["seed"]: r["metrics"][name] for r in runs
                             if r["workload"] == w and name in r["metrics"]})
            if not side[0] or not side[1]:
                continue
            v = verdict(side[0], side[1], d["better"], d.get("bound"))
            cells = []
            for s in side:
                q1, m, q3 = quartiles(list(s.values()))
                cells += [len(s), f"{m:.6g}", f"{q1:.6g}..{q3:.6g}"]
            print(fmt.format(w, f"{name} [{d['unit']}]", *cells, v))


if __name__ == "__main__":
    main()

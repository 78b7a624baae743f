#!/usr/bin/env python3
"""Compare two sets of benchmark runs (standard library only).

    python3 perfbench/compare.py BASE CHANGE [--spec BENCHMARK.json]

BASE and CHANGE are each a directory of run records (the JSON files
perfbench/run.py writes to .bench_build/runs/) or a file of them, one JSON
object per line. Both the records and bare result lines (the object a run
prints last) are read; a bare line needs a "workload" key added to it.

For every workload and end-to-end metric it prints each side's median,
first and third quartile (statistics.quantiles, n=4) and spread (quartile
distance over the median), and a verdict by the rule of section 8 of the
choosing-metrics guide:
  improved    the change wins at least 9 of 10 pairs (runs paired by seed,
              else in order) and the medians differ by more than the base's
              quartile distance;
  unresolved  otherwise, when a side's spread exceeds the metric's bound,
              unless every run of the change reads better than every run of
              the base;
  regressed   the change's median is worse than the base's by more than the
              bound;
  same        otherwise (within the bound).
With one set only, it prints the medians and spreads. When a set holds
traced and untraced runs of a workload, the tracing overhead is printed:
the traced passes' median wall over the untraced one.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path


def load(path: Path) -> list:
    files = sorted(path.glob("*.json")) if path.is_dir() else [path]
    runs = []
    for f in files:
        for line in f.read_text().splitlines():
            line = line.strip()
            if line.startswith("{"):
                r = json.loads(line)
                if "workload" in r:
                    runs.append(r)
    return runs


def values(run: dict) -> dict:
    """Metric name -> value of one run, from a record or a bare result."""
    res = run.get("result", run)
    out = {k: v["value"] for k, v in res.get("metrics", {}).items()}
    out.update(run.get("all_metrics", {}))
    return out


def stats(xs: list) -> tuple:
    med = statistics.median(xs)
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def verdict(base: list, chg: list, better: str, bound: float) -> str:
    sign = 1.0 if better == "lower" else -1.0
    mb, q1b, q3b, sb = stats(base)
    mc, _, _, sc = stats(chg)
    pairs = list(zip(base, chg))
    wins = sum(sign * (c - b) < 0 for b, c in pairs)
    if wins >= 0.9 * len(pairs) and sign * (mc - mb) < 0 and abs(mc - mb) > q3b - q1b:
        return "improved"
    all_better = all(sign * (c - b) < 0 for c in chg for b in base)
    if max(sb, sc) > bound and not all_better:
        return "unresolved"
    if sign * (mc - mb) > bound * mb:
        return "regressed"
    return "same"


def by_seed(runs: list) -> list:
    return sorted(runs, key=lambda r: (r.get("seed", 0), r.get("host", {}).get("wall_s", 0)))


def main() -> int:
    ap = argparse.ArgumentParser(description="compare two sets of benchmark runs")
    ap.add_argument("base", type=Path)
    ap.add_argument("change", type=Path, nargs="?")
    ap.add_argument("--spec", type=Path,
                    default=Path(__file__).resolve().parent.parent / "BENCHMARK.json")
    a = ap.parse_args()
    spec = json.loads(a.spec.read_text())
    sets = [load(a.base)] + ([load(a.change)] if a.change else [])
    for w in [x["name"] for x in spec["workloads"]]:
        runs = [by_seed([r for r in s if r["workload"] == w and not r.get("trace")])
                for s in sets]
        if not runs[0]:
            continue
        print(f"== {w}: {' vs '.join(str(len(r)) for r in runs)} runs")
        for m in spec["end_to_end"]:
            cols = []
            xs_all = []
            for rs in runs:
                xs = [values(r)[m["name"]] for r in rs if m["name"] in values(r)]
                xs_all.append(xs)
                if xs:
                    med, q1, q3, sp = stats(xs)
                    cols.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}] spread {sp:.3f}")
            line = f"  {m['name']:<14} {m['unit']:<5} " + " | ".join(cols)
            if len(xs_all) == 2 and all(xs_all):
                line += "  -> " + verdict(xs_all[0], xs_all[1], m["better"], m["bound"])
            elif xs_all[0]:
                sp = stats(xs_all[0])[3]
                line += f"  (bound {m['bound']}: {'ok' if sp <= m['bound'] else 'unresolved'})"
            print(line)
        for i, s in enumerate(sets):
            traced = [values(r).get("trace.pass_s") for r in s
                      if r["workload"] == w and r.get("trace")]
            plain = [values(r).get("pass_s") for r in s
                     if r["workload"] == w and not r.get("trace")]
            traced, plain = [x for x in traced if x], [x for x in plain if x]
            if traced and plain:
                t, p = statistics.median(traced), statistics.median(plain)
                print(f"  tracing overhead (set {i + 1}): pass {t:.4g} s traced vs "
                      f"{p:.4g} s untraced = {100 * (t - p) / p:+.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main())

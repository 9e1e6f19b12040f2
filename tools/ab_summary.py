#!/usr/bin/env python3
"""Summarize an A/B of perfbench runs: parent commit against a change.

Usage: python3 tools/ab_summary.py --parent <json|dir> ... --change <json|dir> ...

Each argument is a perfbench result JSON (.perfbench/results/*.json) or a
directory of them. Only untraced results (--trace 0) carry the end-to-end
metrics; others are skipped. A parent run and a change run form a pair when
they ran the same workload on the same seed.

For each workload and each end-to-end metric in BENCHMARK.json it prints,
per side, the run count, median and quartiles, then the pair wins and two
verdicts:
  - gain: the change wins at least 9 of 10 pairs (ties count for neither)
    and its median is better than the parent's by more than the parent's
    interquartile range;
  - bound: the change's median is no worse than the parent's by more than
    the metric's bound (a fraction of the parent's median). When either
    side's spread (IQR / median) is wider than the bound the metric is
    "unresolved", unless every change run is better than every parent run.
It also prints each side's share of failed operations. Exits 1 when a
bound fails or the change's failed share is higher than the parent's.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(paths) -> list:
    """The untraced result objects under `paths` (files or directories)."""
    files = []
    for p in map(Path, paths):
        files += sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = [json.loads(f.read_text()) for f in files]
    return [r for r in runs if int(r.get("trace", 0)) == 0]


def quartiles(values) -> tuple:
    """(q1, median, q3), inclusive method; a single value is all three."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def metric_rows(parent: list, change: list, spec: dict) -> list:
    """One dict per (workload, end-to-end metric) present on both sides."""
    rows = []
    workloads = sorted({r["workload"] for r in parent} & {r["workload"] for r in change})
    for wl in workloads:
        p_runs = [r for r in parent if r["workload"] == wl]
        c_runs = [r for r in change if r["workload"] == wl]
        for m in spec["end_to_end"]:
            name, sign = m["name"], (1 if m["better"] == "lower" else -1)

            def val(r):
                return r.get("metrics", {}).get(name, {}).get("value")
            pv = [val(r) for r in p_runs if val(r) is not None]
            cv = [val(r) for r in c_runs if val(r) is not None]
            if not pv or not cv:
                continue
            by_seed = {r["seed"]: val(r) for r in p_runs if val(r) is not None}
            pairs = [(by_seed[r["seed"]], val(r)) for r in c_runs
                     if val(r) is not None and r["seed"] in by_seed]
            wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
            losses = sum(1 for p, c in pairs if sign * (c - p) > 0)
            (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(pv), quartiles(cv)
            gain = sign * (pmed - cmed)
            gain_holds = bool(pairs) and wins >= 0.9 * len(pairs) and gain > pq3 - pq1
            worse = sign * (cmed - pmed) / pmed if pmed else 0.0
            spread = max((pq3 - pq1) / pmed if pmed else 0.0,
                         (cq3 - cq1) / cmed if cmed else 0.0)
            all_better = all(sign * (p - c) > 0 for p in pv for c in cv)
            if worse > m["bound"]:
                bound = "REGRESSION"
            elif spread > m["bound"] and not all_better:
                bound = "unresolved"
            else:
                bound = "ok"
            rows.append(dict(workload=wl, metric=name, unit=m["unit"],
                             parent=(len(pv), pq1, pmed, pq3), change=(len(cv), cq1, cmed, cq3),
                             pairs=len(pairs), wins=wins, losses=losses,
                             gain_holds=gain_holds, gain=gain, parent_iqr=pq3 - pq1,
                             worse=worse, spread=spread, limit=m["bound"], bound=bound))
    return rows


def failed_share(runs: list, workload: str) -> tuple:
    """(failed, attempted) summed over one side's runs of `workload`."""
    rs = [r for r in runs if r["workload"] == workload]
    return sum(int(r["failed"]) for r in rs), sum(int(r["attempted"]) for r in rs)


def report(parent: list, change: list, spec: dict) -> tuple:
    """The printed summary and whether every bound and failure check holds."""
    lines, ok = [], True
    rows = metric_rows(parent, change, spec)
    for row in rows:
        lines.append(f"{row['workload']} {row['metric']} ({row['unit']})")
        for side in ("parent", "change"):
            n, q1, med, q3 = row[side]
            lines.append(f"  {side:6} n={n:<3} median={med:.3f} q1={q1:.3f} q3={q3:.3f}")
        lines.append(
            f"  pairs={row['pairs']} change better={row['wins']} worse={row['losses']} "
            f"tie={row['pairs'] - row['wins'] - row['losses']}")
        lines.append(
            f"  gain rule: {'HOLDS' if row['gain_holds'] else 'not met'} "
            f"(median better by {row['gain']:.3f}, parent IQR {row['parent_iqr']:.3f}, "
            f"wins {row['wins']}/{row['pairs']})")
        lines.append(
            f"  bound {row['limit']}: {row['bound']} (change worse by {100 * row['worse']:+.1f}%, "
            f"spread {row['spread']:.2f})")
        ok &= row["bound"] != "REGRESSION"
    for wl in sorted({r["workload"] for r in rows}):
        (pf, pa), (cf, ca) = failed_share(parent, wl), failed_share(change, wl)
        rises = cf * pa > pf * ca  # cf / ca > pf / pa without dividing by 0
        lines.append(f"{wl} failed operations: parent {pf}/{pa}, change {cf}/{ca}"
                     + (" RISES" if rises else ""))
        ok &= not rises
    return "\n".join(lines), ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    text, ok = report(load(args.parent), load(args.change), spec)
    print(text)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

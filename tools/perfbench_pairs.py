#!/usr/bin/env python3
"""Compare perfbench records of two builds, run by run.

    python3 tools/perfbench_pairs.py PARENT_RECORDS CHANGE_RECORDS [--trace 0] [--top 8]

Each argument is a perfbench records directory (`.bench_build/records` of a
source tree, or a copy of it). Records of one workload and seed on both
sides form a pair; records without a partner are listed and left out. Per
workload it prints:

- every end-to-end metric (setup_s, cold_pass_s, warm_pass_s, peak_rss_mb),
  or with `--trace 1` every per-layer metric that is not 0 on both sides:
  the values of each pair in seed order, the median ratio change/parent,
  and how many pairs the change won (lower is better; ties count for
  neither side); setup_s is followed by each of its set-up rounds
  (`setup_rounds_s`), since round 1 counts from JVM start and the median
  hides it;
- each side's quartiles and the distance between them (inclusive method,
  linear interpolation);
- for each end-to-end metric, a verdict against its bound in the
  `BENCHMARK.json` at the root of this tree, in the metric's own direction:
  `regressed` when the change's median is worse than the parent's by more
  than the bound (as a fraction of the parent's median); else `unresolved`
  when either side's runs spread wider than the bound (quartile distance
  over median), unless every change run reads better than every parent run;
  else `gain` when the change wins at least 9 of 10 pairs and its median
  beats the parent's by more than the parent's quartile distance; else
  `neutral`;
- the failed operations and the output checks of every run;
- per operation, the median over the untraced warm passes of all runs of
  each side, for the operations whose medians differ most.
"""
import argparse
import glob
import json
import os
import statistics
import sys

METRICS = ("setup_s", "cold_pass_s", "warm_pass_s", "peak_rss_mb")
BENCHMARK = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir, "BENCHMARK.json")


def load(d: str, trace: int) -> dict:
    """(workload, seed) -> record, for the records of `d` with `trace`."""
    out = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        if int(r.get("trace", 0)) != trace:
            continue
        key = (r["workload"], r["seed"])
        if key in out:
            sys.exit(f"perfbench_pairs: two records for {key} in {d}")
        out[key] = r
    return out


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0])
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return (q1, q2, q3)


def warm_ops(r: dict) -> dict:
    """op -> wall times of its untraced warm-pass samples."""
    out = {}
    for o in r["ops"]:
        if o["pass"] > r["warmup_passes"] and not o["traced"] and o["failure"] is None:
            out.setdefault(o["op"], []).append(o["total_s"])
    return out


def fmt(xs: list) -> str:
    return " ".join(f"{x:8.3f}" for x in xs)


def verdict(p: list, c: list, bound: float, lower: bool) -> str:
    """regressed / unresolved / gain / neutral for one end-to-end metric."""
    sign = 1 if lower else -1
    pq, cq = quartiles(p), quartiles(c)
    worse = sign * (cq[1] - pq[1])
    if worse > bound * abs(pq[1]):
        return "regressed"
    spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else float("inf") for q in (pq, cq))
    if spread > bound and not all(sign * (b - a) < 0 for a in p for b in c):
        return "unresolved"
    wins = sum(1 for a, b in zip(p, c) if sign * (b - a) < 0)
    if wins * 10 >= 9 * len(p) and -worse > pq[2] - pq[0]:
        return "gain"
    return "neutral"


def compare(name: str, p: list, c: list, bound=None, lower: bool = True) -> None:
    """One metric's values per pair, median ratio, wins and quartiles, and
    its verdict when it has a bound."""
    ratio = statistics.median(c) / statistics.median(p) if statistics.median(p) else float("nan")
    wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
    losses = sum(1 for a, b in zip(p, c) if (b > a if lower else b < a))
    print(f"{name:12s} parent {fmt(p)}")
    print(f"{'':12s} change {fmt(c)}")
    pq, cq = quartiles(p), quartiles(c)
    print(f"{'':12s} median ratio {ratio:.3f}; change better in {wins}/{len(p)} pairs, "
          f"worse in {losses}")
    print(f"{'':12s} parent q1 {pq[0]:.3f} median {pq[1]:.3f} q3 {pq[2]:.3f} (IQR {pq[2] - pq[0]:.3f}); "
          f"change q1 {cq[0]:.3f} median {cq[1]:.3f} q3 {cq[2]:.3f} (IQR {cq[2] - cq[0]:.3f}); "
          f"median gap {pq[1] - cq[1]:+.3f}")
    if bound is not None:
        print(f"{'':12s} verdict {verdict(p, c, bound, lower)} (bound {bound})")


def report(workload: str, pairs: list, top: int, bounds: dict) -> None:
    seeds = [s for s, _, _ in pairs]
    print(f"## {workload}: {len(pairs)} pairs, seeds {seeds}")
    names = [m for m in METRICS if m in pairs[0][1]["metrics"]] or [
        m for m in pairs[0][1]["metrics"]
        if any(r["metrics"][m]["value"] for _, pr, cr in pairs for r in (pr, cr))]
    for m in names:
        bound, lower = bounds.get(m, (None, True))
        compare(m, [pr["metrics"][m]["value"] for _, pr, _ in pairs],
                [cr["metrics"][m]["value"] for _, _, cr in pairs], bound, lower)
        if m == "setup_s":
            rounds = min(len(r.get("setup_rounds_s", [])) for _, pr, cr in pairs for r in (pr, cr))
            for i in range(rounds):
                compare(f"  round {i + 1}", [pr["setup_rounds_s"][i] for _, pr, _ in pairs],
                        [cr["setup_rounds_s"][i] for _, _, cr in pairs])
    print(f"failed ops   parent {[pr['failed'] for _, pr, _ in pairs]} "
          f"change {[cr['failed'] for _, _, cr in pairs]}; correct parent "
          f"{[pr['failed'] == 0 for _, pr, _ in pairs]} change {[cr['failed'] == 0 for _, _, cr in pairs]}")
    side = ({}, {})
    for _, pr, cr in pairs:
        for i, r in enumerate((pr, cr)):
            for op, xs in warm_ops(r).items():
                side[i].setdefault(op, []).extend(xs)
    rows = []
    for op in sorted(set(side[0]) & set(side[1])):
        a, b = statistics.median(side[0][op]), statistics.median(side[1][op])
        rows.append((abs(b - a), op, a, b, len(side[0][op]), len(side[1][op])))
    print(f"\n## {workload}, per operation: the largest median differences over the untraced "
          f"warm passes of all runs per side")
    for _, op, a, b, na, nb in sorted(rows, reverse=True)[:top]:
        print(f"{op:34s} parent {a:.4f} change {b:.4f} diff {b - a:+.4f} (n {na}/{nb})")
    print()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--top", type=int, default=8)
    a = ap.parse_args()
    with open(BENCHMARK) as f:
        bounds = {m["name"]: (float(m["bound"]), m.get("better", "lower") == "lower")
                  for m in json.load(f)["end_to_end"] if "bound" in m}
    parent, change = load(a.parent, a.trace), load(a.change, a.trace)
    for key in sorted(set(parent) ^ set(change)):
        print(f"unpaired: {key} only in {'parent' if key in parent else 'change'}")
    for workload in sorted({w for w, _ in set(parent) & set(change)}):
        pairs = [(s, parent[(w, s)], change[(w, s)])
                 for (w, s) in sorted(set(parent) & set(change)) if w == workload]
        report(workload, pairs, a.top, bounds)


if __name__ == "__main__":
    main()

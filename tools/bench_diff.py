#!/usr/bin/env python3
"""Compare two graft.Bench records query by query.

    python3 tools/bench_diff.py PARENT.json CHANGE.json [--touched PATTERNS]

Each argument is the record `graft.Bench` writes to SPARK_GRAFT_BENCH_OUT
(the full record with `per_query`). PATTERNS is a comma-separated list of
query names or shell-style patterns (`q_pagerank_*`) naming the queries the
change touched. For every query in both records it prints the warm seconds
of each side, their ratio change/parent, and the jobs of each side; then
the geometric mean of the ratios over all common queries and over the
untouched ones.

The untouched queries' ratios give the noise band: their 5th to 95th
percentile (their full range when fewer than 20). A touched query whose
ratio falls outside the band is flagged `faster` or `slower`; one inside
it reads `within noise`. Queries in only one record, or failed on either
side, are listed and left out.
"""
import argparse
import fnmatch
import json
import math
import statistics
import sys


def load(path: str) -> dict:
    """query -> (warm seconds, jobs or None)."""
    with open(path) as f:
        r = json.load(f)
    per = r.get("per_query", {})
    failed = set(r.get("failed", []))
    return {q: (s, per.get(q, {}).get("jobs")) for q, s in r["queries"].items()
            if q not in failed and s >= 0}


def geomean(xs: list) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def band(xs: list) -> tuple:
    if len(xs) < 20:
        return (min(xs), max(xs))
    qs = statistics.quantiles(xs, n=20, method="inclusive")
    return (qs[0], qs[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--touched", default="", help="comma-separated names or patterns")
    a = ap.parse_args()
    p, c = load(a.parent), load(a.change)
    pats = [t.strip() for t in a.touched.split(",") if t.strip()]
    common = sorted(set(p) & set(c))
    only = sorted(set(p) ^ set(c))
    if not common:
        sys.exit("bench_diff: the records share no successful query")
    touched = {q for q in common if any(fnmatch.fnmatchcase(q, t) for t in pats)}
    unmatched = [t for t in pats if not any(fnmatch.fnmatchcase(q, t) for q in common)]
    ratio = {q: c[q][0] / p[q][0] if p[q][0] > 0 else float("nan") for q in common}
    rest = [ratio[q] for q in common if q not in touched and math.isfinite(ratio[q]) and ratio[q] > 0]
    lo, hi = band(rest) if rest else (float("nan"), float("nan"))

    def jobs(v):
        return "-" if v is None else str(v)

    print(f"{'query':<40} {'parent_s':>9} {'change_s':>9} {'ratio':>7} {'jobs':>9}  note")
    for q in common:
        (ps, pj), (cs, cj) = p[q], c[q]
        note = ""
        if q in touched:
            r = ratio[q]
            note = "touched, " + ("faster" if r < lo else "slower" if r > hi else "within noise")
        print(f"{q:<40} {ps:>9.4f} {cs:>9.4f} {ratio[q]:>7.3f} {jobs(pj):>4}>{jobs(cj):<4}  {note}")
    finite = [r for r in ratio.values() if math.isfinite(r) and r > 0]
    print()
    print(f"common queries: {len(common)}, touched: {len(touched)}, untouched: {len(rest)}")
    print(f"geomean ratio, all: {geomean(finite):.3f}")
    print(f"geomean ratio, untouched: {geomean(rest):.3f}")
    print(f"noise band (untouched {'5th-95th percentile' if len(rest) >= 20 else 'range'}): "
          f"{lo:.3f} .. {hi:.3f}")
    if touched:
        print(f"geomean ratio, touched: {geomean([ratio[q] for q in touched]):.3f}")
    if unmatched:
        print("patterns matching no common query: " + ", ".join(unmatched))
    if only:
        print("in one record only, or failed: " + ", ".join(only))


if __name__ == "__main__":
    main()

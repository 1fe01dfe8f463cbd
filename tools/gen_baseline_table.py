#!/usr/bin/env python3
"""Regenerate BASELINE.md's per-query table (dev tooling only).

Inputs: the one-line JSON outputs of graft.Bench (sf0.1 and sf1) and
tools/bench_duckdb.py (sf0.1 and sf1). Prints the markdown table with
growth columns so the sf0.1->sf1 amortization evidence is regenerable.

Usage:
  python3 tools/gen_baseline_table.py spark01.json spark1.json duck01.json duck1.json
"""
import sys, json, re


def load(path):
    """The bench record in `path`: its one-line JSON record (the last line
    of a bench stdout capture), or else the whole file as one indented
    JSON document."""
    for line in open(path):
        line = line.strip()
        if line.startswith('{"') and '"queries"' in line:
            return json.loads(line)
    try:
        d = json.load(open(path))
    except json.JSONDecodeError:
        d = None
    if not isinstance(d, dict) or "queries" not in d:
        raise SystemExit(f"no bench JSON record in {path}")
    return d


def main():
    s01, s1, d01, d1 = (load(p) for p in sys.argv[1:5])
    sq01, sq1 = s01["queries"], s1["queries"]
    dq01, dq1 = d01["queries"], d1["queries"]
    print("| query | duckdb_s | spark_s (warm) | ratio | spark_sf1_s | spark growth | duckdb_sf1_s |")
    print("|---|---|---|---|---|---|---|")
    for q in sorted(sq01):
        sp, sp1 = sq01[q], sq1.get(q)
        if q in dq01:
            du, du1 = dq01[q], dq1.get(q)
            ratio = f"{sp / du:.1f}" if du > 0 else "—"
            du_s, du1_s = f"{du:.3f}", (f"{du1:.3f}" if du1 is not None else "—")
        else:
            ratio, du_s, du1_s = "—", "— (rows-only)", "—"
        g = f"{sp1 / sp:.1f}×" if sp1 and sp > 0 else "—"
        sp1_s = f"{sp1:.3f}" if sp1 is not None else "—"
        print(f"| {q} | {du_s} | {sp:.3f} | {ratio} | {sp1_s} | {g} | {du1_s} |")
    print()
    oracled01 = sum(v for k, v in sq01.items() if k in dq01)
    oracled1 = sum(v for k, v in sq1.items() if k in dq1)
    print(f"Totals: spark sf0.1 warm {s01['warm_total']:.1f}s cold {s01['cold_total']:.1f}s"
          f" ({len(sq01)} queries) | duckdb sf0.1 warm {d01['warm_total']:.1f}s"
          f" ({len(dq01)} queries) | oracled-only spark {oracled01:.1f}s -> ratio"
          f" {oracled01 / d01['warm_total']:.2f}x")
    print(f"        spark sf1   warm {s1['warm_total']:.1f}s cold {s1['cold_total']:.1f}s"
          f" | duckdb sf1 warm {d1['warm_total']:.1f}s | oracled-only spark"
          f" {oracled1:.1f}s -> ratio {oracled1 / d1['warm_total']:.2f}x | spark growth"
          f" {s1['warm_total'] / s01['warm_total']:.2f}x for 10x data")


if __name__ == "__main__":
    main()

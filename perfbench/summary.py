#!/usr/bin/env python3
"""Summarize one or two sets of perfbench runs.

    python3 perfbench/summary.py <set A> [<set B>]

A set is a directory of run records (the `<workload>-s<seed>-t<trace>-*.json`
files `run.py` writes under `.perfbench/runs/`) or a list of record files
joined with commas. For each workload and metric it prints the median, the
first and third quartiles and the spread, (Q3 - Q1) / median, as
`statistics.quantiles(values, n=4)` gives them. Untraced runs give the
end-to-end metrics, traced runs the per-layer ones; when a set holds both
kinds for a workload, the traced-minus-untraced median of each end-to-end
metric is printed as the tracing overhead. With two sets it also prints
B's median relative to A's. When BENCHMARK.json is in the working directory,
each end-to-end spread and shift is checked against the metric's bound.
"""
import glob
import json
import os
import statistics
import sys


def load(spec):
    files = (sorted(glob.glob(os.path.join(spec, "*.json"))) if os.path.isdir(spec)
             else spec.split(","))
    runs = []
    for f in files:
        if f.endswith("-spans.json"):
            continue
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def stats(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def table(runs):
    """(workload, kind) -> metric -> values; kind is e2e or layers."""
    out = {}
    for r in runs:
        kind = "layers" if r["trace"] else "e2e"
        for k, v in r[kind].items():
            out.setdefault((r["workload"], kind), {}).setdefault(k, []).append(v)
    return out


def main(argv):
    if not 1 <= len(argv) <= 2:
        raise SystemExit(__doc__)
    sets = [load(a) for a in argv]
    bounds = {}
    if os.path.exists("BENCHMARK.json"):
        bounds = {m["name"]: m["bound"] for m in json.load(open("BENCHMARK.json"))["end_to_end"]}
    tabs = [table(s) for s in sets]
    keys = sorted(set().union(*[t.keys() for t in tabs]))
    for wl, kind in keys:
        print(f"\n== {wl} ({'traced, per-layer' if kind == 'layers' else 'untraced, end-to-end'})")
        metrics = sorted(set().union(*[t.get((wl, kind), {}).keys() for t in tabs]))
        for m in metrics:
            cells, meds = [], []
            for t in tabs:
                vals = t.get((wl, kind), {}).get(m)
                if not vals:
                    cells.append(f"{'-':>44}")
                    meds.append(None)
                    continue
                med, q1, q3, spread = stats(vals)
                meds.append(med)
                flag = ""
                if kind == "e2e" and m in bounds:
                    flag = " ok" if spread <= bounds[m] else " WIDE"
                cells.append(f"n={len(vals):<3} med={med:<11.6g} q1={q1:<11.6g} q3={q3:<11.6g} "
                             f"spread={spread:.3f}{flag}")
            line = f"  {m:<44} " + "  |  ".join(cells)
            if len(meds) == 2 and None not in meds and meds[0]:
                shift = meds[1] / meds[0] - 1
                line += f"  |  B/A-1={shift:+.3f}"
                if kind == "e2e" and m in bounds:
                    line += f" (bound {bounds[m]})"
            print(line)
    for i, t in enumerate(tabs):
        for wl in sorted({w for w, _ in t}):
            plain, traced = t.get((wl, "e2e")), table_e2e_traced(sets[i], wl)
            if plain and traced:
                print(f"\n== tracing overhead, set {'AB'[i]}, {wl} (traced median - untraced median)")
                for m in sorted(traced):
                    if m in plain:
                        base = statistics.median(plain[m])
                        d = statistics.median(traced[m]) - base
                        print(f"  {m:<20} {d:+.6g}" + (f" ({d / base:+.1%})" if base else ""))


def table_e2e_traced(runs, wl):
    """End-to-end metrics of the traced runs of `wl` (run.py records them too)."""
    out = {}
    for r in runs:
        if r["trace"] and r["workload"] == wl:
            for k, v in r["e2e"].items():
                out.setdefault(k, []).append(v)
    return out


if __name__ == "__main__":
    main(sys.argv[1:])

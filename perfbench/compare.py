#!/usr/bin/env python3
"""Compare sets of benchmark runs.

    python3 perfbench/compare.py SET_A [SET_B]

Each SET is a directory of the per-run JSON files that run.py saves
under .bench_build/results/ (copy a batch of runs into a directory of
its own to make a set). For every workload and end-to-end metric it
prints each set's median, quartiles and spread (the quartile distance
as a share of the median), whether the spread is within the metric's
bound from BENCHMARK.json, and, given two sets, whether set B's median
is no worse than set A's by more than the bound. Untraced runs supply
the end-to-end figures. Traced runs supply the per-layer medians and
the self time per operation type and layer, printed as deltas from A
to B; where a set has traced and untraced runs of a workload the
tracing overhead (traced vs untraced ops_per_s) is printed too.
Exits 1 if any check fails.
"""
import glob
import json
import os
import statistics
import sys


def load_set(path):
    runs = []
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def quart(values):
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def spec():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def series(runs, workload, traced, section):
    out = {}
    for r in runs:
        if r["workload"] == workload and r["trace"] == traced:
            for k, m in r[section].items():
                out.setdefault(k, []).append(m["value"])
    return out


def main():
    sets = [load_set(p) for p in sys.argv[1:3]]
    if not sets or not sets[0]:
        sys.exit("usage: compare.py SET_A [SET_B]  (directories of run JSON)")
    bench = spec()
    ok = True
    workloads = sorted({r["workload"] for s in sets for r in s})
    for w in workloads:
        print(f"== {w}")
        for name, s in zip("AB", sets):
            runs = [r for r in s if r["workload"] == w and r["trace"] == 0]
            steal = [r["env"]["host.steal_s"] for r in runs]
            failed = sorted({(r["result"]["failed"], r["result"]["attempted"])
                             for r in runs})
            print(f"  set {name}: {len(runs)} untraced runs, host steal "
                  f"median {statistics.median(steal) if steal else 0:.2f} s "
                  f"(max {max(steal, default=0):.2f}), all correct: "
                  f"{all(r['result']['correct'] for r in runs)}, "
                  f"failed/attempted {failed}")
        for m in bench["end_to_end"]:
            k, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            row = []
            meds = []
            for s in sets:
                vals = series(s, w, 0, "end_to_end").get(k, [])
                q1, med, q3 = quart(vals)
                spread = (q3 - q1) / med if med else float("inf")
                steady = k == "setup_s" or spread <= bound
                ok &= steady
                meds.append(med)
                row.append(f"{med:10.4f} [{q1:.4f}, {q3:.4f}] "
                           f"spread {spread:6.1%}{'' if steady else ' (!)'}")
            verdict = ""
            if len(meds) == 2 and meds[0]:
                worse = (meds[1] - meds[0]) / meds[0] * (1 if lower else -1)
                agree = worse <= bound
                ok &= agree
                verdict = (f"  B vs A {(meds[1] - meds[0]) / meds[0]:+6.1%} "
                           f"{'agree' if agree else 'WORSE'} (bound {bound:.0%})")
            print(f"  {k:14s} {m['unit']:4s} " + " | ".join(row) + verdict)
        for name, s in zip("AB", sets):
            e2e_t = series(s, w, 1, "end_to_end").get("ops_per_s", [])
            e2e_u = series(s, w, 0, "end_to_end").get("ops_per_s", [])
            if e2e_t and e2e_u:
                t, u = statistics.median(e2e_t), statistics.median(e2e_u)
                print(f"  set {name} tracing overhead: ops_per_s {u:.3f} "
                      f"untraced vs {t:.3f} traced ({(u - t) / u:+.1%})")
        layers = [series(s, w, 1, "per_layer") for s in sets]
        if any(layers):
            print("  per-layer medians (traced runs)" +
                  ("   A -> B" if len(sets) == 2 else ""))
            for k in sorted(set().union(*layers)):
                meds = [statistics.median(l[k]) if l.get(k) else 0.0
                        for l in layers]
                delta = ""
                if len(meds) == 2 and meds[0]:
                    delta = f"  ({(meds[1] - meds[0]) / meds[0]:+.1%})"
                print(f"    {k:36s} " + " -> ".join(f"{v:.4f}" for v in meds)
                      + delta)
            self_time(sets, w)
    sys.exit(0 if ok else 1)


def self_time(sets, w):
    tables = []
    for s in sets:
        rows = {}
        for r in s:
            if r["workload"] == w and r["trace"] == 1:
                for op, layers in r["self_time"].items():
                    for layer, v in layers.items():
                        if layer != "n":
                            rows.setdefault((op, layer), []).append(v)
        tables.append({k: statistics.median(v) for k, v in rows.items()})
    print("  self time per operation (s, median over traced runs)" +
          ("   A -> B" if len(sets) == 2 else ""))
    for key in sorted(set().union(*tables)):
        vals = [t.get(key, 0.0) for t in tables]
        print(f"    {key[0]:8s} {key[1]:36s} " +
              " -> ".join(f"{v:.4f}" for v in vals))


if __name__ == "__main__":
    main()

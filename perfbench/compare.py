#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

  python3 perfbench/compare.py SET_A SET_B

Each set is a directory of run records (run.py writes one per run under
perfbench/.work/records) or a glob of record files. For every workload
and every metric it prints each set's median and quartiles (Python's
statistics.quantiles, n=4) and, for the end-to-end metrics of
BENCHMARK.json, whether the sets agree within the metric's bound:

  - each set's spread, (Q3 - Q1) / median, is within the bound;
  - B's median is not worse than A's by more than the bound, in the
    metric's `better` direction.

Records are also checked for a common machine stamp; runs from different
hardware are reported, since their numbers do not compare. Exits 1 when
an end-to-end metric disagrees.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(spec):
    files = sorted(glob.glob(os.path.join(spec, "*.json")) if os.path.isdir(spec) else glob.glob(spec))
    return [json.load(open(f)) for f in files]


def stats(values):
    q = statistics.quantiles(values, n=4) if len(values) >= 2 else [values[0]] * 3
    med = statistics.median(values)
    return med, q[0], q[2], (q[2] - q[0]) / med if med else float("inf")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    sets = [load(a) for a in sys.argv[1:]]
    for name, rs in zip("AB", sets):
        machines = {(r["stamp"]["nproc"], r["stamp"]["mem_total"], r["stamp"]["jvm"],
                     r["stamp"]["spark"]) for r in rs}
        commits = {f'{r["stamp"]["git_commit"] or "-"}/{r["stamp"]["source_hash"][:12]}' for r in rs}
        print(f"set {name}: {len(rs)} runs; machines {sorted(machines)}; code {sorted(commits)}")
    machines = [{(r["stamp"]["nproc"], r["stamp"]["mem_total"]) for r in rs} for rs in sets]
    if machines[0] != machines[1]:
        print("WARNING: the two sets ran on different hardware")
    ok = True
    workloads = sorted({r["workload"] for rs in sets for r in rs})
    for w in workloads:
        print(f"\n{w}")
        print(f"  {'metric':40} {'A median [Q1, Q3]':>34} {'B median [Q1, Q3]':>34}  verdict")
        for kind in ("metrics", "layers"):
            keys = sorted({k for rs in sets for r in rs if r["workload"] == w for k in r[kind]})
            for k in keys:
                vals = [[r[kind][k] for r in rs if r["workload"] == w and k in r[kind]
                         and r[kind][k] is not None and r["failed"] == 0] for rs in sets]
                if not all(vals):
                    continue
                sa, sb = stats(vals[0]), stats(vals[1])
                verdict = ""
                if kind == "metrics" and k in e2e:
                    m = e2e[k]
                    worse = (sb[0] - sa[0]) / sa[0] if sa[0] else 0.0
                    if m["better"] == "higher":
                        worse = -worse
                    spread_ok = sa[3] <= m["bound"] and sb[3] <= m["bound"]
                    agree = worse <= m["bound"] and spread_ok
                    ok &= agree
                    verdict = (f"{'agree' if agree else 'DISAGREE'} (B worse by {worse:+.1%}, "
                               f"spreads {sa[3]:.1%}/{sb[3]:.1%}, bound {m['bound']:.0%})")
                print(f"  {k:40} {sa[0]:12.5g} [{sa[1]:.4g}, {sa[2]:.4g}] "
                      f"{sb[0]:12.5g} [{sb[1]:.4g}, {sb[2]:.4g}]  {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

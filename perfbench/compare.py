#!/usr/bin/env python3
"""Compare two sets of benchmark runs by their run records.

    python3 perfbench/compare.py BEFORE_DIR AFTER_DIR

Each directory holds the `run-*.json` records run.py writes to
perfbench/out/. For every workload and end-to-end metric it prints each
side's median and quartiles and whether AFTER is worse than BEFORE by more
than the metric's bound in BENCHMARK.json. Runs taken at different core
counts are never compared: the script refuses and exits 2.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "run-*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if not r["trace"] and not r["smoke"]:
            runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main(before_dir, after_dir):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    before, after = load(before_dir), load(after_dir)
    cores = {r["nproc"] for r in before + after}
    if len(cores) != 1:
        print(f"refusing to compare runs taken at different core counts: {sorted(cores)}",
              file=sys.stderr)
        sys.exit(2)
    regressed = False
    for wl in sorted({r["workload"] for r in before} & {r["workload"] for r in after}):
        for m in metrics:
            a = [r["end_to_end"][m["name"]] for r in before if r["workload"] == wl]
            b = [r["end_to_end"][m["name"]] for r in after if r["workload"] == wl]
            qa, qb = quartiles(a), quartiles(b)
            worse = (qb[1] - qa[1]) / qa[1] * (1 if m["better"] == "lower" else -1)
            flag = "REGRESSED" if worse > m["bound"] else "ok"
            regressed |= worse > m["bound"]
            print(f"{wl:15} {m['name']:15} before {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] n={len(a)}"
                  f"  after {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] n={len(b)}"
                  f"  worse by {worse:+.1%} (bound {m['bound']:.0%}) {flag}")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])

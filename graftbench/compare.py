#!/usr/bin/env python3
"""Compare two sets of graftbench results, metric by metric.

    python3 graftbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds run records as written by run.py (`--results DIR`; the
records sit in one sub-directory per workload). Runs are paired by seed
where both sides have it, otherwise in order. For every workload and
end-to-end metric it prints both medians and quartiles, the share of pairs
the change won, and a verdict: improved, within bound, worse or unresolved
(see benchlib.verdict). Incorrect runs are compared too: each workload also
gets a correctness line, which is worse when the change has more incorrect
runs or more failed operations than the parent, and then no gain on that
workload counts. Exits 1 if any verdict is worse or unresolved.
"""
import glob
import json
import os
import sys

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))


def load(results_dir):
    """workload -> list of (seed, {metric: value}, correct, failed ops) from
    every untraced run, correct or not."""
    out = {}
    for f in sorted(glob.glob(os.path.join(results_dir, "**", "*-t0.json"), recursive=True)):
        with open(f) as fh:
            r = json.load(fh)
        out.setdefault(r["workload"], []).append(
            (r["seed"], {k: v["value"] for k, v in r["metrics"].items()},
             bool(r.get("correct")), r.get("failed", 0)))
    return out


def failures(runs):
    """(incorrect runs, failed operations)."""
    return sum(1 for r in runs if not r[2]), sum(r[3] for r in runs)


def paired(a, b):
    bs = {r[0]: r[1] for r in b}
    if all(r[0] in bs for r in a) and len(bs) == len(b):
        return [(r[1], bs[r[0]]) for r in a]
    return [(x[1], y[1]) for x, y in zip(a, b)]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    bad = 0
    print(f"{'workload':12s} {'metric':16s} {'parent median [q1,q3]':>32s} "
          f"{'change median [q1,q3]':>32s} {'won':>5s}  verdict")
    for w in sorted(set(parent) | set(change)):
        if w not in parent or w not in change:
            print(f"{w:12s} missing on one side")
            bad += 1
            continue
        pairs = paired(parent[w], change[w])
        pf, cf = failures(parent[w]), failures(change[w])
        corr = benchlib.correctness_verdict(pf, cf)
        bad += corr == "worse"
        said = lambda f, runs: f"{f[0]}/{len(runs)} runs bad, {f[1]} failed ops"
        print(f"{w:12s} {'correctness':16s} {said(pf, parent[w]):>32s} "
              f"{said(cf, change[w]):>32s} {'':5s}  {corr}")
        for m in spec["end_to_end"]:
            n = m["name"]
            pv = [p[n] for p, c in pairs if n in p and n in c]
            cv = [c[n] for p, c in pairs if n in p and n in c]
            if not pv:
                continue
            v, won = benchlib.verdict(pv, cv, m["better"], m["bound"])
            if v == "improved" and corr == "worse":
                v = "improved, but does not count: more failures"
            bad += v in ("worse", "unresolved")
            fmt = lambda xs: "{1:.4g} [{0:.4g},{2:.4g}]".format(*benchlib.quartiles(xs))
            print(f"{w:12s} {n:16s} {fmt(pv):>32s} {fmt(cv):>32s} {won:5.2f}  {v}"
                  f" (bound {m['bound']}, n={len(pv)})")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

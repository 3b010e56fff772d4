#!/usr/bin/env python3
"""Record the board panel's expected row counts and content hashes.

    python3 graftbench/refresh_expected.py

Run from the root of a checkout whose board passes tools/check.py on the
benchmark's generated tables. For each scale the harness runs twice: in
another query order, and the second time with half the cores (so also
with fewer shuffle partitions). A query whose hash differs between the two
runs is recorded for a row-count check only, with the reason. The result
replaces graftbench/expected/board.json; the panel (its query names) stays.
"""
import json
import os
import shutil

import run

REASON = "hash differs between runs of identical code (query order or parallelism)"


def main():
    exp = run.panel()
    half = max(1, os.cpu_count() // 2)
    for workload in ("board_small", "board"):
        key = f"sf{run.SCALE[workload]}"
        names = sorted(exp[key])
        runs = []
        for seed, jvm in ((1, ()), (2, (f"-XX:ActiveProcessorCount={half}",))):
            raw, run_dir, _, _ = run.harness(workload, seed, 0, 0, names, extra_jvm=jvm)
            shutil.rmtree(run_dir, ignore_errors=True)
            runs.append(raw["checks"])
        a, b = ({c["name"]: c for c in r} for r in runs)
        for n in names:
            if a[n].get("error") or b[n].get("error") or a[n]["rows"] != b[n]["rows"]:
                raise SystemExit(f"{workload} {n}: failed or unstable row count: {a[n]} {b[n]}")
            stable = a[n]["hash"] == b[n]["hash"]
            exp[key][n] = ({"rows": a[n]["rows"], "hash": a[n]["hash"]} if stable else
                           {"rows": a[n]["rows"], "hash": None, "reason": REASON})
        run.log(f"{workload}: {sum(e['hash'] is None for e in exp[key].values())} "
                f"of {len(names)} queries checked on rows only")
    with open(os.path.join(run.HERE, "expected", "board.json"), "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()

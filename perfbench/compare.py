#!/usr/bin/env python3
"""Compare saved benchmark results, refusing comparisons across configs.

    python3 perfbench/compare.py <base.json>... -- <change.json>...

Each file is one run's record as `run.py` saves it under
`.bench_build/results/`. Every run on both sides must share the core
count, the scale factor and the driver heap: numbers taken under a
different host shape or input size do not compare, so the tool exits 2
instead of printing a difference. It also refuses to mix workloads or
trace modes. The source hash may differ (that is usually the point);
it is printed for each side.

For every metric it prints each side's median and quartiles and the
relative change of the median.
"""
import json
import statistics
import sys

MUST_MATCH = ("nproc", "sf", "driver_heap")


def load(paths):
    runs = [json.load(open(p)) for p in paths]
    if not runs:
        sys.exit("compare: each side needs at least one result file")
    return runs


def quartiles(v):
    return statistics.quantiles(v, n=4) if len(v) >= 2 else [v[0]] * 3


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    i = argv.index("--")
    base, change = load(argv[:i]), load(argv[i + 1:])
    runs = base + change
    for k in MUST_MATCH:
        seen = {json.dumps(r["config"][k]) for r in runs}
        if len(seen) > 1:
            print(f"compare: refused, runs differ in {k}: {sorted(seen)}", file=sys.stderr)
            return 2
    for k in ("workload", "trace"):
        seen = {json.dumps(r["result"][k]) for r in runs}
        if len(seen) > 1:
            print(f"compare: refused, runs differ in {k}: {sorted(seen)}", file=sys.stderr)
            return 2
    section = "per_layer" if runs[0]["result"]["trace"] else "end_to_end"
    for side, rs in (("base", base), ("change", change)):
        hashes = sorted({r["config"]["src_hash"] for r in rs})
        print(f"# {side}: {len(rs)} runs, src_hash {', '.join(hashes)}")
    print(f"{'metric':<40} {'base median [q1, q3]':>34} {'change median [q1, q3]':>34} {'delta':>8}")
    for name in runs[0]["result"][section]:
        b = [r["result"][section][name] for r in base]
        c = [r["result"][section][name] for r in change]
        bq, cq = quartiles(b), quartiles(c)
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        print(f"{name:<40} {bq[1]:>12.4f} [{bq[0]:.4f}, {bq[2]:.4f}] "
              f"{cq[1]:>12.4f} [{cq[0]:.4f}, {cq[2]:.4f}] {delta:>+8.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""Alternating parent/change pairs of one workload on one seed.

    python3 omebench/pairs.py --parent ../parent --change . \\
        --workload ome --seed 7 --pairs 10

Each tree is a checkout holding this benchmark directory. The two copies of
the benchmark must be identical, so both sides are measured by the same
code. Runs last BENCHMARK.json's `run_seconds` unless --seconds is given.
Pair i runs the parent first when i is even and the change first when it is
odd. For every end-to-end metric the script prints each side's median
and quartiles and the share of pairs the change won (lower is better for
every metric; ties count for neither side). A gain may be claimed only when
the change wins at least nine tenths of the pairs and the medians differ by
more than the parent's own quartile spread.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

BENCH = "omebench"


def tree_hash(root):
    """Hash of the benchmark's sources (build outputs excluded)."""
    h = hashlib.sha256()
    base = os.path.join(root, BENCH)
    files = ["run.py", "build.sbt", "log4j2.properties",
             os.path.join("project", "build.properties")]
    for d, _, fs in os.walk(os.path.join(base, "src")):
        files += [os.path.relpath(os.path.join(d, f), base) for f in fs]
    for rel in sorted(files):
        h.update(rel.encode())
        with open(os.path.join(base, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run(root, args):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", "0"],
        cwd=root, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, check=True)
    res = json.loads(out.stdout.decode().strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit("incorrect answers in %s" % root)
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args()
    if args.pairs < 10:
        sys.exit("at least ten pairs are needed")
    if tree_hash(args.parent) != tree_hash(args.change):
        sys.exit("the two trees hold different benchmark code")
    if args.seconds is None:
        with open(os.path.join(args.change, "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    sides = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            sides[side].append(run(getattr(args, side), args))
    report = {}
    for m in sorted(sides["parent"][0]):
        p = [r[m] for r in sides["parent"]]
        c = [r[m] for r in sides["change"]]
        wins = sum(1 for a, b in zip(p, c) if b < a)
        pq, cq = quartiles(p), quartiles(c)
        report[m] = {
            "parent": {"q1": pq[0], "median": pq[1], "q3": pq[2]},
            "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
            "change_won_share": wins / len(p),
            "gain_claimable": wins >= 0.9 * len(p)
            and pq[1] - cq[1] > pq[2] - pq[0],
        }
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "pairs": args.pairs, "metrics": report}, indent=1))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Alternating parent/change pairs of the end-to-end benchmark.

Run from the repository root of the change:

  python3 tools/ab_pairs.py --parent HEAD~1 --workload grid_to_table --pairs 10

The change is the working tree; the parent is a checkout of --parent, made
as a `git worktree` in a temporary directory and removed afterwards (or an
existing checkout named by --parent-dir). Each pair runs
`python3 loadbench/run.py --trace 0` once in each checkout on the same seed,
the two in alternating order (parent first in even pairs, change first in
odd ones), so drift on the machine falls on both sides alike.

For every end-to-end metric in BENCHMARK.json it prints the parent's and the
change's median and quartiles, in how many pairs the change was better,
equal or worse, and whether a gain would be accepted: the change better in
at least nine of every ten pairs, and its median better than the parent's by
more than the parent's interquartile range. The last line is the same as
JSON.
"""

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

# A claimed gain must win this share of the pairs.
WIN_SHARE = 0.9


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them (the
    same quartiles loadbench's --steadiness reports)."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def outcomes(parent, change, better):
    """(wins, ties, losses) of the change over pairs (parent[i], change[i])
    for a metric where `better` is "lower" or "higher"."""
    if len(parent) != len(change):
        raise ValueError("pairs need as many parent runs as change runs")
    if better not in ("lower", "higher"):
        raise ValueError("better must be lower or higher")
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    ties = sum(1 for p, c in zip(parent, change) if p == c)
    return wins, ties, len(parent) - wins - ties


def wins_needed(pairs):
    """Wins a gain needs: nine of every ten pairs, rounded up."""
    return math.ceil(WIN_SHARE * pairs - 1e-9)


def verdict(parent, change, better):
    """The acceptance rule for a claimed gain on one metric: the change is
    better in at least wins_needed(n) of n pairs, and the median moves in
    the better direction by more than the parent's interquartile range."""
    if len(parent) < 2:
        raise ValueError("the rule needs at least two pairs")
    wins, ties, losses = outcomes(parent, change, better)
    p_q1, p_med, p_q3 = quartiles(parent)
    c_q1, c_med, c_q3 = quartiles(change)
    gain = p_med - c_med if better == "lower" else c_med - p_med
    iqr = p_q3 - p_q1
    needed = wins_needed(len(parent))
    return {
        "pairs": len(parent), "wins": wins, "ties": ties, "losses": losses,
        "wins_needed": needed,
        "parent": {"median": p_med, "q1": p_q1, "q3": p_q3},
        "change": {"median": c_med, "q1": c_q1, "q3": c_q3},
        "gain": gain, "parent_iqr": iqr,
        "gain_accepted": wins >= needed and gain > iqr,
    }


def run_bench(checkout, workload, seed, seconds):
    """The result line of one untraced loadbench run in `checkout`."""
    out = subprocess.run(
        [sys.executable, "loadbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def log(msg):
    print("[ab_pairs] " + msg, file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", default="HEAD", help="revision of the parent (default HEAD)")
    ap.add_argument("--parent-dir", help="an existing checkout of the parent to use instead")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    args = ap.parse_args()
    if args.pairs < 10:
        ap.error("a gain is judged on at least 10 pairs")
    with open("BENCHMARK.json") as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}

    worktree = None
    parent_dir = args.parent_dir
    if parent_dir is None:
        worktree = tempfile.mkdtemp(prefix="ab_parent_")
        os.rmdir(worktree)
        subprocess.run(["git", "worktree", "add", "--detach", worktree, args.parent], check=True)
        parent_dir = worktree
    runs = {"parent": [], "change": []}
    failed = {"parent": 0, "change": 0}
    try:
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                r = run_bench(parent_dir if side == "parent" else ".",
                              args.workload, args.seed, args.seconds)
                failed[side] += r["failed"]
                runs[side].append({k: m["value"] for k, m in r["metrics"].items()})
                log("pair %d/%d %s: %s" % (i + 1, args.pairs, side, json.dumps(
                    {k: round(v, 4) for k, v in runs[side][-1].items()})))
    finally:
        if worktree is not None:
            subprocess.run(["git", "worktree", "remove", "--force", worktree], check=False)
            shutil.rmtree(worktree, ignore_errors=True)

    report = {}
    print("%-14s %-30s %-30s %11s %6s %9s %9s %s" % (
        "metric", "parent median [q1, q3]", "change median [q1, q3]", "win/tie/n",
        "needed", "gain", "p_iqr", "gain_accepted"))
    for name, direction in better.items():
        if not all(name in r for side in runs.values() for r in side):
            continue
        v = verdict([r[name] for r in runs["parent"]], [r[name] for r in runs["change"]],
                    direction)
        report[name] = v
        fmt = lambda s: "%.4f [%.4f, %.4f]" % (s["median"], s["q1"], s["q3"])
        print("%-14s %-30s %-30s %4d/%d/%-4d %6d %9.4f %9.4f %s" % (
            name, fmt(v["parent"]), fmt(v["change"]), v["wins"], v["ties"], v["pairs"],
            v["wins_needed"], v["gain"], v["parent_iqr"], v["gain_accepted"]))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                      "parent": args.parent_dir or args.parent, "failed": failed,
                      "metrics": report, "runs": runs}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

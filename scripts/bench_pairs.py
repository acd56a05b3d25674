#!/usr/bin/env python3
"""Run the perfbench workloads in alternating parent/change pairs and
summarise them.

    python3 scripts/bench_pairs.py --parent HEAD~1 --pairs 10 \\
        --seeds 31,32,33,34,35,36,37,38,39,40 \\
        --workloads task_fanout,store_churn,llm_verbs --out BENCH_PAIRS.jsonl
    python3 scripts/bench_pairs.py --summary BENCH_PAIRS.jsonl

The parent ref is exported with `git archive` to a temporary directory; the
change is the working tree. Pair i runs each workload once on both sides with
seed i of --seeds (cycled), untraced; odd pairs run the parent first, even
pairs the change. Each run appends one JSON line
`{"pair", "workload", "side", "seed", "result"}` to --out (`result` is the
run's result object, or null when the run failed). At the end, and with
--summary for an existing file, it prints per workload and end-to-end
metric: each side's median and quartiles, the number of pairs the change
won, and whether the gap between the medians exceeds the parent's
interquartile range.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quantile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def export(ref, dest):
    archive = subprocess.run(["git", "-C", ROOT, "archive", ref],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_one(tree, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print("  %s seed %d in %s failed (exit %d)" % (workload, seed, tree, proc.returncode),
              file=sys.stderr)
        return None
    return json.loads(lines[-1])


def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)["end_to_end"]


def summarise(path):
    rows = [json.loads(l) for l in open(path) if l.strip()]
    by = {}
    for r in rows:
        by.setdefault(r["workload"], {}).setdefault(r["pair"], {})[r["side"]] = r["result"]
    for workload, pairs in by.items():
        full = {p: s for p, s in pairs.items()
                if s.get("parent") is not None and s.get("change") is not None}
        failed = {side: sum(s[side]["failed"] for s in full.values())
                  for side in ("parent", "change")}
        wrong = {side: sum(not s[side]["correct"] for s in full.values())
                 for side in ("parent", "change")}
        print("%s: %d complete pairs; failed ops parent %d, change %d; incorrect runs "
              "parent %d, change %d" % (workload, len(full), failed["parent"],
                                        failed["change"], wrong["parent"], wrong["change"]))
        if not full:
            continue
        print("  %-10s %28s %28s %6s %s" % ("metric", "parent p50 [q1, q3]",
                                           "change p50 [q1, q3]", "wins", "gap > IQR"))
        for m in metric_specs():
            name, lower = m["name"], m["better"] == "lower"
            par = [s["parent"]["metrics"][name]["value"] for s in full.values()]
            chg = [s["change"]["metrics"][name]["value"] for s in full.values()]
            wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
            pm, cm = quantile(par, 0.5), quantile(chg, 0.5)
            iqr = quantile(par, 0.75) - quantile(par, 0.25)
            better = (cm < pm) if lower else (cm > pm)
            verdict = ("better" if better else "worse") if abs(cm - pm) > iqr else "no"

            def side(xs):
                return "%.4g [%.4g, %.4g]" % (quantile(xs, 0.5), quantile(xs, 0.25),
                                              quantile(xs, 0.75))
            print("  %-10s %28s %28s %3d/%-2d %s" % (name, side(par), side(chg),
                                                     wins, len(full), verdict))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="git ref of the parent tree")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", help="comma-separated seeds, cycled over the pairs")
    ap.add_argument("--workloads", default="task_fanout,store_churn,llm_verbs")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--out", help="JSONL file the raw runs are appended to")
    ap.add_argument("--summary", metavar="JSONL", help="only summarise an existing file")
    a = ap.parse_args()
    if a.summary:
        summarise(a.summary)
        return
    if not (a.parent and a.seeds and a.out):
        ap.error("--parent, --seeds and --out are required")
    seeds = [int(s) for s in a.seeds.split(",")]
    workloads = a.workloads.split(",")
    parent = tempfile.mkdtemp(prefix="bench-parent-")
    try:
        export(a.parent, parent)
        trees = {"parent": parent, "change": ROOT}
        for pair in range(1, a.pairs + 1):
            seed = seeds[(pair - 1) % len(seeds)]
            order = ("parent", "change") if pair % 2 else ("change", "parent")
            for workload in workloads:
                for side in order:
                    print("pair %d %s seed %d %s" % (pair, workload, seed, side),
                          file=sys.stderr)
                    result = run_one(trees[side], workload, seed, a.seconds)
                    with open(a.out, "a") as fh:
                        fh.write(json.dumps({"pair": pair, "workload": workload, "side": side,
                                             "seed": seed, "result": result}) + "\n")
    finally:
        shutil.rmtree(parent, ignore_errors=True)
    summarise(a.out)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Interleaved A/B pairs of the benchmark: a parent checkout against a
change checkout, both run from their own directory (so neither writes the
other's perfbench/results), alternating which side runs first.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload pcap_backlog \
        --seeds 11 12 13 --seconds 10 --out ab/CHANGE.jsonl [--parent-first]

Each pair appends one JSON line to --out: the parent commit, the git tree
of `src` on each side (what the benchmark builds; compare with
`git rev-parse <commit>:src`), seed, workload, which side ran first, and
both sides' end-to-end metrics. Summarize with tools/ab_summary.py.
"""
import argparse
import json
import os
import subprocess
import sys
import time


def git(d, *a):
    return subprocess.run(["git", "-C", d, *a], capture_output=True, text=True).stdout.strip()


def run(d, workload, seed, seconds):
    """The end-to-end metrics of one benchmark run in checkout d."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=d, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.exit(f"ab_pairs: run failed in {d}:\n{p.stderr[-3000:]}")
    res = json.loads(lines[-1])
    return {"failed": res["failed"], "attempted": res["attempted"],
            **{k: v["value"] for k, v in res["metrics"].items()}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", required=True)
    ap.add_argument("--parent-commit", default=None,
                    help="the parent's commit, when PARENT_DIR is an export without its history")
    ap.add_argument("--parent-first", action="store_true",
                    help="the first pair runs the parent first (default: the change)")
    a = ap.parse_args()
    sides = {"parent": a.parent, "change": a.change}
    trees = {s: git(d, "rev-parse", "HEAD:src") for s, d in sides.items()}
    for i, seed in enumerate(a.seeds):
        first = "parent" if (i % 2 == 0) == a.parent_first else "change"
        order = [first, "change" if first == "parent" else "parent"]
        got = {s: run(sides[s], a.workload, seed, a.seconds) for s in order}
        rec = {"utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
               "parent_commit": a.parent_commit or git(a.parent, "rev-parse", "HEAD"),
               "parent_src_tree": trees["parent"], "change_src_tree": trees["change"],
               "workload": a.workload, "seed": seed, "seconds": a.seconds,
               "first": first, "nproc": os.cpu_count(), **got}
        with open(a.out, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(json.dumps({k: rec[k] for k in ("seed", "first")} |
                         {s: got[s]["cpu_ms_per_item"] for s in order}), flush=True)


if __name__ == "__main__":
    main()

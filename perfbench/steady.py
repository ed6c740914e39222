#!/usr/bin/env python3
"""Steadiness evidence: runs every workload of BENCHMARK.json once per seed,
untraced, in two sets, and writes per-metric medians, quartiles and
spreads (interquartile range / median) of each set, plus the change of
the second set's median against the first. The wall-time figures of each
run's detail line are summarised the same way, without a verdict.

    python3 perfbench/steady.py --seeds 101-110 --seeds2 201-210 \\
        --out perfbench/results/steady.json

A set's seeds are a range `a-b`; the two sets must not share seeds. The
runs use the command and run length of BENCHMARK.json, so they also
append to perfbench/results/runs.jsonl. A metric passes when each spread
is within its bound (setup_s excepted: it is judged on its medians only)
and the second median is not worse than the first by more than the
bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    a, b = (int(x) for x in spec.split("-"))
    return list(range(a, b + 1))


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def run_set(bench, workloads, seed_list, log):
    out = {}
    for w in workloads:
        per_metric, per_wall, failures = {}, {}, 0
        for s in seed_list:
            cmd = bench["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            last = lines[-1] if lines else ""
            log.write(json.dumps({"workload": w, "seed": s, "rc": r.returncode,
                                  "wall_s": round(time.time() - t0, 1), "last": last}) + "\n")
            log.flush()
            if r.returncode != 0:
                failures += 1
                continue
            res = json.loads(last)
            if not res["correct"]:
                failures += 1
            for k, v in res["metrics"].items():
                per_metric.setdefault(k, []).append(v["value"])
            # the wall-time figures of the detail line, for comparison
            for k, v in json.loads(lines[-2])["named"].items():
                per_wall.setdefault(k, []).append(v["value"])
        out[w] = {"runs": len(seed_list), "failed_runs": failures,
                  "metrics": {k: summary(v) for k, v in per_metric.items()},
                  "wall_figures": {k: summary(v) for k, v in per_wall.items()}}
    return out


def verdict(bench, workloads, sets):
    out = {}
    for w in workloads:
        for m in bench["end_to_end"]:
            k, bound = m["name"], m["bound"]
            spreads = [st[w]["metrics"][k]["spread"] for st in sets if k in st[w]["metrics"]]
            v = {"bound": bound, "spreads": spreads,
                 # set-up time is judged on its medians only, not on its
                 # spread: the benchmark's acceptance rules exempt it
                 "spread_ok": k == "setup_s" or all(x is not None and x <= bound for x in spreads),
                 "below_third": all(x is not None and x < bound / 3 for x in spreads)}
            if len(sets) == 2:
                m1 = sets[0][w]["metrics"][k]["median"]
                m2 = sets[1][w]["metrics"][k]["median"]
                worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
                v["second_vs_first_worse_by"] = worse
                v["medians_ok"] = worse <= bound
            out[f"{w}/{k}"] = v
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seeds2")
    ap.add_argument("--workloads", help="comma list; default every workload")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in bench["workloads"]])
    s1 = seeds(a.seeds)
    s2 = seeds(a.seeds2) if a.seeds2 else []
    if set(s1) & set(s2):
        sys.exit("the two sets must not share seeds")
    sets = [run_set(bench, workloads, s1, sys.stderr)]
    if s2:
        sets.append(run_set(bench, workloads, s2, sys.stderr))
    report = {"run_seconds": bench["run_seconds"], "command": bench["command"],
              "seeds": [s1, s2] if s2 else [s1], "sets": sets}
    report["verdict"] = verdict(bench, workloads, report["sets"])
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as fh:
            fh.write(text + "\n")
    for key, v in report["verdict"].items():
        print(key, " ".join(f"{x:.3f}" for x in v["spreads"] if x is not None),
              "ok" if v["spread_ok"] and v.get("medians_ok", True) else "NOT OK",
              "" if v["below_third"] else "(above bound/3)")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result.

    python3 perfbench/run.py --workload pcap_backlog --seed 1 --seconds 10 --trace 0

Builds the program from source (see build.py), runs the workload in one
JVM at local[N] (N = min(2, CPUs); see Main.cpus), appends a stamped
record to perfbench/results/runs.jsonl, prints one line naming every
metric with its unit and every output check, and ends with the result line:
{"correct": .., "attempted": .., "failed": .., "metrics": {..}}.
`--trace 1` reports the per-layer metrics instead of the end-to-end ones
and keeps the spans in .bench_runs/<run id>.trace.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("pcap_backlog", "events_stateful", "analytics_mix", "notify_trickle")
RECORDS = os.path.join(HERE, "results", "runs.jsonl")
MIX_EXPECTED = os.path.join(HERE, "expected", "analytics_mix.json")
JVM_TIMEOUT_S = 165

# Spark 4 on JDK 17 outside spark-submit (the same list as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

NAMED_UNITS = {"throughput_per_s": "1/s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
               "pkts_per_s": "1/s", "events_per_s": "1/s", "file_latency_p50_ms": "ms",
               "file_latency_tail_ms": "ms", "mix_s": "s", "failed_ratio": "ratio"}


def declared():
    """(end-to-end units, per-layer units) by metric name, from BENCHMARK.json."""
    b = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def git_stamp():
    """(head, dirty) of the checkout, or (None, None) outside git."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None, None
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))

    def git(*a):
        return subprocess.run(["git", "-C", ROOT, *a], capture_output=True, text=True,
                              env=env, timeout=30).stdout.strip()
    head = git("rev-parse", "HEAD") or None
    status = git("status", "--porcelain", "--", ".", ":(exclude)perfbench/results")
    return head, bool(status)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-mix", action="store_true",
                    help="rewrite the recorded analytics_mix digests from this run")
    a = ap.parse_args()

    declared()  # fail before building when BENCHMARK.json is missing
    classes, jars = build.build()
    run_id = f"{time.strftime('%Y%m%dT%H%M%S')}-{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    # a fixed, pre-touched heap: peak RSS then moves with native and
    # off-heap memory, not with how far the collector chose to grow
    cmd = [build.java(), "-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch", "-Xss8m",
           "-XX:-UsePerfData", *ADD_OPENS,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--result", result, "--mix-expected", MIX_EXPECTED]
    if a.record_mix:
        cmd += ["--mix-record", MIX_EXPECTED]
    log_path = os.path.join(work, "jvm.log")
    ticks0 = cpu_ticks()
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
    if p.returncode != 0 or not os.path.exists(result):
        sys.stderr.write(open(log_path, errors="replace").read()[-6000:])
        sys.stderr.write(f"perfbench: run failed (exit {p.returncode}); work dir {work}\n")
        sys.exit(1)
    res = json.load(open(result))
    ticks1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while the run lasted: a
    # run that lost a large share of it is slow for reasons outside the code
    res["isolation"]["steal_share"] = (
        (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]) if ticks0 and ticks1 else None)

    end_to_end, per_layer = declared()
    want = end_to_end if a.trace == 0 else per_layer
    got = res["metrics"]
    if set(got) != set(want):
        sys.exit(f"perfbench: metrics {sorted(got)} do not match BENCHMARK.json")
    units = {k: want[k] for k in got}

    head, dirty = git_stamp()
    record = {"run_id": run_id, "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "git_head": head, "dirty": dirty,
              "nproc": os.cpu_count(), "workload": a.workload, "seed": a.seed,
              "seconds": a.seconds, "trace": a.trace,
              **res}
    os.makedirs(os.path.dirname(RECORDS), exist_ok=True)
    with open(RECORDS, "a") as fh:
        fh.write(json.dumps(record, sort_keys=False) + "\n")
    if a.trace == 1 and os.path.exists(os.path.join(work, "trace.json")):
        runs = os.path.join(ROOT, ".bench_runs")
        os.makedirs(runs, exist_ok=True)
        shutil.copy(os.path.join(work, "trace.json"), os.path.join(runs, run_id + ".trace.json"))
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in got.items()},
        "named": {k: {"value": v, "unit": NAMED_UNITS[k]} for k, v in res["named"].items()},
        "tail_percentile": res["tail_percentile"], "latency_samples": res["latency_samples"],
        "checks": res["checks"], "isolation": res["isolation"]}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in got.items()}}))


if __name__ == "__main__":
    main()

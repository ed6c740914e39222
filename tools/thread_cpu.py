#!/usr/bin/env python3
"""CPU time of one benchmark run by JVM thread class, over the timed drains.

    python3 tools/thread_cpu.py [--dir CHECKOUT] [--json OUT] -- \
        --workload pcap_backlog --seed 6 --seconds 10

Runs `perfbench/run.py` of CHECKOUT (default: this repository) as a child
process with the arguments after `--`, finds its JVM, and every 0.2 s reads
`/proc/<jvm>/task/*/comm` and `.../stat` (read-only; no JVM flag, no agent).
The window opens when the second `pcap-drain-NNN` work directory appears
(the first is the unmeasured warm-up drain) and closes when the run writes
its result; for other workloads it spans the whole JVM. Prints CPU seconds
and shares per thread class: C2 and C1 JIT compilers, executor task
threads, stream execution, the sink pool (`runSinksConcurrently`),
scheduler/RPC, GC, and the rest. `untracked` is process CPU of threads
that ended between two samples. --json appends the split, stamped with the
git tree of the checkout's `src` (what the benchmark builds).
"""
import argparse
import glob
import json
import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TICK = os.sysconf("SC_CLK_TCK")
CLASSES = [
    ("C2", r"^C2 CompilerThre"),
    ("C1", r"^C1 CompilerThre"),
    ("executor tasks", r"^Executor task l"),
    ("stream execution", r"^stream executio"),
    ("sink pool", r"^pool-\d+-thread"),
    ("scheduler/RPC", r"^(dag-scheduler|dispatcher|task-result|rpc-|netty|driver-heart|"
                      r"executor-heart|spark-listener|SparkUI|heartbeat|shuffle|block-manager|"
                      r"map-output|BroadcastExch|Timer-)"),
    ("GC", r"^(GC Thread|G1 |VM Periodic)"),
]


def classify(comm):
    for name, pat in CLASSES:
        if re.match(pat, comm):
            return name
    return "other"


def ticks(stat_path):
    """utime + stime of a /proc stat file, or None once it is gone."""
    try:
        with open(stat_path) as fh:
            s = fh.read()
    except OSError:
        return None
    f = s[s.rindex(")") + 2:].split()
    return int(f[11]) + int(f[12])


def threads(pid):
    """{tid: (comm, cpu ticks)} of a live process."""
    out = {}
    for task in glob.glob(f"/proc/{pid}/task/*"):
        try:
            with open(task + "/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        t = ticks(task + "/stat")
        if t is not None:
            out[os.path.basename(task)] = (comm, t)
    return out


def jvm_of(parent):
    """The pid of the java child of `parent`, once it exists."""
    for p in glob.glob("/proc/[0-9]*"):
        try:
            with open(p + "/stat") as fh:
                s = fh.read()
            if int(s[s.rindex(")") + 2:].split()[1]) == parent:
                with open(p + "/cmdline", "rb") as fh:
                    if b"graft.perfbench.Main" in fh.read():
                        return int(os.path.basename(p))
        except (OSError, ValueError):
            continue
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=ROOT)
    ap.add_argument("--json", default=None, help="also append the split to this file")
    ap.add_argument("args", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    run_args = [x for x in a.args if x != "--"]
    child = subprocess.Popen([sys.executable, "perfbench/run.py", *run_args], cwd=a.dir,
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    pid = None
    while pid is None and child.poll() is None:
        pid = jvm_of(child.pid)
        time.sleep(0.2)
    if pid is None:
        sys.exit("thread_cpu: the JVM did not start:\n" + child.stdout.read()[-3000:])
    work = None
    drains = "pcap_backlog" in run_args
    base, last, opened = {}, {}, not drains
    proc0 = ticks(f"/proc/{pid}/stat") if opened else None
    proc1 = proc0
    while child.poll() is None:
        now = threads(pid)
        p = ticks(f"/proc/{pid}/stat")
        if not now or p is None:
            break
        if work is None:
            hits = glob.glob(os.path.join(a.dir, ".bench_work", f"*-{child.pid}"))
            work = hits[0] if hits else None
        if work and not opened and len(glob.glob(os.path.join(work, "pcap-drain-*"))) >= 2:
            opened, proc0 = True, p
            base = {tid: t for tid, (_, t) in now.items()}
        if opened:
            for tid, (comm, t) in now.items():
                last[tid] = (comm, t - base.get(tid, 0))
            proc1 = p
            if work and os.path.exists(os.path.join(work, "result.json")):
                break
        time.sleep(0.2)
    out = child.communicate()[0]
    if child.returncode not in (0, None):
        sys.exit("thread_cpu: the run failed:\n" + out[-3000:])
    by = {name: 0 for name, _ in CLASSES}
    by["other"] = 0
    for comm, t in last.values():
        by[classify(comm)] += t
    total = (proc1 - proc0) if proc0 is not None else sum(by.values())
    by["untracked"] = max(0, total - sum(by.values()))
    tree = subprocess.run(["git", "-C", a.dir, "rev-parse", "HEAD:src"],
                          capture_output=True, text=True).stdout.strip() or None
    result = {"src_tree": tree, "args": run_args,
              "window": "timed drains" if drains else "whole JVM",
              "total_cpu_s": total / TICK,
              "cpu_s": {k: v / TICK for k, v in by.items()}}
    print(f"{'class':<18}{'cpu s':>8}{'share':>8}   ({result['window']})")
    for k, v in by.items():
        print(f"{k:<18}{v / TICK:>8.2f}{100 * v / max(1, total):>7.1f}%")
    print(f"{'total':<18}{total / TICK:>8.2f}")
    lines = [ln for ln in out.splitlines() if ln.startswith('{"correct"')]
    if lines:
        result["run"] = json.loads(lines[-1])
        print(lines[-1])
    if a.json:
        with open(a.json, "a") as fh:
            fh.write(json.dumps(result) + "\n")


if __name__ == "__main__":
    main()

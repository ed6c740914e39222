#!/usr/bin/env python3
"""Summary of interleaved A/B pair records (tools/ab_pairs.py output).

    python3 tools/ab_summary.py ab/CHANGE.jsonl [more.jsonl ...] [--seeds 11 12 ...]

Per workload and end-to-end metric (all lower-is-better): each side's
median and quartiles, the change's median delta, the pairs the change
wins, and whether the delta is larger than the parent's interquartile
range. Also the runs with failed work items.
"""
import argparse
import json
import statistics

METRICS = ("cpu_ms_per_item", "peak_rss_mb", "setup_s")


def quartiles(xs):
    """(q1, median, q3), linear interpolation; the median alone for one value."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[1], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("files", nargs="+")
    ap.add_argument("--seeds", type=int, nargs="*", help="only these seeds")
    a = ap.parse_args()
    recs = [json.loads(ln) for f in a.files for ln in open(f) if ln.strip()]
    if a.seeds:
        recs = [r for r in recs if r["seed"] in a.seeds]
    for wl in sorted({r["workload"] for r in recs}):
        rs = [r for r in recs if r["workload"] == wl]
        firsts = sum(r["first"] == "parent" for r in rs)
        print(f"{wl}: {len(rs)} pairs ({firsts} parent-first), seeds "
              f"{sorted({r['seed'] for r in rs})}")
        print(f"  {'metric':<16}{'parent q1/med/q3':>28}{'change q1/med/q3':>28}"
              f"{'delta':>9}{'wins':>7}  >IQR")
        for m in METRICS:
            p = [r["parent"][m] for r in rs]
            c = [r["change"][m] for r in rs]
            pq, cq = quartiles(p), quartiles(c)
            wins = sum(y < x for x, y in zip(p, c))
            delta = cq[1] - pq[1]
            print(f"  {m:<16}{'%.4g / %.4g / %.4g' % pq:>28}{'%.4g / %.4g / %.4g' % cq:>28}"
                  f"{100 * delta / pq[1]:>8.1f}%{wins:>4}/{len(rs):<2}  "
                  f"{'yes' if -delta > pq[2] - pq[0] else 'no'}")
        failed = [(r["seed"], s) for r in rs for s in ("parent", "change") if r[s]["failed"]]
        print(f"  runs with failed items: {failed or 'none'}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Break a perfbench trace down by operation: wall, Spark jobs, driver time.

    python3 tools/trace_ops.py <trace.jsonl> [--each]

Reads the spans a traced run (`perfbench/run.py --trace 1`) writes to
`.bench_build/work/<workload>-<seed>/trace.jsonl` and prints one line per
operation name (a registry entry, a gate, an admit, a closed-loop
trigger), slowest first, or with `--each` one line per execution in
start order, then a total line:

  runs       executions of the operation in the traced phase
  wall_ms    summed wall time of those executions
  jobs       Spark jobs they launched (and jobs per run)
  job_ms     the part of their wall time some Spark job overlaps
  driver_ms  wall_ms - job_ms: planning, scheduling, listing and
             driver-side collection, with no job running

Jobs are matched as the benchmark's `exec.driver_only_ms` matches them:
by time, because a stream's jobs run under the query's own job group.
A job is counted for the operation whose span links it (its job group)
or, unlinked, for the operation running when it started; the total
line's driver_ms equals `exec.driver_only_ms`, and its jobs plus those
reported outside every operation equal `exec.jobs`.
"""
import argparse
import collections
import json


def union(intervals):
    """Total length covered by a list of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if s >= end:
            total, end = total + e - s, e
        elif e > end:
            total, end = total + e - end, e
    return total


def executions(spans):
    """(name, wall_ms, jobs, job_ms) per operation execution, in start
    order, and the number of jobs that ran outside every operation."""
    ops = sorted((s for s in spans
                  if s["parent"] == 0 and s["layer"] != "exec" and "ok" in s["attrs"]),
                 key=lambda s: s["start_ms"])
    jobs = [s for s in spans if s["layer"] == "exec" and s["name"].startswith("job")]
    ids = {o["id"] for o in ops}
    owned = collections.Counter()
    for j in jobs:
        if j["parent"] in ids:
            owned[j["parent"]] += 1
        else:
            owner = next((o["id"] for o in ops
                          if o["start_ms"] <= j["start_ms"] < o["end_ms"]), None)
            owned[owner] += 1
    rows = []
    for o in ops:
        wall = o["end_ms"] - o["start_ms"]
        covered = union([(max(j["start_ms"], o["start_ms"]), min(j["end_ms"], o["end_ms"]))
                         for j in jobs])
        rows.append((o["name"], wall, owned[o["id"]], min(covered, wall)))
    return rows, owned[None]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trace")
    ap.add_argument("--each", action="store_true",
                    help="one line per execution, in start order, instead of per name")
    a = ap.parse_args()
    with open(a.trace) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    rows, outside = executions(spans)
    groups = collections.defaultdict(lambda: [0, 0.0, 0, 0.0])
    for i, (name, wall, jobs, covered) in enumerate(rows):
        g = groups[f"{i:>4} {name}" if a.each else name]
        for k, v in enumerate((1, wall, jobs, covered)):
            g[k] += v
    order = groups.items() if a.each else sorted(groups.items(), key=lambda kv: -kv[1][1])
    width = max([len("operation")] + [len(n) for n in groups])

    def line(name, runs, wall, jobs, covered):
        print(f"{name:<{width}} {runs:>5} {wall:>10.0f} {jobs:>6} {jobs / max(runs, 1):>8.1f} "
              f"{covered:>10.0f} {wall - covered:>10.0f}")

    print(f"{'operation':<{width}} {'runs':>5} {'wall_ms':>10} {'jobs':>6} "
          f"{'jobs/run':>8} {'job_ms':>10} {'driver_ms':>10}")
    for name, g in order:
        line(name, *g)
    line("total", *[sum(g[k] for g in groups.values()) for k in range(4)])
    if outside:
        print(f"{outside} more job(s) ran outside every operation")


if __name__ == "__main__":
    main()

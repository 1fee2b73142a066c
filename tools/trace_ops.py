#!/usr/bin/env python3
"""Break a perfbench trace down by operation: wall, Spark jobs, driver time.

    python3 tools/trace_ops.py <trace.jsonl> [--each | --jobs]

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

With `--jobs` it prints instead each execution's job timeline: every job
the operation owns, in start order, with its start offset from the
operation's start, its wall time, and per stage `<stage id>:<tasks>t/<ms>ms`
(the stage's wall time, submission to completion). Plan-time jobs (a
collect run while a plan is built) show as short jobs before the query's
first stage.
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


def owned_jobs(spans):
    """The operation executions in start order, and each one's job spans
    in start order, keyed by operation id (None: outside every one)."""
    ops = sorted((s for s in spans
                  if s["parent"] == 0 and s["layer"] != "exec" and "ok" in s["attrs"]),
                 key=lambda s: s["start_ms"])
    jobs = [s for s in spans if s["layer"] == "exec" and s["name"].startswith("job")]
    ids = {o["id"] for o in ops}
    owned = collections.defaultdict(list)
    for j in sorted(jobs, key=lambda j: j["start_ms"]):
        if j["parent"] in ids:
            owned[j["parent"]].append(j)
        else:
            owner = next((o["id"] for o in ops
                          if o["start_ms"] <= j["start_ms"] < o["end_ms"]), None)
            owned[owner].append(j)
    return ops, jobs, owned


def executions(spans):
    """(name, wall_ms, jobs, job_ms) per operation execution, in start
    order, and the number of jobs that ran outside every operation."""
    ops, jobs, owned = owned_jobs(spans)
    rows = []
    for o in ops:
        wall = o["end_ms"] - o["start_ms"]
        covered = union([(max(j["start_ms"], o["start_ms"]), min(j["end_ms"], o["end_ms"]))
                         for j in jobs])
        rows.append((o["name"], wall, len(owned[o["id"]]), min(covered, wall)))
    return rows, len(owned[None])


def job_timeline(spans):
    """Each execution's jobs, one line each, in start order."""
    ops, _, owned = owned_jobs(spans)
    stages = collections.defaultdict(list)
    for s in spans:
        if s["layer"] == "exec" and s["name"].startswith("stage"):
            stages[s["parent"]].append(s)

    def jobs(start, js):
        for j in js:
            st = " ".join(f"{s['name'].split()[1]}:{s['attrs'].get('tasks', 0):.0f}t/"
                          f"{s['end_ms'] - s['start_ms']:.0f}ms"
                          for s in sorted(stages[j["id"]], key=lambda s: s["start_ms"]))
            print(f"  {j['start_ms'] - start:>+9.0f} ms {j['name']:<10} "
                  f"{j['end_ms'] - j['start_ms']:>7.0f} ms  {st}")

    for i, o in enumerate(ops):
        js = owned[o["id"]]
        print(f"{i:>4} {o['name']}: {o['end_ms'] - o['start_ms']:.0f} ms, {len(js)} jobs")
        jobs(o["start_ms"], js)
    if owned[None]:
        print(f"outside every operation: {len(owned[None])} jobs")
        jobs(owned[None][0]["start_ms"], owned[None])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trace")
    ap.add_argument("--each", action="store_true",
                    help="one line per execution, in start order, instead of per name")
    ap.add_argument("--jobs", action="store_true",
                    help="each execution's jobs in start order, with offsets and stages")
    a = ap.parse_args()
    with open(a.trace) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    if a.jobs:
        job_timeline(spans)
        return
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

#!/usr/bin/env python3
"""Self-check of the graft benchmark, run from the root of a checkout:

    python3 perfbench/selfcheck.py [--seed N] [--workloads a,b,...]

For each workload it makes one untraced and two traced runs with one seed
and checks that:

1. every metric printed is declared in BENCHMARK.json, with the unit
   printed, and every declared metric is printed;
2. the two traced runs agree exactly on the deterministic work counters;
   a counter that depends on timing is named below with the reason and
   left out;
3. for corpus_intake, the admissions of the final grown corpus equal
   `SparkEntry.oracleSql("corpus_admit")` run in DuckDB over the same
   files (too slow to bind for every run; see README.md).

Exit status is non-zero when any check fails. Takes about ten minutes on
a 4-core box.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

COUNTERS = ["exec.jobs", "exec.stages", "exec.tasks", "shuffle.records",
            "state.rows_total", "sink.rows", "store.files_written"]

TIMING_DEPENDENT = {
    ("stream_persist", "exec.jobs"):
        "one job per trigger; the open loop groups chunks into triggers by timing",
    ("stream_persist", "exec.stages"): "as exec.jobs",
    ("stream_persist", "exec.tasks"): "as exec.jobs",
    ("stream_persist", "shuffle.records"):
        "partial aggregation runs per trigger, so records follow the trigger grouping",
    ("stream_persist", "sink.rows"):
        "one row per distinct word per trigger, so rows follow the trigger grouping",
}


def run(workload, seed, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} --trace {trace} exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_units(workload, result, kind, failures):
    declared = {m["name"]: m["unit"] for m in SPEC[kind]}
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    if printed != declared:
        extra = sorted(set(printed.items()) - set(declared.items()))
        missing = sorted(set(declared.items()) - set(printed.items()))
        failures.append(f"{workload} {kind}: printed-only {extra}, declared-only {missing}")


def main():
    global SPEC
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        SPEC = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    a = ap.parse_args()
    failures = []
    for w in a.workloads.split(","):
        check_units(w, run(w, a.seed, 0), "end_to_end", failures)
        first, second = run(w, a.seed, 1), run(w, a.seed, 1)
        check_units(w, first, "per_layer", failures)
        for c in COUNTERS:
            x, y = first["metrics"][c]["value"], second["metrics"][c]["value"]
            why = TIMING_DEPENDENT.get((w, c))
            if why:
                print(f"{w} {c}: excluded ({why}); {x} vs {y}")
            elif x == y:
                print(f"{w} {c}: repeats ({x})")
            else:
                failures.append(f"{w} {c}: {x} vs {y} with seed {a.seed}")
        if w == "corpus_intake":
            import oracle
            work = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                                "work", f"{w}-{a.seed}")
            for name, verdict in oracle.compare(os.path.join(work, "data", "corpus"),
                                                os.path.join(work, "out")).items():
                print(f"{w} {name}: {verdict}")
                if verdict != "ok":
                    failures.append(f"{w} {name}: {verdict}")
    for f in failures:
        print(f"FAIL {f}")
    print("selfcheck", "failed" if failures else "passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

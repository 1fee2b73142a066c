#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark from the checkout's sources (sbt, offline) into
`$CARGO_TARGET_DIR` (default `.bench_build`); later runs reuse the build
while no source changed. Inputs are generated from the seed under the
same directory, in a private work dir that is emptied first.

The last line on stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (`--trace 0`) or every
per-layer metric (`--trace 1`). Exit status is non-zero when the build
or the run fails, or when an output does not match its reference.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ["stream_persist", "batch_ref", "corpus_intake"]

# Batch inputs. The seed changes the rows, never the amount of work.
STAR = dict(customers=1500, orders=15000, events=10000)
STAR_DOCS = 500
CORPUS = dict(base=300, seg_docs=50, dup_share=0.25)


def corpus_rounds(seconds, trace):
    """Growth segments to land: one round (land, admit twice) takes about
    14 s on a 4-core box, so one per ten seconds; a traced run lands twice
    as many, half of them traced."""
    rounds = max(1, round(seconds / 10))
    return 2 * rounds if trace else rounds


JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: graft's and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile graft + the benchmark; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        with open(log, "a") as out:
            out.write(p.stdout)
        fail(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def generate(workload, seed, seconds, trace, data):
    import gen
    if workload == "batch_ref":
        gen.star_schema(f"{data}/star", seed, **STAR)
        gen.documents(f"{data}/star/documents.parquet", seed, STAR_DOCS)
    elif workload == "corpus_intake":
        gen.corpus(f"{data}/corpus", seed, segments=corpus_rounds(seconds, trace), **CORPUS)


def run_jvm(cp, args, work, seconds):
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = f"{work}/jvm.log"
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(150, 12 * seconds))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        fail(f"benchmark JVM failed ({code}):\n{tail}", 1)


def run_workload(cp, a, work):
    """One benchmark JVM on freshly generated inputs; its result, with the
    oracle verdicts merged into its checks and its set-up time summed."""
    os.makedirs(work)
    t0 = time.time()
    generate(a.workload, a.seed, a.seconds, a.trace, f"{work}/data")
    gen_s = time.time() - t0
    result_file = f"{work}/result.json"
    t1 = time.time()
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--work", work, "--launched", str(int(time.time() * 1000)),
                 "--result", result_file], work, a.seconds)
    with open(result_file) as f:
        res = json.load(f)
    t2 = time.time()
    if res["oracle_out"]:
        import oracle
        res["checks"].update(oracle.compare(res["oracle_data"], res["oracle_out"]))
    print(f"[perfbench] inputs {gen_s:.1f} s, jvm {t2 - t1:.1f} s, "
          f"oracle {time.time() - t2:.1f} s", file=sys.stderr)
    parts = res["setup_parts"]
    res["metrics"]["setup_s"] = gen_s + parts["session"] + parts["warmup"]
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("no graft sources next to the benchmark: run it from a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if a.trace else "end_to_end"]

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)

    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    res = run_workload(cp, a, work)
    bad = {k: v for k, v in res["checks"].items() if v != "ok"}
    if res["failed"]:
        # a failed operation is left out of every timing, so a run with
        # one would read faster than it is: it fails as a whole
        bad["operations"] = f"{res['failed']} failed"
    for k, v in bad.items():
        print(f"[perfbench] {k}: {v}", file=sys.stderr)

    metrics = {}
    for m in declared:
        if m["name"] in res["metrics"]:
            v = res["metrics"][m["name"]]
        elif a.trace:
            v = 0.0  # a layer this workload bypasses
        else:
            fail(f"end-to-end metric {m['name']} was not measured", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    ok = not bad and bool(res["checks"])
    print(json.dumps({"correct": ok, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

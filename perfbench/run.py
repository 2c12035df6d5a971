#!/usr/bin/env python3
"""Benchmark of the extraction engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Inputs are generated from
--seed. The JVM measures closed-loop passes for --seconds, checks every
output against the generator's goldens (or, for `ops_queries`, against
the DuckDB oracle SQL), and writes a result file. This script prints one
line per metric, then, as the last line of standard output, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. Exits non-zero if the build or the run fails.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("media_mix", "inline_mix", "commit_resume", "ops_queries", "ops_full")
RUN_LIMIT_S = 170
GEN_REPS = 3

# What Spark's launcher passes to a JDK 17 JVM.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Digest of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile and package the engine and the benchmark, then dump a class
    data archive of a short warm-up run so each run's JVM starts faster.
    Returns the runtime classpath and the archive."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources here ({need} is missing)")
    digest = source_digest()
    stamp = os.path.join(BUILD, f"classpath-{digest}.txt")
    archive = os.path.join(BUILD, f"classes-{digest}.jsa")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            return fh.read().strip(), archive
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspathAsJars"],
            cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    with open(log) as fh:
        lines = fh.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(l[:300] for l in lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}), log in {log}")
    cps = [l.strip() for l in lines if not l.startswith("[") and ".jar" in l]
    if not cps:
        fail(f"build printed no classpath, log in {log}")
    work = os.path.join(BUILD, "work", "classes")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_jvm(cps[-1], "classes", 0, 1, 0, work, [],
            time.monotonic() + RUN_LIMIT_S, [f"-XX:ArchiveClassesAtExit={archive}"])
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(cps[-1])
    return cps[-1], archive


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_jvm(classpath, workload, seed, seconds, trace, work, extra, deadline, jvm_opts):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += jvm_opts + [
        "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work] + extra
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            fail(f"{workload} stopped by signal {signum}")
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} ran past its time limit, log in {log}")
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(l[:300] for l in fh.readlines()[-40:]))
        fail(f"{workload} exited with {rc}, log in {log}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def generate_tables(out, seed):
    """Generate the query tables GEN_REPS times; return the median seconds."""
    sys.path.insert(0, HERE)
    import gen_tables
    walls = []
    for _ in range(GEN_REPS):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        gen_tables.generate(out, seed)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(BUILD, exist_ok=True)
    # one run at a time per checkout: runs share the build and work dirs
    lock = open(os.path.join(BUILD, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    classpath, archive = build()
    deadline = max(deadline, time.monotonic() + RUN_LIMIT_S - 20)
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    extra = []
    if args.workload.startswith("ops_"):
        tables = os.path.join(work, "tables")
        gen_s = generate_tables(tables, args.seed)
        extra = ["--tables", tables, "--gen-s", repr(gen_s)]
    share = [f"-XX:SharedArchiveFile={archive}"] if os.path.isfile(archive) else []
    result = run_jvm(classpath, args.workload, args.seed, args.seconds, args.trace,
                     work, extra, deadline, share)

    attempted, failed = result["attempted"], result["failed"]
    checks = list(result["checks"])
    if args.workload.startswith("ops_"):
        import oracle
        n, bad, lines = oracle.compare(tables, os.path.join(work, "ops_out"))
        attempted, failed = attempted + n, failed + len(bad)
        checks.append(f"oracle queries: {n - len(bad)}/{n} ok")
        checks += lines
        e2e = result["end_to_end"]
        e2e["failed_share"]["value"] = failed / max(1, attempted)

    kind = "per_layer" if args.trace else "end_to_end"
    shown = ("end_to_end", "per_layer") if args.trace else ("end_to_end",)
    for k in shown:
        for name, m in result[k].items():
            print(f"{args.workload} {name} {m['value']} {m['unit']}")
    measured = result[kind]
    for c in checks:
        print(f"{args.workload} check {c}")
    metrics = {}
    for m in spec[kind]:
        got = measured.get(m["name"])
        if got is None or got["value"] is None:
            fail(f"{args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result.update(attempted=attempted, failed=failed, checks=checks)
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    if args.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(results, f"{tag}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 3)


if __name__ == "__main__":
    main()

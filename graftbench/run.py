"""graft benchmark: one closed-loop client per run against the library.

    python3 graftbench/run.py --workload build|ingest \
        --seed N --seconds S --trace 0|1

Run from the repo root. Builds the bench (build.py) when sources changed,
runs one JVM with fixed heap, GC threads and task slots, and prints the
JVM's host-pressure line and its result line; the last line is the
result JSON. Exits non-zero without a result line on any failure.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("build", "ingest")
HEAP = "3g"
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = build.build()
    cores = len(os.sched_getaffinity(0))
    bench_rel = os.path.relpath(build.BENCH, build.ROOT)
    base = os.path.join(build.ROOT, ".bench_build", "runs")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=base)
    jvm_tmp = os.path.join(work, "tmp")
    os.makedirs(jvm_tmp)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-XX:ParallelGCThreads={cores}", f"-Djava.io.tmpdir={jvm_tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens + [
        "-cp", cp, "graftbench.BenchMain",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--data", bench_rel, "--cores", str(cores)]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    log = os.path.join(base, os.path.basename(work) + ".log")
    try:
        with open(log, "w") as err:
            p = subprocess.run(cmd, cwd=build.ROOT, env=env, stdout=subprocess.PIPE,
                               stderr=err, text=True, timeout=RUN_TIMEOUT_S)
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        ok = p.returncode == 0 and len(lines) >= 2
    except subprocess.TimeoutExpired:
        ok = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if ok:
        result = json.loads(lines[-1])
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        want = {m["name"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]}
        if set(result["metrics"]) != want:
            ok = False
            sys.stderr.write(f"metrics {sorted(result['metrics'])} != BENCHMARK.json {sorted(want)}\n")
    if not ok:
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit(f"graftbench: no result (log kept at {log})")
    with open(log) as f:
        sys.stderr.writelines(l for l in f if l.startswith("[graftbench"))
    os.remove(log)
    print(lines[-2])
    print(lines[-1])


if __name__ == "__main__":
    main()

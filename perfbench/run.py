#!/usr/bin/env python3
"""Runs one benchmark workload end to end and prints its result.

    python3 perfbench/run.py --workload pit_skew --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source (see build.py), starts
one JVM running `graft.perfbench.Main` on local[nproc], and prints as its
last stdout line `{"correct", "attempted", "failed", "metrics"}`:
end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. The line before it is a record of the run's diagnostics
(CPU canary, CPU steal, versions, executor-busy share, ...), which is
also written with the run's spans and JVM log under
`.bench_build/perfbench/records/`. Diagnostics never rescale a metric.
Exits non-zero, without a result, when the build or the run fails.
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
import build  # noqa: E402

WORKLOADS = ("pit_skew", "ingest_append")
JVM_TIMEOUT_S = 165

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def heap():
    """Half of RAM, 2 to 8 GiB: the formula the tier-1 tests use."""
    g = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
    return f"{min(max(g, 2), 8)}g"


def cpu_stat():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def canary():
    """A fixed single-thread CPU task; its time tracks box speed."""
    t = time.perf_counter()
    h = b"perfbench"
    for _ in range(300000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        cp = build.build(ROOT)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(base, "records", tag)
    for d in (work, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(out, "jvm.log")

    canary0, stat0 = canary(), cpu_stat()
    # build.sbt's 8 JIT compiler threads (for long sbt-forked bench runs)
    # slow a one-minute run on 4 cores by ~15%: keep the JVM default
    cmd = (["java", f"-Xmx{heap()}", "-Xss8m", "-XX:ReservedCodeCacheSize=1g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + ADD_OPENS
           + ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores),
              "--work", work, "--out", out])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, cwd=ROOT)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            stdout, _ = proc.communicate()
            print(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
    stat1, canary1 = cpu_stat(), canary()
    shutil.rmtree(work, ignore_errors=True)

    lines = stdout.splitlines()
    found = {k: ln[len(k) + 1:] for ln in lines for k in ("RECORD", "RESULT")
             if ln.startswith(k + " ")}
    if proc.returncode != 0 or "RESULT" not in found:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"[perfbench] JVM exited with {proc.returncode}; log: {log_path}",
              file=sys.stderr)
        return 1
    result = json.loads(found["RESULT"])
    record = json.loads(found["RECORD"])
    d = [y - x for x, y in zip(stat0, stat1)]
    record.update(canary_before_s=canary0, canary_after_s=canary1,
                  cpu_steal_share=d[7] / max(sum(d), 1), nproc=cores,
                  heap=heap(), result=result)
    with open(os.path.join(out, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"record": {k: v for k, v in record.items()
                                 if k not in ("iterations", "result")}}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

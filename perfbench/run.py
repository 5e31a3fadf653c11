"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload qa_serve|ingest_update \
        --seed N --seconds S --trace 0|1

Builds graft and the benchmark from source (see build.py), then runs the
workload in one JVM with Spark `local[nproc]`. Every file the run writes
sits under `.bench_build/perfbench/` in the repository root; the run's work
directory is removed at exit. Standard output ends with one JSON line:
`{"correct", "attempted", "failed", "metrics"}` -- end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. A `RUN {...}` line before it
is the run record (host, JVM, Spark settings, seed, steal, digest). The exit
code is 0 only when every op's output matched its reference.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("qa_serve", "ingest_update")
TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes, jars, key = build.build()
    work = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.callstack.depth=80",
           "-cp", f"{classes}:{jars}/*", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--commit", f"source-digest:{key}"]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"run: {a.workload} did not finish within {TIMEOUT_S} s")
    lines = [line for line in out.splitlines() if line.strip()]
    spans = [line.split(" ", 1)[1] for line in lines if line.startswith("SPANS ")]
    for s in spans:
        keep = os.path.join(build.OUT, "spans")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(s, keep)
    shutil.rmtree(work, ignore_errors=True)
    if not lines:
        sys.exit(f"run: {a.workload} printed nothing (exit {proc.returncode})")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        sys.exit(f"run: {a.workload} ended without a result (exit {proc.returncode})")
    for line in lines[:-1]:
        print(line.replace(work, "<work>"))
    print(json.dumps(result))
    sys.exit(0 if proc.returncode == 0 and result.get("correct") else 1)


if __name__ == "__main__":
    main()

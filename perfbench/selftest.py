"""Determinism self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all), two short runs at one seed must report the
same run digest -- rows, pairs, cache hits/misses/bytes, bytes written,
Spark job counts, quality_recall and bytes_per_input_byte -- and the same
input digest; a run at another seed must see other inputs. Exits non-zero on
the first difference.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("qa_serve", "ingest_update")
EXACT = ("quality_recall", "bytes_per_input_byte")


def run(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        sys.exit(f"selftest: {workload} seed {seed} failed (exit {out.returncode})")
    lines = out.stdout.splitlines()
    record = json.loads(next(l for l in lines if l.startswith("RUN "))[4:])
    return record, json.loads(lines[-1])["metrics"]


def main():
    for w in sys.argv[1:] or WORKLOADS:
        (ra, ma), (rb, mb), (rc, _) = run(w, 7), run(w, 7), run(w, 8)
        same = [ra["digest"] == rb["digest"], ra["input_digest"] == rb["input_digest"]]
        same += [ma[k]["value"] == mb[k]["value"] for k in EXACT]
        if not all(same):
            sys.exit(f"selftest: {w} is not deterministic at one seed: "
                     f"{ra['digest']} vs {rb['digest']}, "
                     f"{[(ma[k]['value'], mb[k]['value']) for k in EXACT]}")
        if rc["input_digest"] == ra["input_digest"]:
            sys.exit(f"selftest: {w} made the same inputs for two seeds")
        print(f"selftest: {w} ok (digest {ra['digest']})")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Smoke test of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/smoke_test.py

Runs every workload at a tiny size and checks that
  - the header records nproc, the Spark and JVM versions, the data dir and the seed;
  - the report prints all eight end-to-end metrics, each with its unit;
  - the result object holds exactly the metrics BENCHMARK.json declares, with
    their units (end-to-end untraced, per-layer traced);
  - a corrupted expected row count and a wrong generator total each turn
    into failed operations, so the checks can fail.
Exits non-zero on the first failed check.
"""
import json
import re
import subprocess
import sys

REPORT_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
                "cpu_s": "s", "failed_share": "ratio", "storage_amp": "ratio",
                "live_heap_peak_mb": "MB"}


def run(workload, trace, corrupt="none"):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny", "--corrupt", corrupt]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=300)
    assert out.returncode == 0, f"{cmd} exited {out.returncode}"
    lines = out.stdout.splitlines()
    return lines, json.loads(lines[-1])


def check(cond, msg):
    if not cond:
        print(f"FAIL {msg}")
        sys.exit(1)
    print(f"ok   {msg}")


def main():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    declared = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in [w["name"] for w in bench["workloads"]]:
        for trace in (0, 1):
            lines, res = run(w, trace)
            header = lines[0]
            for key in ("nproc=", "spark=", "jvm=", "data=", "seed=7"):
                check(key in header, f"{w} trace={trace}: header records {key}")
            for name, unit in REPORT_UNITS.items():
                check(any(re.match(rf"metric {name} \S+ {unit}\b", l) for l in lines),
                      f"{w} trace={trace}: report prints {name} in {unit}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == declared[trace], f"{w} trace={trace}: result holds the declared metrics")
            check(set(res) == {"correct", "attempted", "failed", "metrics"} and res["correct"]
                  and res["failed"] == 0 and res["attempted"] >= 1, f"{w} trace={trace}: run is correct")
    for w, corrupt in (("slate_sample", "expected"), ("etl", "generator")):
        lines, res = run(w, 0, corrupt)
        share = next(float(l.split()[2]) for l in lines if l.startswith("metric failed_share"))
        check(res["failed"] > 0 and not res["correct"] and share > 0,
              f"{w} with corrupt {corrupt}: failed_share {share} > 0")
    print("smoke test passed")


if __name__ == "__main__":
    main()

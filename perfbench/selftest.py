#!/usr/bin/env python3
"""Self-test of the benchmark harness on sf0.001-sized inputs.

    python3 perfbench/selftest.py [workload ...]   (default: serve ingest batch)

For each workload: a clean untraced smoke run must print every
end-to-end metric of BENCHMARK.json with its unit and pass its
correctness gate; a traced smoke run with one injected wrong answer
must print every per-layer metric with its unit and FAIL the gate.
Last, run.py must refuse, with no result line, in a directory holding
only BENCHMARK.json and perfbench/. Run from the repository root.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = json.load(open("BENCHMARK.json"))


def run(workload, trace, inject, cwd="."):
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "7", "--seconds", "4",
           "--trace", str(trace), "--smoke", "1", "--inject", str(inject)]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if p.returncode == 0 and lines else None), p.stderr


def check_metrics(result, declared):
    missing = [m["name"] for m in declared
               if m["name"] not in result["metrics"] or result["metrics"][m["name"]]["unit"] != m["unit"]
               or not isinstance(result["metrics"][m["name"]]["value"], (int, float))]
    extra = sorted(set(result["metrics"]) - {m["name"] for m in declared})
    return missing, extra


def main():
    failures = []
    for w in sys.argv[1:] or ["serve", "ingest", "batch"]:
        rc, r, err = run(w, trace=0, inject=0)
        if r is None:
            failures.append(f"{w}: clean run exited {rc}: {err[-500:]}")
            continue
        missing, extra = check_metrics(r, BENCH["end_to_end"])
        if missing or extra:
            failures.append(f"{w}: end-to-end metrics missing/mislabelled {missing}, undeclared {extra}")
        if not r["correct"] or r["failed"]:
            failures.append(f"{w}: clean run failed its correctness gate: {r}")
        rc, r, err = run(w, trace=1, inject=1)
        if r is None:
            failures.append(f"{w}: traced run exited {rc}: {err[-500:]}")
            continue
        missing, extra = check_metrics(r, BENCH["per_layer"])
        if missing or extra:
            failures.append(f"{w}: per-layer metrics missing/mislabelled {missing}, undeclared {extra}")
        if r["correct"] or r["failed"] < 1:
            failures.append(f"{w}: injected wrong answer was NOT caught: {r}")
        print(f"{w}: ok", flush=True)
    # a directory with only the benchmark's own files must be refused
    bare = os.path.join(".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    for path in BENCH["paths"]:
        shutil.copytree(path, os.path.join(bare, path))
    p = subprocess.run([*BENCH["command"], "--workload", "serve", "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
    if p.returncode == 0 or p.stdout.strip():
        failures.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-200:]!r}")
    shutil.rmtree(bare, ignore_errors=True)
    for f in failures:
        print("FAIL " + f)
    print("selftest: " + ("FAILED" if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

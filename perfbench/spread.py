#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--trace 1] [--out FILE]

Spread = (Q3 - Q1) / median over the seeds, quartiles as Python's
statistics.quantiles(values, n=4) gives them: the figure BENCHMARK.json's
bounds are checked against. Run from the repository root.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([*bench["command"], "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        r = json.loads(last) if p.returncode == 0 else {}
        runs.append({"seed": s, "rc": p.returncode, "wall_s": round(time.time() - t0, 1), **r})
        print(json.dumps(runs[-1]), flush=True)
    ok = [r for r in runs if r.get("correct")]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary = {}
    for name in (ok[0]["metrics"] if ok else {}):
        vals = [r["metrics"][name]["value"] for r in ok]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        summary[name] = {"median": med, "spread": (q[2] - q[0]) / med if med else None, "bound": bounds.get(name)}
    print(json.dumps({"workload": a.workload, "correct_runs": len(ok), "runs": len(runs), "summary": summary}, indent=1))
    if a.out:
        json.dump({"runs": runs, "summary": summary}, open(a.out, "w"), indent=1)
    return 0 if len(ok) == len(runs) else 1


if __name__ == "__main__":
    sys.exit(main())

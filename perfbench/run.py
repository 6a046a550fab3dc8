#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload serve|ingest|batch --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the harness and the
graft sources it drives into .bench_build/ (rebuilt whenever a source
changes). The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}};
lines before it starting with "report:" carry the seed, offered rates,
generator lateness, error rate and per-workload detail.

Extra options: --smoke 1 (sf0.001-sized inputs, used by selftest.py),
--inject 1 (plant one wrong answer; the correctness gate must fail),
--one-core 1 (ingest phase A only at local[1], the one-core baseline).
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
DATA = os.path.join(BENCH, "data")
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = [os.path.join(ROOT, "src", "main", "scala", "graft"), os.path.join(ROOT, "scripts", "check.py")]
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
DEADLINE_S = 175
BUILD_DEADLINE_S = 880


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def declared_units(kind):
    """{metric: unit} of BENCHMARK.json's "end_to_end" or "per_layer" list."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    files += [os.path.join(BENCH, n) for n in ("build.sbt", os.path.join("project", "build.properties"), "run.py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def up_to_date():
    stamp_file = os.path.join(BUILD, "stamp")
    return (os.path.exists(os.path.join(BUILD, "classpath")) and os.path.exists(stamp_file)
            and open(stamp_file).read() == source_stamp())


def build():
    """Compile harness + graft with sbt unless the sources are unchanged,
    pack the classes into one jar, and record a class-data-sharing
    archive of a short run so each run's JVM starts faster."""
    stamp, cp_file, stamp_file = source_stamp(), os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if up_to_date():
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, CDS_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "/" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    # class-data sharing needs every classpath entry to be a jar
    entries = lines[-1].strip().split(os.pathsep)
    classes = [e for e in entries if os.path.isdir(e)]
    jar = os.path.join(BUILD, "perfbench.jar")
    with zipfile.ZipFile(jar, "w") as z:
        for d in classes:
            for base, _, names in os.walk(d):
                for n in sorted(names):
                    z.write(os.path.join(base, n), os.path.relpath(os.path.join(base, n), d))
    classpath = os.pathsep.join([jar] + [e for e in entries if e not in classes])
    with open(cp_file, "w") as f:
        f.write(classpath)
    out = os.path.join(BUILD, "cds-run")
    shutil.rmtree(out, ignore_errors=True)
    args = {"workload": "ingest", "seed": 1, "seconds": 2, "out": out, "smoke": 1, "data": DATA}
    subprocess.run(java_cmd(classpath, args, out, f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"),
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300)
    shutil.rmtree(out, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def java_cmd(classpath, args, out, cds=None):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio", "java.util",
        "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    if cds is None:
        cds = f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.exists(CDS_ARCHIVE) else "-Xshare:auto"
    tmp = os.path.join(out, "scratch", "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", *opens, "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", cds,
             "-Xlog:cds=off", "-Xlog:cds+dynamic=off", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
             f"-Dderby.system.home={out}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, "perfbench.Main"]
            + [x for k, v in args.items() for x in (f"--{k}", str(v))])


def check_batch(result):
    """The first pass's parquet outputs (of the run's last window) against
    their oracle SQL in DuckDB, with scripts/check.py's emitted-order,
    dtype-strict comparison; every later pass's outputs must equal the
    first pass's, row for row in emitted order."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    sys.dont_write_bytecode = True
    import check
    import duckdb
    data_dir = result["outputs"]["data_dir"]
    passes = sorted(glob.glob(os.path.join(result["outputs"]["batch_out"], "pass*")),
                    key=lambda d: int(os.path.basename(d)[4:]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(data_dir, passes[0])
    got = {}
    for line in buf.getvalue().splitlines():
        parts = line.split(None, 1)
        if len(parts) == 2 and parts[0].startswith("q"):
            got[parts[0]] = parts[1]
    queries = json.load(open(os.path.join(passes[0], "oracle_sql.json")))
    verdicts = {f"pass0/{q}": got.get(q, "MISSING") for q in queries if not got.get(q, "MISSING").startswith("OK")}
    con = duckdb.connect()

    def rows(pass_dir, q):
        files = sorted(glob.glob(os.path.join(pass_dir, q, "*.parquet")))
        return con.sql(f"SELECT * FROM read_parquet({files!r})").df() if files else None
    for pass_dir in passes[1:]:
        for q in queries:
            mine, first = rows(pass_dir, q), rows(passes[0], q)
            if mine is None or first is None or not mine.equals(first):
                verdicts[f"{os.path.basename(pass_dir)}/{q}"] = "DIFFERS_FROM_PASS0"
    return len(verdicts), verdicts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--smoke", type=int, default=0)
    ap.add_argument("--inject", type=int, default=0)
    ap.add_argument("--one-core", type=int, default=0)
    a = ap.parse_args()
    t_start = time.time()
    missing = [p for p in PROGRAM + [DATA] if not os.path.exists(p)]
    if missing:
        fail(f"run from the repository root; missing {', '.join(os.path.relpath(p, ROOT) for p in missing)}")
    built = not up_to_date()
    classpath = build()
    out = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}" + ("-smoke" if a.smoke else ""))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "out": out,
            "smoke": a.smoke, "inject": a.inject, "data": DATA}
    if a.one_core:
        args.update({"cores": 1, "phase-a-only": 1})
    # a run that had to build first may take BUILD_DEADLINE_S in all
    budget = (BUILD_DEADLINE_S if built else DEADLINE_S) - (time.time() - t_start)
    try:
        p = subprocess.run(java_cmd(classpath, args, out), stdout=sys.stderr, stderr=sys.stderr, timeout=budget)
    except subprocess.TimeoutExpired:
        fail(f"harness exceeded {budget:.0f}s")
    if p.returncode != 0:
        fail(f"harness exited with {p.returncode}")
    result = json.load(open(os.path.join(out, "result.json")))
    attempted, failed = int(result["attempted"]), int(result["failed"])
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "setup_runs_s": result["setup_runs_s"]}
    if a.workload == "batch":
        wrong, verdicts = check_batch(result)
        failed += wrong
        report["oracle_failures"] = verdicts
    report["error_rate"] = failed / max(1, attempted)
    report["detail"] = {k: v for k, v in result["detail"].items() if k not in ("batch_out", "data_dir")}
    print("report: " + json.dumps(report, sort_keys=True))
    if a.trace:
        print("report: " + json.dumps({"traced_detail": result["traced_detail"],
                                       "self_ms_by_layer": result["self_ms_by_layer"],
                                       "spans": os.path.relpath(os.path.join(out, "spans.jsonl"), ROOT)},
                                      sort_keys=True))
    measured = result["per_layer"] if a.trace else result["end_to_end"]
    metrics = {k: {"value": measured.get(k), "unit": u}
               for k, u in declared_units("per_layer" if a.trace else "end_to_end").items()}
    bad = [k for k, m in metrics.items() if not isinstance(m["value"], (int, float))]
    if a.one_core:  # phase A alone: no freshness to report
        metrics = {k: m for k, m in metrics.items() if k not in bad}
    elif bad:
        fail(f"metrics not measured: {bad}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

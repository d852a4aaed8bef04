#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine plus the harness under
perfbench/ (sbt, only when a source changed), generates the workload's
inputs from the seed (gen.py), runs perfbench.Main in a fresh JVM on
local[min(4, cores)], checks every written output against expectations
that do not come from the engine, and prints one JSON line: the
end-to-end metrics with --trace 0, the per-layer metrics of an extra
traced run with --trace 1. Scratch files go under .bench_build/perfbench.
"""
import argparse
import hashlib
import json
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

import gen
import metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
JVM_HEAP = "2g"
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 880

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(list(ENGINE_SRC.rglob("*.scala")) + list((HERE / "src" / "main").rglob("*.scala"))
                   + [HERE / "build.sbt", HERE / "project" / "build.properties"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt when any source changed; returns the classpath."""
    stamp_file, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    build_log = WORK / "build.log"
    with open(build_log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=fh, text=True,
                           timeout=BUILD_TIMEOUT_S)
        fh.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if "perfbench" in ln and ".jar" in ln]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {build_log}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def run_jvm(cp, workload, inp, work, seconds, trace, seed, deadline):
    result = work / "result.json"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", cp, "perfbench.Main",
           workload, str(inp), str(work), str(seconds), str(trace), str(seed), str(result)]
    jvm_log = work / "jvm.log"
    with open(jvm_log, "w") as fh:
        try:
            r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"{workload} timed out; see {jvm_log}")
    if r.returncode != 0 or not result.exists():
        print(jvm_log.read_text()[-3000:], file=sys.stderr)
        fail(f"{workload} JVM exited {r.returncode}; see {jvm_log}")
    return json.loads(result.read_text())


def input_bytes(inp):
    return sum(f.stat().st_size for f in inp.rglob("*")
               if f.is_file() and f.name != "params.json")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not ENGINE_SRC.is_dir():
        fail(f"engine sources not found at {ENGINE_SRC}; run from the repository root")
    WORK.mkdir(parents=True, exist_ok=True)
    cp = build()
    deadline = time.time() + RUN_TIMEOUT_S
    work = WORK / "run"
    shutil.rmtree(work, ignore_errors=True)
    inp = work / "input"
    t0 = time.time()
    props, expected = gen.generate(a.workload, inp, a.seed)
    t1 = time.time()
    raw = run_jvm(cp, a.workload, inp, work, a.seconds, a.trace, a.seed, deadline)
    t2 = time.time()
    raw["input_bytes"] = input_bytes(inp)
    raw["input_rows"] = sum(props[k] for k in metrics.INPUT_ROWS[a.workload])
    raw["props"] = props
    checker = metrics.Checker(a.workload, inp, expected, raw)
    runs = [checker.check(r) for r in raw["runs"]]
    checked = list(runs)
    if a.trace:
        traced = checker.check(raw["traced"]["run"])
        after = checker.check(raw["traced"]["after"])
        checked += [traced, after]
        out = metrics.per_layer(a.workload, raw, runs, traced, after)
        spans_file = WORK / f"spans-{a.workload}-{a.seed}.json"
        spans_file.write_text(json.dumps(raw["traced"]["spans"]))
        log(f"{len(raw['traced']['spans'])} spans written to {spans_file}")
    else:
        out = metrics.end_to_end(a.workload, raw, runs)
    attempted = sum(r["attempted"] for r in checked)
    failed = sum(r["failed"] for r in checked)
    for r in checked:
        for e in r["errors"][:5]:
            log(f"check failed: {e}")
    log(f"{a.workload} seed={a.seed} {raw['master']} props={json.dumps(props)}")
    log(f"generate {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, check {time.time() - t2:.1f} s; "
        f"setup {raw['setup_ms'] / 1000:.2f} s (session {raw['session_ms'] / 1000:.2f} s), "
        f"runs {[round(r['ms'] / 1000, 2) for r in runs]} s")
    by_op = {}
    for r in runs:
        for op in r["ops"]:
            by_op.setdefault(re.sub(r"_\d+$", "", op["name"]), []).append(round(op["ms"]))
    log("op ms " + ", ".join(f"{k} {v}" for k, v in sorted(by_op.items())))
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()

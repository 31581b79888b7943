#!/usr/bin/env python3
"""Benchmark for the engine: one seeded, output-checked workload per run.

    python3 perfbench/run.py --workload verdict|curate --seed N \
        --seconds S --trace 0|1 [--record]

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build until a
source changes. The harness JVM generates the inputs from the seed, runs
the workload as a closed loop with one client on local[cores], checks
every output and reports raw samples; this script turns them into
metrics. The last line of standard output is the result as JSON: with
--trace 0 the end-to-end metrics, with --trace 1 the per-layer metrics of
BENCHMARK.json. --record stores this run's output digests as the expected
values for its seed in perfbench/expected.json.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

BUILD = HERE / ".build"
WORK = HERE / ".work"
OUT = HERE / ".out"
EXPECTED = HERE / "expected.json"
# The base documents table the curate input is expanded from.
DOCS = HERE / "data" / "documents.parquet"
HEAP = "4g"
# One run must end within 180 s; the build of a fresh checkout is extra.
JVM_LIMIT_S = 175
BUILD_LIMIT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("no engine sources here: run from the root of a checkout with build.sbt and src/main/scala")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(os.environ, TMPDIR=str(tmp))
    env.setdefault("COURSIER_MODE", "offline")
    env["JAVA_TOOL_OPTIONS"] = " ".join([env.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    # offline, and sbt's own temporary files inside the checkout
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true", f"-Djava.io.tmpdir={tmp}",
                                "-XX:-UsePerfData", "-Dsbt.server.autostart=false"]).strip()
    with open(OUT / "build.log", "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                           timeout=BUILD_LIMIT_S)
        log.write(r.stdout)
    lines = [ln.strip() for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (exit {r.returncode}); see {OUT / 'build.log'}")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def run_harness(cp, args, work, out, trace_out, log_path):
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--docs", str(DOCS), "--work", str(work),
            "--out", str(out), "--trace-out", str(trace_out)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"harness exceeded {JVM_LIMIT_S} s; see {log_path}")


def fmt(xs):
    return "[" + ", ".join(f"{x:.4g}" for x in xs) + "]"


ITEM = {"verdict": "turns", "curate": "docs"}
HEADLINE = {"verdict": "verdict_turns_per_s", "curate": "curate_docs_per_s"}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(ITEM))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()
    name = f"{args.workload}-{args.seed}-t{args.trace}"
    work = WORK / f"{name}-{os.getpid()}"
    out, trace_out, log_path = OUT / f"{name}.json", OUT / f"{name}.trace.json", OUT / f"{name}.log"
    OUT.mkdir(parents=True, exist_ok=True)
    for p in (out, trace_out):
        p.unlink(missing_ok=True)
    t0 = time.time()
    try:
        code = run_harness(cp, args, work, out, trace_out, log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not out.is_file():
        die(f"harness failed (exit {code}); see {log_path}")
    res = json.loads(out.read_text())

    records = json.loads(EXPECTED.read_text()) if EXPECTED.is_file() else {}
    key = f"{args.workload}/{res['inputs'].get('rows')}"
    recorded = records.get(key, {}).get(str(args.seed), {})
    mismatches = stats.record_mismatches(res["digests"], recorded)
    values, missing = stats.layer_values(args.workload, [m["name"] for m in bench["per_layer"]], res["layers"])
    if args.trace == 0:
        missing = []
    attempted, failed = stats.outcome(res, mismatches, missing)
    correct = failed == 0

    ctx, inp = res["context"], res["inputs"]
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} cores={ctx['cores']} "
          f"heap_max_mb={ctx['heap_max_mb']:.0f} spark={ctx['spark_version']} java={ctx['java_version']} "
          f"harness_wall_s={time.time() - t0:.1f}")
    print(f"inputs: {inp.get('kind')} rows={inp.get('rows')} bytes={inp.get('bytes')} files={inp.get('files')} "
          f"(generated from the seed by the benchmark)")
    samples = stats.timed(res)
    warm = [s for s in res["samples"] if s["warm"]]
    print(f"warm-up (not in metrics): seconds={fmt([s['seconds'] for s in warm])}")
    if samples:
        rates = stats.throughput(samples)
        q1, q2, q3 = stats.quartiles(rates)
        secs = [s["seconds"] for s in samples]
        print(f"{HEADLINE[args.workload]} {q2:.6g} {ITEM[args.workload]}/s "
              f"(median of {len(rates)}; q1 {q1:.6g}, q3 {q3:.6g}; samples {fmt(rates)})")
        print(f"pass_s median {stats.quartiles(secs)[1]:.4f} s; samples {fmt(secs)}; "
              f"steal_pct {fmt([s['steal_pct'] for s in samples])}")
    setup = res["setup_s"]
    if setup:
        print(f"setup_s {stats.quartiles(setup)[1]:.4f} s (median of {len(setup)}: {fmt(setup)})")
    print(f"failed_frac {failed / attempted:.4g} ({failed} of {attempted} operations failed)")
    print(f"peak_heap_mb {res['peak_heap_mb']:.1f} MB (used heap after a full GC, max over timed passes)")
    for f in res["failures"]:
        print(f"failure: {f}")
    if res["skipped"]:
        print(f"probes skipped to end within the time limit (failed): {', '.join(res['skipped'])}")
    for k in missing:
        print(f"failure: layer metric {k} was not measured")
    for k in mismatches:
        print(f"failure: {k} digest {res['digests'][k]} differs from the record {recorded[k]}")
    if not recorded:
        print(f"no recorded digests for {key} seed {args.seed}; outputs checked against the generator "
              f"and within the run only")

    metrics = {}
    if args.trace == 0:
        values = {
            "items_per_s": stats.quartiles(stats.throughput(samples))[1] if samples else 0.0,
            "setup_s": stats.quartiles(setup)[1] if setup else 0.0,
            "peak_heap_mb": res["peak_heap_mb"],
        }
        for m in bench["end_to_end"]:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    else:
        for m in bench["per_layer"]:
            if m["name"] in missing:
                continue
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
            print(f"{m['name']} {values[m['name']]:.6g} {m['unit']}"
                  + ("" if m["name"] in res["layers"] else " (not on this workload)"))
        print(f"trace: {trace_out}")

    if args.record and correct:
        records.setdefault(key, {}).setdefault(str(args.seed), {}).update(res["digests"])
        EXPECTED.write_text(json.dumps(records, indent=1, sort_keys=True) + "\n")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

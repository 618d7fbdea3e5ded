#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

    python3 perfbench/run.py --workload build|serve|ingest|pipeline \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call compiles the engine's
sources (src/main/scala) together with the harness (perfbench/src) with sbt;
later calls reuse the classes while the sources are unchanged. Each call
starts one JVM running Spark at local[<cores>], which sets up the seeded
inputs, checks every operation against an oracle and measures the closed
loop for S seconds.

Human-readable lines (every metric the workload names, with units, sample
counts, failed/attempted counts and the host contention label) come first;
the last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. With --trace 0 the metrics are the end-to-end metrics
of BENCHMARK.json, with --trace 1 the per-layer ones. The full record of
every run is kept under perfbench/results/ for compare.py. The exit code is
non-zero when any operation failed its oracle check.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "source-stamp")
RESULTS = os.path.join(HERE, "results")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("build", "serve", "ingest", "pipeline")
# A run must end within 180 s and a checkout's first run (with the build)
# within 900 s; a clean build takes about 70 s on 4 cores.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# A run whose CPU probe reads below this share of the best probe seen in
# this checkout is labelled contended.
QUIET_SHARE = 0.8

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    print("perfbench: compiling engine and harness with sbt", file=sys.stderr)
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        die("build failed")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: build took {time.time() - t0:.0f} s", file=sys.stderr)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("SPARK_HOME must point at a Spark 4 distribution")
    return os.path.join(home, "jars", "*")


def run_jvm(args, work, record, trace_out, log_path):
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + spark_jars(), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--record", record]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=work, start_new_session=True)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def contention_label(host):
    """Quiet/contended from the run's CPU probes against the best probe
    this checkout has seen (contention only ever lowers a probe)."""
    ref_path = os.path.join(WORK, "probe-best")
    best = 0.0
    if os.path.exists(ref_path):
        with open(ref_path) as fh:
            best = float(fh.read().strip() or 0)
    lo = min(host["probe_before_mops"], host["probe_after_mops"])
    best = max(best, host["probe_before_mops"], host["probe_after_mops"])
    with open(ref_path, "w") as fh:
        fh.write(str(best))
    share = lo / best if best > 0 else 1.0
    return ("quiet" if share >= QUIET_SHARE else "contended"), share


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}; "
            "run from the root of a graft checkout")
    if args.seconds <= 0:
        die("--seconds must be positive")

    build()
    os.makedirs(RESULTS, exist_ok=True)
    os.makedirs(WORK, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record_path = os.path.join(work, "record.json")
    trace_out = os.path.join(RESULTS, f"{tag}.trace.json") if args.trace else None
    log_path = os.path.join(RESULTS, f"{tag}.log")
    try:
        rc = run_jvm(args, work, record_path, trace_out, log_path)
        if rc != 0 or not os.path.exists(record_path):
            with open(log_path, "rb") as fh:
                tail = fh.read()[-3000:].decode(errors="replace")
            sys.stderr.write(tail)
            die("the benchmark JVM timed out" if rc is None else f"the benchmark JVM exited with {rc}")
        with open(record_path) as fh:
            rec = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    label, share = contention_label(rec["host"])
    rec["contention"] = {"label": label, "probe_share_of_best": share}
    metrics = rec["per_layer"] if args.trace else rec["end_to_end"]
    wanted = expected_metrics(args.trace)
    if wanted is not None:
        missing = [m for m in wanted if m not in metrics]
        if missing:
            rec["failures"].append(f"metrics not measured: {missing}")
            rec["correct"] = False
        metrics = {m: metrics[m] for m in wanted if m in metrics}
    with open(os.path.join(RESULTS, f"{tag}.json"), "w") as fh:
        json.dump(rec, fh, indent=1)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"host {label} (probe {share:.2f} of best, load {rec['host']['load_before']:.2f}"
          f" -> {rec['host']['load_after']:.2f}, calibration {rec['host']['calibration_before_ms']:.2f}"
          f" -> {rec['host']['calibration_after_ms']:.2f} ms, {rec['host']['cores']} cores)")
    print(f"operations attempted {rec['attempted']}  failed {rec['failed']}")
    for f in rec["failures"]:
        print(f"  FAILED {f}")
    for k, m in rec["named"].items():
        note = f"  ({m['note']})" if m["note"] else ""
        print(f"  {k:28s} {m['value']:14.4f} {m['unit']:9s} n={m['samples']}{note}")
    for k, m in rec["end_to_end"].items():
        print(f"  {k:28s} {m['value']:14.4f} {m['unit']}")
    if args.trace:
        wall = rec["trace_wall_s"]
        print(f"traced loop wall {wall:.3f} s, tracing overhead "
              f"{100 * rec['tracing_overhead_frac']:.1f}% of throughput; self time by layer:")
        for layer, s in sorted(rec["self_time_s"].items(), key=lambda kv: -kv[1]):
            print(f"  {layer:10s} {s:9.3f} s  {100 * s / wall:5.1f}%")
        print(f"  {'sum':10s} {sum(rec['self_time_s'].values()):9.3f} s")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop run.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (graftbench/build.sbt); later runs
reuse the build while no source file changed. Each run uses a fresh work
directory under graftbench/work and deletes it on exit.

Standard output ends with one JSON line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
holding the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) that BENCHMARK.json declares. The line before it,
GRAFTBENCH_REPORT, holds every metric of the workload by name with its
unit, the load probes and any errors. A traced run also writes its spans
to graftbench/out/ and reports its tracing overhead against the last
untraced run of the same workload.
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

WORKLOADS = ("taxi_scan", "lake_churn", "corpus_curation")
ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "graftbench")
ENGINE = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(BENCH, "target")
OUT = os.path.join(BENCH, "out")
CLASSPATH = os.path.join(TARGET, "graftbench.classpath")
STAMP = os.path.join(TARGET, "graftbench.stamp")

# The build resolves offline, from the toolchain's caches only.
SBT = ["sbt", "--batch", "-Dsbt.log.noformat=true",
       "-Dsbt.server.autostart=false", "-Dsbt.offline=true",
       "-Dsbt.override.build.repos=true",
       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")]

# Spark on JDK 17 outside spark-submit (as in the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def log(msg):
    print("[graftbench] " + msg, file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE, os.path.join(BENCH, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamp matches; return the classpath."""
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    log("building engine + benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(SBT + ["compile", "export Runtime/fullClasspath"],
                       cwd=BENCH, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.splitlines()
    cps = [l.strip() for l in lines if "scala-2.13" + os.sep + "classes" in l
           and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cps[-1])
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log("built in %.1f s" % (time.time() - t0))
    return cps[-1]


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    return ap.parse_args()


def tagged(lines, tag):
    for l in reversed(lines):
        if l.startswith(tag + " "):
            return json.loads(l[len(tag) + 1:])
    return None


def overhead(report, workload):
    """Traced end-to-end metrics over the last untraced run's."""
    path = os.path.join(OUT, "untraced-%s.json" % workload)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base = json.load(fh)
    traced = report["end_to_end"]
    return {"base_seed": base["seed"], "seed": report["seed"],
            "ratios": {k: traced[k]["value"] / v["value"]
                       for k, v in base["end_to_end"].items()
                       if k in traced and v["value"]
                       and traced[k]["value"] is not None}}


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args()
    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        raise SystemExit("no engine sources under %s: run from the root of "
                         "a graft checkout" % ENGINE)
    classpath = build()
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(BENCH, "work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(OUT, "spans-%s-seed%d.jsonl" %
                         (args.workload, args.seed))
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(min(4, os.cpu_count() or 1)),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               SPARK_LOCAL_IP="127.0.0.1")
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--spans", spans])
    log_path = os.path.join(OUT, "%s-seed%d-trace%d.log" %
                            (args.workload, args.seed, args.trace))
    proc = None
    try:
        with open(log_path, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=env,
                                    stdout=subprocess.PIPE, stderr=err,
                                    text=True)
            t0 = time.time()
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            log("run took %.1f s" % (time.time() - t0))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("run exceeded %d s; log: %s" %
                         (RUN_TIMEOUT_S, log_path))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    report = tagged(lines, "GRAFTBENCH_REPORT")
    result = tagged(lines, "GRAFTBENCH_RESULT")
    if proc.returncode != 0 or report is None or result is None:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit("run failed (exit %d); log: %s" %
                         (proc.returncode, log_path))
    if args.trace:
        report["trace_overhead"] = overhead(report, args.workload)
    else:
        with open(os.path.join(OUT, "untraced-%s.json" % args.workload),
                  "w") as fh:
            json.dump(report, fh)
    print("GRAFTBENCH_REPORT " + json.dumps(report))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()

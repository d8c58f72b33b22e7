#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload registry_sf0.01 --seed 1 --seconds 10 --trace 0

Run from the repo root. Builds graft and the harness (only when their
sources changed) together with a class-data-sharing archive of the
classes a run loads, runs the harness in a fresh JVM that maps that
archive and prints, as the last stdout line, one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Everything the
run writes goes under .bench_build/ in the repo root; the per-query
trace of a run is kept in .bench_build/trace/.
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

import lib

ROOT = os.getcwd()
BENCH = lib.HERE
OUT = os.path.join(ROOT, ".bench_build")
SBT_TARGET = os.path.join(OUT, "sbt-target")
CDS_ARCHIVE = os.path.join(OUT, "classes.jsa")
DEADLINE_S = 170  # the whole run, build excluded
HEAP = "3g"       # fixed -Xms = -Xmx, independent of the caller's env
# A run makes a fixed number of warm passes, one per PASS_S seconds of
# --seconds and at least MIN_PASSES, so a query's median absorbs slow
# passes. The count is fixed rather than "until --seconds have passed":
# the JIT is still compiling during the first warm passes, and a run that
# stopped by time would take its medians at a point of the JIT curve
# that moves with the host's speed.
PASS_S = 2.0      # a warm pass of either workload on a quiet 4-cpu host
MIN_PASSES = 3

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_logged(cmd, log, timeout, cwd=None, env=None):
    """Run `cmd` in its own process group, output to `log`; on timeout
    kill the group and wait for it. Returns the exit code."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} (log: {log})")


def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), BENCH):
        for d, subdirs, files in sorted(os.walk(base)):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "data", "tests"))
            for name in sorted(files):
                # lib.py names the queries the class archive is dumped from
                if name.endswith((".scala", ".sbt", ".properties")) or name == "lib.py":
                    p = os.path.join(d, name)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile and package graft and the harness with sbt, offline, and
    dump the class-data-sharing archive; skipped when the sources are
    unchanged since the last build. Returns the classpath and the
    source digest."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("graft sources not found: run from the root of a graft checkout")
    digest = source_digest()
    stamp = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(SBT_TARGET, "classpath.txt")
    built = all(os.path.isfile(p) for p in (stamp, cp_file, CDS_ARCHIVE))
    if not (built and open(stamp).read() == digest):
        os.makedirs(OUT, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(OUT, "build.log")
        code = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                          log, 800, cwd=BENCH, env=env)
        if code != 0:
            fail(f"build failed (exit {code}); log: {log}")
        with open(cp_file) as f:
            dump_class_archive(f.read().strip())
        with open(stamp, "w") as f:
            f.write(digest)
    with open(cp_file) as f:
        return f.read().strip(), digest


def dump_class_archive(classpath):
    """Write CDS_ARCHIVE: the classes a run loads (JVM, Spark, graft,
    harness), recorded by one untimed traced cold pass over every
    workload query. Mapping it saves each run's JVM from loading and
    verifying those classes again. The archive is only valid for the
    classpath it was dumped with, so it is rebuilt with every build."""
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    names = sorted({n for qs in lib.WORKLOADS.values() for n in qs})
    harness(classpath, names, lib.DATA, os.path.join(OUT, "runs", "cds-dump"), passes=0,
            cpus=len(os.sched_getaffinity(0)), trace=1, timeout=400,
            jvm_opts=[f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    if not os.path.isfile(CDS_ARCHIVE):
        fail(f"no class-data-sharing archive written to {CDS_ARCHIVE}")


def harness(classpath, names, data, work, *, passes, cpus, trace,
            timeout, dump=None, jvm_opts=()):
    """Run the harness JVM once in a fresh work directory; returns its
    raw measurements. The JVM's temp files, Spark local dirs and
    warehouse stay inside `work`, which is removed afterwards."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    raw_file = os.path.join(work, "raw.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *jvm_opts]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse",
              "-cp", classpath, "graftbench.Harness",
              "--data", data, "--queries", ",".join(names),
              "--passes", str(passes),
              "--cpus", str(cpus),
              "--trace", str(trace), "--out", raw_file]
           + (["--dump", dump] if dump else []))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    code = run_logged(cmd, os.path.join(work, "jvm.log"), timeout, cwd=work, env=env)
    if code != 0 or not os.path.isfile(raw_file):
        fail(f"harness failed (exit {code}); log: {work}/jvm.log")
    with open(raw_file) as f:
        raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return raw


def host_steal_s():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(lib.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath, digest = build()
    catalog = lib.load_catalog()
    names = lib.workload_queries(args.workload, args.seed)
    cpus = len(os.sched_getaffinity(0))

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, "runs", tag)
    steal0, t0 = host_steal_s(), time.time()
    passes = max(MIN_PASSES, round(args.seconds / PASS_S))
    raw = harness(classpath, names, lib.DATA, work, passes=passes, cpus=cpus, trace=args.trace,
                  timeout=DEADLINE_S, jvm_opts=[f"-XX:SharedArchiveFile={CDS_ARCHIVE}"])

    failed = lib.check(raw, catalog)
    if args.trace:
        metrics, specs = lib.per_layer(raw, cpus), lib.PER_LAYER
    else:
        metrics, specs = lib.end_to_end(raw), lib.END_TO_END
    warm_n = sum(1 for q in raw["queries"] if q["pass"] > 0 and "error" not in q)
    env_rec = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "shuffle_partitions": raw["shuffle_partitions"],
        "heap": HEAP, "heap_max_bytes": raw["heap_max_bytes"],
        "source_digest": digest, "git_commit": git_commit(),
        "queries": names, "warm_passes": raw["warm_passes"], "warm_executions": warm_n,
        "host_steal_s": host_steal_s() - steal0, "run_wall_s": time.time() - t0,
        "loadavg": os.getloadavg(), "failed_queries": sorted(failed),
    }
    os.makedirs(os.path.join(OUT, "trace"), exist_ok=True)
    with open(os.path.join(OUT, "trace", tag + ".json"), "w") as f:
        json.dump({"env": env_rec, "metrics": metrics, "raw": raw}, f, indent=1)
    print("env " + json.dumps({k: v for k, v in env_rec.items() if k != "queries"}))
    for name, unit, *_ in specs:
        print(f"{name:24s} {metrics[name]:14.4f} {unit}")
    print(lib.result_line(metrics, specs, len(names), len(failed)))


def git_commit():
    """HEAD of the repo when the benchmark runs in a git checkout."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              cwd=ROOT, timeout=10).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


if __name__ == "__main__":
    main()

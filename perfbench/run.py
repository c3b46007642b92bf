#!/usr/bin/env python3
"""Benchmark of the TTL remover's own job: SSTables in, SSTables out.

Run from the root of a checkout:

    python3 perfbench/run.py --workload rewrite_lz4 --seed 1 --seconds 8 --trace 0

It builds the library together with the harness in perfbench/ (sbt, on
first use or when a source changed), generates the seed's lakes (cached
under .bench_build/lakes), times calls into the library in one JVM
running Spark local[nproc] with one closed-loop client, checks every
output, and prints each metric as `name value unit`. The last line is one
JSON object: with --trace 0 the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics, from a separate traced run.

Workloads (BENCHMARK.json says why each was chosen):
  rewrite_lz4   RemoverCli --format sstable --sink sstable --compress lz4
  compact_wide  RemoverCli --format sstable --sink sstable --merge lww
                --out-generations <nproc>, uncompressed

A run starts one measured JVM. `setup_s` is its CPU time from start until
its Spark session is ready (`setup_wall_s` the wall time), `first_run_s`
its first (cold) job, `job_s` / `job_cpu_s` the median wall / CPU time of
the warm jobs that follow. When the seed's lakes are not cached yet, a
separate JVM generates them first, so that generation stays out of every
measured number.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

WORKLOADS = ("rewrite_lz4", "compact_wide")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
# Every JVM of a run, together, must end within the run's budget.
RUN_BUDGET_S = 170.0
# java.base packages Spark needs opened on JDK 17, as spark-submit does.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def log_path(name):
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    return os.path.join(WORK, "logs", name)


def sources():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in ("src/main", "perfbench/src", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out + ["perfbench/build.sbt"])


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("no library sources under src/main/scala: run "
                         "from the root of a checkout")
    digest = hashlib.sha256()
    for rel in sources():
        digest.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                return digest.hexdigest()
    if shutil.which("sbt") is None:
        raise BenchError("sbt is not on PATH")
    with open(log_path("build.log"), "w") as logf:
        # sbt's global state (boot, server, compiler bridge) stays in the
        # checkout too
        opts = "%s -Dsbt.global.base=%s" % (
            os.environ.get("SBT_OPTS", ""), os.path.join(WORK, "sbt-global"))
        rc = subprocess.run(["sbt", "-batch", "Compile/products"], cwd=HERE,
                            env=dict(os.environ, SPARK_HOME=spark_home(),
                                     SBT_OPTS=opts.strip()),
                            stdout=logf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        raise BenchError("build failed, see .bench_build/logs/build.log")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return digest.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("Spark not found: set SPARK_HOME")
    return home


class Jvm:
    """One benchmark JVM: its `@`-prefixed stdout lines, parsed."""

    def __init__(self, mode, args, cores, deadline):
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
        cmd += ["-Xmx1g", "-Djava.io.tmpdir=" + tmp,
                "-cp", CLASSES + os.pathsep +
                os.path.join(spark_home(), "jars", "*"),
                "graft.perfbench.Main", "--mode", mode,
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--cores", str(cores),
                "--work", WORK]
        self.setup_s = None
        self.setup_wall_s = None
        self.first_s = None
        self.ops = {}
        self.metrics = {}
        self.facts = {}
        self.wrong = []
        self.errors = []
        self.result = None
        with open(log_path("%s.log" % mode), "w") as logf:
            t0 = time.monotonic()
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                                    stderr=logf, stdin=subprocess.DEVNULL,
                                    text=True)
            # the run's budget is enforced even on a JVM that prints nothing
            watchdog = threading.Timer(max(1.0, deadline - t0), proc.kill)
            watchdog.start()
            try:
                self._read(proc, t0)
            finally:
                watchdog.cancel()
                if proc.poll() is None:
                    proc.kill()
                proc.wait()
        self.rc = proc.returncode
        if time.monotonic() >= deadline:
            self.errors.append("run budget of %.0f s exceeded" % RUN_BUDGET_S)
        if self.setup_s is None:
            raise BenchError("JVM (%s) never became ready, see "
                             ".bench_build/logs/%s.log" % (mode, mode))

    def _read(self, proc, t0):
        for line in proc.stdout:
            parts = line.rstrip("\n").split(" ", 1)
            key, rest = parts[0], parts[1] if len(parts) > 1 else ""
            if key == "@READY":
                self.setup_wall_s = time.monotonic() - t0
                self.setup_s = float(rest)
            elif key.startswith("@OPS"):
                self.ops[key[1:].lower()] = [float(x) for x in rest.split()]
            elif key == "@FIRST":
                self.first_s = float(rest)
            elif key == "@METRIC":
                name, value, unit = rest.rsplit(" ", 2)
                self.metrics[name] = (float(value), unit)
            elif key == "@FACT":
                name, value = rest.split(" ", 1)
                self.facts[name] = value
            elif key == "@RESULT":
                attempted, failed = rest.split()
                self.result = (int(attempted), int(failed))
            elif key == "@WRONG":
                self.wrong.append(rest)
            elif key == "@ERROR":
                self.errors.append(rest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    start = time.monotonic()
    stamp = build()
    deadline = time.monotonic() + RUN_BUDGET_S
    cores = len(os.sched_getaffinity(0))
    ready = os.path.join(WORK, "lakes", "ready-s%d" % args.seed)
    if not (os.path.exists(ready) and open(ready).read() == stamp):
        prep = Jvm("prepare", args, cores, deadline)
        if prep.rc != 0:
            raise BenchError("lake generation failed: %s, see "
                             ".bench_build/logs/prepare.log"
                             % "; ".join(prep.errors))
        with open(ready, "w") as f:
            f.write(stamp)
    last = Jvm("trace" if args.trace else "run", args, cores, deadline)
    metrics = dict(last.metrics)
    if not args.trace:
        metrics["setup_s"] = (last.setup_s, "s")
        metrics["setup_wall_s"] = (last.setup_wall_s, "s")
        if last.first_s is not None:
            metrics["first_run_s"] = (last.first_s, "s")
    attempted, failed = last.result or (0, 0)
    errors = list(last.errors)
    if last.rc != 0 and not errors and not last.wrong:
        errors.append("JVM exited with code %d" % last.rc)
    missing = [m["name"] for m in wanted if m["name"] not in metrics]

    for name, value in sorted(last.facts.items()):
        print("lake.%s %s" % (name, value))
    for name, (value, unit) in sorted(metrics.items()):
        print("%s %r %s" % (name, value, unit))
    for name, values in sorted(last.ops.items()):
        print("%s %s" % (name, " ".join("%.3f" % x for x in values)))
    if attempted:
        print("error_rate %r ratio" % (failed / attempted))
    for w in last.wrong:
        print("WRONG: " + w)
    for e in errors:
        print("ERROR: " + e)
    if missing:
        print("ERROR: metrics not reported: " + ", ".join(missing))
    print("elapsed_s %.1f s" % (time.monotonic() - start))
    if errors or missing or attempted == 0:
        return 1
    correct = failed == 0 and not last.wrong
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]][0],
                                "unit": m["unit"]} for m in wanted},
    }, separators=(",", ":")))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (BenchError, OSError, subprocess.SubprocessError,
            json.JSONDecodeError, KeyError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        sys.exit(2)

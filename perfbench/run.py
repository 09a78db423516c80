#!/usr/bin/env python3
"""graft's benchmark: one workload, one fresh JVM, one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload query_suite|telemetry_stream
                           --seed N --seconds S --trace 0|1

Builds the program and the benchmark with sbt when their sources changed
(perfbench/build.sbt compiles the root build as a dependency), makes the
workload's inputs from the seed, runs the workload in a fresh JVM, checks
its outputs independently with DuckDB (perfbench/checks.py) and prints, as
the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the run's spans go to
perfbench/results/trace-<workload>-<seed>.json. Each run works in its own
directory under perfbench/.work/ (its java.io.tmpdir included) and removes
it before it exits.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("query_suite", "telemetry_stream")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    for top in tops:
        path = os.path.join(ROOT, top)
        if not os.path.exists(path):
            fail(f"{top} is missing; run from a full checkout of the repository")
        walk = [(path, [], [])] if os.path.isfile(path) else os.walk(path)
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x != "target")
            names = [""] if os.path.isfile(d) else sorted(files)
            for f in names:
                p = os.path.join(d, f) if f else d
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt if the sources changed; return (classpath, seconds)."""
    out = os.path.join(HERE, "target")
    os.makedirs(out, exist_ok=True)
    stamp = os.path.join(out, "perfbench-build.json")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = sources_digest()
        if os.path.exists(stamp):
            with open(stamp) as f:
                got = json.load(f)
            if got["digest"] == digest:
                return got["classpath"], 0.0
        t = time.time()
        env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=850)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        cp = [line for line in r.stdout.splitlines()
              if "perfbench/target" in line and ":" in line and not line.startswith("[")]
        if not cp:
            fail("sbt printed no classpath")
        with open(stamp, "w") as f:
            json.dump({"digest": digest, "classpath": cp[-1]}, f)
        return cp[-1], time.time() - t


def java_cmd(classpath, work, cpus):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", *opens, "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-cp", classpath,
             "graft.perfbench.Main", "--cpus", str(cpus)])


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]],
            {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    e2e, layers, units = per_layer_names()

    classpath, build_s = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--result", f"{work}/result.json"]
        injected = None
        if a.workload == "query_suite":
            os.makedirs(f"{work}/inputs")
            injected = inputs.write_logs(f"{work}/inputs", a.seed)
            args += ["--data", os.path.join(HERE, "data", "sf0.01"),
                     "--inputs", f"{work}/inputs"]
        trace_out = os.path.join(HERE, "results", f"trace-{a.workload}-{a.seed}.json")
        if a.trace:
            os.makedirs(os.path.dirname(trace_out), exist_ok=True)
            args += ["--trace-out", trace_out, "--run-id", f"{a.workload}-{a.seed}-{os.getpid()}"]
        # half the CPUs as Spark task threads: the JVM's JIT and GC threads
        # and the host's own load then seldom stall a task
        cpus = max(1, (os.cpu_count() or 2) // 2)
        t_jvm = time.time()
        with open(f"{work}/jvm.log", "w") as log:
            try:
                r = subprocess.run(java_cmd(classpath, work, cpus) + args, cwd=work,
                                   stdout=log, stderr=subprocess.STDOUT,
                                   timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"the workload did not finish in {JVM_TIMEOUT_S} s")
        if r.returncode != 0 or not os.path.exists(f"{work}/result.json"):
            with open(f"{work}/jvm.log") as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"the workload's JVM exited with code {r.returncode}")
        with open(f"{work}/result.json") as f:
            res = json.load(f)

        t_checks = time.time()
        failures = checks.run(a.workload, work, HERE, a.seed, res, injected)
        setup_end = res["setup_end_ms"] / 1000.0
        print(f"perfbench: build {build_s:.1f} s, inputs {t_jvm - T0 - build_s:.1f} s, "
              f"jvm set-up {setup_end - t_jvm:.1f} s, jvm after set-up "
              f"{t_checks - setup_end:.1f} s, checks {time.time() - t_checks:.1f} s",
              file=sys.stderr)
        for msg in failures["messages"]:
            print(f"check failed: {msg}", file=sys.stderr)
        failed = res["failed"] + failures["failed_ops"]
        metrics = dict(res["metrics"])
        metrics["setup_s"] = setup_end - T0 - build_s
        if a.trace:
            picked = {n: float(res["layers"].get(n, 0.0) or 0.0) for n in layers}
            unknown = set(res["layers"]) - set(layers)
            if unknown:
                fail(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        else:
            picked = {n: metrics[n] for n in e2e if n in metrics}
            missing = [n for n in e2e if n not in metrics]
            if missing:
                fail(f"end-to-end metrics not measured: {missing}")
        out = {"correct": not failures["messages"],
               "attempted": int(res["attempted"]), "failed": int(failed),
               "metrics": {n: {"value": v, "unit": units[n]} for n, v in picked.items()}}
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload jpeg_landmarks --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (the root build plus perfbench/build.sbt);
later runs reuse the build while no source file has changed. Inputs are
generated per workload, seed and generator version, and cached. Everything
the benchmark writes goes under .bench_build/.

engine_queries results are compared with DuckDB running each query's
oracle SQL once the JVM has exited; a mismatch counts as a failed operation.

Exit status: 0 with a result line; non-zero, with no result line, when the
program cannot be built or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import engine

# workload -> generator version: bump it when a generator's output changes,
# so inputs cached under an older version are never reused
WORKLOADS = {"jpeg_landmarks": 1, "engine_queries": 1}
WORK = ".bench_build"
BUILD_TIMEOUT = 850
RUN_LIMIT = 175  # a run must end within 180 s
# A fixed, pre-touched heap: the JVM's adaptive heap sizing otherwise moves
# resident memory by a third between identical runs. The heap is then
# resident in full, so the memory metric counts what the program keeps live
# in it, plus resident memory outside it (see Bench.offHeapPeakMb).
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's
# forked-run options, org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: root build, program sources, benchmark."""
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for root in roots:
        if os.path.isfile(root):
            yield root
            continue
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = sorted(d for d in dirnames if d != "target" and not (
                d == "project" and os.path.basename(dirpath) == "project"))
            for f in sorted(filenames):
                yield os.path.join(dirpath, f)


def fingerprint():
    h = hashlib.sha256()
    for path in source_files():
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Builds when sources changed since the last build; returns the classpath."""
    stamp = os.path.join(WORK, "build.json")
    fp = fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built.get("fingerprint") == fp and all(
                os.path.exists(p) for p in built["classpath"].split(os.pathsep)):
            return built["classpath"]
    log = os.path.join(WORK, "logs", "build.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd="perfbench", env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
                text=True, timeout=BUILD_TIMEOUT)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        out.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed; see {log}")
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def java(cp, heap, args, timeout, stdout):
    work = os.path.abspath(WORK)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write its counters to /tmp
    cmd = ["java", *heap, "-XX:-UsePerfData", "-Djava.awt.headless=true",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Bench", "--work", work] + args
    log = os.path.join(WORK, "logs", f"{args[1]}-{args[3]}.log")
    with open(log, "a") as err:
        proc = subprocess.Popen(cmd, stdout=stdout, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{' '.join(args[:4])} timed out; see {log}")
    if proc.returncode != 0:
        fail(f"{' '.join(args[:4])} exited {proc.returncode}; see {log}")
    return out


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the root of a source checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)

    cp = classpath()
    # the program writes its own fixtures under the JVM's temp dir; every
    # run starts without them, so that every cold start pays for them
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    inputs = os.path.join(WORK, "inputs", f"{a.workload}-v{WORKLOADS[a.workload]}-s{a.seed}")
    base = ["--workload", a.workload, "--seed", str(a.seed), "--inputs", inputs]
    built = time.monotonic()
    if a.workload == "engine_queries":
        generate_engine(inputs, a.seed)
    else:
        java(cp, ["-Xmx1g"], base + ["--phase", "gen"], RUN_LIMIT, None)
    left = RUN_LIMIT - (time.monotonic() - built)
    out = java(cp, HEAP, base + ["--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--phase", "run"], left, subprocess.PIPE)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("run printed no result line")
    if a.workload == "engine_queries":
        results = os.path.join(WORK, "out", a.workload, "results")
        with open(os.path.join(results, "oracle.json")) as f:
            checked = len(json.load(f))
        bad = engine.check(inputs, results)
        for msg in bad:
            print(f"perfbench: CHECK FAILED oracle {msg}", file=sys.stderr)
        result["attempted"] += checked
        result["failed"] += len(bad)
        result["correct"] = result["correct"] and not bad
    for line in lines[:-1]:
        print(line)
    print(f"perfbench: wall {time.monotonic() - start:.1f}s", file=sys.stderr)
    print(json.dumps(result))


def generate_engine(inputs, seed):
    if os.path.isfile(os.path.join(inputs, "DONE")):
        return
    tmp = inputs + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    engine.generate(tmp, seed)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(inputs, ignore_errors=True)
    os.rename(tmp, inputs)


if __name__ == "__main__":
    main()

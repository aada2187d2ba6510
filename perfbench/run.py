#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload orm_read --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark program from source on first use (sbt,
offline), then launches the program's JVM directly. Everything it writes stays under
the checkout: build output in `$CARGO_TARGET_DIR` (default `.bench_build`),
per-run scratch in a directory there that is removed afterwards, and
trace spans in `<build>/traces/`. The last line of standard output is the
result object; every line before it is a `#`-prefixed report.

Extra flags: `--tiny 1` runs at self-test size, `--ops N` runs exactly N
ops per phase instead of `--seconds` (for exact-repeat counter checks).
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
WORKLOADS = ("orm_read", "table_stream")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def sources():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files.extend(os.path.join(dirpath, n) for n in names)
    return sorted(files)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def ensure_built(build):
    """(Re)build when any source changed; return (classpath, jvm options)."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources not found next to the benchmark (build.sbt, src/main/scala)")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    launch = os.path.join(build, "launch.txt")
    stamp_file = os.path.join(build, "launch.stamp")
    if not (os.path.isfile(launch) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        os.makedirs(build, exist_ok=True)
        # keep the build JVM's temporary files inside the checkout too
        tmp = os.path.join(build, "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"),
                   SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}",
                   JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
        t0 = time.time()
        with open(os.path.join(build, "build.log"), "w") as log:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "-Dsbt.server.forcestart=false", f"writeLaunch {launch}"],
                               cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                               timeout=BUILD_TIMEOUT_S)
        if p.returncode != 0 or not os.path.isfile(launch):
            fail(f"build failed, see {os.path.join(build, 'build.log')}")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        print(f"# built in {time.time() - t0:.1f} s", file=sys.stderr)
    cp, opts, section = [], [], None
    for line in open(launch).read().splitlines():
        if line in ("#cp", "#opts"):
            section = line
        elif section == "#cp":
            cp.append(line)
        elif section == "#opts":
            opts.append(line)
    return cp, opts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ops", type=int)
    a = ap.parse_args()

    build = build_dir()
    cp, opts = ensure_built(build)
    cores = min(4, len(os.sched_getaffinity(0)))
    work = os.path.join(build, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData"] + opts +
           ["-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--tiny", str(a.tiny), "--cores", str(cores),
            "--work", work, "--trace-dir", os.path.join(build, "traces")] +
           (["--ops", str(a.ops)] if a.ops else []))
    env = dict(os.environ, SPARK_GRAFT_HMS="1", SPARK_GRAFT_HMS_DIR=os.path.join(work, "hms"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(build, f"last-{a.workload}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                 stderr=log, text=True, start_new_session=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"{a.workload} did not finish in {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if p.returncode != 0 or not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"{a.workload} exited with {p.returncode} without a result, see {log_path}")
    missing = [k for k, v in result["metrics"].items() if v.get("value") is None]
    if missing:
        sys.stderr.write("\n".join(lines) + "\n")
        fail(f"{a.workload} measured nothing for {', '.join(missing)}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()

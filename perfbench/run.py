#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from the
checkout's sources together with the benchmark (sbt, offline) and keeps
the classpath under perfbench/target; later runs reuse it while the
sources are unchanged. Each run works in its own directory under
perfbench/work, removed at exit. A traced run also times a host-speed
probe in a JVM of its own before and after the benchmark JVM. The last
line of stdout is the JSON result; the exit code is non-zero when the
build fails, a run fails or an output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench.classpath")
WORKLOADS = ("batch", "ingest_refresh", "etl_batch", "calibration", "serve_lookups")
# a run must end within 180 s, and a first run (build + run) within 900 s
RUN_TIMEOUT_S = 150
PROBE_TIMEOUT_S = 10
BUILD_TIMEOUT_S = 700
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """Digest of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, env=None, stderr=None):
    """Runs cmd in its own process group and returns (stdout, exit code);
    on timeout the whole group is killed and the code is None."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=stderr,
                            text=True, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return out, proc.returncode
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def build():
    """Compile the engine plus benchmark; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources at src/main/scala; run from a checkout root")
    fp = source_fingerprint()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building engine + benchmark (sbt)")
    out, code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], HERE, BUILD_TIMEOUT_S, env=env,
                          stderr=subprocess.STDOUT)
    lines = (out or "").strip().splitlines()
    if code != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write((out or "")[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(fp + "\n" + cp + "\n")
    return cp


def java(cp, main, args, cwd, timeout, tmp):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, main] + args)
    return run_group(cmd, cwd, timeout)


def probe(cp, cwd, tmp):
    out, code = run_group(["java", "-Xmx64m", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                           "perfbench.Probe"], cwd, PROBE_TIMEOUT_S)
    if code != 0:
        raise SystemExit("perfbench: host probe failed")
    return float(out.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        probe0 = probe(cp, work, tmp) if a.trace else None
        out, code = java(cp, "perfbench.Main",
                         ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                          "--trace", str(a.trace), "--work", work], work, RUN_TIMEOUT_S, tmp)
        probe1 = probe(cp, work, tmp) if a.trace and code is not None else None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        raise SystemExit("perfbench: run timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for l in lines[:-1] if result is not None else lines:
        print(l, file=sys.stderr)
    if result is None:
        raise SystemExit(f"perfbench: run failed (exit {code}) without a result")
    if a.trace:
        result["metrics"]["host.probe_s"] = {"value": (probe0 * probe1) ** 0.5, "unit": "s"}
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result.get("correct") else 1)


if __name__ == "__main__":
    main()

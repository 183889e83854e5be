#!/usr/bin/env python3
"""Build graft and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload curate|kb_serve|table_churn|all \
        --seed N --seconds S --trace 0|1 [--cycles N] [--trace-out FILE]

Run from the repository root. The first run builds with sbt (offline)
into the build directory (`$CARGO_TARGET_DIR`, else `.bench_build`);
later runs reuse that build while the sources are unchanged. The last
line of standard output is the JSON result. The exit code is 0 only
when every correctness check passed. `--workload all` runs every workload
in turn, each printing its own result line, and fails if any one fails.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("curate", "kb_serve", "table_churn")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 800
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_digest():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for base, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d != "target")
            inputs += [os.path.join(base, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(bdir):
    """Return the runtime classpath, building first when the sources changed."""
    os.makedirs(bdir, exist_ok=True)
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "classpath.stamp")
    with open(os.path.join(bdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
            with open(stamp_file) as f:
                if f.read().strip() == digest:
                    with open(cp_file) as g:
                        return g.read().strip(), False
        log_path = os.path.join(bdir, "build.log")
        with open(log_path, "w") as log:
            try:
                proc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export perfbench/Runtime/fullClasspath"],
                    cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=log,
                    text=True, timeout=BUILD_LIMIT_S, start_new_session=True)
            except subprocess.TimeoutExpired:
                fail(f"build timed out after {BUILD_LIMIT_S} s; see {log_path}")
            log.write(proc.stdout)
        lines = [l for l in proc.stdout.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines or lines[-1].startswith("["):
            fail(f"build failed (exit {proc.returncode}); see {log_path}")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(digest)
        return cp, True


def run_one(a, workload, cp, bdir, limit):
    """Run one workload in a fresh JVM; returns its exit code."""
    work = os.path.join(bdir, "work", f"{workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    if a.cycles:
        cmd += ["--cycles", str(a.cycles)]
    if a.trace == "1":
        cmd += ["--trace-out", a.trace_out or
                os.path.join(bdir, "traces", f"{workload}-{a.seed}.json")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    # a terminated run.py must not leave its JVM behind: exit through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    try:
        stdout, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        fail(f"{workload} exceeded {limit:.0f} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    for line in stdout.splitlines():
        print(line, flush=True)
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--cycles", type=int, help="run exactly N cycles (count-repeat runs)")
    ap.add_argument("--trace-out", help="where the traced run writes its spans")
    a = ap.parse_args()

    started = time.monotonic()
    for p in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"graft sources not found ({p} is missing under {ROOT})")
    bdir = build_dir()
    cp, built = build(bdir)
    if a.workload == "all":
        codes = [run_one(a, w, cp, bdir, RUN_LIMIT_S) for w in WORKLOADS]
        sys.exit(max(codes))
    # a run that had to build may take longer; any other stays under the limit
    limit = RUN_LIMIT_S if built else RUN_LIMIT_S - (time.monotonic() - started)
    sys.exit(run_one(a, a.workload, cp, bdir, limit))


if __name__ == "__main__":
    main()

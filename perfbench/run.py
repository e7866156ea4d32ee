#!/usr/bin/env python3
"""Build the program from source and run one benchmark workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload search|catalog \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --record-catalog

The first run in a checkout compiles the repository's main sources with
the benchmark's own (an sbt project in this directory, offline, against
the Spark jars under $SPARK_HOME/jars) into .bench_build/; later runs
reuse that build while the sources are unchanged. The run prints a
summary line and, as its last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`. Its full record (environment, spans,
per-workload figures) is written under .bench_build/results/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout or on a signal to
    this process, kill the whole group and wait for it before returning."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL,
                            text=True, **kw)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def on_signal(signum, _):
        stop()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        stop()
        return None, None
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def source_files(root):
    """Every file the build reads, in a stable order."""
    dirs = [os.path.join(root, "src", "main"),
            os.path.join(root, "perfbench", "src")]
    files = [os.path.join(root, "perfbench", "build.sbt"),
             os.path.join(root, "perfbench", "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def fingerprint(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile with sbt unless the recorded build matches the sources."""
    fp = fingerprint(root)
    stamp = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh:
                    return fh.read().strip(), fp
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(out, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        rc, stdout = run_child(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"), env=env,
            stdout=subprocess.PIPE, stderr=fh)
        if rc is None:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}", 1)
        fh.write(stdout)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(fp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp, fp


def commit_of(root, fp):
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10)
        rev = head.stdout.strip() if head.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        rev = "unknown"
    return f"{rev} sources:{fp[:16]}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["search", "catalog"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-catalog", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.self_test or a.record_catalog):
        ap.error("one of --workload, --self-test or --record-catalog is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no program sources under src/main/scala/graft; run from the repository root")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp, fp = build(root, out)

    work = os.path.join(out, "work", f"{os.getpid()}-{int(time.time() * 1000)}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--root", root, "--work", work]
    if a.self_test:
        cmd += ["--self-test"]
    elif a.record_catalog:
        cmd += ["--record-catalog"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--results", os.path.join(out, "results"),
                "--commit", commit_of(root, fp)]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        rc, stdout = run_child(cmd, RUN_TIMEOUT_S, cwd=root, env=env, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"run timed out after {RUN_TIMEOUT_S} s", 1)
    if rc != 0:
        sys.stdout.write("\n".join(l for l in stdout.splitlines() if not l.startswith("{")) + "\n")
        fail(f"benchmark exited with {rc}", 1)
    sys.stdout.write(stdout)
    sys.stdout.flush()


if __name__ == "__main__":
    main()

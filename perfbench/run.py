#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call compiles the program and the
benchmark with sbt (offline), copies the compiled classes into the build
directory ($CARGO_TARGET_DIR, default .bench_build) and records the runtime
classpath over those copies; later calls reuse them while the sources are
unchanged. sbt's own target directories are shared with any other build in
the checkout, so a run never reads classes from them. Each run then starts one JVM, which
prints info lines and, as its last line, the result as one JSON object.
The exit code is the JVM's: 0 when every output check passed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["etl_incremental", "jx_read", "store_rw", "ops_curate"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the program's own build passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so an edited source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(d, "build.sbt") for d in (root, HERE)]
    inputs += [os.path.join(d, "project", "build.properties") for d in (root, HERE)]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    if os.path.isfile(stamp_file):
        os.remove(stamp_file)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    # the class directories sbt compiled into live in the checkout's
    # target/ trees; copy them so the recorded classpath holds exactly
    # what this stamp's sources compiled to
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    entries = []
    for k, e in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(e) and os.path.commonpath([os.path.realpath(root), os.path.realpath(e)]) == os.path.realpath(root):
            dst = os.path.join(classes, str(k))
            shutil.copytree(e, dst)
            e = dst
        entries.append(e)
    classpath = os.pathsep.join(entries)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    # a terminated run unwinds like an error, so the build or the JVM it
    # started is killed and waited for (subprocess.run does this on any
    # exception; the JVM by the finally below)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the program (no build.sbt or src/main/scala/graft here)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(root, build_dir)

    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work-dir", work]
    proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()

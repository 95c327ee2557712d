#!/usr/bin/env python3
"""Run one picovdb benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (into perfbench/target); later runs reuse
that build while the sources are unchanged. The last line of standard
output is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORK = os.path.join(TARGET, "work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170
SELFTEST_TIMEOUT_S = 900
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, f) for f in ("build.sbt", ".jvmopts",
                                              os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources."""
    if not os.path.isdir(PROGRAM_SRC):
        log("no program sources at src/main: run from the root of a checkout")
        sys.exit(2)
    fp = fingerprint()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                return
    log("building (first run of these sources)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
                       + " -XX:-UsePerfData -Djava.io.tmpdir=" + tmp)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"]
    rc = run_child(cmd, HERE, env, BUILD_TIMEOUT_S, sys.stderr)[0]
    if rc != 0:
        log("build failed (exit %d)" % rc)
        sys.exit(3)
    with open(STAMP, "w") as fh:
        fh.write(fp)


def run_child(cmd, cwd, env, timeout, out):
    """Run cmd in its own process group; kill the whole group on timeout.
    Returns (exit code, captured stdout or None)."""
    capture = out is None
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else out,
                         stderr=sys.stderr, text=True)
    try:
        stdout, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log("timed out after %d s" % timeout)
        return 124, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, stdout


def java(main, args, timeout=RUN_TIMEOUT_S):
    with open(CLASSPATH) as fh:
        cp = ":".join(l.strip() for l in fh if l.strip())
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "--add-modules=jdk.incubator.vector", "-Dspark.ui.enabled=false"]
           + opens + ["-cp", cp, main] + args + ["--work", WORK])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark")
    return run_child(cmd, ROOT, env, timeout, None)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true",
                    help="tiny run of each workload plus planted-fault checks")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    build()
    if a.selftest:
        rc, out = java("perfbench.SelfTest", [], SELFTEST_TIMEOUT_S)
    else:
        rc, out = java("perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                          "--seconds", str(a.seconds), "--trace", a.trace])
    lines = (out or "").splitlines()
    result = [l for l in lines if l.startswith("{")]
    for l in lines:
        if not l.startswith("{"):
            print(l)
    if rc != 0 or (not a.selftest and not result):
        log("run failed (exit %d)" % rc)
        sys.exit(rc or 1)
    if result:
        print(result[-1])
    sys.stdout.flush()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Builds the library and the benchmark from source, then runs one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --self-test

The Scala sources under src/main/scala and perfbench/src are compiled with
the Scala compiler that ships in Spark's jars directory ($SPARK_HOME/jars,
default /opt/spark/jars) into $CARGO_TARGET_DIR (default .bench_build); the
build is skipped when no source changed. Corpora, Spark scratch space and
logs go under the same directory. The last line of standard output is the
run's JSON result; any failure exits non-zero without printing one.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    out = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def run_child(cmd, log_path, timeout, env=None):
    """Runs cmd with stderr to log_path; returns (exit code, stdout lines)."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True, env=env)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, []
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode, out.splitlines()


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build(build_dir, jars):
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(build_dir, "classes.stamp")
    classes = os.path.join(build_dir, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    tmp = classes + ".tmp"
    subprocess.run(["rm", "-rf", tmp, classes, stamp], check=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + srcs
    log = os.path.join(build_dir, "build.log")
    code, _ = run_child(cmd, log, BUILD_TIMEOUT_S)
    if code != 0:
        fail(f"build failed (exit {code}); last lines of {log}:\n{tail(log)}")
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no library sources under {ROOT}/src/main/scala; run from a checkout of the repository")
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        fail(f"Spark jars not found at {jars}; set SPARK_HOME")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    work = os.path.join(build_dir, "work")
    tmp = os.path.join(build_dir, "tmp")
    for d in (work, tmp):
        os.makedirs(d, exist_ok=True)
    classes = build(build_dir, jars)

    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(jars, "*")])
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    jvm = ["java", "-XX:-UsePerfData", "-Xmx4g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if a.self_test:
        code, out = run_child(jvm + ["-cp", cp, "perfbench.SelfTest", BENCH],
                              os.path.join(build_dir, "selftest.log"), RUN_TIMEOUT_S)
        print("\n".join(out))
        sys.exit(0 if code == 0 else 1)

    log = os.path.join(build_dir, f"run-{a.workload}.log")
    # streaming replays checkpoint here instead of /dev/shm
    env = dict(os.environ, SPARK_GRAFT_CKPT_DIR=tmp)
    code, out = run_child(jvm + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                                 "--seed", str(a.seed), "--seconds", str(a.seconds),
                                 "--trace", a.trace, "--work", work, "--bench", BENCH],
                          log, RUN_TIMEOUT_S, env)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s; last lines of {log}:\n{tail(log)}")
    if code != 0 or not out:
        fail(f"run failed (exit {code}); last lines of {log}:\n{tail(log)}")
    try:
        result = json.loads(out[-1])
    except ValueError:
        fail(f"last output line is not JSON: {out[-1]!r}")
    sys.stderr.write(tail(log, 12))
    for line in out[:-1]:
        print(line, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

"""One command for the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It compiles the program (src/main/scala)
together with the harness (perfbench/src) into the build directory, makes
the workload's inputs from the seed, runs the workload in one JVM and
prints, as its last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`. With --trace 1 it also writes the
trace to <build dir>/traces/<workload>-seed<n>.json.

    python3 perfbench/run.py --selftest     the harness's own tests
    python3 perfbench/run.py --record       re-record expected.json

Everything it writes goes under the build directory (CARGO_TARGET_DIR if
set, else .bench_build), and it removes the per-run scratch directory and
stops every process it started before it exits.
"""

import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    fail("cannot find Spark's jars (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail("run from the repository root: src/main/scala is missing")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build(build_dir, jars):
    """Compiles program and harness once per source state; returns the class dir."""
    files = sources()
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = tempfile.mkdtemp(prefix="classes-", dir=build_dir)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    rc = run_child(cmd, BUILD_TIMEOUT_S, stdout=sys.stderr)
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compilation failed (exit {rc})")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


_child = None


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or signal."""
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return _child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {cmd[0]} exceeded {timeout} s", file=sys.stderr)
        return -1
    finally:
        stop_child()


def stop_child():
    global _child
    if _child is None:
        return
    if _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _child.wait()
    _child = None


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def jvm(classes, jars, work, main_args, out_path, heap="3g"):
    cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*")] + main_args
    with open(out_path, "w") as out:
        return run_child(cmd, RUN_TIMEOUT_S, stdout=out, cwd=work)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir, jars)
    plan = os.path.join(HERE, "plan.json")
    expected = os.path.join(HERE, "expected.json")
    work = tempfile.mkdtemp(prefix="run-", dir=build_dir)
    try:
        stdout = os.path.join(work, "stdout.txt")
        if a.selftest:
            rc = jvm(classes, jars, work, ["perfbench.SelfTest"], stdout, heap="1g")
            with open(stdout) as f:
                sys.stdout.write(f.read())
            sys.exit(rc)
        corpus = os.path.join(work, "corpus")
        if a.record or a.workload == "batch":
            sys.path.insert(0, HERE)
            sys.dont_write_bytecode = True
            import gen_corpus
            gen_corpus.write(corpus, a.seed)
        if a.record:
            rc = jvm(classes, jars, work, ["perfbench.Main", "--workload", "record",
                     "--plan", plan, "--corpus", corpus, "--expected", expected], stdout)
            sys.exit(rc)
        if not a.workload:
            fail("--workload is required")
        args = ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                "--plan", plan, "--corpus", corpus, "--expected", expected]
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            args += ["--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
        rc = jvm(classes, jars, work, args, stdout)
        with open(stdout) as f:
            lines = [l[len("PERFBENCH_RESULT "):] for l in f.read().splitlines()
                     if l.startswith("PERFBENCH_RESULT ")]
        if rc != 0 or not lines:
            fail(f"workload {a.workload} did not complete (exit {rc})")
        print(lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

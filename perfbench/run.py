#!/usr/bin/env python3
"""graft's benchmark: build the harness from source, run one workload.

    python3 perfbench/run.py --workload ingest|mix \
        --seed N --seconds S --trace 0|1 [--smoke] [--corrupt]

Run from the repository root. The first run builds graft's sources and
the harness under perfbench/src with the Scala compiler that ships in
Spark's jars directory; later runs reuse the build while no source
changed. The harness runs in one JVM with local[nproc]; its last stdout
line is the JSON result. State, traces and the build stamp live under
$CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every input of the build, in a stable order."""
    files = []
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(dirs)
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp_of(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The Spark distribution's jars directory, which also holds the
    Scala compiler. Taken from SPARK_HOME, else from spark-submit on
    PATH, else from the unmanagedBase of graft's own build.sbt."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    build_sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(build_sbt):
        with open(build_sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and \
                glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return os.path.abspath(c)
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def build(out_dir, java, jars):
    """Compile graft's src/main and the harness with scalac; return the
    runtime classpath. The build is skipped while no input changed."""
    stamp_file = os.path.join(out_dir, "build.stamp")
    classes = os.path.join(out_dir, "classes")
    sources = source_files()
    stamp = stamp_of(sources, jars)
    runtime_cp = os.pathsep.join(
        [classes, os.path.join(ROOT, "src", "main", "resources"),
         os.path.join(jars, "*")])
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return runtime_cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args_file = os.path.join(out_dir, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(["-d", classes, "-classpath", os.path.join(jars, "*"),
                            "-nowarn", "-encoding", "UTF-8"] +
                           [f for f in sources if f.endswith(".scala")]) + "\n")
    compiler_cp = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar"))[0]
        for n in ("compiler", "library", "reflect"))
    t0 = time.time()
    proc = subprocess.run(
        [java, "-Xss8m", "-Xmx1536m", f"-Djava.io.tmpdir={tmp}", "-cp", compiler_cp,
         "scala.tools.nsc.Main", f"@{args_file}"],
        cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return runtime_cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 and a brief ingest run, no warm-up")
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one output before it is checked (tests only)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala")
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.environ.get("JAVA_HOME") or not os.path.exists(java):
        java = shutil.which("java")
    if not java or not os.path.exists(java):
        fail("java not found")

    out_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                           "perfbench")
    os.makedirs(out_dir, exist_ok=True)
    classpath = build(out_dir, java, spark_jars())

    work = os.path.join(out_dir, "work")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    data = os.path.join(HERE, "data", "sf0.001" if a.smoke else "sf0.01")
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", data, "--work", work,
            "--expected", os.path.join(HERE, "expected_digests.json")]
    if a.smoke:
        cmd.append("--smoke")
    if a.corrupt:
        cmd.append("--corrupt")

    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 3)
    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with {proc.returncode}", 4)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("harness printed no result", 4)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""KG-construction benchmark: build, then run one workload in one JVM.

    python3 kgbench/run.py --workload kg_lazy --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout of the repository. The first run builds
the benchmark together with the program's sources (sbt, in kgbench/) and
records a class-data sharing archive from a short training run; later runs
reuse both while the sources are unchanged. Everything the benchmark writes
stays under kgbench/target. The last line of stdout is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "kgbench.stamp")
ARCHIVE = os.path.join(TARGET, "kgbench.jsa")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")

BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars directory of the installed Spark distribution."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def digest():
    """Hash of every input of the build: the benchmark's and the program's."""
    h = hashlib.sha256()
    roots = [os.path.join(BENCH, "src"), os.path.join(BENCH, "project"),
             PROGRAM_SOURCES]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def child_env(work):
    """The environment of the JVM: no SPARK_GRAFT_* knobs, so the program runs
    with its defaults, and Spark's scratch space inside the work directory."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def java_cmd(jars, jar, work, extra):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # JVM warnings (class-data sharing among them) go to stderr, never stdout
    return (["java", HEAP, "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + opens + extra
            + ["-cp", f"{jar}{os.pathsep}{os.path.join(jars, '*')}", "kgbench.Main"])


def fresh(work):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))


def build(jars):
    """Compile and package the benchmark with the program; returns the jar."""
    want = digest()
    jar_dir = os.path.join(TARGET, "scala-2.13")
    jar = os.path.join(jar_dir, "kgbench_2.13-0.1.0.jar")
    if os.path.exists(STAMP) and os.path.exists(jar):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return jar
    for stale in (STAMP, ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", f"-Dkgbench.sparkJars={jars}", "package"],
                       cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(jar):
        fail("build failed")
    # training run: record the classes a run loads into a class-data sharing
    # archive, so every measured JVM starts from it
    work = os.path.join(TARGET, "train")
    fresh(work)
    cmd = java_cmd(jars, jar, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    r = subprocess.run(cmd + ["--train", work], env=child_env(work),
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        fail("training run failed")
    with open(STAMP, "w") as fh:
        fh.write(want)
    print(f"kgbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return jar


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SOURCES, "graft")):
        fail("the program's sources (src/main/scala/graft) are not here")
    jars = spark_jars()
    jar = build(jars)

    work = os.path.join(TARGET, "work")
    fresh(work)
    extra = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = java_cmd(jars, jar, work, extra) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work]
    p = subprocess.Popen(cmd, env=child_env(work), stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if p.returncode == 0 and not out.rstrip("\n").split("\n")[-1].startswith("{"):
        fail("the run printed no result")
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()

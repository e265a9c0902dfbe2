#!/usr/bin/env python3
"""Workload benchmark for graft: builds the engine plus the benchmark
driver from source (once per source state), then runs one workload in a
fresh JVM.

    python3 perfbench/run.py --workload <lakehouse|curation|all>
        --seed <n> --seconds <n> --trace <0|1>

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones (see
BENCHMARK.json). `--workload all` runs lakehouse and curation in turn and
prints each one's result. Exit code 0 only when every output check passed.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "bench.stamp")
CLASSES = os.path.join(BUILD_DIR, "scala-2.13", "classes")
WORKLOADS = ["lakehouse", "curation"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_hash():
    """Digest of everything the build compiles."""
    files = [os.path.abspath(__file__), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        files += [p for p in glob.glob(os.path.join(base, "**", "*"),
                                       recursive=True) if os.path.isfile(p)]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(env):
    digest = source_hash()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    env = dict(env)
    env.setdefault("COURSIER_MODE", "offline")
    print("perfbench: building engine and benchmark", file=sys.stderr)
    proc = subprocess.run([sbt, "-batch", "-Dsbt.server.forcestart=false",
                           "compile", "Compile/copyResources"], cwd=HERE, env=env,
                          stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)


def run_one(workload, args, env, home):
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC"] +
           [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"),
            "graft.perfbench.Main",
            "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work])
    child_env = dict(env)
    child_env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.Popen(cmd, cwd=work, env=child_env,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {workload} exceeded {RUN_TIMEOUT_S}s",
              file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a "
             "full checkout of the repository")
    env = dict(os.environ)
    home = spark_home()
    env["SPARK_HOME"] = home
    build(env)
    sys.stdout.flush()
    codes = [run_one(w, args, env, home)
             for w in (WORKLOADS if args.workload == "all" else [args.workload])]
    sys.exit(max(codes))


if __name__ == "__main__":
    main()

"""Benchmark of the graft engine: runs one workload and prints its result.

Usage (from the root of a source checkout):

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: voice_train, queries, store_ingest (see
perfbench/README.md). The first run compiles the engine's sources and
the harness into .bench_build/perfbench and generates the input tables
there; later runs reuse both while the sources are unchanged.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. The program's own output goes
to .bench_build/perfbench/last-<workload>.log.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

SCALA_VERSION = "2.13.17"
DATA_SF = 0.1
DATA_SEED = 42
RUN_LIMIT_S = 170
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
WORKLOADS = ("voice_train", "queries", "store_ingest")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars_dir():
    """Where the engine's build takes its Spark jars from: the
    `unmanagedBase` that build.sbt names."""
    try:
        sbt = open(os.path.join(ROOT, "build.sbt")).read()
    except OSError:
        fail(f"no build.sbt under {ROOT}; run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        fail("build.sbt names no unmanagedBase for the Spark jars")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail(f"no engine sources under {ROOT}/src/main/scala; run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not jars:
        fail(f"no Spark jars in {spark_jars_dir()}")
    return jars


def build():
    """Compile engine + harness with scalac, once per source state."""
    srcs = sources()
    jars = spark_classpath()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    compiler = [os.path.join(spark_jars_dir(), f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", ":".join(jars), "@" + args_file]
    print("perfbench: compiling", len(srcs), "sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def data():
    out = os.path.join(BUILD, f"data-sf{DATA_SF}-seed{DATA_SEED}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        sys.path.insert(0, HERE)
        import gen_data
        gen_data.generate(out, DATA_SF, DATA_SEED)
        open(os.path.join(out, "_done"), "w").close()
    return out


def launch(workload, seed, seconds, trace, classes, data_dir, calibrate=None):
    """Run the harness in its own JVM; returns its result object."""
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cpus = str(len(os.sched_getaffinity(0)))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] +
           ["-Xmx3g", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", ":".join([classes] + spark_classpath()),
            "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--data", data_dir, "--work", work, "--out", out, "--cpus", cpus,
            "--pins", os.path.join(HERE, "pins.tsv")])
    if calibrate:
        cmd += ["--calibrate", os.path.abspath(calibrate)]
    env = dict(os.environ, SPARK_GRAFT_IMMUTABLE_DIRS=data_dir)
    log_path = os.path.join(BUILD, f"last-{workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s; see {log_path}")
    if proc.returncode != 0 or not os.path.exists(out):
        fail(f"run failed with code {proc.returncode}; see {log_path}")
    with open(out) as fh:
        result = json.loads(fh.read())
    shutil.rmtree(work, ignore_errors=True)
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--calibrate", help="write the query digests of this run to a file")
    a = ap.parse_args()
    t0 = time.time()
    classes = build()
    data_dir = data()
    print(f"perfbench: build and data ready in {time.time() - t0:.1f} s", file=sys.stderr)
    result = launch(a.workload, a.seed, a.seconds, a.trace, classes, data_dir, a.calibrate)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

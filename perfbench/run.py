#!/usr/bin/env python3
"""Store benchmark of corintickspark. See perfbench/BENCH.md.

    python3 perfbench/run.py --workload series_mutate --seed 1 --seconds 5 --trace 0

Builds the program and the harness from source into .bench_build/ (once
per source change), prepares the analytics fixtures, runs one workload in
a fresh JVM, and prints two JSON lines: every metric by name with unit and
sample count, then the result line (`correct`, `attempted`, `failed`,
`metrics`) with the metrics BENCHMARK.json lists for the trace mode.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ["series_read", "series_mutate", "analytics_mix"]


def spark_home():
    """SPARK_HOME, else the Spark that the pyspark package bundles."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    try:
        import pyspark
    except ImportError:
        sys.exit("Spark not found: set SPARK_HOME")
    return os.path.dirname(pyspark.__file__)


SPARK_JARS = os.path.join(spark_home(), "jars")

# The JVM flags of build.sbt's javaOptions: the JDK 17 module opens Spark
# needs outside spark-submit, UTC, and the UI off.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "-Xmx3g"


def jvm_flags():
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return flags + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                    HEAP, f"-Djava.io.tmpdir={tmp}"]


def sources():
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness with the Scala compiler that
    ships with Spark; skipped when no source changed."""
    srcs = sources()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    stamp = digest(srcs)
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    resources = os.path.join(PROGRAM_SRC, "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(SPARK_JARS, "*"), "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")])


def fixtures(classes, stamp):
    """Fixed analytics tables and their oracle results, once per build."""
    sys.path.insert(0, HERE)
    import fixtures as fx
    import oracle
    out = os.path.join(BUILD, "fixtures", "sf0.1")
    stamp_file = os.path.join(out, "expected.stamp")
    want = stamp + digest([os.path.join(HERE, "fixtures.py"), os.path.join(HERE, "oracle.py")])
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return out
    shutil.rmtree(out, ignore_errors=True)
    tables = fx.build(out)
    sql_file = os.path.join(out, "oracle_sql.json")
    subprocess.run(["java"] + jvm_flags() + ["-cp", classpath(classes), "graftbench.Main",
                    "--oracle-sql", sql_file], check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    oracle.record(out, sql_file, os.path.join(out, "expected.json"), tables)
    with open(stamp_file, "w") as f:
        f.write(want)
    return out


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        sys.exit(f"program sources not found under {PROGRAM_SRC}; run from a full checkout")
    classes, stamp = build()
    fx_dir = fixtures(classes, stamp) if args.workload == "analytics_mix" else ""
    out = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    cmd = ["java"] + jvm_flags() + ["-cp", classpath(classes), "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out, "--work", work, "--fixtures", fx_dir or work]
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "jvm.log")
    # a run without a build must end within 180 s; the JVM gets 170 of them
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=170).returncode
        except subprocess.TimeoutExpired:
            sys.exit(f"workload run exceeded its time budget; see {log}")
    shutil.rmtree(work, ignore_errors=True)
    result_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit(f"workload run failed (exit {rc}); see {log}")
    with open(result_file) as f:
        res = json.load(f)
    detail = {k: v for k, v in res.items() if k != "ops"}
    print(json.dumps(detail))
    names = [m["name"] for m in contract()["end_to_end" if args.trace == 0 else "per_layer"]]
    source = res["metrics"] if args.trace == 0 else res["per_layer"]
    missing = [n for n in names if n not in source]
    if missing:
        sys.exit(f"metrics missing from the run: {missing}")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": source[n]["value"], "unit": source[n]["unit"]} for n in names},
    }))


if __name__ == "__main__":
    main()

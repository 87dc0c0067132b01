#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sqlite_session --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with the Scala compiler that ships in Spark's jars
directory, and generates the input tables; both are cached under
`.bench_build/` by a digest of their inputs. Then one JVM runs the workload on
`local[4]` and writes a raw run record; this script turns it into metrics
(see metrics.py) and prints, as the last line of standard output, one JSON
object with `correct`, `attempted`, `failed` and `metrics`. The JVM has
exited, and its output gone to a log file, before that line is printed.

`--trace 0` reports the end-to-end metrics; `--trace 1` makes a traced run
and reports the per-layer metrics. See README.md in this directory.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import fixtures  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("sqlite_session", "batch_queries", "store_ingest")
# session and batch inputs are small: an uncached call over SQLite rows held on
# the driver costs seconds at sf0.1
SESSION_SF, STORE_SF = 0.01, 0.1
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """Spark's jars directory: under $SPARK_HOME, else beside a spark-submit
    on the PATH; the first that holds a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    die("no Spark jars directory with a Scala compiler; set SPARK_HOME")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        die(f"no program sources at {main}: run from the repository root")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return files


def build(root, files, build_dir, jars):
    """Compiled classes for `files`, compiling on first use."""
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir, f"classes-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    log = os.path.join(build_dir, "build.log")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as fh:
        rc = subprocess.call(["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
                              "-cp", jars, "scala.tools.nsc.Main",
                              "-nowarn", "-d", out, "-classpath", jars, "@" + argfile],
                             stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        die(f"build failed, see {log}")
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def run_jvm(args, root, build_dir, classes, jars):
    data = fixtures.ensure(os.path.join(build_dir, "data"),
                           STORE_SF if args.workload == "store_ingest" else SESSION_SF)
    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    resources = os.path.join(root, "src", "main", "resources")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp",
        "-cp", os.pathsep.join([classes, resources, jars]),
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", work, "--out", out,
        "--fingerprints", os.path.join(HERE, "fingerprints.txt")]
    log = os.path.join(build_dir, f"last-{args.workload}.log")
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die(f"run exceeded {JVM_TIMEOUT_S} s, see {log}")
        if not os.path.exists(out):
            die(f"run wrote no record (exit {proc.returncode}), see {log}")
        kept = os.path.join(build_dir, f"last-{args.workload}.json")
        shutil.move(out, kept)
        with open(kept) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    files = sources(root)
    jars = spark_jars()
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, files, build_dir, jars)
    rec = run_jvm(args, root, build_dir, classes, jars)
    if rec["fatal"]:
        die(f"run failed: {rec['fatal']}")
    for f in rec["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    result = metrics.result_line(rec, args.trace == 1)
    for k, v in result["metrics"].items():
        print(f"{k:40s} {v['value']:14.4f} {v['unit']}")
    units = [o for o in rec["ops"] if o.get("unit")]
    print(f"{'samples':40s} {len(units)} unit ops in {rec['passes']} passes, "
          f"{rec['window_s']:.1f} s")
    print(f"{'correct':40s} {result['correct']} ({result['failed']} failed of "
          f"{result['attempted']} ops and checks)")
    sys.stdout.flush()
    print(json.dumps(result))


if __name__ == "__main__":
    main()

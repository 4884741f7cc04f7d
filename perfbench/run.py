#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload.

Run from the repository root:

    python3 perfbench/run.py --workload <analyst|rec_serve|batch> \
        --seed <n> --seconds <s> --trace <0|1>

Steps, each cached under .bench_build/ in the working directory:
1. compile src/main/scala and perfbench/src with the Scala compiler that
   ships with Spark (keyed by a hash of the sources);
2. generate the workload's tables with perfbench/gen_data.py (keyed by
   scale factor and generator hash);
3. write the seeded request stream (perfbench/streams.py);
4. run perfbench.Main in a fresh JVM and relay its output. The last line
   of standard output is the result object; a run that cannot produce one
   exits non-zero without printing it.

`--record` recomputes perfbench/expected/<workload>.json from the current
program instead of measuring; `--scale` runs at another
scale factor, where no checksums are stored, so only the invariant and
cache-semantics checks apply (smoke runs).
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

import streams  # noqa: E402  (the stream generator beside this file)

BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-Xmn512m", "-Xss8m",
    "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars, from $SPARK_HOME or the spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or ".", "jars", "*.jar")))
    if not jars:
        fail("no Spark jars: set SPARK_HOME")
    return jars


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        fail("no program sources under src/main/scala; run from the "
             "repository root")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                           recursive=True))
    return main + own


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(jars):
    srcs = sources()
    out = os.path.join(BUILD, "classes-" + digest(srcs))
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail("compilation failed")
    os.rename(tmp, out)
    return out


def tables(sf):
    gen = os.path.join(HERE, "gen_data.py")
    out = os.path.join(BUILD, "data", f"sf{sf}-{digest([gen])}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, str(sf), tmp], check=True)
        os.rename(tmp, out)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(streams.GENERATORS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--scale", type=float)
    a = ap.parse_args()
    sf = streams.SCALE[a.workload] if a.scale is None else a.scale

    jars = spark_jars()
    classes = build(jars)
    data = tables(sf)
    # the analyst's traced run also times the offline jobs on these tables
    batch_data = tables(streams.SCALE["batch"])
    run_dir = os.path.abspath(os.path.join(
        BUILD, "runs", f"{a.workload}-{a.seed}-t{a.trace}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    stream = os.path.join(run_dir, "streams.jsonl")
    with open(stream, "w") as f:
        f.write(streams.stream(a.workload, a.seed, sf=sf))
    expected = (os.path.join(HERE, "expected")
                if sf == streams.SCALE[a.workload] else "none")

    cmd = (["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={run_dir}/tmp",
        "-cp", os.pathsep.join([os.path.abspath(classes)] + jars),
        "perfbench.Main", "--workload", a.workload, "--stream", stream,
        "--data", os.path.abspath(data),
        "--batch-data", os.path.abspath(batch_data), "--out", run_dir,
        "--expected", expected, "--seconds", str(a.seconds),
        "--trace", str(a.trace)] +
        (["--record"] if a.record else []))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True)
        try:
            out, _ = proc.communicate(
                timeout=None if a.record else RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log})")
    lines = out.splitlines()
    if proc.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {proc.returncode} (log: {log})")
    if a.record:
        return
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"no result line from the JVM (log: {log})")
    check_names(a.trace, result)
    for line in lines:
        print(line)


def check_names(trace, result):
    """The result must carry exactly the metrics BENCHMARK.json lists."""
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    got = list(result["metrics"])
    if sorted(want) != sorted(got):
        fail(f"metrics {sorted(set(got) ^ set(want))} differ from "
             "BENCHMARK.json")


if __name__ == "__main__":
    main()

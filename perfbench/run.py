#!/usr/bin/env python3
"""Build the engine from source and run one benchmark workload.

    python3 perfbench/run.py --workload lake_mixed --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The engine (src/main/scala) and the benchmark
(perfbench/src) compile with the Scala compiler that ships among Spark's jars
into .bench_build/, each into a directory emptied first and rebuilt only when
its sources change. The last line of standard output is the result record:
{"correct", "attempted", "failed", "metrics"}; the line before it holds the
run's diagnostics. See perfbench/README.md.
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

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HERE = os.path.relpath(os.path.dirname(os.path.abspath(__file__)), ROOT)
WORKLOADS = ("lake_mixed", "olap_scan")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    jar_dir = os.path.join(home, "jars") if home else None
    if jar_dir is None and os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        jar_dir = m and m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar"))) if jar_dir else []
    if not jars:
        fail("no Spark jars found: set SPARK_HOME to the Spark install")
    return jars


def sources(d):
    found = sorted(glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True))
    if not found:
        fail(f"no Scala sources under {d}/ (run from the repository root)")
    return found


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_into(out, srcs, classpath, jars, stamp):
    """Compile `srcs` into `out`, emptied first; skip when the stamp matches."""
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(classpath),
           "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        fail(f"compilation into {out} failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build():
    jars = spark_jars()
    engine_src = sources("src/main/scala")
    bench_src = sources(os.path.join(HERE, "src"))
    engine = os.path.join(BUILD, "engine-classes")
    bench = os.path.join(BUILD, "perfbench-classes")
    engine_stamp = digest(engine_src, ":".join(os.path.basename(j) for j in jars))
    compile_into(engine, engine_src, jars, jars, engine_stamp)
    compile_into(bench, bench_src, [engine] + jars, jars, digest(bench_src, engine_stamp))
    return [bench, engine, os.path.join(os.path.dirname(jars[0]), "*")]


def java(classpath, main, args, work, log_path, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd = (["java", "-Xms1g", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(ROOT, HERE, 'log4j2.properties')}"]
           + opens + ["-cp", ":".join(classpath), main] + args)
    with open(log_path, "w") as log:
        try:
            return subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            return -1


def log_tail(log_path):
    try:
        with open(log_path) as f:
            return f.read()[-6000:]
    except OSError:
        return ""


def overhead(record, records, workload, seed):
    """Traced minus untraced end-to-end metrics, against the untraced record
    of the same workload and seed, else the newest untraced one."""
    same = os.path.join(records, f"{workload}-s{seed}-t0.json")
    cands = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(records, f"{workload}-s*-t0.json")), key=os.path.getmtime)
    if not cands:
        return None
    with open(cands[-1]) as f:
        base = json.load(f)["end_to_end"]
    traced = record["end_to_end"]
    return {"against": os.path.basename(cands[-1]),
            "delta": {k: traced[k]["value"] - base[k]["value"] for k in traced if k in base}}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or not a.seconds):
        p.error("--workload, --seed and --seconds are required")

    classpath = build()
    work = os.path.join(BUILD, "work", a.workload or "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            log = os.path.join(BUILD, "selftest.log")
            rc = java(classpath, "perfbench.SelfTest", [os.path.join(ROOT, "BENCHMARK.json"), work],
                      work, log, 900)
            sys.stdout.write(log_tail(log))
            sys.exit(0 if rc == 0 else 1)

        records = os.path.join(BUILD, "records")
        os.makedirs(records, exist_ok=True)
        out = os.path.join(records, f"{a.workload}-s{a.seed}-t{a.trace}.json")
        if os.path.exists(out):
            os.remove(out)
        rc = java(classpath, "perfbench.Main",
                  ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--work", work, "--out", out], work,
                  out[:-len(".json")] + ".log", RUN_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(log_tail(out[:-len(".json")] + ".log"))
            fail(f"{a.workload} run failed (exit {rc})")
        with open(out) as f:
            record = json.load(f)
        if a.trace:
            record["diagnostics"]["trace_overhead"] = overhead(record, records, a.workload, a.seed)
            with open(out, "w") as f:
                json.dump(record, f)
        print(json.dumps({"diagnostics": record["diagnostics"], "tail": record["tail"],
                          "end_to_end": record["end_to_end"]}))
        print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))
        sys.exit(0 if record["correct"] else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

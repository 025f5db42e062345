#!/usr/bin/env python3
"""Wire-to-record benchmark of the engine's Bolt surface.

    python3 boltbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine from
`src/main/scala` and the harness from `boltbench/src` with the Scala
compiler that ships in the Spark jars, and seeds the Northwind data
directory; all of it lands in $CARGO_TARGET_DIR (default `.bench_build`).
The TPC-H tables are read from `boltbench/data/sf0.01`. Each run then
starts one JVM that boots `BoltServer.forStore` over a `GraphStore` and
drives it with closed-loop Bolt sessions (see README.md). Answers are
checked against DuckDB / numpy / networkx oracles after the timed window.
The last stdout line is the result JSON.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time

import checks
import mixes

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
CPUS = min(4, os.cpu_count() or 4)
JVM_TIMEOUT_S = 170
HEAP_MAX = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[boltbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(sources, out, classpath, jars_dir):
    """Compile into a temp dir and move it into place, so a killed build
    never leaves a half-written class tree behind."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(out)}",
           "-cp", os.path.join(jars_dir, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath]
    subprocess.run(cmd + sorted(sources), check=True, stdout=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def spark_jars():
    """The Spark jars the sbt build compiles against: $SPARK_HOME/jars, or
    the directory build.sbt names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("boltbench: build.sbt names no unmanagedBase; set SPARK_HOME")
    return m.group(1)


def build(build_dir):
    """Engine classes, harness classes and the seeded Northwind data
    directory, each rebuilt only when its sources change."""
    engine_src = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
    if not engine_src:
        raise SystemExit("boltbench: no engine sources under src/main/scala "
                         "(run from the repository root)")
    jars_dir = spark_jars()
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        raise SystemExit(f"boltbench: no scala-compiler jar in {jars_dir}")
    bench_src = glob.glob(os.path.join(HERE, "src/*.scala"))
    engine_key = digest(engine_src)
    engine = os.path.join(build_dir, f"engine-{engine_key}")
    if not os.path.isdir(engine):
        log(f"compiling {len(engine_src)} engine sources")
        scalac(engine_src, engine, ":".join(jars), jars_dir)
    harness = os.path.join(build_dir, f"harness-{digest(bench_src)}-{engine_key}")
    if not os.path.isdir(harness):
        log("compiling the harness")
        scalac(bench_src, harness, ":".join([engine] + jars), jars_dir)
    classpath = [harness, engine, os.path.join(jars_dir, "*")]
    # the Northwind data directory, seeded through Cypher once per build
    wal = os.path.join(build_dir, f"nw-wal-{digest(engine_src + [os.path.join(HERE, 'mixes.py')])}")
    if not os.path.isdir(wal):
        log("seeding the Northwind WAL through Cypher")
        tmp = wal + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        spec = os.path.join(tmp, "seed.json")
        with open(spec, "w") as f:
            json.dump({"kind": "nw_seed", "wal_dir": os.path.join(tmp, "store"),
                       "seed_statements": mixes.NW_SEED}, f)
        run_jvm(classpath, spec, os.path.join(tmp, "unused.json"),
                os.path.join(tmp, "seed.log"))
        os.rename(tmp, wal)
    return classpath, os.path.join(wal, "store")


def run_jvm(classpath, mix_path, out_path, log_path):
    # only a ceiling on the heap: resident memory then follows what the
    # engine allocates
    cmd = ["java", f"-Xmx{HEAP_MAX}", "-Xss16m", "-XX:+UseG1GC", "-XX:GCTimeRatio=4", "-XX:MinHeapFreeRatio=10", "-XX:MaxHeapFreeRatio=30",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(mix_path)}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dderby.system.home=" + os.path.dirname(mix_path)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(classpath), "boltbench.Harness", mix_path, out_path]
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=os.path.dirname(mix_path))
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"boltbench: harness exceeded {JVM_TIMEOUT_S}s (log {log_path})")
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"boltbench: harness exited {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(mixes.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath, seeded_wal = build(build_dir)
    data = os.path.join(HERE, "data", f"sf{mixes.TPCH_SF}")

    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    mix = mixes.WORKLOADS[args.workload](random.Random(args.seed), data)
    mix.update(work_dir=run_dir, data_dir=data, seeded_wal=seeded_wal, trace=args.trace,
               cpus=CPUS, rounds=max(1, round(args.seconds / mix["round_s"])))
    mix_path = os.path.join(run_dir, "mix.json")
    with open(mix_path, "w") as f:
        json.dump(mix, f)
    out_path = os.path.join(run_dir, "out.json")
    t0 = time.time()
    run_jvm(classpath, mix_path, out_path, os.path.join(run_dir, "harness.log"))
    log(f"harness JVM ran {time.time() - t0:.1f} s")
    with open(os.path.join(run_dir, "harness.log")) as f:
        sys.stderr.write("".join(l for l in f if l.startswith("[harness")))
    with open(out_path) as f:
        out = json.load(f)

    t0 = time.time()
    verdict = checks.verify(mix, out, data)
    log(f"answer checks took {time.time() - t0:.1f} s")
    for problem in verdict["problems"][:10]:
        log(f"check: {problem}")
    if args.trace:
        trace_dir = os.path.join(build_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"layers": out["layers"], **out["trace"]}, f, indent=1)
        log(f"spans and per-layer summary: {path}")
        metrics = {k: {"value": v, "unit": mixes.LAYER_UNITS[k]}
                   for k, v in out["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": mixes.E2E_UNITS[k]} for k, v in out["e2e"].items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": verdict["correct"], "attempted": out["attempted"],
                      "failed": out["bolt_failed"] + verdict["wrong_ops"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

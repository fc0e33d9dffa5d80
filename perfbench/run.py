#!/usr/bin/env python3
"""graft benchmark: one seeded workload, run as a closed loop on local[nproc].

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source on first use (scalac from
the Spark distribution's jars, output under $CARGO_TARGET_DIR or
.bench_build), generates the workload's inputs from the seed (cached under
.bench_cache), runs one JVM, and prints a run record line followed by the
result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1 runs
the traced pass and reports its per-layer metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_JARS, else the `unmanagedBase` the library's build.sbt names,
    else $SPARK_HOME/jars."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = os.path.join(REPO, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = spark_jars()
BUILD = os.path.join(REPO, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
CACHE = os.path.join(REPO, ".bench_cache")
OUT = os.path.join(REPO, ".bench_out")
HEAP = "3g"
CACHE_BYTES = 3 << 30
WORKLOADS = ["clips_suite", "json_docs"]
# Spark 4 on JDK 17 outside spark-submit (as in the library's build.sbt).
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", p + "=ALL-UNNAMED")]
# Sources whose change alters generated inputs: part of the fixture key.
GENERATOR_FILES = ["src/main/scala/graft/audio/ClipsGen.scala", "src/main/scala/graft/audio/Pcm.scala",
                   "src/main/resources/bench", "perfbench/src/graftbench/Clips.scala",
                   "perfbench/src/graftbench/Docs.scala"]


def files_under(path):
    if os.path.isfile(path):
        return [path]
    out = []
    for d, _, fs in os.walk(path):
        out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        for f in files_under(os.path.join(REPO, p)):
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def jars():
    return sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))


def scalac(sources, classpath, out):
    compiler = [os.path.join(SPARK_JARS, f"scala-{m}-2.13.17.jar") for m in ("compiler", "library", "reflect")]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", ":".join(classpath), "-d", tmp] + sources
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: scalac failed ({r.returncode})")
    os.replace(tmp, out)


def build():
    """Compiles the library, then the benchmark; returns the classpath."""
    lib_src = os.path.join(REPO, "src/main/scala")
    if not os.path.isdir(lib_src) or not os.path.isdir(SPARK_JARS):
        raise SystemExit("perfbench: needs the library sources (src/main/scala) and the Spark jars")
    lib_key = tree_hash(["src/main/scala"])
    bench_key = tree_hash(["perfbench/src"]) + "-" + lib_key
    lib_out = os.path.join(BUILD, f"graft-{lib_key}")
    bench_out = os.path.join(BUILD, f"bench-{bench_key}")
    os.makedirs(BUILD, exist_ok=True)
    for d in os.listdir(BUILD):  # keep only the current builds
        if d.startswith(("graft-", "bench-")) and os.path.join(BUILD, d) not in (lib_out, bench_out):
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    if not os.path.isdir(lib_out):
        scalac(files_under(lib_src), jars(), lib_out)
    if not os.path.isdir(bench_out):
        scalac([f for f in files_under(os.path.join(HERE, "src")) if f.endswith(".scala")],
               jars() + [lib_out], bench_out)
    return [bench_out, lib_out, os.path.join(REPO, "src/main/resources")] + jars()


def cpu_ticks():
    """(total, iowait, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[4] if len(v) > 4 else 0, v[7] if len(v) > 7 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def evict_cache():
    """Drops the least recently used fixtures beyond CACHE_BYTES."""
    if not os.path.isdir(CACHE):
        return
    entries = sorted((os.path.join(CACHE, d) for d in os.listdir(CACHE)), key=os.path.getmtime, reverse=True)
    total = 0
    for d in entries:
        total += sum(os.path.getsize(f) for f in files_under(d))
        if total > CACHE_BYTES:
            shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: a few hundred rows, for the self-test")
    ap.add_argument("--plant-wrong", type=int, choices=[0, 1], default=0,
                    help="1: perturb one expectation, so the output check must fail")
    a = ap.parse_args()
    t_start = time.time()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()
    build_s = time.time() - t_start

    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}" + ("-tiny" if a.scale == "tiny" else "")
    run_out = os.path.join(OUT, tag)
    shutil.rmtree(run_out, ignore_errors=True)
    os.makedirs(run_out)
    os.makedirs(CACHE, exist_ok=True)
    evict_cache()
    result_file = os.path.join(run_out, "result.json")
    env = dict(os.environ, GRAFTBENCH_GEN_VERSION=tree_hash(GENERATOR_FILES),
               GRAFTBENCH_ORACLE=os.path.join(HERE, "oracle.py"))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] + ADD_OPENS +
           ["-cp", ":".join(classpath), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--scale", a.scale,
            "--plant-wrong", str(a.plant_wrong), "--cache", CACHE, "--out", run_out,
            "--result", result_file, "--python", sys.executable])
    ticks0, load0 = cpu_ticks(), loadavg()
    budget = max(30.0, (175.0 if build_s < 5 else 880.0) - (time.time() - t_start))
    with open(os.path.join(run_out, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=REPO, env=env, stdout=log, stderr=subprocess.STDOUT, timeout=budget)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: {tag} exceeded {budget:.0f}s; see {log.name}")
    if r.returncode != 0 or not os.path.exists(result_file):
        raise SystemExit(f"perfbench: {tag} failed ({r.returncode}); see {os.path.join(run_out, 'jvm.log')}")
    ticks1, load1 = cpu_ticks(), loadavg()
    dt = max(1, ticks1[0] - ticks0[0])
    steal, iowait = (ticks1[2] - ticks0[2]) / dt, (ticks1[1] - ticks0[1]) / dt
    host = {"nproc": os.cpu_count(), "cores_used": cores, "heap": HEAP,
            "loadavg_before": load0, "loadavg_after": load1,
            "steal_frac": steal, "iowait_frac": iowait,
            # recorded only: a degraded window never drops or repeats a run.
            # Load is not a criterion: a previous run's own threads keep the
            # 1-minute load above the core count for a while after it ends.
            "degraded_window": steal > 0.01 or iowait > 0.05,
            "build_s": build_s}

    with open(result_file) as f:
        res = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["layers"] if a.trace else res["metrics"]
    # a layer the workload never calls reads 0 (see README: idle layers)
    idle = [m["name"] for m in wanted if m["name"] not in source]
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    attempted, failed = res["attempted"], res["failed"]
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "scale": a.scale,
              "failed_frac": failed / max(1, attempted), "host": host, "idle_layers": idle,
              "layers": res["layers"], "metrics": res["metrics"], "detail": res["detail"]}
    with open(os.path.join(run_out, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

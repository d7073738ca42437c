#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It compiles the program (src/main/scala)
and the benchmark harness (perfbench/scala) with the Scala compiler that
ships in Spark's jars, generates the workload's inputs from the seed,
runs the harness JVM, checks the outputs in DuckDB, and prints one JSON
line last: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The exit code is non-zero when any output check fails.
Build outputs go to .bench_build/, inputs and run files to .bench_work/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")


def spark_home():
    """$SPARK_HOME, else the installation whose spark-shell is on the PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    shell = shutil.which("spark-shell")
    if not shell:
        raise SystemExit("perfbench: set SPARK_HOME or put spark-shell on the PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(shell)))


SPARK_JARS = os.path.join(spark_home(), "jars", "*")
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def scalac(srcs, out, classpath):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", SPARK_JARS, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out] + (["-classpath", classpath] if classpath else []) + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build():
    """Compile the program and the harness unless the sources are unchanged."""
    program = sources(os.path.join(ROOT, "src", "main", "scala"))
    harness = sources(os.path.join(HERE, "scala"))
    if not program:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    digest = hashlib.sha256()
    for f in program + harness:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    classes, hclasses = os.path.join(BUILD, "classes"), os.path.join(BUILD, "harness")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes, hclasses
    shutil.rmtree(BUILD, ignore_errors=True)
    t0 = time.time()
    scalac(program, classes, None)
    scalac(harness, hclasses, classes)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    log(f"built in {time.time() - t0:.1f} s")
    return classes, hclasses


def parquet_stats(paths):
    rows = size = 0
    for p in paths:
        rows += pq.ParquetFile(p).metadata.num_rows
        size += os.path.getsize(p)
    return rows, size


def pass_inputs(workload, data):
    """Rows and bytes of the generated input one timed pass reads."""
    if workload == "etl_days":
        days = [d.replace("-", "") for d in open(f"{data}/days.txt").read().split()[1:]]
        files = glob.glob(f"{data}/raw/job_name=cfg_item_master/latest/*.parquet")
        for job in ["lot_history", "process_result", "equipment_event"]:
            for d in days:
                files += glob.glob(f"{data}/raw/job_name={job}/date={d}/*.parquet")
    else:
        files = glob.glob(f"{data}/sf/*.parquet")
    return parquet_stats(files)


def trace_overhead(passes):
    """Each traced pass against the mean of the untraced passes beside it,
    minus 1; the median over traced passes. Passes get faster while the JIT
    compiles, so neighbours on both sides cancel that trend."""
    ratios = []
    for i, p in enumerate(passes):
        if p["traced"]:
            near = [passes[j]["wall_s"] for j in (i - 1, i + 1)
                    if 0 <= j < len(passes) and not passes[j]["traced"]]
            ratios.append(p["wall_s"] / statistics.mean(near) - 1)
    return statistics.median(ratios)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classes, hclasses = build()
    data = gen.generate(a.workload, a.seed, os.path.join(WORK, "data", f"{a.workload}-{a.seed}"))
    rows, size = pass_inputs(a.workload, data)

    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    out = os.path.join(run, "result.json")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run}/tmp", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, hclasses, SPARK_JARS]), "graftbench.Harness",
            "--workload", a.workload, "--data", data, "--work", run, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out,
            "--queries", os.path.join(HERE, "registry_mix.txt")]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=JVM_TIMEOUT_S)
    with open(out) as f:
        res = json.load(f)

    checks = check.CHECKS[a.workload](data, res)
    for name, ok, detail in checks:
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")
    log(f"{sum(ok for _, ok, _ in checks)}/{len(checks)} output checks pass")

    ops = [o for p in res["passes"] for o in p["ops"]] + res["check_ops"]
    failed = sum(not o["ok"] for o in ops) + sum(not ok for _, ok, _ in checks)
    plain = [p for p in res["passes"] if not p["traced"]]
    wall = statistics.median(p["wall_s"] for p in plain)
    lat = [o["s"] for p in plain for o in p["ops"] if o["ok"]] or [float("nan")]
    if a.trace == 0:
        values = {
            "setup_s": res["setup_s"],
            "wall_s": wall,
            "rows_per_s": rows / wall,
            "op_p50_s": statistics.median(lat),
            "cpu_s": statistics.median(p["cpu_s"] for p in plain),
            "heap_live_mb": res["heap_live_mb"],
        }
        names = spec["end_to_end"]
    else:
        traced = [p for p in res["passes"] if p["traced"]]
        layer = {k: statistics.median(p["layers"].get(k, 0.0) for p in traced)
                 for k in traced[0]["layers"]}
        values = dict(layer)
        values["entry.session_s"] = res["session_s"]
        values["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        values["trace.overhead_frac"] = trace_overhead(res["passes"])
        values["pipeline.write_amp"] = layer.get("spark.output_mb", 0.0) * 2 ** 20 / size
        names = spec["per_layer"]
        kept = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(kept), exist_ok=True)
        shutil.copyfile(res["spans_file"], kept)
        with open(kept) as f:
            spans = json.load(f)
        self_s = {}
        for sp in spans:
            if sp["kind"] in ("op", "layer"):
                self_s[sp["name"]] = self_s.get(sp["name"], 0) + sp["self_ns"] / 1e9
        top = sorted(self_s.items(), key=lambda kv: -kv[1])[:8]
        log(f"spans: {os.path.relpath(kept, ROOT)}; self time by span, s: "
            + ", ".join(f"{k} {v:.3f}" for k, v in top))
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in names}
    for k, v in metrics.items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    log(f"input rows per pass = {rows}, bytes = {size}, ops = {len(lat)}, pass walls = "
        f"{[round(p['wall_s'], 3) for p in res['passes']]}")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops) + len(checks),
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

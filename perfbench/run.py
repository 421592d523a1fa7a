#!/usr/bin/env python3
"""Repository benchmark: one workload run, ending in one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark from source (perfbench/build.sh),
runs perfbench.Main in a fresh JVM, checks the program's outputs (the CDC
table inside the JVM against a plain-Scala reference, the batch query
results here against DuckDB oracle SQL), and prints as its last line
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The line before it is a summary with the
figures by the names the workloads were specified with, and the
contention guard. --save FILE keeps the JVM's full result (figures and,
when traced, spans).
"""
import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # write nothing beside the sources

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 170
# Per-layer metrics of a layer a workload does not run read 0 there.
NOT_RUN = {
    "cdc_ingest": ("ops.build_jobs", "queries."),
    "batch_curation": ("sinks.", "pipeline.", "stream."),
}
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def cpu_jiffies():
    """(busy, stolen, total) jiffies over all CPUs, from /proc/stat;
    busy excludes idle, iowait and time stolen by the hypervisor."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v) - v[3] - v[4] - v[7], v[7], sum(v)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def children_cpu_s():
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def spark_home():
    """SPARK_HOME, or the installation that holds spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="write the JVM's full result JSON here")
    a = ap.parse_args()
    t_start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources (src/main/scala) to build")
    if subprocess.run(["bash", os.path.join(HERE, "build.sh")]).returncode != 0:
        fail("build failed")

    # Contention guard: CPU used by other processes, and CPU time the
    # hypervisor stole, just before the run (a load average would still
    # hold the previous run) and during it.
    nproc = os.cpu_count() or 1
    b0 = cpu_jiffies()
    time.sleep(0.5)
    b1 = cpu_jiffies()
    busy_before = (b1[0] - b0[0]) / max(1, b1[2] - b0[2])
    steal_before = (b1[1] - b0[1]) / max(1, b1[2] - b0[2])
    load_start = loadavg()

    work = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    spark_jars = os.path.join(spark_home(), "jars")
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{BUILD}/classes:{spark_jars}/*", "perfbench.Main",
        a.workload, str(a.seed), str(a.seconds), str(a.trace), work, DATA, result_file]
    c0, j0 = children_cpu_s(), cpu_jiffies()
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM timed out")
        if code != 0 or not os.path.isfile(result_file):
            fail(f"benchmark JVM exited with {code}")
        with open(result_file) as f:
            res = json.load(f)
        j1, c1 = cpu_jiffies(), children_cpu_s()
        hz = os.sysconf("SC_CLK_TCK")
        busy_during = max(0.0, (j1[0] - j0[0]) / hz - (c1 - c0)) / max(1e-9, (j1[2] - j0[2]) / hz)
        steal_during = (j1[1] - j0[1]) / max(1, j1[2] - j0[2])

        attempted, failed = res["attempted"], res["failed"]
        oracle_dir = os.path.join(work, "out")
        if os.path.isdir(oracle_dir):
            import oracle
            ok, bad = oracle.check(DATA, oracle_dir)
            attempted += ok + len(bad)
            failed += len(bad)
            for name, msg in bad:
                print(f"perfbench: {name} does not match its oracle: {msg}", file=sys.stderr)
        if a.save:  # paths in Spark job descriptions are kept relative to the checkout
            with open(a.save, "w") as f:
                f.write(json.dumps(res).replace(ROOT + "/", ""))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    layers = res["layers"]
    env = dict(res["env"], nproc=nproc, loadavg_start=load_start, loadavg_end=loadavg(),
               foreign_cpu_share_before=round(busy_before, 4),
               foreign_cpu_share_during=round(busy_during, 4),
               steal_share_before=round(steal_before, 4), steal_share_during=round(steal_during, 4))
    env["contended"] = busy_before + steal_before > 0.15
    env["run_s"] = round(time.time() - t_start, 3)
    summary = {k: layers[k] for k in (
        "freshness_p50_s", "freshness_p95_s", "freshness_samples_envelopes",
        "freshness_samples_batches", "backfill_eps", "chain_wall_s", "plan_wall_s",
        "sinks.write_amp", "sinks.rows_written", "sinks.rows_incoming") if k in layers}
    summary.update(live_heap_peak_mb=res["e2e"]["live_heap_peak_mb"], setup_s=res["e2e"]["setup_s"],
                   failed_share=failed / max(1, attempted))
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "figures": summary, "env": env}))

    if a.trace:
        metrics = {}
        for m in spec["per_layer"]:
            name = m["name"]
            if name in layers:
                v = layers[name]
            elif name.startswith(NOT_RUN.get(a.workload, ())):
                v = 0
            else:
                fail(f"per-layer metric {name} was not measured")
            metrics[name] = {"value": v, "unit": m["unit"]}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()

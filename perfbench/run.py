#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, one JSON line of metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark driver from source with sbt (offline) into `.bench_build/`;
later runs reuse the build while the sources are unchanged. Each run
starts a fresh JVM at `local[4]`, sets up the workload's inputs from
the seed, measures, checks the outputs, and removes its run directory.

Workloads:
  pipe_small  the report pipe (`ReportStream.pipelineStar`) draining a
              backlog of 5k-row event files, one file per micro-batch
  registry    a fixed slice of the operator registry, one cold
              `.count()` per query, each checked against its DuckDB
              oracle's row count

The last stdout line is `{"correct", "attempted", "failed", "metrics"}`;
`--trace 0` gives the end-to-end metrics, `--trace 1` the per-layer
ones, and a traced run also keeps its spans under `.bench_build/traces/`
for `layers.py`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pipe_small", "registry")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import layers  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the compiled engine plus driver; compiles on a
    source change."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; "
             "run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "graft-perfbench" in lines[-1] \
            or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def steal_s():
    """Cumulative hypervisor steal seconds (USER_HZ = 100), or None."""
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        return int(cpu[8]) / 100.0
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(cp, workload, seed, trace, run_dir, deadline):
    out_file = os.path.join(run_dir, "record.json")
    for d in ("tmp", "spark-scratch", "artifacts"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [a for p in JDK_OPENS
                    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={run_dir}",
            "-cp", cp, "graft.perfbench.Main", workload, str(seed),
            str(trace), run_dir, out_file]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=f"{run_dir}/spark-scratch",
               SPARK_GRAFT_ARTIFACT_DIR=f"{run_dir}/artifacts")
    env.pop("SPARK_LOCAL_DIRS", None)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            lines = [l for l in f if not l.lstrip().startswith(("at ", "..."))]
        sys.stderr.write("".join(lines[-40:]))
        fail(f"benchmark JVM exited with {code}")
    with open(out_file) as f:
        return json.load(f)


def geomean(values):
    return math.exp(sum(math.log(x) for x in values) / len(values))


def pipe_metrics(rec):
    """End-to-end metrics of a pipe run over its steady micro-batches."""
    batches = sorted(rec["batches"], key=lambda b: b["batch"])
    steady = batches[rec["warm_batches"]:]
    if len(steady) < 2:
        fail(f"only {len(steady)} steady batches; stream error: "
             f"{rec['stream_error']}")
    ms = [b["trigger_ms"] for b in steady]
    last = steady[-1]
    wall_s = (last["start_ms"] + last["trigger_ms"] - steady[0]["start_ms"]) / 1000
    rows = sum(b["rows"] for b in steady)
    e2e = {
        "setup_s": rec["session_s"] + statistics.median(rec["stage_s"])
        + rec["warmup_s"],
        "wall_s": wall_s,
        "op_geomean_ms": geomean(ms),
    }
    info = {"steady_batches": len(steady),
            "batch_ms": [b["trigger_ms"] for b in batches], "rows": rows,
            "rows_per_s": rows / wall_s, "session_s": rec["session_s"],
            "stage_s": rec["stage_s"], "warmup_s": rec["warmup_s"],
            "checks": rec["checks"]}
    return e2e, rec["checks"]["attempted"], rec["checks"]["failed"], info


def oracle_counts(rec):
    """Row count of each query's DuckDB oracle over the same tables."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    data = rec["data_dir"]
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet/*.parquet')")
    out = {}
    for q in rec["queries"]:
        if q["oracle"]:
            out[q["name"]] = con.execute(
                f"SELECT count(*) FROM ({q['oracle']})").fetchone()[0]
    return out


def registry_metrics(rec):
    """End-to-end metrics of a registry run; a query fails on an error or
    a row count that differs from its oracle's."""
    qs = rec["queries"]
    oracle = oracle_counts(rec)
    bad = [q["name"] for q in qs if q["error"] or q["rows"] != oracle.get(
        q["name"], q["rows"])]
    secs = [q["seconds"] for q in qs]
    e2e = {
        "setup_s": rec["session_s"] + statistics.median(rec["stage_s"])
        + rec["warmup_s"],
        "wall_s": sum(secs),
        "op_geomean_ms": geomean(secs) * 1000,
    }
    info = {"queries": {q["name"]: round(q["seconds"], 4) for q in qs},
            "failed_queries": bad,
            "errors": {q["name"]: q["error"] for q in qs if q["error"]},
            "no_oracle": [q["name"] for q in qs if not q["oracle"]]}
    return e2e, len(qs), len(bad), info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # each workload does a fixed amount of work, sized to BENCHMARK.json's
    # run_seconds, so every run of every commit measures the same thing
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    cp = build()
    deadline = max(deadline, time.monotonic() + RUN_TIMEOUT_S - 10)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        steal0 = steal_s()
        rec = run_jvm(cp, a.workload, a.seed, a.trace, run_dir,
                      deadline)
        steal1 = steal_s()
        e2e, attempted, failed, info = (
            pipe_metrics if "batches" in rec else registry_metrics)(rec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    info["steal_s"] = None if steal0 is None or steal1 is None \
        else round(steal1 - steal0, 2)
    units = {"setup_s": "s", "wall_s": "s", "op_geomean_ms": "ms"}
    if a.trace:
        generic, named = layers.split(rec)
        rec["end_to_end"] = e2e
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump(rec, f)
        info["spans_file"] = os.path.relpath(path, ROOT)
        info["named_layers"] = named
        metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                   for k, v in generic.items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({"workload": a.workload, "seed": a.seed, **info}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload yaml_refactor|build_serve \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft's sources
with the benchmark's own sbt build (offline) into .bench_build/; every run
generates its inputs from --seed under .bench_build/runs/, drives graft
in-process in one JVM for --seconds of whole rounds, checks the outputs
against computations made apart from graft (DuckDB, the generator's own
expectations), and prints one JSON line: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import checks  # noqa: E402

# --- workload sizes (fixed: they never depend on the seed) ---------------
YAML_MODELS, YAML_LAYERS, YAML_SEEDS, YAML_COLS = 100, 20, 6, 24
SERVE_SF = 0.01
SERVE_REQUESTS_PER_CLIENT = 20

SPEC = os.path.join(ROOT, "BENCHMARK.json")


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# --- build ---------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "jvm")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles graft + the drivers once per source state."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("graft sources not found: run from the root of a graft checkout")
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "jvm"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        log(out.stdout[-4000:], out.stderr[-4000:])
        sys.exit("benchmark build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)


# --- inputs --------------------------------------------------------------

def prepare(workload, seed, run_dir):
    import numpy as np
    rng = np.random.default_rng(seed)
    if workload == "yaml_refactor":
        pristine = os.path.join(run_dir, "pristine")
        schemas, models, docs, types = gen.project(
            rng, pristine, YAML_MODELS, YAML_LAYERS, YAML_SEEDS, YAML_COLS)
        cfg = {"pristine": pristine, "project": os.path.join(run_dir, "project"),
               "schemas": schemas}
        expect = {"models": models, "docs": docs, "types": types}
    else:
        data = os.path.join(run_dir, "data")
        gen.tables(rng, data, SERVE_SF)
        proj = os.path.join(run_dir, "project")
        gen.serve_project(proj)
        clients = gen.serve_requests(rng, data, SERVE_REQUESTS_PER_CLIENT)
        cfg = {"data": data, "project": proj, "tables": gen.SERVE_TABLES, "clients": clients}
        expect = {}
    with open(os.path.join(run_dir, "config.json"), "w") as f:
        json.dump(cfg, f)
    return cfg, expect


JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(workload, run_dir, seconds, trace):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = open(os.path.join(BUILD, "classpath")).read().strip()
    cmd = ["java", *JAVA_OPENS, "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
           workload, run_dir, str(seconds), str(trace)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=seconds + 120)
        except subprocess.TimeoutExpired:
            code = -9
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    res_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(res_path):
        log(open(os.path.join(run_dir, "jvm.log")).read()[-6000:])
        sys.exit(f"workload JVM exited with {code}")
    return json.load(open(res_path))


# --- metrics -------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, res, setup_s):
    s = res["samples"]
    if workload == "yaml_refactor":
        job, op = median(s["refactor_s"]), median(s["recheck_s"]) * 1e3
    else:
        job, op = median(s["build_s"]), median(s["query_ms"])
    return {"setup_s": setup_s, "job_s": job, "op_p50_ms": op,
            "live_heap_mb": res["live_heap_mb"]}


def per_layer(res):
    """Every per-layer metric; a layer the workload does not reach reads 0.
    Sums are reported per round (per pass for refactor.* and recheck.*);
    latencies as medians over every timed sample."""
    rounds = max(res["rounds"], 1)
    layers, s = res["layers"], res["samples"]
    out = {}
    for m in json.load(open(SPEC))["per_layer"]:
        name = m["name"]
        if name.startswith("serve.") and name.endswith(".p50_ms"):
            v = median(s.get(name[:-len("p50_ms")] + "ms", []))
        elif name == "serve.p90_ms":
            q = s.get("query_ms", [])
            v = statistics.quantiles(q, n=10)[-1] if len(q) >= 10 else 0.0
        elif name == "serve.queries_per_s":
            busy = layers.get("serve.busy_s", 0.0)
            v = len(s.get("query_ms", [])) / busy if busy else 0.0
        elif name == "compile.jinja_ms":
            v = median(s.get(name, []))
        elif name.endswith("storage_bytes_end"):
            v = layers.get(name, 0.0)
        else:
            v = layers.get(name, 0.0) / rounds
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["yaml_refactor", "build_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        cfg, expect = prepare(a.workload, a.seed, run_dir)
        jvm_start = time.time()
        res = run_jvm(a.workload, run_dir, a.seconds, a.trace)
        setup_s = res["timed_start_ms"] / 1e3 - jvm_start
        for e in res["errors"][:20]:
            log("OPERATION FAILED:", e)
        problems = checks.check(a.workload, run_dir, cfg, expect)
        for p in problems[:20]:
            log("CHECK FAILED:", p)
        if a.trace:
            metrics = per_layer(res)
        else:
            values = end_to_end(a.workload, res, setup_s)
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in json.load(open(SPEC))["end_to_end"]}
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

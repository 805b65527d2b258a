#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload pipeline|session|registry \
        --seed N --seconds S --trace 0|1 [--size tiny] [--sabotage]

Run from the repository root. The first run builds the program from the
checkout's sources together with the benchmark driver (sbt project in
perfbench/, output in .bench_build/); later runs reuse the build while
the sources are unchanged. Inputs are generated from --seed. The last
line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json when --trace 0 and its
per-layer metrics when --trace 1. A traced run also writes its spans to
.bench_build/traces/. Exit code 0 when every output check passed, 1 when
a check failed, 2 when the run could not be made.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

BUILD = ".bench_build"
JVM_TIMEOUT_S = 170
# Registry tables: single parquet files in the sf0.1 fixtures' shape, from
# tools/gen_scale_data.py, at the sf0.01 row counts so a run fits the time
# budget (--size tiny: sf0.003)
REGISTRY_SF = 0.01
# Repeated set-up units per run; the median is reported (setup_s).
REGISTRY_SETUPS = 3
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log("error:", msg)
    sys.exit(2)


def sources():
    """Every file the build depends on, in a stable order."""
    out = ["perfbench/build.sbt", "perfbench/project/build.properties"]
    for root in ("src/main/scala", "perfbench/src/main/scala"):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile (if the sources changed) and return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    log("building (sbt compile) ...")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd="perfbench", env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [l.strip() for l in r.stdout.splitlines() if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-6000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def registry_tables(out, seed, sf):
    """Generate the registry tables REGISTRY_SETUPS times with the
    repository's scale-data tool (its module SEED set from --seed);
    return the generation times."""
    spec = importlib.util.spec_from_file_location(
        "gen_scale_data", os.path.join("tools", "gen_scale_data.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.SEED = seed
    times = []
    for _ in range(REGISTRY_SETUPS):
        shutil.rmtree(out, ignore_errors=True)
        t = time.perf_counter()
        with contextlib.redirect_stdout(sys.stderr):
            gen.gen(out, sf)
        times.append(time.perf_counter() - t)
    return times


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks():
    """(total, steal) jiffies of all CPUs, from /proc/stat's `cpu` line.
    Steal is time the hypervisor gave this machine's virtual CPUs to
    someone else while they had work: contention that the load average,
    which counts only this machine's own threads, cannot show."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), (f[7] if len(f) > 7 else 0)


def clear_stale_runs(runs):
    """Remove the scratch directories of earlier runs whose process is
    gone (a killed JVM or driver never reached its cleanup)."""
    if not os.path.isdir(runs):
        return
    for d in os.listdir(runs):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
            continue
        except (ValueError, IndexError, ProcessLookupError):
            pass
        except PermissionError:
            continue
        shutil.rmtree(os.path.join(runs, d), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["pipeline", "session", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--sabotage", action="store_true",
                    help="corrupt one checked output (self-test only)")
    a = ap.parse_args()

    for need in ("BENCHMARK.json", "src/main/scala/graft",
                 "tools/gen_scale_data.py", "perfbench/build.sbt"):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the repository root")
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)

    cp = build()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    clear_stale_runs(os.path.join(BUILD, "runs"))
    data = os.path.abspath(os.path.join(BUILD, "runs", run_id))
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(os.path.join(data, "tmp"))
    result_file = os.path.join(data, "result.json")
    try:
        load0, ticks0 = loadavg(), cpu_ticks()
        extra = []
        if a.workload == "registry":
            tables = os.path.join(data, "tables")
            times = registry_tables(
                tables, a.seed, 0.003 if a.size == "tiny" else REGISTRY_SF)
            extra = ["--tables", tables,
                     "--tables-setup-s", ",".join(map(repr, times))]
        cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
                f"-Djava.io.tmpdir={data}/tmp"] +
               [x for p in ADD_OPENS
                for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", cp, "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--out", result_file, "--size", a.size,
                "--sabotage", "1" if a.sabotage else "0"] + extra)
        jvm0 = time.perf_counter()
        try:
            r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_TIMEOUT_S} s")
        jvm_s = time.perf_counter() - jvm0
        load1, ticks1 = loadavg(), cpu_ticks()
        if r.returncode != 0 or not os.path.exists(result_file):
            fail(f"benchmark JVM exited with {r.returncode}")
        with open(result_file) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(data, ignore_errors=True)

    # contention stamp: other work on this machine shows as load above
    # the run's own cores with task CPU per wall falling; other tenants
    # of a virtual machine's host show as steal
    res["run_id"] = run_id
    ticks = max(1, ticks1[0] - ticks0[0])
    res["stamp"] = {"loadavg_before": load0, "loadavg_after": load1,
                    "cores": res["cores"],
                    "task_cpu_per_wall": res["task_cpu_per_wall"],
                    "steal_share": (ticks1[1] - ticks0[1]) / ticks}
    for n in res["named"]:
        log(f"{a.workload} {n['name']} = {n['value']:.6g} {n['unit']}")
    for k, v in res["end_to_end"].items():
        log(f"{a.workload} {k} = {v:.6g}")
    log("op_ms", json.dumps([round(x, 1) for x in res["op_ms"]]))
    log("phases_s", json.dumps({
        "session_start": round(res["session_start_s"], 2),
        "setup_samples": [round(x, 2) for x in res["setup_samples_s"]],
        "workload": round(res["work_s"], 2),
        "jvm": round(jvm_s, 2)}))
    log("stamp", json.dumps(res["stamp"]))
    for f in res["failures"]:
        log("FAILED CHECK", f)

    if a.trace:
        for s in res["spans"]:
            s["run"] = run_id
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{run_id}.json"), "w") as fh:
            json.dump(res, fh, indent=1)
        for k, v in res["layers"].items():
            log(f"layer {k} = {v:.6g}")
        values = res["per_layer"]
        wanted = spec["per_layer"]
    else:
        values = res["end_to_end"]
        wanted = spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }), flush=True)
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Steadiness and trace evidence for the benchmark.

    python3 perfbench/evidence.py spread --sets 2 --seeds 10 [--workloads a,b]
    python3 perfbench/evidence.py trace --seed 101 [--workloads a,b]

From the repository root. `spread` runs every workload once per seed,
untraced, in `--sets` independent sets (set k uses seeds 1000k+1 ...),
and writes perfbench/results/STEADINESS.json: per set and metric the
median and the quartile spread (Q3 - Q1) / median, as
statistics.quantiles(values, n=4) gives them, next to the metric's
bound; each later set's median shift against the first; which of these
break a bound (`outside_bounds`); and each run's wall time and
contention stamp.

`trace` runs each workload untraced and then traced on the same seed and
writes perfbench/results/TRACE_<workload>.json: the contract's per-layer
metrics, the named per-layer metrics of README.md, every
`<layer>.<call>.<metric>` (with self times), the spans, and the tracing
overhead as traced minus untraced end-to-end metrics, with both runs'
contention stamps (an overhead measured while one run was contended is
host noise, not tracing cost).
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

RESULTS = os.path.join("perfbench", "results")
# The per-layer metrics the benchmark's design names, each with the
# end-to-end metric it should move (README.md); `registry.<m>` is the
# warm pass's aggregate, traced as `registry.warm_pass.<m>`.
LAYER_METRICS = [
    "sources.wet_read.s", "sources.wet_read.parallelism",
    "functions.clean.s", "functions.embed.s", "functions.embed.parallelism",
    "functions.embed.task_cpu_s", "operators.dedup.s",
    "operators.dedup.shuffle_write_bytes", "operators.dedup.spill_bytes",
    "operators.dedup.verified_ratio", "operators.index_build.s",
    "operators.index_build.jobs", "operators.index_build.driver_share",
    "operators.knn_batch.s", "operators.knn_batch.shuffle_write_bytes",
    "operators.knn_batch.rows_scanned_per_result", "operators.classify.s",
    "ml.mlp_train.s", "ml.mlp_train.jobs", "store.query.s",
    "store.query.jobs", "store.query.codegen_ms", "store.query.driver_share",
    "store.append.s", "store.append.bytes_written_per_user_byte",
    "registry.jobs", "registry.task_cpu_s", "registry.parallelism",
    "registry.codegen_ms", "registry.driver_share", "shared_frames.build_s",
]


def named_layers(layers):
    """The named per-layer metrics this trace has, plus each registry
    line's `registry.<line>.s`."""
    out = {}
    for name in LAYER_METRICS:
        key = name
        if name.startswith("registry.") and name.count(".") == 1:
            key = "registry.warm_pass." + name.split(".", 1)[1]
        if key in layers:
            out[name] = layers[key]
    for key, v in layers.items():
        if (key.startswith("registry.") and key.endswith(".s") and
                key.count(".") == 2 and not key.startswith("registry.warm_pass")):
            out[key] = v
    return out


def run(workload, seed, trace, seconds):
    t = time.time()
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t
    stamp = None
    for line in r.stderr.splitlines():
        if line.startswith("[perfbench] stamp "):
            stamp = json.loads(line[len("[perfbench] stamp "):])
    out = r.stdout.strip().splitlines()
    return {"workload": workload, "seed": seed, "trace": trace,
            "exit": r.returncode, "wall_s": round(wall, 2), "stamp": stamp,
            "result": json.loads(out[-1]) if out else None}


def spread(args, spec):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs, summary = [], {}
    for k in range(args.sets):
        for w in args.workloads:
            vals = {m: [] for m in bounds}
            for i in range(args.seeds):
                r = run(w, 1000 * (k + 1) + i + 1, 0, spec["run_seconds"])
                runs.append(r)
                print(json.dumps(r), flush=True)
                if r["result"] is None or r["exit"] != 0:
                    continue
                for m in bounds:
                    vals[m].append(r["result"]["metrics"][m]["value"])
            for m, v in vals.items():
                if len(v) < 4:
                    continue
                q = statistics.quantiles(v, n=4)
                med = statistics.median(v)
                summary.setdefault(w, {}).setdefault(m, []).append({
                    "set": k + 1, "n": len(v), "median": med,
                    "spread": (q[2] - q[0]) / med, "bound": bounds[m]})
    # the acceptance rule: every spread but setup_s's within its bound,
    # and no set's median worse than the first set's by more than it
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    verdict = {}
    for w, ms in summary.items():
        for m, sets in ms.items():
            first = sets[0]["median"]
            for st in sets[1:]:
                shift = (st["median"] - first) / first
                st["shift_vs_set1"] = shift
                worse = shift if better[m] == "lower" else -shift
                if worse > bounds[m]:
                    verdict[f"{w}.{m}.set{st['set']}"] = "median shift"
            for st in sets:
                if m != "setup_s" and st["spread"] > bounds[m]:
                    verdict[f"{w}.{m}.set{st['set']}"] = "spread"
    out = {"run_seconds": spec["run_seconds"], "sets": args.sets,
           "seeds_per_set": args.seeds, "summary": summary,
           "outside_bounds": verdict,
           "total_wall_s": round(sum(r["wall_s"] for r in runs), 1),
           "runs": runs}
    path = os.path.join(RESULTS, "STEADINESS.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print("wrote", path)


def trace(args, spec):
    for w in args.workloads:
        plain = run(w, args.seed, 0, spec["run_seconds"])
        traced = run(w, args.seed, 1, spec["run_seconds"])
        files = sorted(glob.glob(os.path.join(
            ".bench_build", "traces", f"{w}-s{args.seed}-t1-*.json")),
            key=os.path.getmtime)
        if plain["result"] is None or traced["result"] is None or not files:
            sys.exit(f"{w}: run failed")
        with open(files[-1]) as fh:
            t = json.load(fh)
        overhead = {}
        for name, v in plain["result"]["metrics"].items():
            tv = t["end_to_end"][name]
            overhead[name] = {"untraced": v["value"], "traced": tv,
                              "difference": tv - v["value"],
                              "share": (tv - v["value"]) / v["value"]}
        doc = {"workload": w, "seed": args.seed, "run_id": t["run_id"],
               "stamp": t["stamp"], "untraced_stamp": plain["stamp"],
               "tracing_overhead": overhead,
               "per_layer": t["per_layer"],
               "named_layer_metrics": named_layers(t["layers"]),
               "layers": t["layers"],
               "named": t["named"], "failures": t["failures"],
               "codegen_metric_delta": t["codegen_metric_delta"],
               "unattributed": t["unattributed"], "spans": t["spans"]}
        path = os.path.join(RESULTS, f"TRACE_{w}.json")
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
        print("wrote", path, flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["spread", "trace"])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    args.workloads = (args.workloads.split(",") if args.workloads
                      else [w["name"] for w in spec["workloads"]])
    os.makedirs(RESULTS, exist_ok=True)
    (spread if args.mode == "spread" else trace)(args, spec)


if __name__ == "__main__":
    main()

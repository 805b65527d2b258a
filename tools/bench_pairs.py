#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, with a verdict per metric.

    python3 tools/bench_pairs.py --parent HEAD --scratch /tmp/pairs \\
        --tag store [--change .] [--pairs 10] [--workloads session,registry] \\
        [--seed 900] [--seconds S] [--out BENCH_PAIRS_store.json]

Both sides run from fresh sibling directories under --scratch, so neither
runs in a checkout with its own build state: the parent is `git archive`
of --parent, the change is a copy of the --change working tree (tracked
and untracked files, minus what .gitignore names). Each workload gets
--pairs pairs of `perfbench/run.py --trace 0` runs on seeds --seed,
--seed+1, ..., the change running first on odd pair numbers. The run
length is BENCHMARK.json's run_seconds unless --seconds overrides it.

The output keeps the shape of the earlier BENCH_PAIRS_*.json files: `what`
and `runs` (one row per run: workload, seed, side, correct, attempted,
failed and the end-to-end metrics). `summary` adds, per workload and
end-to-end metric: both sides' medians, the parent's quartiles, the
change's wins (ties count for neither side), the change/parent ratio of
medians, the bound from BENCHMARK.json and a verdict:

  inside      the change's median is no worse than the parent's by more
              than the bound, and the parent's quartile spread is within
              the bound;
  outside     the change's median is worse by more than the bound;
  unresolved  the parent's quartile spread (relative to its median) is
              wider than the bound, unless every change run reads better
              than every parent run (then inside).

The file is rewritten after every run, so an interrupted session keeps
what it measured. Reads perfbench/ and BENCHMARK.json, writes only under
--scratch and the output file.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time


def log(*a):
    print("[bench_pairs]", *a, file=sys.stderr, flush=True)


def repo_root():
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_parent(rev, repo, dest):
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", repo, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    sha = subprocess.run(["git", "-C", repo, "rev-parse", "--short", rev],
                         check=True, capture_output=True, text=True)
    return sha.stdout.strip()


def copy_tree(src, dest):
    files = subprocess.run(
        ["git", "-C", src, "ls-files", "-z", "--cached", "--others",
         "--exclude-standard"], check=True, capture_output=True).stdout
    for f in filter(None, files.decode().split("\0")):
        s = os.path.join(src, f)
        if not os.path.isfile(s):  # deleted in the working tree
            continue
        d = os.path.join(dest, f)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        shutil.copy2(s, d)


def run_once(tree, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        log(f"no result from {tree} {workload} seed {seed} (exit "
            f"{p.returncode}):", p.stderr[-2000:])
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(runs, bench):
    out = {}
    for w in dict.fromkeys(r["workload"] for r in runs):
        rows = {}
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            lower = m["better"] == "lower"
            by_seed = {}
            for r in runs:
                if r["workload"] == w and r.get(name) is not None:
                    by_seed.setdefault(r["seed"], {})[r["side"]] = r[name]
            pairs = [v for v in by_seed.values() if len(v) == 2]
            if not pairs:
                continue
            par = [p["parent"] for p in pairs]
            chg = [p["change"] for p in pairs]
            pm, cm = statistics.median(par), statistics.median(chg)
            q1, q3 = quartiles(par)
            better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
            wins = sum(better(p["change"], p["parent"]) for p in pairs)
            ratio = cm / pm if pm else None
            worse_by = (None if ratio is None else
                        (ratio - 1.0 if lower else 1.0 - ratio))
            spread = (q3 - q1) / pm if pm else None
            all_better = all(better(c, p) for c in chg for p in par)
            if worse_by is None or spread is None:
                verdict = "unresolved"
            elif worse_by > bound:
                verdict = "outside"
            elif spread > bound and not all_better:
                verdict = "unresolved"
            else:
                verdict = "inside"
            rows[name] = {
                "pairs": len(pairs), "parent_median": round(pm, 3),
                "change_median": round(cm, 3),
                "parent_q1": round(q1, 3), "parent_q3": round(q3, 3),
                "parent_spread": None if spread is None else round(spread, 4),
                "wins": wins,
                "ratio": None if ratio is None else round(ratio, 4),
                "bound": bound, "verdict": verdict}
        ws = [r for r in runs if r["workload"] == w]
        rows["runs_correct"] = sum(r["correct"] for r in ws)
        rows["runs"] = len(ws)
        rows["failed_ops"] = sum(r["failed"] for r in ws)
        out[w] = rows
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", default="HEAD")
    ap.add_argument("--change", default=repo_root())
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--tag", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--seed", type=int, default=900)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    a = ap.parse_args()

    repo = repo_root()
    with open(os.path.join(repo, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in bench["workloads"]])
    seconds = a.seconds or bench["run_seconds"]
    out = a.out or os.path.join(repo, f"BENCH_PAIRS_{a.tag}.json")

    root = os.path.abspath(a.scratch)
    trees = {"parent": os.path.join(root, "parent"),
             "change": os.path.join(root, "change")}
    for t in trees.values():
        if os.path.exists(t):
            shutil.rmtree(t)
    sha = export_parent(a.parent, repo, trees["parent"])
    os.makedirs(trees["change"])
    copy_tree(os.path.abspath(a.change), trees["change"])

    what = (f"perfbench/run.py --seconds {seconds:g} --trace 0, {a.pairs} "
            f"alternating pairs per workload of parent ({sha}) and change, "
            f"change first on odd pairs, seeds {a.seed}.."
            f"{a.seed + a.pairs - 1}; both sides run from fresh sibling "
            f"copies of their files (tools/bench_pairs.py); "
            f"{os.cpu_count()} cores")
    runs = []
    for w in workloads:
        for i in range(a.pairs):
            seed = a.seed + i
            order = ["change", "parent"] if i % 2 else ["parent", "change"]
            for side in order:
                t0 = time.time()
                res = run_once(trees[side], w, seed, seconds)
                row = {"workload": w, "seed": seed, "side": side,
                       "correct": res.get("correct", False),
                       "attempted": res.get("attempted", 0),
                       "failed": res.get("failed", 0)}
                got = res.get("metrics", {})
                row.update({m["name"]: got.get(m["name"], {}).get("value")
                            for m in bench["end_to_end"]})
                runs.append(row)
                log(f"{w} seed {seed} {side}: {time.time() - t0:.0f} s",
                    json.dumps(row))
                with open(out, "w") as fh:
                    json.dump({"what": what, "runs": runs,
                               "summary": summarize(runs, bench)}, fh,
                              indent=1)
                    fh.write("\n")
    print(json.dumps(summarize(runs, bench), indent=1))


if __name__ == "__main__":
    main()

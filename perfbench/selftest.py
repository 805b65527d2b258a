#!/usr/bin/env python3
"""Self-test of the benchmark itself, at tiny input size.

    python3 perfbench/selftest.py

From the repository root. For each workload it checks that an untraced
run prints every end-to-end metric of BENCHMARK.json with its unit and a
traced run every per-layer metric, that a run whose checked output is
deliberately corrupted (--sabotage) fails with a non-zero exit, and that
the benchmark refuses to run, without printing a result, in a directory
holding only BENCHMARK.json and perfbench/. Exit code 0 when all hold.
"""
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ["pipeline", "session", "registry"]


def run(args, cwd="."):
    r = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    last = None
    if lines:
        try:
            last = json.loads(lines[-1])
        except ValueError:
            pass
    return r.returncode, last, r.stderr


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in WORKLOADS:
        base = ["--workload", w, "--seed", "7", "--seconds", "1",
                "--size", "tiny"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, err = run(base + ["--trace", str(trace)])
            expect(rc == 0 and res is not None and res["correct"],
                   f"{w} trace={trace}: exit 0 with a correct result")
            if res is None:
                sys.stderr.write(err[-3000:])
                continue
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace={trace}: result has exactly the contract keys")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"] and
                       isinstance(got["value"], (int, float)),
                       f"{w} trace={trace}: {m['name']} in {m['unit']}")
        rc, res, _ = run(base + ["--trace", "0", "--sabotage"])
        expect(rc != 0 and res is not None and not res["correct"] and
               res["failed"] >= 1,
               f"{w}: a corrupted output fails its check and the run")

    bare = os.path.join(".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("perfbench", os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "project/target",
                                                  "project/project"))
    rc, res, _ = run(["--workload", "session", "--seed", "1", "--seconds",
                      "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and res is None,
           "without the program's sources: non-zero exit, no result")

    print("selftest:", "PASS" if not problems else f"{len(problems)} FAILED")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()

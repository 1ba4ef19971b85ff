#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (smoke mode).

    python3 perfbench/selftest.py

Run it from the repository root. For every workload it runs one untraced and
one traced smoke run and asserts that:
  - the run passes its own output checks and exits 0;
  - every metric named in BENCHMARK.json is emitted with its unit;
  - the phase attribution covers at least 95 % of the task time;
  - in daily_incremental, the jobs `Checkpoint.runIncremental` starts itself
    are attributed to `other`, not to the pipeline phase whose description
    they inherit.
Last, it checks that the benchmark fails, without printing a result, in a
directory that holds only BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys

SPEC = json.load(open("BENCHMARK.json"))


def run(workload, trace, cwd="."):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    return r.returncode, r.stdout, r.stderr


def check(cond, msg, failures):
    print(("ok   " if cond else "FAIL ") + msg)
    if not cond:
        failures.append(msg)


def main():
    failures = []
    for w in (x["name"] for x in SPEC["workloads"]):
        for trace, names in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
            code, out, err = run(w, trace)
            tag = f"{w} trace={trace}"
            check(code == 0, f"{tag}: exit code {code}", failures)
            if code != 0:
                sys.stderr.write(err[-3000:])
                continue
            res = json.loads(out.strip().splitlines()[-1])
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{tag}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}", failures)
            m = res["metrics"]
            missing = [n["name"] for n in names
                       if n["name"] not in m or m[n["name"]]["unit"] != n["unit"]]
            check(not missing, f"{tag}: every metric with its unit (missing: {missing})",
                  failures)
            check(set(m) == {n["name"] for n in names},
                  f"{tag}: no metric beyond BENCHMARK.json", failures)
            if trace == 1:
                cov = m["trace.phase_coverage"]["value"]
                check(cov >= 0.95, f"{tag}: phase coverage {cov:.3f} >= 0.95", failures)
            if trace == 1 and w == "daily_incremental":
                other = m["phase.other.jobs"]["value"]
                check(other > 0, f"{tag}: checkpoint jobs attributed to other ({other:.0f})",
                      failures)

    # the benchmark alone, without the program's sources, must fail cleanly
    bare = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(p, os.path.join(bare, p))
    code, out, _ = run(SPEC["workloads"][0]["name"], 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(code != 0 and not out.strip(), f"bare directory: exit {code}, no result", failures)

    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

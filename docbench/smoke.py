#!/usr/bin/env python3
"""Smoke test of the benchmark on tiny inputs.

    python3 docbench/smoke.py

Runs every workload untraced and traced, and checks that each prints
exactly the metrics BENCHMARK.json names, with their units, and passes
its output checks. Then runs the operator suite against a deliberately
wrong expected hash and checks that the run is marked incorrect and
exits non-zero. Exits 0 when every check holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in (res or {}).get("metrics", {}).items()}
            if code != 0 or not res or not res["correct"]:
                problems.append(f"{w} trace={trace}: exit {code}, result {res and res['correct']}")
            if got != want:
                problems.append(f"{w} trace={trace}: metrics differ: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            print(f"{w} trace={trace}: exit {code}, {len(got)} metrics", flush=True)
    expected = json.load(open(os.path.join(HERE, "expected", "operator_suite.json")))
    first = sorted(expected)[0]
    expected[first]["hash"] = str(int(expected[first]["hash"]) + 1)
    wrong = os.path.join(ROOT, ".bench_out", "smoke-wrong-expected.json")
    os.makedirs(os.path.dirname(wrong), exist_ok=True)
    with open(wrong, "w") as f:
        json.dump(expected, f)
    code, res = run("operator_suite", 0, "--expected", wrong)
    print(f"operator_suite with a wrong hash for {first}: exit {code}, "
          f"correct {res and res['correct']}", flush=True)
    if code == 0 or res is None or res["correct"]:
        problems.append("a wrong expected hash was not caught")
    os.remove(wrong)
    for p in problems:
        print("FAIL:", p)
    print("smoke ok" if not problems else f"smoke failed: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py

Run from the repository root. It builds like run.py, then
  1. runs perfbench.SelfTest in the JVM: generators are byte-deterministic
     per seed, a perturbed expected answer is counted as failed, and
     BENCHMARK.json names every metric the harness emits with its unit;
  2. runs one short untraced and one short traced measurement and checks
     that the last stdout line carries exactly the BENCHMARK.json metrics,
     by name and unit, with a correct answer.
Exits 1 on any failure.
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def check_output(bench, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"),
         "--workload", "tokens_validate", "--seed", "5", "--seconds", "1",
         "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return [f"trace {trace}: run.py exited {out.returncode}"]
    res = json.loads(lines[-1])
    want = bench["per_layer" if trace else "end_to_end"]
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"trace {trace}: result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        errors.append(f"trace {trace}: answer not correct: {res.get('failed')} failed")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        errors.append(f"trace {trace}: attempted {res.get('attempted')}")
    got = res.get("metrics", {})
    if set(got) != {m["name"] for m in want}:
        errors.append(f"trace {trace}: metric names differ: "
                      f"{sorted(set(got) ^ {m['name'] for m in want})}")
    for m in want:
        v = got.get(m["name"], {})
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            errors.append(f"trace {trace}: {m['name']} = {v}")
    return errors


def main():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                ".bench_build")
    work = os.path.join(build_dir, "work")
    os.makedirs(work, exist_ok=True)
    cp = run.build(build_dir, run.fingerprint())
    jvm = run.java(cp, work, ["--work", work], 600, main="perfbench.SelfTest")
    print(jvm.stdout, end="")
    errors = [] if jvm.returncode == 0 else ["perfbench.SelfTest failed"]
    for trace in (0, 1):
        errs = check_output(bench, trace)
        print("\n".join(f"FAIL {e}" for e in errs) if errs
              else f"PASS trace {trace}: result line matches BENCHMARK.json")
        errors += errs
    print("selftest.py: all passed" if not errors
          else f"selftest.py: {len(errors)} failed")
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()

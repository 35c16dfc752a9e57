#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input size.

    python3 kgbench/selftest.py

For every workload in BENCHMARK.json it runs kgbench/run.py twice on tiny
inputs: untraced, where the output must be correct and the result line must
carry every end_to_end metric with its unit; and traced with a deliberately
corrupted output, where the correctness check must fail and the result line
must carry every per_layer metric with its unit. Exits 0 when all pass.
"""
import json
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload, trace, corrupt):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", trace, "--tiny", "1", "--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, f"exit code {p.returncode}, no result line"
    return json.loads(lines[-1]), None


def check(workload, trace, corrupt, declared):
    result, err = run(workload, trace, corrupt)
    problems = [err] if err else []
    if result:
        want_correct = corrupt == "0"
        if result["correct"] != want_correct:
            problems.append(f"correct is {result['correct']}, expected {want_correct}")
        if want_correct and result["failed"] != 0:
            problems.append(f"{result['failed']} failed iterations")
        if not want_correct and result["failed"] < 1:
            problems.append("the corrupted output did not fail an iteration")
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        want = {m["name"]: m["unit"] for m in declared}
        if got != want:
            problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
    label = f"{workload} trace={trace} corrupt={corrupt}"
    print(f"{'ok  ' if not problems else 'FAIL'} {label}" + "".join(f"\n     {p}" for p in problems))
    return not problems


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ok = True
    for w in bench["workloads"]:
        ok &= check(w["name"], "0", "0", bench["end_to_end"])
        ok &= check(w["name"], "1", "1", bench["per_layer"])
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

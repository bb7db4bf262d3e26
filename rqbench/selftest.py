#!/usr/bin/env python3
"""Self-test of the benchmark at its smallest size (one-second runs).

Run from the root of a checkout:

    python3 rqbench/selftest.py

It checks that every workload, untraced and traced, prints a result line with
exactly the metrics BENCHMARK.json names, each with its unit; that a run with
a deliberately wrong expectation counts a failure and exits non-zero; and
that in a directory holding only BENCHMARK.json and the benchmark the command
exits non-zero without printing a result. Exits 0 when all checks pass.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd, workload, trace, *extra):
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result if isinstance(result, dict) and "metrics" in result else None


def check_result(result, specs):
    errors = []
    if set(result) != RESULT_KEYS:
        errors.append(f"result keys {sorted(result)}")
    if not (isinstance(result["attempted"], int) and result["attempted"] >= 1):
        errors.append(f"attempted {result['attempted']}")
    want = {m["name"]: m["unit"] for m in specs}
    got = result["metrics"]
    if set(got) != set(want):
        errors.append(f"metric names differ: missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if m.get("unit") != want.get(name):
            errors.append(f"{name}: unit {m.get('unit')}, BENCHMARK.json says {want.get(name)}")
        if not isinstance(m.get("value"), (int, float)):
            errors.append(f"{name}: value {m.get('value')}")
    return errors


def main():
    failures = []
    for w in SPEC["workloads"]:
        for trace, specs in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
            code, result = run(ROOT, w["name"], trace)
            label = f"{w['name']} trace={trace}"
            if code != 0 or result is None:
                failures.append(f"{label}: exit {code}, result {result}")
                continue
            errs = check_result(result, specs)
            if not result["correct"] or result["failed"] != 0:
                errs.append(f"correct={result['correct']} failed={result['failed']}")
            if trace == 0:
                errs += [f"{k} is 0" for k, m in result["metrics"].items() if m["value"] == 0]
            failures += [f"{label}: {e}" for e in errs]
            print(f"{label}: {'ok' if not errs else 'FAIL'}", flush=True)

    code, result = run(ROOT, SPEC["workloads"][0]["name"], 0, "--inject-wrong")
    ok = code != 0 and result is not None and not result["correct"] and result["failed"] == 1
    print(f"wrong expectation counted as a failure: {'ok' if ok else 'FAIL'}", flush=True)
    if not ok:
        failures.append(f"inject-wrong: exit {code}, result {result}")

    bare = ROOT / ".bench_build" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("target"))
    code, result = run(bare, SPEC["workloads"][0]["name"], 0)
    shutil.rmtree(bare)
    ok = code != 0 and result is None
    print(f"no library sources: exit {code}, no result: {'ok' if ok else 'FAIL'}", flush=True)
    if not ok:
        failures.append(f"bare directory: exit {code}, result {result}")

    for f in failures:
        print(f"FAIL {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

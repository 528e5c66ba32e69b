"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

For every workload of BENCHMARK.json, untraced and traced, it runs the
benchmark command on a 2048-row table and asserts that the last line
names exactly the metrics of BENCHMARK.json, each with its unit and a
number, that the outputs passed their checks, and that every per-layer
metric metrics.json marks as measured on the workload is non-zero. It
also asserts that the command fails without printing a result in a
directory that holds only BENCHMARK.json and the benchmark's files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ROWS = 2048          # 64 part keys of 32 rows; 3 rows per i % 1009 selector


def check_run(spec: dict, layers: dict, workload: str, trace: int) -> list[str]:
    cmd = spec["command"] + ["--workload", workload, "--seed", "7",
                             "--seconds", "1", "--trace", str(trace),
                             "--rows", str(ROWS)]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                          timeout=600)
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not (result["correct"] and result["failed"] == 0
            and result["attempted"] >= 1):
        errors.append(f"{where}: correct={result['correct']} "
                      f"attempted={result['attempted']} failed={result['failed']}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    if sorted(got) != sorted(m["name"] for m in want):
        errors.append(f"{where}: metric names differ from BENCHMARK.json")
    for m in want:
        entry = got.get(m["name"], {})
        if entry.get("unit") != m["unit"] or \
                not isinstance(entry.get("value"), (int, float)):
            errors.append(f"{where}: {m['name']} printed as {entry}")
        elif trace and workload in layers[m["name"]]["measured_on"] \
                and not layers[m["name"]].get("may_be_zero") \
                and entry["value"] == 0:
            errors.append(f"{where}: {m['name']} reads 0 on a workload "
                          "that calls its layer")
        elif not trace and entry["value"] <= 0:
            errors.append(f"{where}: end-to-end {m['name']} is not positive")
    return errors


def check_bare_directory(spec: dict) -> list[str]:
    """Only BENCHMARK.json and the benchmark's paths: must fail fast."""
    bare = os.path.join(REPO, ".perfbench_runs", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(REPO, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            spec["command"] + ["--workload", spec["workloads"][0]["name"],
                               "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory: exit {proc.returncode}, "
                f"stdout {proc.stdout[-300:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        layers = json.load(f)["per_layer"]
    errors = check_bare_directory(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors += check_run(spec, layers, w["name"], trace)
    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

"""Smoke check of the benchmark, and its tracing overhead.

Run from the repository root:

    python3 ragbench/selfcheck.py            # tiny inputs, about 3 minutes
    python3 ragbench/selfcheck.py --full     # measured sizes, overhead report

For every workload in BENCHMARK.json it runs the benchmark once untraced
and once traced, and checks that the last line of each run is the result
object with exactly the metrics BENCHMARK.json lists, in their units, and
that every op was correct. It also checks that an unknown workload name
and a directory without the engine both exit non-zero without a result.
It then prints the tracing overhead per workload: the traced run's median
op time minus the untraced one's. Exits non-zero on any failed check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

KEYS = {"correct", "attempted", "failed", "metrics"}


def _run(cmd: list[str], cwd: str, args: list[str]) -> tuple[int, str]:
    p = subprocess.run(cmd + args, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout


def _check_result(stdout: str, expected: dict[str, str]) -> list[str]:
    lines = stdout.strip().splitlines()
    if not lines:
        return ["no output"]
    result = json.loads(lines[-1])
    errors = []
    if set(result) != KEYS:
        errors.append(f"result keys {sorted(result)}")
    if not (isinstance(result.get("attempted"), int) and result["attempted"] >= 1):
        errors.append("attempted is not a positive whole number")
    if not result.get("correct") or result.get("failed") != 0:
        errors.append(f"correct={result.get('correct')} failed={result.get('failed')}")
    metrics = result.get("metrics", {})
    if set(metrics) != set(expected):
        errors.append(f"metric names differ: {sorted(set(metrics) ^ set(expected))}")
    for name, m in metrics.items():
        if name in expected and (m.get("unit") != expected[name]
                                 or not isinstance(m.get("value"), (int, float))):
            errors.append(f"{name}: {m}")
    return errors


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--full", action="store_true", help="measured sizes instead of tiny")
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cmd = bench["command"]
    seconds = str(bench["run_seconds"] if args.full else 1)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    failures = 0

    for workload in (w["name"] for w in bench["workloads"]):
        p50 = {}
        for trace, expected in (("0", e2e), ("1", layer)):
            rc, out = _run(cmd, root, ["--workload", workload, "--seed", str(args.seed),
                                       "--seconds", seconds, "--trace", trace]
                           + ([] if args.full else ["--tiny"]))
            errors = [f"exit code {rc}"] if rc else _check_result(out, expected)
            failures += bool(errors)
            print(f"{workload} trace={trace}: {'ok' if not errors else '; '.join(errors)}")
            if not rc and out.strip():
                m = json.loads(out.strip().splitlines()[-1])["metrics"]
                p50[trace] = m.get("op_p50_s", m.get("trace.op_p50_s", {})).get("value")
        if None not in (p50.get("0"), p50.get("1")):
            print(f"{workload} tracing overhead: op_p50 {p50['0']:.4f} s untraced, "
                  f"{p50['1']:.4f} s traced, {p50['1'] - p50['0']:+.4f} s")

    rc, out = _run(cmd, root, ["--workload", "no_such_workload", "--seed", "1",
                               "--seconds", "1", "--trace", "0"])
    ok = rc != 0 and not out.strip()
    failures += not ok
    print(f"unknown workload rejected: {'ok' if ok else f'exit {rc}, output {out!r}'}")

    bare = tempfile.mkdtemp(prefix="ragbench-bare-", dir=root)
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(root, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, out = _run(cmd, bare, ["--workload", bench["workloads"][0]["name"],
                                   "--seed", "1", "--seconds", "1", "--trace", "0"])
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    ok = rc != 0 and not out.strip()
    failures += not ok
    print(f"directory without the engine rejected: {'ok' if ok else f'exit {rc}'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

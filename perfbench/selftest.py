"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py [workload ...]

For each workload it runs ``run.py`` twice:

- untraced: the result line is correct, ``fail_rate`` is 0, and every
  ``end_to_end`` metric of BENCHMARK.json is printed with its unit;
- traced, with a deliberately wrong expected output: every ``per_layer``
  metric is printed with its unit, and the corrupted expectation shows up
  as failed operations and a ``fail_rate`` above 0.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("render_batch", "stream_tail", "query_mix")


def _run(workload: str, trace: int, wrong: bool) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    if wrong:
        cmd.append("--wrong-expected")
    proc = subprocess.run(cmd, cwd=REPO_ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def _check_metrics(result: dict, spec: list[dict], where: str) -> list[str]:
    errors = []
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    if set(got) != set(want):
        errors.append(f"{where}: metrics {sorted(set(got) ^ set(want))} missing or extra")
    for name, unit in want.items():
        m = got.get(name, {})
        if m.get("unit") != unit:
            errors.append(f"{where}: {name} unit {m.get('unit')!r} != {unit!r}")
        if not isinstance(m.get("value"), (int, float)):
            errors.append(f"{where}: {name} value {m.get('value')!r} is not a number")
    return errors


def check(workload: str, spec: dict) -> list[str]:
    errors = []
    report, result = _run(workload, 0, False)
    errors += _check_metrics(result, spec["end_to_end"], f"{workload} untraced")
    if not result["correct"] or result["failed"] or report["fail_rate"] != 0:
        errors.append(f"{workload} untraced: not correct: {report['problems']}")
    for name, m in report["metrics"].items():
        if not m.get("unit") or "n" not in m:
            errors.append(f"{workload} report: {name} lacks a unit or sample count")

    report, result = _run(workload, 1, True)
    errors += _check_metrics(result, spec["per_layer"], f"{workload} traced")
    if result["correct"] or result["failed"] < 1 or report["fail_rate"] <= 0:
        errors.append(f"{workload} traced: wrong expected output was not caught")
    return errors


def main(argv: list[str]) -> int:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = []
    for workload in argv or WORKLOADS:
        found = check(workload, spec)
        print(f"{workload}: {'ok' if not found else 'FAILED'}", flush=True)
        errors += found
    for e in errors:
        print("  " + e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

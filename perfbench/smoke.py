"""Smoke test of the benchmark itself, on tiny inputs.

    python3 perfbench/smoke.py [workload ...]

For each workload (default: all in BENCHMARK.json) it checks that

* an untraced run prints every end-to-end metric of BENCHMARK.json with its
  unit, a positive value, and a correct result with no failures;
* a traced run prints every per-layer metric with its unit;
* a run whose outputs are damaged before the check reports
  ``correct: false`` and counts the damaged operations as failed;

and, once, that the benchmark refuses to run (non-zero exit, no result) in a
directory holding only BENCHMARK.json and ``perfbench/``.  Exits non-zero on
the first failed expectation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
TIMEOUT_S = 200


def _run(cwd: str, *args: str):
    """(exit code, parsed last stdout line or None) of one benchmark run."""
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--seed", "0", "--seconds", "1", *args],
            cwd=cwd,
            capture_output=True,
            text=True,
            timeout=TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        return "timeout", None
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def _expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def _metrics_ok(res: dict, wanted: list, positive: bool) -> bool:
    m = res["metrics"]
    if set(m) != {w["name"] for w in wanted}:
        return False
    for w in wanted:
        v = m[w["name"]]
        if v["unit"] != w["unit"] or not isinstance(v["value"], (int, float)):
            return False
        if positive and not v["value"] > 0:
            return False
    return True


def main(names) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for name in names or [w["name"] for w in spec["workloads"]]:
        tiny = ("--workload", name, "--size", "tiny")
        code, res = _run(REPO, *tiny, "--trace", "0")
        _expect(code == 0 and res is not None, f"{name}: untraced run exits 0 with a result")
        _expect(
            res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
            f"{name}: outputs correct, nothing failed",
        )
        _expect(_metrics_ok(res, spec["end_to_end"], True), f"{name}: every end-to-end metric, unit, > 0")
        code, res = _run(REPO, *tiny, "--trace", "1")
        _expect(code == 0 and res is not None and res["correct"], f"{name}: traced run exits 0, correct")
        _expect(_metrics_ok(res, spec["per_layer"], False), f"{name}: every per-layer metric with its unit")
        code, res = _run(REPO, *tiny, "--trace", "0", "--corrupt")
        _expect(
            code == 0 and res is not None and res["correct"] is False
            and res["failed"] == res["attempted"],
            f"{name}: damaged outputs fail the check",
        )

    bare = os.path.join(BENCH_DIR, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(
        BENCH_DIR, os.path.join(bare, "perfbench"),
        ignore=shutil.ignore_patterns(".inputs", ".out", ".work", "__pycache__"),
    )
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    code, res = _run(bare, "--workload", spec["workloads"][0]["name"])
    shutil.rmtree(bare, ignore_errors=True)
    _expect(code not in (0, "timeout") and res is None, "bare directory: non-zero exit, no result")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

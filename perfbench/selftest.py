"""Self-test of the benchmark: one short run of every workload at sf0.001.

Run from the repository root::

    python3 perfbench/selftest.py

For each workload it runs ``run.py`` untraced and traced, once each, and
checks that the result line names exactly the metrics and units that
``BENCHMARK.json`` lists, that every value is a finite number, and that
nothing failed (``fail_ratio`` 0). It then checks that the benchmark refuses
to run, with a non-zero exit and no result line, in a directory that holds
only ``BENCHMARK.json`` and the benchmark's own files.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _check_result(bench: dict, workload: str, trace: int) -> None:
    p = _run(ROOT, workload, trace)
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise SystemExit(f"{workload} trace={trace}: metrics {got} != BENCHMARK.json {want}")
    bad = [k for k, v in result["metrics"].items() if not math.isfinite(v["value"])]
    if bad:
        raise SystemExit(f"{workload} trace={trace}: non-finite values for {bad}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        fails = [line for line in p.stdout.splitlines() if line.startswith("FAIL")]
        raise SystemExit(f"{workload} trace={trace}: {result['failed']} failed\n" + "\n".join(fails))
    if trace and result["metrics"]["fail_ratio"]["value"] != 0:
        raise SystemExit(f"{workload}: fail_ratio {result['metrics']['fail_ratio']['value']}")
    print(f"ok {workload} trace={trace} attempted={result['attempted']}")


def _check_refuses_without_program() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(bare, "olap", 0)
        lines = p.stdout.strip().splitlines()
        if p.returncode == 0 or (lines and lines[-1].startswith("{")):
            raise SystemExit(f"ran without the program: exit {p.returncode}, stdout {p.stdout!r}")
    print(f"ok refuses without the program (exit {p.returncode})")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    _check_refuses_without_program()
    for w in bench["workloads"]:
        for trace in (0, 1):
            _check_result(bench, w["name"], trace)


if __name__ == "__main__":
    main()

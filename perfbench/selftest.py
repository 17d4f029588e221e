"""Self-test of the benchmark at the tiny scale (about sf0.001).

For every workload in ``BENCHMARK.json`` (plus ``sql_mix``) it checks
that an untraced run prints every end-to-end metric and a traced run
every per-layer metric, each with its declared unit, and that a run
whose result lost one row (``--corrupt``) fails the correctness check.
Run from the repository root::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path


def run(workload: str, *flags: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--scale", "tiny", *flags]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect_metrics(result: dict, declared: list[dict], what: str) -> None:
    got = result["metrics"]
    for m in declared:
        assert m["name"] in got, f"{what}: {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{what}: {m['name']} unit"
        assert isinstance(got[m["name"]]["value"], (int, float)), f"{what}: {m['name']}"
    assert set(got) == {m["name"] for m in declared}, f"{what}: extra metrics"


def main() -> int:
    spec = json.loads(Path("BENCHMARK.json").read_text())
    workloads = [w["name"] for w in spec["workloads"]] + ["sql_mix"]
    for w in workloads:
        plain = run(w, "--trace", "0")
        assert plain["correct"] and plain["failed"] == 0, f"{w}: {plain}"
        expect_metrics(plain, spec["end_to_end"], f"{w} --trace 0")
        traced = run(w, "--trace", "1")
        assert traced["correct"], f"{w} traced: {traced}"
        expect_metrics(traced, spec["per_layer"], f"{w} --trace 1")
        broken = run(w, "--trace", "0", "--corrupt")
        assert not broken["correct"] and broken["failed"] > 0, f"{w} corrupt: {broken}"
        print(f"ok {w}", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Smoke test of the benchmark at sf0.001 with short stream windows.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced and
checks that each run is correct, that every metric BENCHMARK.json names
prints with its unit, that the trace records carry their fields, and
that the seed alone fixes the query order and the stream keys. Takes a
few minutes: each run starts its own Spark JVM.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RECORD_FIELDS = {
    "query": {"build_s", "exec_s", "plan_exchanges", "plan_python_nodes",
              "persisted_left", "build_log", "exec_log"},
    "scenario": {"build_s", "run_id", "trigger_ms", "rows_per_s", "cpu_s",
                 "add_batch_ms", "state_rows", "state_commit_ms",
                 "state_instances", "late_dropped", "rows_out", "build_log",
                 "batch_log"},
}


def run(workload: str, trace: int, seed: int = 7) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit "
                             f"{out.returncode}\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_result(result: dict, spec: list[dict], what: str) -> None:
    assert result["correct"] and result["failed"] == 0, (what, result)
    assert result["attempted"] >= 1, what
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in spec}, (what, sorted(metrics))
    for m in spec:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], (what, m["name"], got)
        assert isinstance(got["value"], (int, float)), (what, m["name"], got)


def check_trace(workload: str, seed: int = 7) -> None:
    path = ROOT / ".perfbench" / "trace" / f"{workload}-seed{seed}.jsonl"
    records = [json.loads(line) for line in path.read_text().splitlines()]
    assert records, path
    for rec in records:
        kind = "query" if "query" in rec else "scenario"
        missing = RECORD_FIELDS[kind] - set(rec)
        assert not missing, (workload, rec.get(kind), sorted(missing))


def check_seed() -> None:
    sys.path.insert(0, str(HERE))
    from run import PIPELINES, seeded_order, salted_key

    assert seeded_order(PIPELINES, 3) == seeded_order(PIPELINES, 3)
    assert sorted(seeded_order(PIPELINES, 3)) == sorted(PIPELINES)
    keys = 2000
    for seed in (1, 2):
        salted = [salted_key(v, keys, seed) for v in range(keys)]
        assert sorted(salted) == list(range(keys)), seed  # a bijection
        assert salted == [salted_key(v, keys, seed) for v in range(keys)]
    assert salted_key(0, keys, 1) != salted_key(0, keys, 2)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_seed()
    for w in spec["workloads"]:
        name = w["name"]
        check_result(run(name, 0), spec["end_to_end"], f"{name} untraced")
        check_result(run(name, 1), spec["per_layer"], f"{name} traced")
        check_trace(name)
        print(f"smoke: {name} ok", flush=True)
    print("smoke: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

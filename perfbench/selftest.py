"""Tiny-scale self-test of the benchmark.

Runs every workload of ``BENCHMARK.json`` once untraced and once
traced on a 50-note vault (the pipeline keeps its own small tables),
and fails unless each run's output checks passed and it printed every
declared metric, by name and with its declared unit, plus the
per-class figures. From the repository root:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

INFO = {
    "vault_read": ["index_ready_s", "read_p50_ms", "read_p90_ms", "semantic_p50_ms", "inspect_p50_ms"],
    "vault_write": ["read_p50_ms", "read_after_write_p50_ms", "update_p50_ms", "batch_dir_p50_ms", "batch_vault_p50_ms"],
    "pipeline": ["pipeline_wall_s"],
}
COMMON_INFO = ["setup_cold_s", "op_mean_ms", "cpu_s", "failed_share"]


def run(workload: str, trace: int) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1]), lines[:-1]


def check(spec: dict) -> list[str]:
    failures = []
    for w in spec["workloads"]:
        name = w["name"]
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            result, lines = run(name, trace)
            label = f"{name} trace={trace}"
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{label}: result keys {sorted(result)}")
            if not result.get("correct"):
                failures.append(f"{label}: output checks failed: {[l for l in lines if l.startswith('problem')]}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            want = {m["name"]: m["unit"] for m in declared}
            if got != want:
                failures.append(f"{label}: metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
            info = {l.split()[2] for l in lines if l.startswith(f"info {name} ")}
            missing = [m for m in INFO[name] + COMMON_INFO if m not in info]
            if missing:
                failures.append(f"{label}: per-class figures not printed: {missing}")
    return failures


def test_benchmark_self_test() -> None:
    failures = check(json.loads((ROOT / "BENCHMARK.json").read_text()))
    assert not failures, "\n".join(failures)


if __name__ == "__main__":
    problems = check(json.loads((ROOT / "BENCHMARK.json").read_text()))
    for p in problems:
        print(p)
    print("self-test", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)

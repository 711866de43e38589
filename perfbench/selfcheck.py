"""Smoke check of the benchmark itself.

Runs every workload at sf0.001 on a few queries, untraced and traced,
and asserts that the output line has the contract's keys, that every
metric named in BENCHMARK.json is emitted with its unit, and that every
result verified against DuckDB. Also checks that the pinned samples
exist in the registry and have stored oracle fingerprints.

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402


def check_samples() -> None:
    from mini_sql_engine_spark.operators import ALL_QUERIES

    with open(os.path.join(HERE, "fingerprints.json")) as fh:
        stored = json.load(fh)
    rule = [n for n in workloads.systematic_batch_sample()[8::16] if n not in workloads.BATCH_EXCLUDED]
    assert tuple(rule) == workloads.BATCH_SAMPLE, (
        "BATCH_SAMPLE no longer follows its sampling rule"
    )
    assert tuple(workloads.sql_surface()[::9]) == workloads.SQL_REGISTERED, (
        "SQL_REGISTERED no longer follows its sampling rule"
    )
    for wl, names in workloads.REGISTERED.items():
        for name in names:
            assert name in ALL_QUERIES, f"{wl}: {name} is not registered"
            for scale, fps in stored.items():
                assert name in fps, f"{wl}: no {scale} fingerprint for {name}"


def check_run(workload: str, trace: int, spec: dict) -> None:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace),
        "--scale", "sf0.001", "--limit", "3",
    ]  # fmt: skip
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, proc.stdout
    assert result["attempted"] >= 1
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}, (
        sorted(set(result["metrics"]) ^ {m["name"] for m in wanted})
    )
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)
    print(f"ok {workload} trace={trace}: {result['attempted']} queries verified")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    check_samples()
    for workload in workloads.WORKLOADS:
        for trace in (0, 1):
            check_run(workload, trace, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())

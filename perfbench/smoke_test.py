"""Smoke test and failure-injection self-test for the benchmark.

    python3 perfbench/smoke_test.py

Runs every workload of BENCHMARK.json on sf0.001 tables, untraced and
traced, and checks that each run exits 0, prints every metric the file
names with its unit, and ends with the result line the benchmark
contract asks for. Then runs one workload with an injected failing op
and checks that the failure shows in the result, the run record and the
exit code. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload: str, trace: int, *extra: str) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{cmd} printed nothing; stderr tail:\n{proc.stderr[-2000:]}")
    return proc.returncode, lines


def check_metrics(lines: list[str], specs: list[dict], label: str) -> None:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, (label, sorted(result))
    assert result["attempted"] >= 1 and result["correct"] is True, (label, result)
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in specs}, (label, sorted(metrics))
    printed = {line.split()[0]: line.split() for line in lines[:-1] if line.strip()}
    for m in specs:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float)), (label, m, got)
        row = printed.get(m["name"])
        assert row is not None and row[2] == m["unit"], (label, m["name"], row)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        for trace, metrics in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            label = f"{w['name']} trace={trace}"
            rc, lines = bench(w["name"], trace)
            assert rc == 0, (label, rc, lines[-3:])
            check_metrics(lines, metrics, label)
            print(f"ok  {label}", flush=True)

    rc, lines = bench("query_mix", 0, "--inject-failure", "1")
    result = json.loads(lines[-1])
    record = json.loads(next(line for line in lines if line.startswith("record "))[len("record "):])
    assert rc != 0, ("injected failure must fail the run", rc)
    assert result["failed"] == 1 and result["correct"] is False, result
    assert result["metrics"]["success_rate"]["value"] < 1, result
    assert record["error_rate"] == 1 / result["attempted"], record
    assert any("injected failure" in e for e in record["errors"]), record["errors"]
    print("ok  injected failure shows in success_rate, error_rate and the exit code")


if __name__ == "__main__":
    main()

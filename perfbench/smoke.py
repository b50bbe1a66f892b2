#!/usr/bin/env python3
"""The benchmark's own smoke test, at scale factor 0.001.

    python3 perfbench/smoke.py

Two short runs of ``perfbench/run.py`` on ``etl_load`` (seed 1 with one
expected digest deliberately corrupted, untraced; seed 2, traced). It
asserts that:

- every metric of ``BENCHMARK.json`` is printed with its unit, and the last
  line is the result object with the declared metric set; the traced run
  prints every metric that ``perfbench/metrics.json`` describes;
- the corrupted expected digest is reported as a failed op, and nothing else
  fails;
- the two seeds run the ops in different orders but expect identical oracle
  digests.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORRUPT = "tpch_q1"


def run(seed: int, trace: int, *extra: str) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "etl_load",
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--scale", "0.001", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return p.stdout.strip().splitlines()


def field(lines: list[str], prefix: str) -> str:
    return next(line[len(prefix):].strip() for line in lines if line.startswith(prefix))


def check_metrics(lines: list[str], spec: list[dict]) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert set(result["metrics"]) == {m["name"] for m in spec}, set(result["metrics"])
    for m in spec:
        printed = [ln.split() for ln in lines[:-1] if ln.split(" ")[0] == m["name"]]
        assert printed and printed[0][2] == m["unit"], (m, printed)
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "metrics.json")) as fh:
        described = json.load(fh)["metrics"]

    a = run(1, 0, "--corrupt-digest", CORRUPT)
    res_a = check_metrics(a, spec["end_to_end"])
    failed = [ln for ln in a if ln.startswith("FAILED ")]
    assert res_a["failed"] >= 1 and not res_a["correct"], res_a
    assert all(ln.startswith(f"FAILED {CORRUPT}:") for ln in failed), failed
    assert res_a["failed"] == len(failed), (res_a, failed)
    print(f"corrupted digest: {len(failed)} failed of {res_a['attempted']} ops")

    b = run(2, 1)
    res_b = check_metrics(b, spec["per_layer"])
    assert res_b["correct"] and res_b["failed"] == 0, [ln for ln in b if ln.startswith("FAILED")]
    printed = {ln.split(" ")[0] for ln in b[:-1]}
    assert set(described) <= printed, set(described) - printed
    print(f"traced run: {len(res_b['metrics'])} per-layer metrics, {res_b['attempted']} ops")

    order_a, order_b = field(a, "first round order"), field(b, "first round order")
    assert order_a != order_b, order_a
    assert field(a, "oracle digest") == field(b, "oracle digest")
    print("seeds 1 and 2: different op orders, identical oracle digests")
    print("smoke OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())

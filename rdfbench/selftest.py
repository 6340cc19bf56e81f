"""Small-scale self-test of the benchmark (about five minutes on 4 cores).

    python3 rdfbench/selftest.py

Run from the repository root. Runs each workload on a small input
(20 customers), once untraced and once traced, and checks that

- the last output line holds exactly ``correct``, ``attempted``,
  ``failed`` and ``metrics``, with ``attempted`` at least 1;
- the metrics are exactly ``BENCHMARK.json``'s ``end_to_end`` list
  (untraced) or ``per_layer`` list (traced), each with its unit;
- the correctness gate passed: ``correct`` is true, ``failed`` is 0;
- one corrupted expected answer makes the gate fail an operation.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "2",
         "--trace", str(trace), "--customers", "20", "--selftest"],
        capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"{workload} trace={trace}: exit {proc.returncode}\n"
            + proc.stderr[-3000:]
        )
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check(workload: str, trace: int, spec: dict) -> list[str]:
    details, result = run(workload, trace)
    tag = f"{workload} trace={trace}"
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{tag}: result keys {sorted(result)}")
    if not (isinstance(result["attempted"], int) and result["attempted"] >= 1):
        problems.append(f"{tag}: attempted {result['attempted']!r}")
    if not result["correct"] or result["failed"] != 0:
        problems.append(
            f"{tag}: gate failed: {result['failed']} "
            f"{details.get('failures')}"
        )
    want = {
        m["name"]: m["unit"]
        for m in spec["per_layer" if trace else "end_to_end"]
    }
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != want:
        problems.append(
            f"{tag}: metrics differ: missing {sorted(set(want) - set(got))}"
            f", extra {sorted(set(got) - set(want))}, units "
            f"{sorted(k for k in want if k in got and got[k] != want[k])}"
        )
    for k, v in result["metrics"].items():
        value = v.get("value")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            problems.append(f"{tag}: {k} = {value!r}")
        elif not trace and value <= 0:
            problems.append(f"{tag}: end-to-end {k} = {value!r}")
    if details["facts"].get("gate_check_failures", 0) < 1:
        problems.append(f"{tag}: a corrupted expected answer passed")
    print(f"{tag}: {'ok' if not problems else 'FAILED'} "
          f"({result['attempted']} operations)", flush=True)
    return problems


def main() -> int:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for workload in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            problems += check(workload, trace, spec)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

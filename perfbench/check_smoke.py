"""Smoke test: every named metric prints, on a tiny configuration.

    python3 perfbench/check_smoke.py

Runs all three workloads on the tiny input profile, untraced and traced,
through ``perfbench/run.py --workload all``.  Asserts that each result
object is correct and carries exactly the end-to-end (untraced) or
per-layer (traced) metrics ``BENCHMARK.json`` names, each a finite number
with the declared unit, and that the human-readable lines before it name
every end-to-end metric with its unit and sample count.
"""

from __future__ import annotations

import json
import math
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(trace: int) -> tuple[list[str], list[dict]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
         "--profile", "tiny", "--seed", "1", "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=1800,
    )
    assert proc.returncode == 0, proc.stdout[-2000:]
    lines = proc.stdout.strip().splitlines()
    results = [json.loads(x) for x in lines[-3:]]
    return lines[:-3], results


def check(results: list[dict], spec: list[dict]) -> None:
    for r in results:
        assert r["correct"] is True and r["failed"] == 0, r
        assert r["attempted"] >= 1, r
        want = {m["name"]: m["unit"] for m in spec}
        assert set(r["metrics"]) == set(want), sorted(set(r["metrics"]) ^ set(want))
        for name, m in r["metrics"].items():
            assert m["unit"] == want[name], (name, m)
            assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (name, m)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lines, results = run(0)
    check(results, bench["end_to_end"])
    for m in bench["end_to_end"]:
        pat = re.compile(rf"^{re.escape(m['name'])} = \S+ {re.escape(m['unit'])} \(samples \d+\)$")
        hits = [x for x in lines if pat.match(x)]
        assert len(hits) == len(results), (m["name"], len(hits))
    assert sum(x.startswith("error_rate = ") for x in lines) == len(results)
    print("untraced: every end-to-end metric printed")
    _, results = run(1)
    check(results, bench["per_layer"])
    print("traced: every per-layer metric printed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

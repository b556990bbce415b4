"""Smoke test of the benchmark at tiny sizes.

    python3 kgbench/smoke.py

Runs every workload once untraced and once traced (``--size tiny``) and
checks that each run exits 0, passes its output checks and prints every
metric BENCHMARK.json names, with its unit, both in the table and in the
result line. Takes a few minutes: each run starts its own Spark driver.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, trace: int, expected: list[dict]) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return [f"{workload} trace={trace}: exit {out.returncode}\n"
                f"{out.stderr[-2000:]}"]
    result = json.loads(lines[-1])
    errors = []
    if not result["correct"] or result["failed"]:
        errors.append(f"{workload} trace={trace}: checks failed")
    table = {ln.split()[0]: ln.split()[-1] for ln in lines[:-1]
             if not ln.startswith("#")}
    for m in expected:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            errors.append(f"{workload} trace={trace}: {m['name']} missing or "
                          f"wrong unit in the result line: {got}")
        if table.get(m["name"]) != m["unit"]:
            errors.append(f"{workload} trace={trace}: {m['name']} missing or "
                          f"wrong unit in the table")
    print(f"{workload} trace={trace}: "
          f"{'ok' if not errors else 'FAILED'} "
          f"({len(result['metrics'])} metrics)", flush=True)
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    for w in (w["name"] for w in bench["workloads"]):
        errors += run_once(w, 0, bench["end_to_end"])
        errors += run_once(w, 1, bench["per_layer"])
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

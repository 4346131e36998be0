#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (~2k docs per workload).

    python3 perfbench/selftest.py

1. The oracle comparison rejects a nudged score and two swapped docIDs.
2. Every workload runs untraced and traced; the last stdout line must carry
   every metric BENCHMARK.json names for that mode, with its unit, and no
   failed check.
3. A run whose first checked result is perturbed must report a failure.

Exits 0 when all of that holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from oracle import matches  # noqa: E402

WORKLOADS = ("search-single", "search-batch", "ingest")


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    errors = []
    exact = [(11, 3.5), (7, 2.25), (3, 2.25)]
    if not matches(exact, list(exact)):
        errors.append("oracle rejects an identical result")
    if matches(exact, [(11, 3.5 * (1 + 1e-8)), *exact[1:]]):
        errors.append("oracle accepts a score nudged by 1e-8 relative")
    if matches(exact, [exact[1], exact[0], exact[2]]):
        errors.append("oracle accepts two swapped docIDs")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(workload, trace)
            for m in spec[key]:
                got = out["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    errors.append(f"{workload} trace={trace}: {m['name']} missing or unit != {m['unit']}")
            if set(out["metrics"]) != {m["name"] for m in spec[key]}:
                errors.append(f"{workload} trace={trace}: metric set differs from BENCHMARK.json")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                errors.append(f"{workload} trace={trace}: {out['failed']} of {out['attempted']} failed")
            print(f"{workload} trace={trace}: attempted={out['attempted']} failed={out['failed']}")

    out = run("search-single", 0, "--perturb")
    if out["correct"] or out["failed"] < 1:
        errors.append("a perturbed result did not raise failed_frac")
    print(f"perturbed run: failed={out['failed']} of {out['attempted']}")

    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Quick self-test of the benchmark at a tiny scale factor.

    python3 perfbench/selftest.py [--all]

Runs every workload named in BENCHMARK.json (``--all``: every workload
``run.py`` knows) at sf0.001 for one second, untraced and traced, and
checks the output contract: the last stdout line is one JSON object
with exactly ``correct``/``attempted``/``failed``/``metrics``; the
metrics are
exactly the end-to-end (``--trace 0``) or per-layer (``--trace 1``)
names of BENCHMARK.json, each with its unit and a finite value; the
detail line before it carries the seed and a computed
``failed_share`` equal to failed / attempted. Exits non-zero on the
first violation.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SF = 0.001


def check(workload: str, trace: int, spec: dict) -> str:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--sf", str(SF),
    ]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{workload}: result keys {sorted(result)}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    if list(got) != [m["name"] for m in want]:
        raise SystemExit(f"{workload} trace={trace}: metrics {list(got)}")
    for m in want:
        entry = got[m["name"]]
        if entry["unit"] != m["unit"] or not math.isfinite(entry["value"]):
            raise SystemExit(f"{workload}: bad metric {m['name']}: {entry}")
    share = result["failed"] / result["attempted"]
    if detail.get("seed") != 7 or detail.get("failed_share") != share:
        raise SystemExit(f"{workload}: detail seed/failed_share wrong: {detail}")
    if not result["correct"]:
        raise SystemExit(f"{workload}: incorrect output: {detail['errors']}")
    return f"{workload} trace={trace}: {result['attempted']} ops, failed_share {share:g}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if args.all:
        sys.path.insert(0, HERE)
        from run import WORKLOADS

        names += [n for n in WORKLOADS if n not in names]
    for name in names:
        for trace in (0, 1):
            print(check(name, trace, spec), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

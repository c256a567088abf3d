#!/usr/bin/env python3
"""Per-operation reconciliation of traced layer times with untraced wall time.

    python3 perfbench/reconcile.py WORKLOAD

Reads the result records ``run.py`` left in ``perfbench/.work/results``
for WORKLOAD: traced runs (``--trace 1``) and untraced ones
(``--trace 0``). For each operation name it compares the median over
traced runs of ``registry.construct_s + exec.execute_s`` (for
``price_serve``: ``pricing.build_s + pricing.head_s``, i.e. the
``score_one`` call) with the median untraced wall time, and prints the
ratio. It also prints the tracing overhead: the traced run's
``latency_p50_s``/``ops_per_s`` against the untraced medians. Exits 1
if an operation's ratio is off by more than ``TOLERANCE``, the layered
benchmark's acceptance rule: per operation, construct + execute agrees
with the untraced wall time within 10 %.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
TOLERANCE = 0.10


def _load(workload: str, trace: int) -> list[dict]:
    pattern = os.path.join(HERE, ".work", "results", workload, f"trace{trace}-seed*.json")
    out = []
    for path in sorted(glob.glob(pattern)):
        with open(path) as fh:
            out.append(json.load(fh))
    return out


def _per_op(runs: list[dict], traced: bool) -> dict[str, list[float]]:
    times: dict[str, list[float]] = {}
    for run in runs:
        for name, latency, construct, execute in run["ops"]:
            if traced and name != "price":
                value = construct + execute
            else:
                value = latency
            times.setdefault(name, []).append(value)
    return times


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload")
    args = ap.parse_args()
    traced, plain = _load(args.workload, 1), _load(args.workload, 0)
    if not traced or not plain:
        raise SystemExit("need at least one traced and one untraced run")
    t_ops, p_ops = _per_op(traced, True), _per_op(plain, False)
    worst = 0.0
    print(f"{'operation':<10} {'traced':>9} {'untraced':>9} {'ratio':>7}")
    for name in sorted(set(t_ops) & set(p_ops)):
        t, p = statistics.median(t_ops[name]), statistics.median(p_ops[name])
        worst = max(worst, abs(t / p - 1))
        print(f"{name:<10} {t:9.3f} {p:9.3f} {t / p:7.3f}")
    for key in ("latency_p50_s", "ops_per_s"):
        t = statistics.median(r["result"]["metrics"][f"trace.{key}"]["value"] for r in traced)
        p = statistics.median(r["result"]["metrics"][key]["value"] for r in plain)
        print(f"tracing overhead on {key}: traced {t:.4g}, untraced {p:.4g} ({t / p - 1:+.1%})")
    print(f"runs: {len(traced)} traced, {len(plain)} untraced; worst per-op deviation {worst:.1%}")
    return 0 if worst <= TOLERANCE else 1


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at tiny size, traced and
untraced, must pass its output check and emit every metric that
BENCHMARK.json names, with that metric's unit.  Run from a checkout root::

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import subprocess
import sys


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []
    for wl in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + [
                "--workload", wl["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--scale", "tiny"]
            res = subprocess.run(cmd, capture_output=True, text=True, check=False)
            where = f"{wl['name']} trace={trace}"
            if res.returncode != 0:
                problems.append(f"{where}: exit {res.returncode}: {res.stderr[-2000:]}")
                continue
            out = json.loads(res.stdout.strip().splitlines()[-1])
            if not out["correct"] or out["failed"]:
                problems.append(f"{where}: output check failed")
            for m in spec[kind]:
                got = out["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{where}: metric {m['name']} missing or wrong unit: {got}")
            extra = set(out["metrics"]) - {m["name"] for m in spec[kind]}
            if extra:
                problems.append(f"{where}: metrics not in BENCHMARK.json: {sorted(extra)}")
            print(f"{where}: {len(out['metrics'])} metrics, attempted {out['attempted']}",
                  flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

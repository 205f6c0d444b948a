"""Interleaved parent/change A/B of a perfbench workload.

Usage::

    python tools/ab_perfbench.py PARENT_DIR CHANGE_DIR --workload dedup_ann \\
        --seeds 11 12 13 14 15 16 17 18 19 20 [--seconds 10] [--out runs.json]

Each seed is one pair: ``python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0`` runs once in each checkout, the first side
alternating from pair to pair (even pairs start with the parent).

The runs are strictly sequential.  ``run.py`` wipes its checkout's
``.perfbench_work`` at start, so a second run in the same checkout
deletes the first one's broadcast files and that run's pass fails with
``FileNotFoundError``; runs in two checkouts at once would share the
cores they measure.

For every end-to-end metric of the parent's ``BENCHMARK.json`` it
prints the per-side median and Q1-Q3, the pairs the change won, the
median's relative move against the metric's bound, and the verdict on
a claimed gain: the change wins at least 9 of 10 pairs and the median
gap exceeds the parent's Q1-Q3 spread.  ``--out`` keeps every run's
metrics as JSON.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys
import time
from pathlib import Path


def run_once(checkout: Path, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    res = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                         check=False)
    lines = res.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
        out["metrics"] = {k: v["value"] for k, v in out["metrics"].items()}
    except (IndexError, json.JSONDecodeError):
        out = {"metrics": {}, "error": res.stderr[-2000:]}
    out.update(seed=seed, returncode=res.returncode,
               run_s=round(time.perf_counter() - t0, 1))
    return out


def quartiles(values: list) -> tuple:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def report(runs: dict, metrics: list) -> None:
    pairs = list(zip(runs["parent"], runs["change"]))
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        ok = [(p["metrics"][name], c["metrics"][name]) for p, c in pairs
              if name in p["metrics"] and name in c["metrics"]]
        if not ok:
            print(f"{name}: no complete pair")
            continue
        par, chg = [p for p, _ in ok], [c for _, c in ok]
        (p1, pm, p3), (c1, cm, c3) = quartiles(par), quartiles(chg)
        wins = sum((c < p) if lower else (c > p) for p, c in ok)
        gap = (pm - cm) if lower else (cm - pm)
        worse = -gap / abs(pm) if pm else 0.0
        gain = wins >= math.ceil(0.9 * len(ok)) and gap > p3 - p1
        print(f"{name}: parent {pm:.4g} [{p1:.4g}-{p3:.4g}]  "
              f"change {cm:.4g} [{c1:.4g}-{c3:.4g}]  wins {wins}/{len(ok)}  "
              f"worse by {worse:+.1%} (bound {m['bound']:.0%}"
              f"{', EXCEEDED' if worse > m['bound'] else ''})  "
              f"gain: {'yes' if gain else 'no'} "
              f"(gap {gap:+.4g} vs parent IQR {p3 - p1:.4g})")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out", type=Path)
    args = ap.parse_args()
    bench = json.loads((args.parent / "BENCHMARK.json").read_text())
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(args.seeds):
        sides = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in sides:
            r = run_once(getattr(args, side), args.workload, seed, args.seconds)
            r["first"] = side == sides[0]
            runs[side].append(r)
            print(f"pair {i} seed {seed} {side}: rc={r['returncode']} "
                  f"{json.dumps(r['metrics'])}", flush=True)
    report(runs, bench["end_to_end"])
    if args.out:
        args.out.write_text(json.dumps(runs, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())

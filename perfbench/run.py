#!/usr/bin/env python3
"""Closed-loop benchmark of the esda_spark engine.

One client: this process issues one public operator call at a time on
``local[nproc]`` and waits for it.  Run from the root of a checkout::

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Per-pass records, the environment and every span go to
``.perfbench_out/``.  ``--scale tiny`` runs the smoke-test sizes.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
SETUP_REPEATS = 3
# the first pass in a JVM costs 1.5-2x a steady one (Python worker
# start-up, JIT)
WARMUP_PASSES = 1
MODULES = ("sources", "weights", "global_stats", "local_stats",
           "spatial_join", "checkpoint", "text", "similarity")
QUALITY = ("text.candidate_precision", "text.planted_recall",
           "similarity.lsh_recall_at_10", "similarity.ivf_recall_at_10")


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def pin_environment(cpus: int) -> dict:
    """Fix what the engine reads from the environment; keep every file
    the run writes inside the checkout."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # a quarter of RAM, at most 2 GiB: the 16g default on a 15 GB
        # box lets the kernel kill the JVM under memory pressure
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, mem_mb // 4)}m",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(
                "spark.driver.extraJavaOptions=-XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}"),
            "--conf", shlex.quote(
                f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"),
            "pyspark-shell",
        ]),
    }
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
              "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
        env[v] = "1"
    os.environ.update(env)
    return env


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                         capture_output=True, text=True, check=False)
    return res.stdout.strip() or None


def median(values) -> float:
    return float(statistics.median(values))


class Bench:
    def __init__(self, args, cpus: int):
        from pyspark import SparkContext

        from esda_spark.session import get_spark
        from perfbench.meters import Layers, own_time
        from perfbench.workloads import WORKLOADS

        self.args = args
        t0 = own_time()
        self.spark = get_spark("perfbench", parallelism=cpus)
        self.start_s = own_time() - t0
        self.jvm = SparkContext._gateway.proc
        self.sc = self.spark.sparkContext
        self.L = Layers(self.spark, bool(args.trace))
        self.wl = WORKLOADS[args.workload](
            self.spark, args.seed, args.scale, WORK, cpus)
        self.records: list[dict] = []

    # -- block hygiene ---------------------------------------------------
    def persisted(self) -> set:
        return set(self.sc._jsc.getPersistentRDDs().keySet().toArray())

    def free_since(self, before: set, inputs: int = 0) -> None:
        """Unpersist the DataFrames the workload kept after its first
        ``inputs``, then every other RDD persisted since ``before``
        (operator-internal checkpoints)."""
        self.wl.release(inputs)
        jmap = self.sc._jsc.getPersistentRDDs()
        for rid in self.persisted() - before:
            jr = jmap.get(rid)
            if jr is not None:
                jr.unpersist()
        self.sc._jvm.System.gc()

    def heap_used_mb(self) -> float:
        rt = self.sc._jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    # -- phases ------------------------------------------------------------
    def setup(self) -> dict:
        """Inputs are loaded SETUP_REPEATS times (the median counts) and
        the last load is kept; derived inputs are prepared once; then
        WARMUP_PASSES untimed passes."""
        from perfbench.meters import own_time

        base = self.persisted()
        loads = []
        for r in range(SETUP_REPEATS):
            if r:
                self.free_since(base)
            self.L.parent = f"setup-{r}"
            t0 = own_time()
            self.wl.load(self.L)
            loads.append(own_time() - t0)
        self.L.parent = "prepare"
        t0 = own_time()
        self.wl.prepare(self.L)
        prep_s = own_time() - t0
        self.inputs = self.persisted()
        self.kept_inputs = len(self.wl.cached)
        warm = []
        for w in range(WARMUP_PASSES):
            self.L.parent = tag = f"warmup-{w}"
            t0 = own_time()
            self.wl.run_pass(self.L, tag)
            warm.append(own_time() - t0)
            self.free_since(self.inputs, self.kept_inputs)
            shutil.rmtree(os.path.join(WORK, tag), ignore_errors=True)
        return {"session_start_s": self.start_s, "load_s": loads,
                "prepare_s": prep_s, "warmup_s": warm,
                "setup_s": self.start_s + median(loads) + prep_s + sum(warm)}

    def one_pass(self, i: int, traced: bool) -> dict:
        from perfbench.meters import PeakRss, loadavg, own_time, steal_s, tree_cpu_s
        from perfbench.oracle import CheckFailed

        tag = f"pass-{i}"
        self.L.traced, self.L.parent = traced, tag
        rec = {"pass": i, "traced": traced, "load_before": loadavg(), "ok": False}
        pid = os.getpid()
        try:
            cpu0, steal0 = tree_cpu_s(pid), steal_s()
            with PeakRss(pid) as rss:
                t0, wall0 = own_time(), time.perf_counter()
                out = self.wl.run_pass(self.L, tag)
                rec["pass_s"] = own_time() - t0
                rec["pass_wall_s"] = time.perf_counter() - wall0
            rec["cpu_s"] = tree_cpu_s(pid) - cpu0
            rec["steal_s"] = steal_s() - steal0
            rec["peak_rss_mb"] = rss.peak_mb
            rec["load_after"] = loadavg()
            t0 = time.perf_counter()
            self.wl.check(out)
            rec["check_s"] = time.perf_counter() - t0
            rec["digest"] = self.wl.digest
            rec["ok"] = True
        except CheckFailed as exc:
            rec["error"] = f"check failed: {exc}"
        except Exception:  # a raising pass counts as failed; keep measuring
            rec["error"] = traceback.format_exc()
        if "error" in rec:
            print(f"perfbench: {tag}: {rec['error']}", file=sys.stderr)
        self.free_since(self.inputs, self.kept_inputs)
        shutil.rmtree(os.path.join(WORK, tag), ignore_errors=True)
        rec["persisted_rdds"] = len(self.persisted())
        rec["heap_used_mb"] = self.heap_used_mb()
        return rec

    def measure(self) -> None:
        """Passes until the next one would overrun ``--seconds``; a
        traced run alternates untraced and traced passes."""
        t_end = time.perf_counter() + self.args.seconds
        i = 0
        while True:
            traced = bool(self.args.trace) and i % 2 == 1
            self.records.append(self.one_pass(i, traced))
            i += 1
            walls = [r.get("pass_wall_s", 0.0) for r in self.records]
            need_more = self.args.trace and i < 2
            if not need_more and time.perf_counter() + median(walls) > t_end:
                break

    # -- results -------------------------------------------------------------
    def end_to_end(self, setup: dict) -> dict:
        plain = [r for r in self.records if not r["traced"] and "pass_s" in r]
        if not plain:
            return {}
        pass_s = median(r["pass_s"] for r in plain)
        failed = sum(not r["ok"] for r in self.records)
        return {
            "setup_s": (setup["setup_s"], "s"),
            "pass_s": (pass_s, "s"),
            "units_per_s": (self.wl.units() / pass_s, "1/s"),
            "cpu_s": (median(r["cpu_s"] for r in plain), "s"),
            "ok_ratio": (1.0 - failed / len(self.records), "ratio"),
        }

    def per_layer(self) -> dict:
        from perfbench.meters import FIELDS, UNITS

        traced = [r for r in self.records if r["traced"] and "pass_s" in r]
        plain = [r for r in self.records if not r["traced"] and "pass_s" in r]
        if not traced or not plain:
            return {}
        units = [self.L.by_module(f"pass-{r['pass']}") for r in traced]
        loads = [self.L.by_module(f"setup-{r}") for r in range(SETUP_REPEATS)]
        out = {}
        for mod in MODULES:
            samples = loads if mod == "sources" else units
            for f in FIELDS:
                out[f"{mod}.{f}"] = (
                    median(u.get(mod, {}).get(f, 0.0) for u in samples), UNITS[f])
        last = self.records[-1]
        failed = sum(not r["ok"] for r in self.records)
        traced_s = median(r["pass_s"] for r in traced)
        coverage = median(
            sum(m["wall_s"] for m in u.values()) / r["pass_s"]
            for u, r in zip(units, traced))
        out.update({
            "session.start_s": (self.start_s, "s"),
            "session.persisted_rdds": (last["persisted_rdds"], "count"),
            "session.heap_used_mb": (last["heap_used_mb"], "MB"),
            "session.peak_rss_mb": (median(r["peak_rss_mb"] for r in plain), "MB"),
            "session.pass_wall_s": (median(r["pass_wall_s"] for r in plain), "s"),
            "session.steal_s": (median(r["steal_s"] for r in plain), "s"),
            "trace.overhead_s": (traced_s - median(r["pass_s"] for r in plain), "s"),
            "trace.coverage": (coverage, "ratio"),
            "fail_ratio": (failed / len(self.records), "ratio"),
        })
        quality = dict(self.wl.quality)
        quality.update(self.wl.traced_extras())
        for key in QUALITY:
            out[key] = (quality.get(key, 0.0), "ratio")
        return out

    def close(self) -> None:
        """Stop Spark, end the JVM (it exits when its stdin closes) and
        wait for it and the Python workers it started."""
        from perfbench.meters import process_tree

        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        deadline = time.monotonic() + 30
        while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("spatial", "dedup_ann"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "esda_spark", "__init__.py")):
        return fail(f"no esda_spark package under {ROOT}: run from a checkout root")
    gates = sorted(k for k in os.environ if k.startswith("ESDA_SPARK_"))
    if gates:
        return fail(f"refusing to run with engine overrides set: {gates}")

    shutil.rmtree(WORK, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    env = pin_environment(cpus)
    sys.path.insert(0, ROOT)
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "scale": args.scale, "commit": git_commit(), "cpus": cpus,
            "python": sys.version.split()[0], "env": env}
    clock = [("start", time.perf_counter())]
    bench = Bench(args, cpus)
    try:
        clock.append(("session", time.perf_counter()))
        setup = bench.setup()
        clock.append(("setup", time.perf_counter()))
        bench.measure()
        clock.append(("measure", time.perf_counter()))
        metrics = bench.per_layer() if args.trace else bench.end_to_end(setup)
        clock.append(("metrics", time.perf_counter()))
    finally:
        bench.close()
        shutil.rmtree(WORK, ignore_errors=True)
    clock.append(("close", time.perf_counter()))
    info["phases_s"] = {b[0]: b[1] - a[1] for a, b in zip(clock, clock[1:])}

    import pyspark
    info["pyspark"] = pyspark.__version__
    failed = sum(not r["ok"] for r in bench.records)
    os.makedirs(OUT, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.scale}.json"
    with open(os.path.join(OUT, name), "w") as f:
        json.dump({"info": info, "setup": setup, "passes": bench.records,
                   "spans": bench.L.spans}, f, indent=1)
    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": len(bench.records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

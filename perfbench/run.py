#!/usr/bin/env python3
"""KG benchmark entry point.

    python3 perfbench/run.py --workload build_full --seed 1 --seconds 10 --trace 0

Run from the repository root.  Each run starts ``perfbench/worker.py`` in a
child process with one Spark session at ``local[nproc]``, samples the
child's process tree (driver JVM, Python driver and Python workers) for
peak proportional set size, reaps it, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
workload's set-up untraced, then the whole workload traced (Spark event
log on, jobs tagged per stage / call / step), and reports the per-layer
metrics plus the tracing overhead on the set-up's CPU time.
Every run does a fixed amount of work (one build and export, or one pass
of requests), so ``--seconds`` is accepted but not used: runs of different
code always compare the same work.
Everything the run writes stays under ``.perfbench_work/`` in the working
directory; built KGs are cached there between runs, keyed by a hash of the
package's source.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading

import corpus
import proctree
import worker

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "ta2_minmod_kg_spark"
DRIVER_MEM = "2g"  # well within the 15 GB box; the package default is 24g
CHILD_TIMEOUT_S = 170

END_TO_END = {  # name → unit
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "output_mb": "MB",
    "main_cpu_ms": "ms",
    "cycle_cpu_ms": "ms",
}


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name's last part."""
    last = name.rsplit(".", 1)[-1]
    for suffix, unit in (
        ("_us_per_row", "us/row"),
        ("_ms", "ms"),
        ("_s", "s"),
        ("_mb", "MB"),
        ("_frac", "ratio"),
        ("core_util", "ratio"),
        ("bytes", "bytes"),
        ("_per_row_returned", "rows/row"),
        ("_per_site_updated", "rows/site"),
    ):
        if last.endswith(suffix):
            return unit
    return "count"


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def run_child(
    args, run_dir: str, cache_dir: str, traced: bool, nproc: int, workload: str = "",
    setup_only: bool = False,
) -> dict:
    """Run one worker to completion; return its result with ``peak_pss``."""
    out_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        PYTHONPATH=os.getcwd() + os.pathsep + env.get("PYTHONPATH", ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", workload or args.workload,
        "--seed", str(args.seed),
        "--trace", "1" if traced else "0",
        "--run-dir", run_dir,
        "--cache-dir", cache_dir,
        "--nproc", str(nproc),
        "--out", out_path,
    ]
    if setup_only:
        cmd.append("--setup-only")
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
    peak = [0]
    stop = threading.Event()

    def sample():
        while not stop.is_set():
            peak[0] = max(peak[0], proctree.pss_bytes(proc.pid))
            stop.wait(0.2)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop.set()
        sampler.join()
        try:  # the JVM and Python workers share the child's session
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if code != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker exited with {code}:\n{tail}")
    with open(out_path) as f:
        result = json.load(f)
    os.remove(out_path)
    result["peak_pss"] = peak[0]
    return result


def end_to_end(r: dict) -> dict[str, float]:
    return {
        "setup_s": statistics.median(r["setup_s"]),
        "peak_pss_mb": r["peak_pss"] / 1e6,
        "output_mb": r["output_bytes"] / 1e6,
        "main_cpu_ms": r["main_cpu_ms"],
        "cycle_cpu_ms": r["cycle_cpu_ms"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload",
        required=True,
        choices=["build_full", "serve_mixed"],
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(os.getcwd(), PACKAGE)):
        print(f"error: run from the repository root ({PACKAGE}/ not found)", file=sys.stderr)
        return 2
    nproc = os.cpu_count() or 1
    work = os.path.join(os.getcwd(), ".perfbench_work")
    cache_dir = os.path.join(work, "cache")
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(cache_dir, exist_ok=True)
    # a traced run first repeats the workload's set-up untraced, with the
    # same seed, so the tracing overhead compares the same code and inputs;
    # a whole untraced build beside the traced one would not fit the time
    # limit of a run
    children = [(False, True), (True, False)] if args.trace else [(False, False)]
    total0, steal0 = cpu_times()
    try:
        key = worker.cache_key(cache_dir, corpus.plan(args.seed, args.workload))
        if args.workload == "serve_mixed" and not os.path.exists(worker.serving_path(key)):
            os.makedirs(run_dir)
            run_child(args, run_dir, cache_dir, False, nproc, workload="prime")
        results = []
        for traced, setup_only in children:
            shutil.rmtree(run_dir, ignore_errors=True)
            os.makedirs(run_dir)
            results.append(
                run_child(args, run_dir, cache_dir, traced, nproc, setup_only=setup_only)
            )
    except RuntimeError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    total1, steal1 = cpu_times()
    steal = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0

    base = results[0]
    print(f"session: {json.dumps(base['session'], sort_keys=True)}")
    print(
        f"workload={args.workload} seed={args.seed} n_sites={base['n_sites']} "
        f"steal_frac={steal:.4f}"
    )
    for r in results:
        if "ops" not in r:  # the set-up-only half of a traced run
            continue
        ops = {
            k: {
                "n": len(v),
                "wall_p50_ms": round(1e3 * statistics.median(v), 1),
                "cpu_p50_ms": round(1e3 * statistics.median(r["ops_cpu"][k]), 1),
            }
            for k, v in r["ops"].items()
        }
        print(f"ops: {json.dumps(ops, sort_keys=True)}")
        print(f"spans_s: {json.dumps(r['span_s'], sort_keys=True)}")
        for problem in r["problems"]:
            print(f"check failed: {problem}")
    if args.trace:
        metrics = dict(results[-1]["layers"])
        untraced = base["setup_cpu_ms"]
        metrics["trace.overhead_cpu_ms"] = results[-1]["setup_cpu_ms"] - untraced
        metrics["trace.overhead_frac"] = metrics["trace.overhead_cpu_ms"] / untraced
        metrics["host.steal_frac"] = steal
        report = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        report = {
            k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end(base).items()
        }
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": report,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Crawl-engine benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints one JSON line of host and run
metadata, then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the Spark event log and
the in-memory spans are on and the metrics are the per-layer ones. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEM = "3g"


def code_id() -> str:
    """Hash of the program's and the benchmark's sources: runs of the same
    code share it."""
    h = hashlib.sha1()
    for top in ("crawler_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def steal_ticks() -> int:
    """Ticks the hypervisor gave to other guests, summed over all cpus."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def host_meta(cpus: int, run_dir: str) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    affinity = sorted(os.sched_getaffinity(0))
    with open("/proc/mounts") as f:
        mounts = [ln.split() for ln in f]
    fs = max(
        (m for m in mounts if run_dir.startswith(m[1])), key=lambda m: len(m[1])
    )[2]
    return {
        "nproc": os.cpu_count(),
        "cpus_used": cpus,
        "cpuset": f"{affinity[0]}-{affinity[-1]}" if affinity else "",
        "confined": len(affinity) < (os.cpu_count() or 0),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "state_fs": fs,
        "state_on": "tmpfs" if fs == "tmpfs" else "disk",
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("crawler_spark") is None:
        print("perfbench: crawler_spark is not importable from " + ROOT, file=sys.stderr)
        return 2
    from perfbench.harness import Run
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    args.out_dir = OUT_DIR
    # Spark's Python workers import the package and the benchmark from here;
    # every scratch file stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(
        run_dir, "local"
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    for k in ("no_proxy", "NO_PROXY"):  # the polite web is reached by proxy
        os.environ.pop(k, None)

    run = Run(args, run_dir, cpus)
    steal0, t0 = steal_ticks(), time.time()
    try:
        res = WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        run.stop()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # untraced urls_per_s of this code, the baseline of the tracing overhead
    untraced = os.path.join(OUT_DIR, f"{args.workload}_{code_id()}_untraced.jsonl")
    steal = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    meta = {**host_meta(cpus, OUT_DIR), **res["info"], "workload": args.workload,
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            # share of the host's cpu time taken by other guests during the run
            "steal_share": steal / ((time.time() - t0) * (os.cpu_count() or 1))}
    if args.trace:
        if os.path.exists(untraced):
            with open(untraced) as f:
                runs = [json.loads(ln) for ln in f]
            same_seed = [r for r in runs if r["seed"] == args.seed]
            base = same_seed or runs
            meta["trace_overhead_basis"] = (
                f"{len(base)} untraced run(s) of this code, "
                + ("same seed" if same_seed else "other seeds")
            )
            meta["trace_overhead"] = 1.0 - res["urls_per_s"] / statistics.median(
                r["urls_per_s"] for r in base
            )
    else:
        with open(untraced, "a") as f:
            f.write(json.dumps({"seed": args.seed, "urls_per_s": res["urls_per_s"]}) + "\n")
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

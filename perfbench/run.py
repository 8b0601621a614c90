"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload image_full --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed (cached under
.bench_cache/, untimed), measures for --seconds, checks every output,
and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md). Exits 1 when an output check fails, and
exits non-zero without a result when a run guard fails or the
repository's code is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKLOADS = ("image_full", "catalog_batch")
E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "steady_s": "s",
    "mib_per_s": "MiB/s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Pin resource sizing to this host and keep every file the run
    writes inside the checkout."""
    cpus = str(nproc())
    have = os.environ.get("SPARK_GRAFT_CPUS")
    if have is not None and have != cpus:
        raise SystemExit(f"SPARK_GRAFT_CPUS={have} but nproc={cpus}; unset it or make them equal")
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    for sub in ("tmp", "spark-local", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "swiftbeaver_spark")):
        print(f"no swiftbeaver_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    import tempfile
    import warnings

    tempfile.tempdir = os.environ["TMPDIR"]
    warnings.simplefilter("ignore")
    from tools.hostinfo import host_snapshot

    from perfbench import workloads

    paths = workloads.Paths(work=work, cache=os.path.join(ROOT, ".bench_cache"))
    host_start = host_snapshot()
    t0 = time.perf_counter()
    runner = workloads.run_image if args.workload == "image_full" else workloads.run_catalog
    try:
        result = runner(paths, args.seed, args.seconds, bool(args.trace))
    except workloads.GuardError as exc:
        workloads.stop_jvm()
        print(f"run guard failed: {exc}", file=sys.stderr)
        return 1
    except BaseException:
        workloads.stop_jvm()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "elapsed_s": round(time.perf_counter() - t0, 3),
              "host_start": host_start, "host_end": host_snapshot()}
    print("# run " + json.dumps(record), file=sys.stderr)

    if args.trace:
        metrics = {k: {"value": v, "unit": workloads.unit_of(k)}
                   for k, v in result["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in result["e2e"].items()}
    correct = result["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

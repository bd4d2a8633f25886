"""Benchmark entry point.

    python3 perfbench/run.py --workload job_drain|query_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  All inputs are generated from the seed
under `.perfbench_work/` in the checkout, which is also the working
directory of Spark (so its temp files, warehouse and logs stay there)
and is removed at the end; a traced run leaves its spans there as
`spans-<workload>-<seed>.jsonl`.  Every output is checked.  The last line of
stdout is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1).
Exits 1 when a check failed, 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("job_drain", "query_mix")
UNITS_E2E = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}


def host_env(work: str) -> dict[str, str]:
    """Settings for the host: every core the process may use, a JVM heap
    sized to the host's memory, and every temp file inside `work`."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:"))
    heap_mb = max(512, min(1024, total_mb // 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }


def layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "encodesrv_spark", "jobs", "scheduler.py")):
        print(f"program not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    trace_out = os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl")
    os.environ.update(host_env(work))
    cwd = os.getcwd()
    os.chdir(work)
    try:
        from perfbench import workloads

        res = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work,
                            trace_out)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    for p in res.problems[:20]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    correct = not res.problems
    if args.trace:
        units = layer_units()
        layers = dict(res.layers)
        layers["failed_share"] = res.failed / res.attempted
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": res.e2e[k], "unit": u} for k, u in UNITS_E2E.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, **res.notes}, default=str))
    print(
        json.dumps(
            {"correct": correct, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

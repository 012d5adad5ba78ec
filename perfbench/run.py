"""Benchmark of flink_ms_spark: the catalog and the train -> serve ->
update loop, driven through the package's public API.

    python3 perfbench/run.py --workload {catalog,online_update,all}
                             --seed N --seconds S --trace {0,1}

Run it from the repository root. Each run generates its inputs from the
seed, measures for S seconds, checks the outputs and prints one line
per figure (name, value, unit) followed, as its last line, by a JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. A traced run also writes its spans to
``.perfbench/traces/``. Exits 1 when an output is wrong, 2 when the
package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import NPROC, Tracer, shutdown_jvm  # noqa: E402


def _num(v: float) -> float:
    """A failure-driven +inf percentile is reported as 1e9."""
    return float(v) if math.isfinite(v) else 1e9


WORKLOADS = ["catalog", "online_update"]


def run_all(args) -> int:
    """Every workload in turn, each in its own process; their lines are
    passed through and the last line merges their results, with each
    metric named ``<workload>/<metric>``."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        proc = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                               "--seed", str(args.seed), "--seconds", str(args.seconds),
                               "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode not in (0, 1) or not lines:
            return proc.returncode or 2
        print("\n".join(lines[:-1]), flush=True)
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}/{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)

    sys.path.insert(0, ROOT)
    try:
        import flink_ms_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import flink_ms_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ.update({"SPARK_GRAFT_CPUS": str(NPROC), "TMPDIR": os.path.join(work, "tmp"),
                       "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                       "SPARK_DRIVER_MEMORY": "2g"})
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tracer = Tracer(bool(args.trace))
    ctx = SimpleNamespace(work=work, seed=args.seed, seconds=args.seconds,
                          tracer=tracer, null_tracer=Tracer(False))

    if args.workload == "catalog":
        from catalog import run
    else:
        from online import run_online_update as run

    t0 = time.perf_counter()
    try:
        res = run(ctx)
        res["spark"].stop()
    finally:
        shutdown_jvm()
    wall = time.perf_counter() - t0

    import pyspark

    print(f"report host nproc={NPROC} pyspark={pyspark.__version__}")
    for k, v in sorted(res["report"].items()):
        print(f"report {args.workload} {k} {json.dumps(v)}")
    for k, v in sorted(res["e2e"].items()):
        print(f"e2e {args.workload} {k} {v:.6g} {units[k]}")
    for k, v in sorted(res["layer"].items()):
        print(f"layer {args.workload} {k} {v:.6g} {units[k]}")
    failed = sum(res["failures"].values())
    print(f"ops {args.workload} attempted={res['attempted']} failed={failed} "
          f"by_cause={json.dumps(res['failures'])} run_wall_s={wall:.1f}")

    if args.trace:
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
        for name, ms in sorted(tracer.self_times_ms().items()):
            print(f"self {args.workload} {name} {ms:.1f} ms")
        metrics = {m["name"]: {"value": _num(res["layer"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": _num(res["e2e"][m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

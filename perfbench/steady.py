"""Steadiness tool: run sets of seeded runs of one workload and print,
for each metric and set, the median, the quartiles, the spread
(interquartile range over median) and how far the set's median moved
from the first set's.

    python3 perfbench/steady.py --workload online_update --seeds 10 [--sets 2]
                                [--seconds S] [--overhead]

Set k uses seeds k*1000+1 .. k*1000+N. With --overhead every seed also
runs traced, and the tool prints the tracing overhead: the traced minus
the untraced median of each end-to-end metric. Each run's output is
kept in .perfbench/steady/. Run it from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """One run: its result object and its end-to-end figures (printed by
    traced runs too, on ``e2e`` lines)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    logs = os.path.join(ROOT, ".perfbench", "steady")
    os.makedirs(logs, exist_ok=True)
    with open(os.path.join(logs, f"{workload}-seed{seed}-trace{trace}.out"), "w") as fh:
        fh.write(proc.stdout)  # every run's report lines, kept for a later look
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    e2e = {f[2]: float(f[3]) for f in (ln.split() for ln in lines) if f and f[0] == "e2e"}
    return json.loads(lines[-1]), e2e


def summary(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10, help="runs per set")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    sets: list[dict[str, list[float]]] = []
    plain: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for k in range(args.sets):
        values: dict[str, list[float]] = {}
        for i in range(args.seeds):
            seed = k * 1000 + i + 1
            res, e2e = one_run(args.workload, seed, seconds, 0)
            print(f"set {k} seed {seed}: " + " ".join(
                f"{n}={m['value']:.6g}" for n, m in res["metrics"].items()), flush=True)
            for n, m in res["metrics"].items():
                values.setdefault(n, []).append(m["value"])
            if args.overhead:
                for n, v in e2e.items():
                    plain.setdefault(n, []).append(v)
                for n, v in one_run(args.workload, seed, seconds, 1)[1].items():
                    traced.setdefault(n, []).append(v)
        sets.append(values)

    print(f"\n{args.workload}: {args.sets} set(s) of {args.seeds} runs, {seconds} s each")
    print(f"{'metric':40s} {'set':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} "
          f"{'bound':>6s} {'moved':>7s}")
    for name in sets[0]:
        first = statistics.median(sets[0][name])
        bound = bounds.get(name)
        for k, s in enumerate(sets):
            med, q1, q3, spread = summary(s[name])
            moved = med / first - 1 if first else float("nan")
            print(f"{name:40s} {k:3d} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.3f} "
                  f"{bound if bound is not None else '-':>6} {moved:+7.3f}")

    if args.overhead:
        print(f"\ntracing overhead ({args.workload}): traced - untraced median")
        for name in plain:
            a, b = statistics.median(plain[name]), statistics.median(traced[name])
            print(f"{name:40s} {a:12.6g} {b:12.6g} {b - a:+12.6g} ({(b - a) / a:+.3f})")


if __name__ == "__main__":
    main()

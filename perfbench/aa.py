"""A/A check: run the benchmark on several seeds, in one or more sets, and
compare every end-to-end metric's spread and median drift with the bounds
in BENCHMARK.json.

    python3 perfbench/aa.py --seeds 1-10 [--sets 2] [--trace] [--out runs.jsonl]
    python3 perfbench/aa.py --load runs.jsonl    # evaluate recorded runs only

Every workload in BENCHMARK.json runs once per seed and set, for
``run_seconds``, as a regression check runs it.

For each workload and metric it prints the median, the quartile spread
``(Q3 - Q1) / median`` (``statistics.quantiles(values, n=4)``), and, with
two or more sets, how much worse each set's median is than the first's.
A spread or a drift above the metric's bound fails the check; the exit
code is 1 then. ``--trace`` also runs each seed traced and reports the
tracing overhead on ``op_p50_s``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: float, later: float, better: str) -> float:
    """How much worse ``later`` is than ``first``, as a share of ``first``."""
    return (later - first) / first if better == "lower" else (first - later) / first


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out.update(workload=workload, seed=seed, trace=trace, run_s=time.time() - t0)
    return out


def evaluate(runs: list[dict], metrics: dict, workloads: list[str], sets: int):
    """(ok, report lines) for finished runs; see the module docstring."""
    lines: list[str] = []
    ok = all(r["correct"] and r["failed"] == 0 for r in runs)
    for w in workloads:
        plain = [r for r in runs if r["workload"] == w and r["trace"] == 0]
        walls = [r["run_s"] for r in plain]
        lines.append(f"\n{w}: {len(plain)} runs, run wall median "
                     f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for name, m in metrics.items():
            first = None
            for s in range(sets):
                vals = [r["metrics"][name]["value"] for r in plain if r["set"] == s]
                med, spr = statistics.median(vals), spread(vals)
                line = f"  {name:<14} set {s}: median {med:.4g} spread {spr:.3f} (bound {m['bound']})"
                if spr > m["bound"]:
                    line += "  SPREAD TOO WIDE"
                    ok = False
                if first is None:
                    first = med
                else:
                    drift = worse_by(first, med, m["better"])
                    line += f"  worse than set 0 by {drift:+.3f}"
                    if drift > m["bound"]:
                        line += "  DRIFT TOO LARGE"
                        ok = False
                lines.append(line)
        traced = {r["seed"]: r for r in runs if r["workload"] == w and r["trace"] == 1}
        if traced:
            over = [traced[r["seed"]]["metrics"]["trace.op_p50_s"]["value"]
                    / r["metrics"]["op_p50_s"]["value"] - 1
                    for r in plain if r["seed"] in traced]
            short = max(v["value"] for t in traced.values()
                        for k, v in t["metrics"].items() if k.endswith(".shortfall_share"))
            lines.append(f"  tracing overhead on op_p50_s: median {statistics.median(over):+.3f}; "
                         f"worst span shortfall {short:.3f} of an op's wall")
    return ok, lines


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default="", help="append every run's result here")
    ap.add_argument("--load", default="", help="evaluate the runs in this file; run nothing")
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    workloads = [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    seeds = parse_seeds(args.seeds)
    if args.load:
        runs = [json.loads(line) for line in Path(args.load).read_text().splitlines()]
        sets = 1 + max(r["set"] for r in runs)
        workloads = [w for w in workloads if any(r["workload"] == w for r in runs)]
    else:
        runs, sets = [], args.sets
        for s in range(sets):
            for seed in seeds:
                for w in workloads:
                    for trace in ((0, 1) if args.trace else (0,)):
                        r = run_once(w, seed, seconds, trace)
                        r["set"] = s
                        runs.append(r)
                        if args.out:
                            with open(args.out, "a") as f:
                                f.write(json.dumps(r) + "\n")
                        print(f"set {s} seed {seed} {w} trace={trace}: {r['run_s']:.1f} s, "
                              f"correct={r['correct']} failed={r['failed']}/{r['attempted']}",
                              file=sys.stderr, flush=True)

    ok, lines = evaluate(runs, metrics, workloads, sets)
    print("\n".join(lines))
    total = sum(r["run_s"] for r in runs)
    print(f"\n{len(runs)} runs in {total:.0f} s; {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

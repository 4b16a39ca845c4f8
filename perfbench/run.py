"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It makes the workload's inputs from the
seed, starts one Spark session (``local[<cores>]``, the package's own
session factory), sets up, runs the timed closed loop for ``--seconds``,
checks every output, and prints one JSON object as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer grid (README.md lists both) and writes the spans as JSONL.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the run's own directory there is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "yelp_data_engineering_pipeline_spark"
SETUP_REPEATS = 3


def _status_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def memory_mb(spark) -> tuple[float, float, float]:
    """(peak RSS of the driver plus the JVM, from ``VmHWM``; the driver's
    RSS now; the JVM heap still in use after full collections). The last
    two are the memory the run retains, which shows data a change keeps
    in caches. The peak also moves with how far the JVM grew its heap,
    which depends on host load."""
    jvm = spark.sparkContext._jvm
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    peak_kb = _status_kb("self", "VmHWM") + _status_kb(jvm_pid, "VmHWM")
    # Spark's context cleaner drops the blocks of collected shuffles and
    # broadcasts only after a collection finds them unreachable, so the
    # second collection frees what the first one queued
    rt = jvm.java.lang.Runtime.getRuntime()
    for _ in range(2):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    heap_b = rt.totalMemory() - rt.freeMemory()
    return peak_kb / 1024.0, _status_kb("self", "VmRSS") / 1024.0, heap_b / 2**20


def _start_spark(work: Path):
    # keep every file Spark, the JVM and Python write inside the checkout
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    tempfile.tempdir = str(work / "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from yelp_data_engineering_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # the JVM ignored EOF on its stdin
            proc.kill()
            proc.wait()


def layer_report(tracer, workload) -> dict[str, float]:
    """The per-layer grid: per-op means of every quantity, per layer."""
    from perfbench.trace import LAYERS, QUANTITIES

    out: dict[str, float] = {}
    for layer in LAYERS:
        ops = [op for op in tracer.ops if op.layer == layer and op.counts]
        n = len(ops)
        for q in QUANTITIES:
            out[f"{layer}.{q}"] = sum(op.counts[q] for op in ops) / n if n else 0.0
        gaps = [tracer.driver_gap(op) for op in ops]
        out[f"{layer}.ops"] = n
        out[f"{layer}.wall_s"] = sum(op.wall for op in ops) / n if n else 0.0
        out[f"{layer}.driver_s"] = sum(gaps) / n if n else 0.0
        out[f"{layer}.shortfall_share"] = max(
            (abs(g) / op.wall for g, op in zip(gaps, ops)), default=0.0)
    cat = [op.counts for op in tracer.ops if op.layer == "catalog" and op.counts]
    stages = sum(c["stages"] for c in cat)
    out["catalog.tasks_per_stage"] = sum(c["tasks"] for c in cat) / stages if stages else 0.0
    for layer, key in (("yelp_queries", "rows_read_per_row_returned"),
                       ("ann_index", "rows_read_per_result")):
        ops = [op for op in tracer.ops if op.layer == layer and op.counts]
        returned = sum(op.rows_returned for op in ops)
        read = sum(op.counts["input_records"] for op in ops)
        out[f"{layer}.{key}"] = read / returned if returned else 0.0
    for key in ("normalize.valid_ratio", "upsert.bytes_written_per_input_byte",
                "yelp_queries.first_after_merge_s", "ann_index.recall_at_10"):
        out[key] = workload.extra.get(key, 0.0)
    e2e = workload.metrics()
    out["trace.op_p50_s"] = e2e["op_p50_s"]
    out["trace.work_per_s"] = e2e["work_per_s"]
    out["trace.probe_s"] = tracer.probe_s
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE).is_dir() or not (ROOT / "tests" / "yelp_fixtures.py").is_file():
        print(f"perfbench: {PACKAGE}/ and tests/ must sit beside perfbench/ "
              f"(run from a full checkout)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, log

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t_start = time.time()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    spark = None
    try:
        spark = _start_spark(work)
        session_s = time.time() - t_start
        log(f"session started in {session_s:.2f} s")
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        # the seeded inputs are written SETUP_REPEATS times; the median
        # counts towards setup_s, so one slow write does not move it
        prep = []
        for i in range(SETUP_REPEATS):
            t0 = time.time()
            wl.prepare(work / f"inputs{i}")
            prep.append(time.time() - t0)
        log(f"inputs written in {', '.join(f'{p:.2f}' for p in prep)} s")
        t0 = time.time()
        wl.setup()
        log(f"set up in {time.time() - t0:.2f} s")
        setup_s = session_s + statistics.median(prep) + (time.time() - t0)

        if args.trace:
            tracer = wl.tracer = Tracer(spark, enabled=True)
        t0 = time.time()
        wl.run(t0 + args.seconds)
        loop_s = time.time() - t0
        log(f"timed loop ran {loop_s:.2f} s")
        peak_mb, driver_mb, heap_mb = memory_mb(spark)
        log(f"driver RSS {driver_mb:.0f} MB, JVM heap in use {heap_mb:.0f} MB")
        t0 = time.time()
        wl.check()
        log(f"outputs checked in {time.time() - t0:.2f} s")

        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        if args.trace:
            metrics = layer_report(tracer, wl)
            tracer.write_jsonl(ROOT / ".perfbench_work" / f"spans-{args.workload}-{args.seed}.jsonl")
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            metrics = dict(wl.metrics(), setup_s=setup_s, retained_mb=driver_mb + heap_mb)
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "sizes": wl.sizes, "samples": wl.samples(), "loop_s": round(loop_s, 3),
            "peak_rss_mb": round(peak_mb, 1),
            "ops_failed_ratio": wl.failed / max(1, wl.attempted),
            "failures": wl.failures, "master": spark.sparkContext.master,
        }
        print(json.dumps(report))
        print(json.dumps({
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

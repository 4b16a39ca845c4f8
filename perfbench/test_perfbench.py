"""The benchmark's own tests: input generation, the checks' comparison
rules, span and interval arithmetic, the A/A decision, the result
contract, and one small end-to-end pass of each workload.

    python3 -m pytest perfbench -q

``PERFBENCH_AA=1`` adds a two-set A/A run of the real benchmark on three
seeds (several minutes).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from perfbench import aa, check, gen, trace

ROOT = Path(__file__).resolve().parent.parent


def _digest_dir(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


# ---- seeded inputs ---------------------------------------------------------

def test_tables_are_a_function_of_the_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.make_tables(a, 5, 0.001, 50, 40)
    gen.make_tables(b, 5, 0.001, 50, 40)
    gen.make_tables(c, 6, 0.001, 50, 40)
    assert _digest_dir(a) == _digest_dir(b)
    assert _digest_dir(a)["lineitem.parquet"] != _digest_dir(c)["lineitem.parquet"]


def test_documents_hold_near_duplicates():
    docs = gen.make_documents(np.random.default_rng(1), 400)
    texts = docs["text"]
    dups = [t for t in texts if t.endswith(" dup")]
    assert 5 <= len(dups) <= 40
    assert all(t[: -len(" dup")] in texts for t in dups)
    assert list(docs["n_chars"]) == [len(t) for t in texts]


def test_yelp_batches_overlap_known_businesses():
    batches = gen.yelp_batches(9, 40, 3, 10, 0.3)
    assert [len(b) for b in batches] == [40, 10, 10, 10]
    seen = {r["bizId"] for r in batches[0]}
    for b in batches[1:]:
        ids = {r["bizId"] for r in b}
        assert len(ids & seen) == 3          # int(10 * 0.3) re-scrapes
        seen |= ids
    assert gen.yelp_batches(9, 40, 3, 10, 0.3) == batches


def test_requests_are_seeded_and_mix_every_endpoint():
    reqs = gen.yelp_requests(random.Random(4), 12)
    assert reqs == gen.yelp_requests(random.Random(4), 12)
    assert {k for k, _ in reqs} == {"category", "day", "open_now", "deep_page"}


# ---- checks ----------------------------------------------------------------

def test_digest_ignores_row_and_column_order_but_not_values():
    rows = [{"a": 1, "b": 0.5}, {"a": 2, "b": None}]
    shuffled = [{"b": None, "a": 2}, {"b": 0.5, "a": 1}]
    assert check.digest(rows) == check.digest(shuffled)
    assert check.digest(rows) != check.digest([{"a": 1, "b": 0.5 + 1e-12}, {"a": 2, "b": None}])
    assert check.digest(rows) != check.digest([{"a": 1, "c": 0.5}, {"a": 2, "c": None}])


def test_valid_names_apply_the_quarantine_constraints():
    rows = [{"name": "ok", "price": "$$", "health_score": "A"},
            {"name": "nulls", "price": None, "health_score": None},
            {"name": "bad price", "price": "$$$$$", "health_score": None},
            {"name": "empty price", "price": "", "health_score": None},
            {"name": "bad health", "price": "$", "health_score": "AA"}]
    assert check.valid_names(rows) == {"ok", "nulls"}


def test_exact_topk_excludes_self_and_breaks_ties_by_id(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 0.1]]
    pq.write_table(pa.table({"vec_id": np.arange(4, dtype=np.int64),
                             "embedding": pa.array(vecs, pa.list_(pa.float32())),
                             "label": np.zeros(4, dtype=np.int32)}),
                   tmp_path / "embeddings.parquet")
    oracle = check.CatalogOracle(str(tmp_path), tables=("embeddings",))
    try:
        top = oracle.exact_topk([0, 2], 2)
    finally:
        oracle.close()
    assert top[0] == {1, 3}
    assert top[2] == {3, 0}   # cos 0.0995 for 3, then 0 beats 1 on id


# ---- spans -----------------------------------------------------------------

def test_union_within_merges_overlaps_and_clips():
    assert trace._union_within([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace._union_within([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert trace._union_within([], 0, 1) == 0


def test_driver_gap_is_the_wall_no_span_covers():
    op = trace.Op(0, "catalog", "q", start=0.0, end=10.0,
                  spans=[("construct", 0.0, 2.0), ("plan", 2.0, 2.5), ("exec", 2.5, 9.5)])
    assert trace.Tracer.driver_gap(op) == pytest.approx(0.5)


def test_untraced_ops_record_wall_time_only():
    tracer = trace.Tracer(spark=None, enabled=False)
    with tracer.op("catalog", "q") as op:
        with tracer.span("construct"):
            pass
        tracer.plan(object())
    assert op.wall >= 0 and op.spans == [] and op.frames == []
    assert tracer.ops == [op]


# ---- A/A decision ----------------------------------------------------------

METRICS = {"op_p50_s": {"better": "lower", "bound": 0.1},
           "work_per_s": {"better": "higher", "bound": 0.1},
           "setup_s": {"better": "lower", "bound": 0.25}}


def _runs(sets: list[list[tuple[float, float, float]]]) -> list[dict]:
    out = []
    for s, values in enumerate(sets):
        for seed, (p50, work, setup) in enumerate(values):
            out.append({"workload": "w", "seed": seed, "set": s, "trace": 0, "run_s": 1.0,
                        "correct": True, "attempted": 1, "failed": 0,
                        "metrics": {"op_p50_s": {"value": p50}, "work_per_s": {"value": work},
                                    "setup_s": {"value": setup}}})
    return out


def test_aa_passes_two_sets_that_agree():
    a = [(1.0 + 0.01 * i, 100 - i, 10 + 0.1 * i) for i in range(8)]
    b = [(1.0 + 0.01 * i + 0.005, 100 - i, 10.5 + 0.1 * i) for i in range(8)]
    ok, lines = aa.evaluate(_runs([a, b]), METRICS, ["w"], 2)
    assert ok, lines


def test_aa_fails_on_drift_and_on_spread():
    a = [(1.0, 100.0, 10.0)] * 8
    slower = [(1.2, 100.0, 10.0)] * 8
    assert not aa.evaluate(_runs([a, slower]), METRICS, ["w"], 2)[0]
    noisy = [(1.0 + 0.1 * (i % 4), 100.0, 10.0) for i in range(8)]
    assert not aa.evaluate(_runs([noisy]), METRICS, ["w"], 1)[0]
    setup_noisy = [(1.0, 100.0, 10.0 * (1 + i % 4)) for i in range(8)]
    assert not aa.evaluate(_runs([setup_noisy]), METRICS, ["w"], 1)[0]


def test_aa_direction_of_worse():
    assert aa.worse_by(100, 90, "higher") == pytest.approx(0.1)
    assert aa.worse_by(1.0, 0.9, "lower") == pytest.approx(-0.1)


# ---- result contract -------------------------------------------------------

def test_benchmark_json_names_the_grid_the_traced_run_prints():
    from perfbench.run import layer_report

    class Quiet:
        extra: dict = {}

        def metrics(self):
            return {"op_p50_s": 1.0, "work_per_s": 1.0}

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    tracer = trace.Tracer(spark=None, enabled=False)
    assert set(layer_report(tracer, Quiet())) == {m["name"] for m in spec["per_layer"]}
    assert {m["name"] for m in spec["end_to_end"]} == {"op_p50_s", "work_per_s",
                                                        "retained_mb", "setup_s"}


def test_run_refuses_without_the_package(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                           "interactive_queries", "--seed", "1", "--seconds", "1",
                           "--trace", "0"], cwd=tmp_path, capture_output=True,
                          text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# ---- the real thing, small -------------------------------------------------

def _run(workload: str, trace_flag: int, seconds: int = 1) -> tuple[dict, dict]:
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                           "--seed", "11", "--seconds", str(seconds), "--trace",
                           str(trace_flag)], cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    report, result = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
    return report, result


@pytest.mark.parametrize("workload", ["yelp_ingest_serve", "interactive_queries"])
def test_traced_run_is_correct_and_reconciles(workload):
    report, result = _run(workload, 1)
    assert result["correct"] and result["failed"] == 0, report["failures"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    layers = (("normalize", "upsert", "yelp_queries") if workload == "yelp_ingest_serve"
              else ("catalog", "dedup", "ann_index"))
    for layer in layers:
        assert m[f"{layer}.ops"] >= 1
        assert m[f"{layer}.jobs"] >= 1 and m[f"{layer}.tasks"] >= m[f"{layer}.stages"] >= 1
        assert m[f"{layer}.shortfall_share"] < 0.05
        assert m[f"{layer}.exec_s"] >= m[f"{layer}.sched_gap_s"]
    if workload == "interactive_queries":
        assert 0.1 < m["ann_index.recall_at_10"] <= 1.0
        assert m["normalize.ops"] == 0
    else:
        assert 0.8 < m["normalize.valid_ratio"] < 1.0
        assert m["catalog.ops"] == 0


@pytest.mark.skipif(os.environ.get("PERFBENCH_AA") != "1",
                    reason="runs the real benchmark for several minutes; set PERFBENCH_AA=1")
def test_two_sets_of_runs_agree_within_the_bounds():
    proc = subprocess.run([sys.executable, "perfbench/aa.py", "--seeds", "1-3", "--sets", "2"],
                          cwd=ROOT, capture_output=True, text=True, timeout=3600)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]

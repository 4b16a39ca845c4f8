"""Replica divergence detection + failover promotion (VERDICT r10
next-5): content fingerprints audit a replica against the primary at
every sync boundary, and promote_replica() fences the old primary so
a late writer cannot split-brain the pair.

Invariants pinned:
- fence() seals every commit path (merge / every DML method, its
  keyed no-ops included / restore, any handle) with TableFencedError
  while reads, time travel and the change feed keep working; fencing
  twice is a no-op;
- content_fingerprint() is layout- and order-insensitive (equal row
  multisets ⇒ equal) and moves on any value/row change;
- a write landing on the replica OUTSIDE the replication stream is
  detected at the next verify=True sync;
- promote_replica(): stragglers drain, fingerprints verified, the
  promoted replica accepts DML, the fenced primary refuses a late
  writer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yelp_data_engineering_pipeline_spark.operators.upsert import (
    ParquetMergeTable,
    TableFencedError,
)
from yelp_data_engineering_pipeline_spark.streaming.ingest import (
    ReplicaDivergedError,
    promote_replica,
    run_replication_stream,
    verify_replica,
)

SCHEMA = "id long, p string, v long"


def _mk(spark, root, storage="posix"):
    t = ParquetMergeTable(spark, str(root), key="id",
                          partition_by="p", storage=storage)
    t.merge(spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], SCHEMA))   # v1
    t.merge(spark.createDataFrame(
        [(2, "a", 99), (4, "b", 40)], SCHEMA))                 # v2
    return t


def test_fence_seals_table_reads_survive(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    head = t.current_version()
    fv = t.fence()
    assert fv == head + 1
    # idempotent
    assert t.fence() == fv
    assert t.history()[0]["operation"] == "fence"
    # reads, time travel and the feed still work
    assert t.read().count() == 4
    assert t.read(version=1).count() == 3
    assert t.changes_at(fv).count() == 0          # fence churns nothing
    # every commit path refuses, from this handle and a fresh one
    batch = spark.createDataFrame([(9, "a", 90)], SCHEMA)
    with pytest.raises(TableFencedError):
        t.merge(batch)
    # all four DML methods, including the keyed no-ops (an empty probe
    # list, a probe every file's zone map prunes): the fence guard runs
    # before any of them could return without committing
    dml = [
        lambda: t.delete_where({"id": (1, 1)}),
        lambda: t.update_where({"id": (1, 1)}, {"v": 0}),
        lambda: t.delete_keys("id", [1]),
        lambda: t.update_keys("id", [1], {"v": 0}),
        lambda: t.delete_keys("id", []),
        lambda: t.update_keys("id", [], {"v": 0}),
        lambda: t.delete_keys("id", [10_000]),
        lambda: t.update_keys("id", [10_000], {"v": 0}),
    ]
    for call in dml:
        with pytest.raises(TableFencedError):
            call()
    with pytest.raises(TableFencedError):
        t.restore(1)
    late = ParquetMergeTable(spark, str(tmp_path / "t"), key="id",
                             partition_by="p")
    with pytest.raises(TableFencedError):
        late.merge(batch)


def test_fence_object_mode_late_writer(spark, tmp_path):
    """Object-mode shape of the race: writer A holds a handle opened
    before the fence; the fence lands through handle B; A's commit
    resolves its parent from the head inside the transaction and is
    refused."""
    a = _mk(spark, tmp_path / "t", storage="object")
    b = ParquetMergeTable(spark, str(tmp_path / "t"), key="id",
                          partition_by="p", storage="object")
    b.fence()
    with pytest.raises(TableFencedError):
        a.merge(spark.createDataFrame([(9, "a", 90)], SCHEMA),
                wait=True)


def test_content_fingerprint_multiset_semantics(spark, tmp_path):
    rows = [(1, "a", 10), (2, "a", 20), (3, "b", 30)]
    t1 = ParquetMergeTable(spark, str(tmp_path / "t1"), key="id",
                           partition_by="p")
    t1.merge(spark.createDataFrame(rows, SCHEMA))
    # same content, different layout: unpartitioned, rows in two
    # commits, reversed order
    t2 = ParquetMergeTable(spark, str(tmp_path / "t2"), key="id")
    t2.merge(spark.createDataFrame(rows[::-1][:2], SCHEMA))
    t2.merge(spark.createDataFrame(rows[::-1][2:], SCHEMA))
    f1 = t1.content_fingerprint()
    f2 = t2.content_fingerprint()
    assert (f1["rows"], f1["hash"]) == (f2["rows"], f2["hash"])
    # one value changes -> fingerprint moves
    t2.merge(spark.createDataFrame([(2, "a", 21)], SCHEMA))
    f3 = t2.content_fingerprint()
    assert f3["hash"] != f2["hash"] and f3["rows"] == f2["rows"]
    # a deleted row moves it too
    t1.delete_keys("id", [3])
    f4 = t1.content_fingerprint()
    assert f4["rows"] == 2 and f4["hash"] != f1["hash"]


def test_divergent_replica_write_detected_at_next_sync(spark, tmp_path):
    src = _mk(spark, tmp_path / "src")
    src.export_changes()
    rep_root = str(tmp_path / "rep")
    ckpt = str(tmp_path / "ckpt")
    # clean sync: the verify audit passes
    run_replication_stream(spark, src, rep_root, ckpt, verify=True)
    replica = ParquetMergeTable(spark, rep_root, key="id")
    assert verify_replica(src, replica)["match"]

    # a rogue write lands on the replica OUTSIDE the stream
    replica.merge(spark.createDataFrame(
        [(999, "z", 1, 1)], SCHEMA + ", _commit_version long"))

    # next sync detects it
    src.merge(spark.createDataFrame([(5, "b", 50)], SCHEMA))
    src.export_changes()
    with pytest.raises(ReplicaDivergedError):
        run_replication_stream(spark, src, rep_root, ckpt, verify=True)
    rep = verify_replica(src, ParquetMergeTable(spark, rep_root,
                                                key="id"))
    assert not rep["match"]
    assert rep["replica"]["rows"] == rep["primary"]["rows"] + 1


def test_promote_replica_failover(spark, tmp_path):
    src = _mk(spark, tmp_path / "src")
    src.export_changes()
    rep_root = str(tmp_path / "rep")
    ckpt = str(tmp_path / "ckpt")
    run_replication_stream(spark, src, rep_root, ckpt)

    # stragglers: committed on the primary but not yet exported when
    # the failover starts
    src.merge(spark.createDataFrame([(5, "b", 50)], SCHEMA))
    src.delete_keys("id", [1], use_deletion_vectors=True)

    promoted = promote_replica(spark, src, rep_root, ckpt)

    # the promoted replica holds exactly the primary's final state
    want = {(r.id, r.p, r.v) for r in src.read().collect()}
    got = {(r.id, r.p, r.v)
           for r in promoted.read().drop("_commit_version").collect()}
    assert got == want and 1 not in {r[0] for r in got}

    # the fenced primary refuses a late writer
    with pytest.raises(TableFencedError):
        ParquetMergeTable(spark, str(tmp_path / "src"), key="id",
                          partition_by="p").merge(
            spark.createDataFrame([(9, "a", 90)], SCHEMA))

    # the promoted replica is writable: keyed DML and (with schema
    # evolution, for the provenance column) fresh merges land
    promoted.delete_keys("id", [2])
    promoted.merge(spark.createDataFrame([(7, "a", 70)], SCHEMA),
                   schema_evolution=True)
    ids = {r.id for r in promoted.read().collect()}
    assert 2 not in ids and 7 in ids


def test_promote_carries_sidecar_planes_pruning_parity(spark, tmp_path):
    """VERDICT r11 next-5: replication moves CONTENT through the feed,
    so a promoted replica starts with none of the primary's physical
    planes (declared clustering, Bloom file indexes; DVs became CoW
    applies — content-equal by construction). promote_replica's
    carry_layout step must re-establish them: the new primary's first
    maintenance_plan() watches the same clustering columns, its Bloom
    index prunes point probes immediately, and read_point/delete_keys
    answer identically to the (fenced, still readable) old primary."""
    src = ParquetMergeTable(spark, str(tmp_path / "src"), key="id")
    src.merge(spark.createDataFrame(
        [(i, f"s{i}", i % 97) for i in range(2000)],
        "id long, s string, v long"))
    src.compact(zorder_by=("id",), target_files=8)   # declares clustering
    src.build_file_index("s")                        # bloom on unclustered col
    src.delete_keys("id", [100, 200], use_deletion_vectors=True)  # DV plane
    src.merge(spark.createDataFrame(
        [(3000 + i, f"s{3000 + i}", i) for i in range(50)],
        "id long, s string, v long"))
    src.export_changes()

    rep_root = str(tmp_path / "rep")
    promoted = promote_replica(spark, src, rep_root,
                               str(tmp_path / "ckpt"))

    # (1) declared clustering carried — the decay leg watches the same
    # columns on day one
    assert promoted.clustered_by() == src.clustered_by() == ["id"]
    plan = promoted.maintenance_plan()
    assert set(plan["clustering"]) == {"id"}
    # feed-apply layout is commit-ordered, not key-clustered: the first
    # plan must HONESTLY surface the re-layout work, not hide it
    assert any(a.startswith("rezorder") for a in plan["actions"]) or \
        plan["clustering"]["id"]["decayed_files"] == 0

    # (2) bloom coverage carried (every live file indexed)
    assert "s" in promoted.file_index()
    assert plan["bloom"]["s"]["coverage"] == 1.0

    # (3) read_point parity with the fenced primary (reads still work
    # there), on the primary's columns
    probe = ["s7", "s150", "s3010"]
    want = {(r.id, r.s, r.v)
            for r in src.read_point("s", probe).collect()}
    got = {(r.id, r.s, r.v)
           for r in promoted.read_point("s", probe)
           .select("id", "s", "v").collect()}
    assert got == want and want

    # (4) keyed DML works on the new primary and lands exactly
    promoted.delete_keys("s", ["s7"])
    assert promoted.read_point("s", ["s7"]).count() == 0
    assert promoted.read().count() == src.read().count() - 1

    # (5) the plan's recommended rezorder() is runnable on day one (it
    # needs a declared clustering — before carry_layout it raised
    # ValueError); the re-layout restores BOTH pruning planes: zone
    # maps on the clustered column AND the Bloom index (carried across
    # the rewrite by auto-maintenance) now point-prune across the
    # re-laid files
    promoted.rezorder(target_files=8)
    v2 = promoted.current_version()
    keys2 = promoted._seq_list(
        promoted._zone_arrays(v2, ["id"], with_rows=False)[0])
    _, _, _, za = promoted._zone_arrays(v2, ["id"], with_rows=False)
    keep, _ = promoted._mask_range(za, len(keys2), {"id": (0, 10)}, True)
    assert sum(keep) < len(keep)
    kept = promoted._point_prune("s", ["s8", "s150"], v2)
    assert len(kept) < len(promoted._file_keys(v2)), (
        len(kept), len(promoted._file_keys(v2)))
    plan2 = promoted.maintenance_plan()
    assert not any(a.startswith("rezorder") for a in plan2["actions"])


def test_promote_aborts_on_diverged_replica(spark, tmp_path):
    src = _mk(spark, tmp_path / "src")
    src.export_changes()
    rep_root = str(tmp_path / "rep")
    ckpt = str(tmp_path / "ckpt")
    run_replication_stream(spark, src, rep_root, ckpt)
    ParquetMergeTable(spark, rep_root, key="id").merge(
        spark.createDataFrame([(999, "z", 1, 1)],
                              SCHEMA + ", _commit_version long"))
    with pytest.raises(ReplicaDivergedError):
        promote_replica(spark, src, rep_root, ckpt)
    # promotion aborted AFTER fencing: the primary stays sealed (the
    # safe side — no writer proceeds against either table until an
    # operator repairs the replica)
    with pytest.raises(TableFencedError):
        src.merge(spark.createDataFrame([(9, "a", 90)], SCHEMA))

def test_delta_folded_audit_equals_full_scan(spark, tmp_path):
    """The O(churn) audit path: fingerprint_fold onto a full-scan base
    must equal content_fingerprint at every later version, and
    verify_replica(primary_base=...) must reach the same verdict as
    the full-scan form — on a clean replica AND on a diverged one."""
    src = _mk(spark, tmp_path / "src")                         # v1, v2
    base_v = src.current_version()
    base_fp = src.content_fingerprint(version=base_v)
    src.delete_keys("id", [1], use_deletion_vectors=True)      # v3
    src.merge(spark.createDataFrame([(6, "b", 60)], SCHEMA))   # v4
    head = src.current_version()
    for v in range(base_v, head + 1):
        assert (src.fingerprint_fold(base_v, base_fp, v)
                == src.content_fingerprint(version=v)), v

    src.export_changes()
    rep_root = str(tmp_path / "rep")
    run_replication_stream(spark, src, rep_root,
                           str(tmp_path / "ckpt"))
    replica = ParquetMergeTable(spark, rep_root, key="id")
    full = verify_replica(src, replica)
    folded = verify_replica(src, replica,
                            primary_base=(base_v, base_fp))
    assert folded["match"] and folded["primary"] == full["primary"]

    # the folded audit must catch the same rogue write
    replica.merge(spark.createDataFrame(
        [(999, "z", 1, 1)], SCHEMA + ", _commit_version long"))
    assert not verify_replica(
        src, ParquetMergeTable(spark, rep_root, key="id"),
        primary_base=(base_v, base_fp))["match"]

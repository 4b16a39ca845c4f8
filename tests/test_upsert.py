"""Incremental maintenance tests: cross-run id stability (SURVEY §7
hard point 4), upsert semantics, SCD-2, salting equivalence."""

from __future__ import annotations

from datetime import datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.yelp_fixtures import make_results, write_ndjson
from yelp_data_engineering_pipeline_spark.operators.salting import (
    salted_count,
    salted_join,
    salted_sum,
)
from yelp_data_engineering_pipeline_spark.operators.upsert import (
    ConcurrentMergeError,
    ParquetMergeTable,
    merge_upsert,
    normalize_incremental,
    scd2_apply,
)
from yelp_data_engineering_pipeline_spark.plans.normalize import normalize
from yelp_data_engineering_pipeline_spark.schemas import RESULTS_SCHEMA


@pytest.fixture(scope="module")
def batches(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("inc")
    all_rows = make_results(60, seed=21)
    p1 = write_ndjson(all_rows[:40], tmp / "b1.ndjson")
    p2 = write_ndjson(all_rows[40:], tmp / "b2.ndjson")
    b1 = spark.read.schema(RESULTS_SCHEMA).json(str(p1))
    b2 = spark.read.schema(RESULTS_SCHEMA).json(str(p2))
    return b1, b2, all_rows


def test_incremental_ids_stable_and_dense(spark, batches):
    b1, b2, _ = batches
    first = normalize(b1)
    merged = normalize_incremental(b2, first)

    # existing dim ids unchanged
    before = dict(first["food_category"].rdd.map(lambda r: (r["name"], r["id"])).collect())
    after = dict(merged["food_category"].rdd.map(lambda r: (r["name"], r["id"])).collect())
    for name, old_id in before.items():
        assert after[name] == old_id
    # dense overall
    ids = sorted(r["id"] for r in merged["food_category"].collect())
    assert ids == list(range(1, len(ids) + 1))

    # existing business rows untouched, new ids continue past max
    b_before = {r["id"]: r["name"] for r in first["business"].collect()}
    b_after = {r["id"]: r["name"] for r in merged["business"].collect()}
    for i, name in b_before.items():
        assert b_after[i] == name
    assert len(b_after) == merged["business"].count()
    assert set(b_after) == set(range(1, len(b_after) + 1))


def test_incremental_fk_integrity(spark, batches):
    b1, b2, _ = batches
    merged = normalize_incremental(b2, normalize(b1))
    biz = {r["id"] for r in merged["business"].collect()}
    for bridge, dim, fk in [
        ("business_amenity", "amenity", "amenity_id"),
        ("open_hours", "weekday", "weekday_id"),
        ("business_food_category", "food_category", "food_category_id"),
    ]:
        dim_ids = {r["id"] for r in merged[dim].collect()}
        rows = merged[bridge].collect()
        assert rows
        for r in rows:
            assert r["business_id"] in biz
            assert r[fk] in dim_ids
        ids = sorted(r["id"] for r in rows)
        assert ids == list(range(1, len(ids) + 1)), bridge


def test_incremental_matches_full_load_shape(spark, batches):
    """Counts after incremental load == counts of a one-shot full load."""
    b1, b2, _ = batches
    merged = normalize_incremental(b2, normalize(b1))
    full = normalize(b1.unionByName(b2))
    for t in ("business", "open_hours", "business_amenity", "food_category"):
        assert merged[t].count() == full[t].count(), t


def test_incremental_overlapping_batch_upserts(spark, tmp_path):
    """ADVICE r1: a re-scraped business must UPDATE (keep its id, replace
    attributes and child rows), not append a duplicate."""
    all_rows = make_results(60, seed=21)
    p1 = write_ndjson(all_rows[:40], tmp_path / "o1.ndjson")
    p2 = write_ndjson(all_rows[30:], tmp_path / "o2.ndjson")  # 10 overlap
    b1 = spark.read.schema(RESULTS_SCHEMA).json(str(p1))
    b2 = spark.read.schema(RESULTS_SCHEMA).json(str(p2))

    first = normalize(b1)
    merged = normalize_incremental(b2, first)

    # one row per name — overlap did not duplicate
    n_biz = merged["business"].count()
    assert n_biz == merged["business"].select("name").distinct().count()

    # re-scraped names kept their round-1 ids
    before = {r["name"]: r["id"] for r in first["business"].collect()}
    after = {r["name"]: r["id"] for r in merged["business"].collect()}
    overlap_names = [
        r["name"]
        for r in b2.join(b1, "bizId", "left_semi").select("name").collect()
        if r["name"] in before  # quarantined rows never reach the star schema
    ]
    assert overlap_names
    for name in overlap_names:
        assert after[name] == before[name]

    # child rows: no business carries both old and new versions
    for bridge in ("open_hours", "business_amenity", "business_food_category"):
        per_biz_full = {
            r["business_id"]: r["n"]
            for r in normalize(b1.unionByName(b2.join(b1, "bizId", "left_anti")))[bridge]
            .groupBy("business_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        per_biz_merged = {
            r["business_id"]: r["n"]
            for r in merged[bridge].groupBy("business_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        # same number of child rows per business as a dedup'd full load
        assert sorted(per_biz_merged.values()) == sorted(per_biz_full.values()), bridge
        # ids unique
        assert merged[bridge].select("id").distinct().count() == merged[bridge].count(), bridge


def test_merge_upsert(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    incoming = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    got = {(r["k"], r["v"]) for r in merge_upsert(existing, incoming, "k").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_scd2_close_and_insert(spark):
    t0, t1 = datetime(2026, 1, 1), datetime(2026, 2, 1)
    current = spark.createDataFrame(
        [(1, "x", t0, None), (2, "y", t0, None)],
        "k int, attr string, valid_from timestamp, valid_to timestamp",
    )
    changes = spark.createDataFrame([(1, "x2"), (3, "z")], "k int, attr string")
    out = scd2_apply(current, changes, "k", ["attr"], t1).collect()
    rows = {(r["k"], r["attr"], r["valid_to"]) for r in out}
    assert (1, "x", t1) in rows          # closed old version
    assert (1, "x2", None) in rows       # new open version
    assert (2, "y", None) in rows        # untouched stays open
    assert (3, "z", None) in rows        # brand-new key inserted
    assert len(out) == 4


def test_salting_equivalence(spark, sf_dir):
    from yelp_data_engineering_pipeline_spark.tables import load

    li = load(spark, sf_dir, "lineitem")
    plain = {
        r["l_returnflag"]: round(r["s"], 2)
        for r in li.groupBy("l_returnflag").agg(F.round(F.sum("l_quantity"), 2).alias("s")).collect()
    }
    salted = {
        r["l_returnflag"]: round(r["sum_l_quantity"], 2)
        for r in salted_sum(li, ["l_returnflag"], "l_quantity").collect()
    }
    assert plain == salted

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    plain_n = orders.join(customer, orders.o_custkey == customer.c_custkey).count()
    assert salted_join(orders, customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey").count() == plain_n

    plain_c = {(r["l_returnflag"], r["count(1)"]) for r in li.groupBy("l_returnflag").agg(F.count(F.lit(1))).collect()}
    salted_c = {(r["l_returnflag"], r["n"]) for r in salted_count(li, ["l_returnflag"]).collect()}
    assert plain_c == salted_c


def test_dense_ids_two_phase_equals_window(spark, sf_dir):
    """The distributed two-phase id assigner must produce exactly the
    ids of the single-partition window version."""
    from yelp_data_engineering_pipeline_spark.operators.ids import (
        dense_ids,
        dense_ids_window,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    a = {r["o_orderkey"]: r["id"] for r in dense_ids(orders, "o_orderkey", num_partitions=7).collect()}
    b = {r["o_orderkey"]: r["id"] for r in dense_ids_window(orders, "o_orderkey").collect()}
    assert a == b
    assert sorted(a.values()) == list(range(1, len(a) + 1))


def test_merge_agg_state_equals_full_recompute(spark):
    from yelp_data_engineering_pipeline_spark.operators.upsert import merge_agg_state

    rows = [(i % 3, float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "k int, v double")

    def partial(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    merged = merge_agg_state(
        partial(df.filter("v < 70")), partial(df.filter("v >= 70")), ["k"]
    )
    got = {r["k"]: (r["n"], r["s"]) for r in merged.collect()}
    want = {r["k"]: (r["n"], r["s"]) for r in partial(df).collect()}
    assert got == want


def test_snapshot_diff_classification(spark):
    from yelp_data_engineering_pipeline_spark.operators.upsert import snapshot_diff

    old = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    new = spark.createDataFrame([(2, "b"), (3, "CHANGED"), (4, "d")], "k long, v string")
    got = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, "k", ["v"]).collect()}
    assert got == {1: "deleted", 2: "unchanged", 3: "updated", 4: "inserted"}


def test_snapshot_diff_signature_is_injective(spark):
    """ADVICE r10: values embedding the old separator/sentinel bytes
    must never collide — ('a\\x1fb','c') vs ('a','b\\x1fc') is a REAL
    update, as is a literal '\\x00' vs NULL, and '' vs NULL."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a\x1fb", "c"), (2, "\x00", "z"), (3, "", "z"),
         (4, "v1:", "x")],
        "k long, a string, b string")
    new = spark.createDataFrame(
        [(1, "a", "b\x1fc"), (2, None, "z"), (3, None, "z"),
         (4, "v", "1:x")],
        "k long, a string, b string")
    got = {r["k"]: r["change_type"]
           for r in snapshot_diff(old, new, "k", ["a", "b"]).collect()}
    assert got == {1: "updated", 2: "updated", 3: "updated",
                   4: "updated"}


def test_profile_columns_stats(spark):
    from yelp_data_engineering_pipeline_spark.operators.profiling import profile_columns

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (2, "y"), (None, "x")], "a long, s string"
    )
    got = {r["column"]: r for r in profile_columns(df, ["a", "s"]).collect()}
    assert got["a"]["n_rows"] == 4 and got["a"]["n_nulls"] == 1
    assert got["a"]["n_distinct"] == 2 and (got["a"]["min_int"], got["a"]["max_int"]) == (1, 2)
    assert got["s"]["n_nulls"] == 1 and got["s"]["n_distinct"] == 2
    assert got["s"]["min_int"] is None


def test_parquet_merge_table_upsert_insert_delete(spark, tmp_path):
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k")
    assert t.read() is None and t.current_version() == 0

    v1 = t.merge(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    assert v1 == 1
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "a"), (2, "b")}

    # matched → update, not matched → insert, delete flag → remove
    batch = spark.createDataFrame(
        [(2, "B", False), (3, "c", False), (1, None, True)],
        "k long, v string, is_delete boolean",
    )
    v2 = t.merge(batch, delete_col="is_delete")
    assert v2 == 2
    assert {(r.k, r.v) for r in t.read().collect()} == {(2, "B"), (3, "c")}


def test_parquet_merge_table_idempotent_reapply(spark, tmp_path):
    """Applying the SAME batch twice yields the same committed table
    (version advances, content does not) — the MERGE re-run safety the
    reference's single-transaction reload gives for free."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k")
    t.merge(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    batch = spark.createDataFrame(
        [(2, "B", False), (4, "d", False), (3, None, True)],
        "k long, v string, is_delete boolean",
    )
    t.merge(batch, delete_col="is_delete")
    first = sorted((r.k, r.v) for r in t.read().collect())
    v = t.merge(batch, delete_col="is_delete")  # re-apply verbatim
    assert v == 3
    assert sorted((r.k, r.v) for r in t.read().collect()) == first


def test_parquet_merge_table_reader_never_sees_partial(spark, tmp_path):
    """The version pointer only flips after the snapshot directory is
    complete: a concurrent reader holding the OLD version keeps reading
    the old snapshot untouched (copy-on-write, no in-place edits)."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k")
    t.merge(spark.createDataFrame([(1, "a")], "k long, v string"))
    old_snapshot = t.read()  # plan pinned to v=1 path
    t.merge(spark.createDataFrame([(1, "A2")], "k long, v string"))
    # old reader: unchanged; new reader: updated
    assert [(r.k, r.v) for r in old_snapshot.collect()] == [(1, "a")]
    assert [(r.k, r.v) for r in t.read().collect()] == [(1, "A2")]


def test_parquet_merge_table_partition_pruned_cow(spark, tmp_path):
    """Partitioned MERGE rewrites ONLY touched partitions; untouched
    partition files are hardlinked from the previous snapshot (same
    inode — zero copy), and read-back is correct for both snapshots."""
    import os

    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    root = str(tmp_path / "tbl")
    t = ParquetMergeTable(spark, root, key="k", partition_by="p")
    t.merge(
        spark.createDataFrame(
            [(1, "a", "x1"), (2, "a", "x2"), (10, "b", "y1"), (20, "c", "z1")],
            "k long, p string, v string",
        )
    )
    # batch touches ONLY partition a (update + insert) — b and c must
    # be hardlinked, not rewritten
    t.merge(
        spark.createDataFrame([(2, "a", "X2"), (3, "a", "x3")], "k long, p string, v string")
    )
    got = {(r.k, r.p, r.v) for r in t.read().collect()}
    assert got == {
        (1, "a", "x1"),
        (2, "a", "X2"),
        (3, "a", "x3"),
        (10, "b", "y1"),
        (20, "c", "z1"),
    }
    for part in ("p=b", "p=c"):
        old_files = {
            f: os.stat(os.path.join(root, "v=1", part, f)).st_ino
            for f in os.listdir(os.path.join(root, "v=1", part))
            if f.endswith(".parquet")
        }
        new_dir = os.path.join(root, "v=2", part)
        for f, ino in old_files.items():
            assert os.stat(os.path.join(new_dir, f)).st_ino == ino  # hardlink


def test_parquet_merge_table_partition_delete_and_idempotence(spark, tmp_path):
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    root = str(tmp_path / "tbl")
    t = ParquetMergeTable(spark, root, key="k", partition_by="p")
    t.merge(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")], "k long, p string, v string"
        )
    )
    batch = spark.createDataFrame(
        [(2, "b", None, True), (3, "c", "z", False)],
        "k long, p string, v string, is_delete boolean",
    )
    t.merge(batch, delete_col="is_delete")
    first = sorted((r.k, r.p, r.v) for r in t.read().collect())
    assert first == [(1, "a", "x"), (3, "c", "z")]  # partition b emptied out
    t.merge(batch, delete_col="is_delete")  # idempotent re-apply
    assert sorted((r.k, r.p, r.v) for r in t.read().collect()) == first


def test_rank_histogram_grid_equals_range_scheme(spark):
    """The r6 fixed-grid ranking must produce EXACTLY the ranks of the
    range-repartition scheme (same total order), including negative
    values, duplicates, and sub-cent jitter."""
    from yelp_data_engineering_pipeline_spark.cache import release_tracked
    from yelp_data_engineering_pipeline_spark.operators.ids import (
        dense_ids_with_total,
        rank_histogram_grid,
    )

    vals = [(-3.21, 1), (0.0, 2), (0.0, 3), (655.36, 4), (655.37, 5),
            (1e7, 6), (-0.009, 7), (123.456, 8), (123.456, 9)]
    df = spark.createDataFrame(vals, "v double, tb long")
    grid, n1 = rank_histogram_grid(df, "v", "tb", id_col="r")
    rng, n2 = dense_ids_with_total(df, "v", "tb", id_col="r", num_partitions=4)
    g = {(r.v, r.tb): r.r for r in grid.collect()}
    e = {(r.v, r.tb): r.r for r in rng.collect()}
    release_tracked()
    assert n1 == n2 == len(vals)
    assert g == e


def test_merge_pruned_read_pushes_partition_filter(spark, tmp_path):
    """The pruned path's isin-filter must reach the scan as a
    PartitionFilter (untouched partitions are never read, let alone
    rewritten)."""
    import re

    from pyspark.sql import functions as F

    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k", partition_by="p")
    t.merge(
        spark.createDataFrame(
            [(i, chr(97 + i % 4), "v") for i in range(40)], "k long, p string, v string"
        )
    )
    plan = (
        t.read()
        .filter(F.col("p").isin(["a"]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "p" in m.group(1) and "= a" in m.group(1), plan[:500]


@pytest.mark.parametrize("storage", ["posix", "object",
                                     "object-sidecar"])
@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(
                st.tuples(
                    st.integers(0, 6),                      # key
                    st.text("xyz", min_size=1, max_size=3),  # value
                    st.booleans(),                           # is_delete
                ),
                min_size=1,
                max_size=4,
            ),
            st.integers(0, 9),  # after the merge: none/vacuum/compact/
            # delete_where/update_where/DV-delete/DV-update/
            # delete_keys/update_keys (r9 keyed DML)/
            # zorder+incremental-rezorder (r11 layout maintenance)
        ),
        min_size=1,
        max_size=3,
    )
)
def test_merge_table_matches_dict_replay_model(spark, tmp_path_factory,
                                               storage, batches):
    """Model-based MERGE check: any sequence of upsert/delete batches
    must leave the table equal to a plain dict replay (last write per
    key wins within the sequence; within a batch the dedup rule is
    max-value-then-delete-flag, applied identically to the model).

    The partition is DERIVED from the key (k % 2) — the documented
    partitioned-MERGE contract: a key's partition is immutable, and a
    delete row must carry its key's true partition (the first draft
    generated independent partitions and hypothesis immediately found
    the contract violation: a delete tagged with the wrong partition
    is invisible to the pruned rewrite)."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    root = str(tmp_path_factory.mktemp("mbt") / "tbl")
    # the third flavor fuzzes the EXTERNALIZED metadata paths (r9):
    # every full record goes to a parquet checkpoint sidecar, every
    # DV to a binary sidecar — same model, same invariants
    forced = storage == "object-sidecar"
    orig_ckpt = ParquetMergeTable._CKPT_INLINE_MAX
    orig_dv = ParquetMergeTable._DV_INLINE_TOTAL_MAX
    if forced:
        storage = "object"
        ParquetMergeTable._CKPT_INLINE_MAX = 0
        ParquetMergeTable._DV_INLINE_TOTAL_MAX = 0
    t = ParquetMergeTable(spark, root, key="k", partition_by="p",
                          storage=storage)
    model: dict[int, tuple[str, str]] = {}
    for batch, maint in batches:
        # one candidate per key per batch: deterministic max by
        # (value, is_delete) — mirrored in the DataFrame path below
        best: dict[int, tuple[str, str, bool]] = {}
        for k, v, d in batch:
            cand = ("pa" if k % 2 else "pb", v, d)
            if k not in best or (cand[1], cand[2]) > (best[k][1], best[k][2]):
                best[k] = cand
        rows = [(k, p, v, d) for k, (p, v, d) in sorted(best.items())]
        df = spark.createDataFrame(rows, "k long, p string, v string, is_delete boolean")
        t.merge(df, delete_col="is_delete")
        for k, (p, v, d) in best.items():
            if d:
                model.pop(k, None)
            else:
                model[k] = (p, v)
        # r7: interleave retention/compaction maintenance — content
        # must be invariant under vacuum and compact at ANY point
        if maint == 1 and t.current_version() > 0:
            t.vacuum(keep_last_n=1)
        elif maint == 2 and t.current_version() > 0:
            t.compact(partition_value="pa")
        # r7 DML: predicate delete/update must match the same mutation
        # applied to the model at the same sequence point
        elif maint == 3 and t.current_version() > 0:
            t.delete_where({"k": (2, 4)})
            for k in (2, 3, 4):
                model.pop(k, None)
        elif maint == 4 and t.current_version() > 0:
            t.update_where({"k": (0, 3)},
                           {"v": F.concat(F.lit("U"), F.col("v"))})
            for k in list(model):
                if 0 <= k <= 3:
                    model[k] = (model[k][0], "U" + model[k][1])
        # r7 merge-on-read: the DV paths must be indistinguishable
        # from their CoW twins at the model level
        elif maint == 5 and t.current_version() > 0:
            t.delete_where({"k": (1, 3)}, use_deletion_vectors=True)
            for k in (1, 2, 3):
                model.pop(k, None)
        elif maint == 6 and t.current_version() > 0:
            t.update_where({"k": (4, 6)},
                           {"v": F.concat(F.lit("D"), F.col("v"))},
                           use_deletion_vectors=True)
            for k in list(model):
                if 4 <= k <= 6:
                    model[k] = (model[k][0], "D" + model[k][1])
        # r9 keyed DML: the IN-list twins must match the same keyed
        # mutation on the model (DV flavor for the delete — both
        # pruning stacks and both write paths get fuzzed)
        elif maint == 7 and t.current_version() > 0:
            t.delete_keys("k", [0, 5, 99], use_deletion_vectors=True)
            for k in (0, 5, 99):
                model.pop(k, None)
        elif maint == 8 and t.current_version() > 0:
            t.update_keys("k", [1, 6],
                          {"v": F.concat(F.lit("K"), F.col("v"))})
            for k in (1, 6):
                if k in model:
                    model[k] = (model[k][0], "K" + model[k][1])
        # r11 layout maintenance: declaring clustering and running the
        # incremental rezorder are pure re-layouts — content must be
        # invariant under both at ANY sequence point (incl. right
        # after DV-writing DML: a rewritten victim purges its DV)
        elif maint == 9 and t.current_version() > 0:
            t.compact(zorder_by=("k",), target_files=2)
            t.rezorder(only_decayed=True, target_files=2)
    try:
        got = ({r.k: (r.p, r.v) for r in t.read().collect()}
               if t.read() is not None else {})
    finally:
        ParquetMergeTable._CKPT_INLINE_MAX = orig_ckpt
        ParquetMergeTable._DV_INLINE_TOTAL_MAX = orig_dv
    assert got == model
    if forced and t.current_version() > 0:
        full = t._walk_to_full(t.current_version())[1]
        # every non-empty full record went to a sidecar
        assert "ckpt" in full or not full.get("files")


# ---------------------------------------------------------------------------
# r7: crash recovery, partition-path escaping, concurrency, retention
# ---------------------------------------------------------------------------


def test_merge_table_recovers_from_orphan_snapshot(spark, tmp_path):
    """Crash between snapshot write and pointer flip (ADVICE r6): an
    orphan v=n+1 directory above the committed pointer must not brick
    the table — the next merge clears it and commits normally, and a
    replayed batch after the 'crash' is the documented no-op."""
    import os

    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    root = str(tmp_path / "tbl")
    t = ParquetMergeTable(spark, root, key="k")
    batch1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    t.merge(batch1)
    # simulate a merge that died after writing v=2 but before the flip
    orphan = os.path.join(root, "v=2")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "w") as f:
        f.write("half-written garbage")
    assert t.current_version() == 1  # pointer untouched by the 'crash'

    batch2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    v = t.merge(batch2)  # replay: must NOT raise on the orphan dir
    assert v == 2
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "a"), (2, "B"), (3, "c")}
    # same for the partitioned path
    rootp = str(tmp_path / "tblp")
    tp = ParquetMergeTable(spark, rootp, key="k", partition_by="p")
    tp.merge(spark.createDataFrame([(1, "x", "a")], "k long, p string, v string"))
    os.makedirs(os.path.join(rootp, "v=2", "p=x"))
    tp.merge(spark.createDataFrame([(2, "x", "b")], "k long, p string, v string"))
    assert {(r.k, r.p, r.v) for r in tp.read().collect()} == {
        (1, "x", "a"),
        (2, "x", "b"),
    }


def test_merge_table_partition_values_needing_escaping(spark, tmp_path):
    """Touched-partition detection must use Spark's own path encoding
    (ADVICE r6): values with spaces/colons/percents land in escaped
    directories, and NULL lands in __HIVE_DEFAULT_PARTITION__ — a
    str()-based comparison would hardlink stale files into rewritten
    partitions (silent duplicates) or drop NULL-partition rows."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    root = str(tmp_path / "tbl")
    t = ParquetMergeTable(spark, root, key="k", partition_by="p")
    t.merge(
        spark.createDataFrame(
            [
                (1, "a b", "v1"),
                (2, "x:y", "v2"),
                (3, "p%q", "v3"),
                (4, None, "v4"),
                (5, "plain", "v5"),
            ],
            "k long, p string, v string",
        )
    )
    # touch every tricky partition: update in 'a b', 'x:y', 'p%q', and
    # the NULL partition; leave 'plain' untouched (hardlink path)
    t.merge(
        spark.createDataFrame(
            [(1, "a b", "V1"), (2, "x:y", "V2"), (3, "p%q", "V3"), (4, None, "V4")],
            "k long, p string, v string",
        )
    )
    got = sorted((r.k, r.p, r.v) for r in t.read().collect())
    assert got == [
        (1, "a b", "V1"),
        (2, "x:y", "V2"),
        (3, "p%q", "V3"),
        (4, None, "V4"),
        (5, "plain", "V5".lower()),
    ]
    # no duplicates: exactly one row per key (stale hardlinks would double)
    assert t.read().count() == 5


def test_merge_table_null_partition_delete_and_survivors(spark, tmp_path):
    """NULL-partition rows merge correctly: existing NULL rows are
    pulled into the merge (isin() alone would miss them) so an
    untouched key in the NULL partition survives a merge that touches
    that partition."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k", partition_by="p")
    t.merge(
        spark.createDataFrame(
            [(1, None, "keep"), (2, None, "old"), (3, "q", "other")],
            "k long, p string, v string",
        )
    )
    batch = spark.createDataFrame(
        [(2, None, "new", False), (4, None, None, True)],
        "k long, p string, v string, is_delete boolean",
    )
    t.merge(batch, delete_col="is_delete")
    got = sorted((r.k, r.p, r.v) for r in t.read().collect())
    assert got == [(1, None, "keep"), (2, None, "new"), (3, "q", "other")]


def test_merge_table_concurrent_writers(spark, tmp_path):
    """VERDICT r6 next-5: two racing merges. wait=False — exactly one
    wins, the loser raises ConcurrentMergeError cleanly and the table
    is untouched by it; wait=True — both commit and the result equals
    a serial replay (upserts on disjoint keys commute)."""
    import threading

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ConcurrentMergeError,
        ParquetMergeTable,
    )

    root = str(tmp_path / "tbl")
    t = ParquetMergeTable(spark, root, key="k")
    t.merge(spark.createDataFrame([(0, "base")], "k long, v string"))

    b1 = spark.createDataFrame([(1, "one")], "k long, v string")
    b2 = spark.createDataFrame([(2, "two")], "k long, v string")
    # deterministic interleave: writer A grabs the lock and holds it
    # until B has observed the conflict
    release = threading.Event()
    a_holds = threading.Event()
    errors: list[Exception] = []

    def writer_a():
        lock = t._writer_lock(wait=True)
        try:
            a_holds.set()
            release.wait(timeout=30)
        finally:
            lock.close()

    ta = threading.Thread(target=writer_a)
    ta.start()
    assert a_holds.wait(timeout=30)
    try:
        t.merge(b1, wait=False)
    except ConcurrentMergeError as e:
        errors.append(e)
    release.set()
    ta.join(timeout=30)
    assert len(errors) == 1  # loser raised cleanly...
    assert t.current_version() == 1  # ...and never touched the table

    # wait=True from two real threads: both commit, serial-replay result
    def do_merge(batch):
        t.merge(batch, wait=True)

    t1 = threading.Thread(target=do_merge, args=(b1,))
    t2 = threading.Thread(target=do_merge, args=(b2,))
    t1.start(); t2.start(); t1.join(timeout=120); t2.join(timeout=120)
    assert t.current_version() == 3
    assert {(r.k, r.v) for r in t.read().collect()} == {
        (0, "base"),
        (1, "one"),
        (2, "two"),
    }


def test_merge_table_vacuum_retention(spark, tmp_path):
    """vacuum(keep_last_n) removes old snapshot directories, is
    idempotent, and — because untouched partitions are HARDLINKED
    forward — deleting an old version never damages files the kept
    snapshot still references."""
    import os

    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    root = str(tmp_path / "tbl")
    t = ParquetMergeTable(spark, root, key="k", partition_by="p")
    t.merge(
        spark.createDataFrame(
            [(1, "a", "x"), (10, "b", "y")], "k long, p string, v string"
        )
    )
    t.merge(spark.createDataFrame([(2, "a", "x2")], "k long, p string, v string"))
    t.merge(spark.createDataFrame([(3, "a", "x3")], "k long, p string, v string"))
    assert t.current_version() == 3
    before = sorted((r.k, r.p, r.v) for r in t.read().collect())

    import os as _os

    _os.makedirs(_os.path.join(root, "v=9"))  # crash orphan above pointer
    removed = t.vacuum(keep_last_n=1)
    assert removed == [1, 2, 9]  # retention + orphan cleanup
    assert not os.path.exists(os.path.join(root, "v=1"))
    assert not os.path.exists(os.path.join(root, "v=2"))
    # partition b was only ever written in v=1 and hardlinked since:
    # its data must still be readable from the kept snapshot
    assert sorted((r.k, r.p, r.v) for r in t.read().collect()) == before
    assert t.vacuum(keep_last_n=1) == []  # idempotent


def test_merge_table_compact_small_files(spark, tmp_path):
    """compact() rewrites a partition's accumulated small files into
    one, with a byte-identical row set; untouched partitions ride
    along by hardlink; a second compact changes nothing."""
    import os

    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    root = str(tmp_path / "tbl")
    t = ParquetMergeTable(spark, root, key="k", partition_by="p")
    # several multi-task merges → partition 'a' accumulates files
    t.merge(
        spark.createDataFrame(
            [(i, "a", f"v{i}") for i in range(8)] + [(100, "b", "stay")],
            "k long, p string, v string",
        ).repartition(4)
    )
    t.merge(
        spark.createDataFrame(
            [(i, "a", f"w{i}") for i in range(4, 12)], "k long, p string, v string"
        ).repartition(4)
    )
    before = sorted((r.k, r.p, r.v) for r in t.read().collect())
    pa = os.path.join(root, f"v={t.current_version()}", "p=a")
    n_files_before = len([f for f in os.listdir(pa) if f.endswith(".parquet")])
    assert n_files_before > 1

    v = t.compact(partition_value="a")
    assert v == t.current_version()
    pa2 = os.path.join(root, f"v={v}", "p=a")
    assert len([f for f in os.listdir(pa2) if f.endswith(".parquet")]) == 1
    assert sorted((r.k, r.p, r.v) for r in t.read().collect()) == before

    v2 = t.compact(partition_value="a")  # idempotent on the row set
    assert sorted((r.k, r.p, r.v) for r in t.read().collect()) == before
    # unpartitioned whole-table compact
    u = ParquetMergeTable(spark, str(tmp_path / "flat"), key="k")
    u.merge(spark.createDataFrame([(i, "x") for i in range(10)], "k long, v string").repartition(6))
    u.compact()
    flat_dir = os.path.join(str(tmp_path / "flat"), f"v={u.current_version()}")
    assert len([f for f in os.listdir(flat_dir) if f.endswith(".parquet")]) == 1
    assert u.read().count() == 10


def test_merge_table_time_travel_and_change_feed(spark, tmp_path):
    """read(version=) time-travels to any retained snapshot (immutable
    directories), raises cleanly for vacuumed/uncommitted versions, and
    changes_between() classifies keys across versions like Delta's CDF
    — all derived from the snapshots, no change log."""
    import pytest as _pytest

    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k")
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.merge(
        spark.createDataFrame(
            [(2, "B", False), (3, "c", False), (1, None, True)],
            "k long, v string, is_delete boolean",
        ),
        delete_col="is_delete",
    )
    # time travel: v1 unchanged, v2 = current
    assert {(r.k, r.v) for r in t.read(version=1).collect()} == {(1, "a"), (2, "b")}
    assert {(r.k, r.v) for r in t.read(version=2).collect()} == {(2, "B"), (3, "c")}
    with _pytest.raises(ValueError, match="not committed"):
        t.read(version=3)
    cdf = {r.k: r.change_type for r in t.changes_between(1, 2).collect()}
    assert cdf == {1: "deleted", 2: "updated", 3: "inserted"}
    t.merge(spark.createDataFrame([(3, "c")], "k long, v string"))  # no-op content
    assert {
        r.change_type for r in t.changes_between(2, 3).collect()
    } == {"unchanged"}
    t.vacuum(keep_last_n=1)
    with _pytest.raises(ValueError, match="vacuumed"):
        t.read(version=1)


def test_merge_table_schema_evolution(spark, tmp_path):
    """schema_evolution=True commits the UNION of columns (Delta
    mergeSchema): old rows read NULL for the new column — including
    rows living in HARDLINKED untouched partitions, whose files
    physically lack the column but read back under the saved snapshot
    schema; off by default, a differing batch fails instead of
    silently widening."""
    import pytest as _pytest

    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k", partition_by="p")
    t.merge(
        spark.createDataFrame(
            [(1, "a", "x"), (10, "b", "y")], "k long, p string, v string"
        )
    )
    wider = spark.createDataFrame(
        [(2, "a", "x2", 9.5)], "k long, p string, v string, score double"
    )
    with _pytest.raises(Exception):
        t.merge(wider)  # strict by default
    t.merge(wider, schema_evolution=True)
    got = {(r.k): (r.p, r.v, r.score) for r in t.read().collect()}
    assert got == {
        1: ("a", "x", None),
        2: ("a", "x2", 9.5),
        10: ("b", "y", None),  # hardlinked partition, column from schema
    }
    # the widened column persists through a later narrow batch
    t.merge(
        spark.createDataFrame([(3, "b", "z")], "k long, p string, v string"),
        schema_evolution=True,
    )
    assert t.read().schema["score"].dataType.typeName() == "double"
    assert {r.k for r in t.read().filter("score IS NULL").collect()} == {1, 3, 10}


def test_merge_with_retry_under_contention(spark, tmp_path):
    """Two threads race merge_with_retry on disjoint keys: both must
    eventually commit (the loser backs off and retries) and the table
    equals the serial replay."""
    import threading

    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k")
    t.merge(spark.createDataFrame([(0, "base")], "k long, v string"))
    errs: list[Exception] = []

    def w(rows):
        try:
            t.merge_with_retry(
                spark.createDataFrame(rows, "k long, v string"), attempts=10
            )
        except Exception as e:  # noqa: BLE001 - surfaced via assert below
            errs.append(e)

    t1 = threading.Thread(target=w, args=([(1, "one")],))
    t2 = threading.Thread(target=w, args=([(2, "two")],))
    t1.start(); t2.start(); t1.join(timeout=120); t2.join(timeout=120)
    assert not errs
    assert t.current_version() == 3
    assert {(r.k, r.v) for r in t.read().collect()} == {
        (0, "base"), (1, "one"), (2, "two"),
    }


def test_merge_table_compact_zorder_layout(spark, tmp_path):
    """compact(zorder_by=(x, y)) = OPTIMIZE ZORDER: identical row set,
    target file count, and each output file covers a DISJOINT z-range
    (the property that makes parquet min/max stats prune scans on
    either column)."""
    from pyspark.sql import functions as F

    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable
    from yelp_data_engineering_pipeline_spark.operators.zorder import zvalue

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k")
    rows = [(i, i * 37 % 100, i * 61 % 100) for i in range(500)]
    t.merge(spark.createDataFrame(rows, "k long, x long, y long").repartition(8))
    before = sorted((r.k, r.x, r.y) for r in t.read().collect())

    t.compact(zorder_by=("x", "y"), target_files=4)
    cur = t.read()
    assert sorted((r.k, r.x, r.y) for r in cur.collect()) == before
    # recompute z exactly as zorder_layout does: keys range-normalized
    # into 16-bit rank space (domains here are 0..99), THEN interleaved
    def _bucket(c):
        num = F.col(c) * F.lit(1 << 16)
        return ((num - F.pmod(num, F.lit(100))) / F.lit(100)).cast("long")

    per_file = (
        cur.withColumn("_f", F.input_file_name())
        .withColumn("_z", zvalue(_bucket("x"), _bucket("y")))
        .groupBy("_f")
        .agg(F.min("_z").alias("lo"), F.max("_z").alias("hi"))
        .collect()
    )
    assert len(per_file) == 4
    spans = sorted((r.lo, r.hi) for r in per_file)
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint z-ranges across files


def test_merge_table_history(spark, tmp_path):
    """history() lists retained commits newest-first with operation
    labels and file counts; vacuumed versions drop out of the listing
    but never break it."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k", partition_by="p")
    t.merge(spark.createDataFrame([(1, "a", "x")], "k long, p string, v string"))
    t.merge(spark.createDataFrame([(2, "a", "y")], "k long, p string, v string"))
    t.compact(partition_value="a")
    h = t.history()
    assert [e["version"] for e in h] == [3, 2, 1]
    assert [e["operation"] for e in h] == ["compact", "merge_pruned", "merge"]
    assert all(e["n_files"] >= 1 for e in h)
    assert h[0]["committed_at_unix"] >= h[-1]["committed_at_unix"]
    t.vacuum(keep_last_n=1)
    assert [e["version"] for e in t.history()] == [3]


def test_partition_dirname_fast_path_matches_spark_writer(spark, tmp_path):
    """The driver-side escapePathName port must render EXACTLY the
    directory names Spark's writer produces, over a nasty value corpus
    (Hive escape set, controls, unicode, empty string, NULL, ints,
    bools) — this parity test is what licenses the zero-job fast path
    in _spark_partition_dirnames; a Spark-side rendering change fails
    here, not silently in production."""
    import os

    from pyspark.sql.types import StringType, StructField, StructType

    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    nasty = [
        "plain", "a b", "x:y", "p%q", "h#t", "q'v", 'd"q', "s/s", "e=f",
        "st*r", "wh?t", "back\\slash", "br[ack]ets", "c^ret", "cu{rly",
        "tab\there", "nl\nline", "ctl\x01chr", "del\x7fchr", "café",
        "", None,
    ]
    schema = StructType([StructField("p", StringType(), True)])
    df = spark.createDataFrame([(v,) for v in nasty], schema)
    out = str(tmp_path / "probe")
    df.selectExpr("p", "1 as d").repartition(1).write.partitionBy("p").parquet(out)
    spark_dirs = {e for e in os.listdir(out) if e.startswith("p=")}
    fast_dirs = {
        ParquetMergeTable._partition_dirname_fast("p", v) for v in nasty
    }
    assert None not in fast_dirs
    assert fast_dirs == spark_dirs
    # ints and bools render as str(int) / lowercase true-false
    dfi = spark.createDataFrame([(7,), (None,)], "p long").selectExpr("p", "1 as d")
    outi = str(tmp_path / "probe_int")
    dfi.repartition(1).write.partitionBy("p").parquet(outi)
    assert {e for e in os.listdir(outi) if e.startswith("p=")} == {
        ParquetMergeTable._partition_dirname_fast("p", 7),
        ParquetMergeTable._partition_dirname_fast("p", None),
    }
    dfb = spark.createDataFrame([(True,), (False,)], "p boolean").selectExpr("p", "1 as d")
    outb = str(tmp_path / "probe_bool")
    dfb.repartition(1).write.partitionBy("p").parquet(outb)
    assert {e for e in os.listdir(outb) if e.startswith("p=")} == {
        ParquetMergeTable._partition_dirname_fast("p", True),
        ParquetMergeTable._partition_dirname_fast("p", False),
    }
    # a type OUTSIDE the fast set falls back (returns None)
    assert ParquetMergeTable._partition_dirname_fast("p", 1.5) is None


def test_merge_table_zone_map_skipping_unpartitioned(spark, tmp_path):
    """Every commit writes file-level min/max zone maps (_STATS.json);
    read_where() prunes the file list driver-side from pure metadata
    and still equals read().filter(...) exactly. Files are laid out by
    repartitionByRange so each carries a disjoint key range — the
    clustered-table case where skipping pays."""
    from datetime import datetime, timezone

    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    df = (
        spark.range(0, 1000)
        .withColumn("val", F.col("id") * 2)
        .withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")) +
                    F.make_interval(mins=F.col("id").cast("int")))
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
    )
    t.merge(df)
    stats = t.stats()
    assert stats and len(stats) == 4
    assert all(
        "min" in zm["cols"]["id"] and zm["rows"] > 0 for zm in stats.values()
    )

    pruned = t.read_where({"id": (100, 180)})
    full = t.read().filter((F.col("id") >= 100) & (F.col("id") <= 180))
    assert sorted((r.id, r.val) for r in pruned.collect()) == sorted(
        (r.id, r.val) for r in full.collect()
    )
    assert len(pruned.inputFiles()) == 1 < len(t.read().inputFiles())

    # timestamp zone maps prune too: kind-tagged UTC plane — the
    # probe must be tz-AWARE (a naive probe is a different plane and
    # conservatively never prunes, see _stat_norm)
    utc = timezone.utc
    p2 = t.read_where({"ts": (datetime(2024, 1, 1, 2, 0, tzinfo=utc),
                              datetime(2024, 1, 1, 2, 30, tzinfo=utc))})
    assert p2.count() == 31
    assert len(p2.inputFiles()) == 1
    # a NAIVE probe is cross-plane: prunes nothing, result still exact
    p2n = t.read_where({"ts": (datetime(2024, 1, 1, 2, 0),
                               datetime(2024, 1, 1, 2, 30))})
    assert p2n.count() == 31 and len(p2n.inputFiles()) == 4

    # a range no zone intersects: zero files, empty result, same schema
    p3 = t.read_where({"id": (5_000, 6_000)})
    assert p3.count() == 0
    assert p3.schema == t.read().schema

    # one-sided range
    p4 = t.read_where({"id": (900, None)})
    assert p4.count() == 100 and len(p4.inputFiles()) == 1


def test_merge_table_zone_map_partition_dirs_and_inheritance(spark, tmp_path, monkeypatch):
    """Partition values (living in dir names, not footers) join the
    same zone-map plane — including the NULL partition, skippable by
    any range probe — and a pruned merge's hardlinked files INHERIT
    their stats by inode: footers are re-read only for the touched
    partition's new files."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id", partition_by="p")
    rows = [(i, i % 4 if i % 10 else None, f"v{i}") for i in range(200)]
    t.merge(spark.createDataFrame(rows, "id long, p int, v string"))

    pruned = t.read_where({"p": (2, 2)})
    full = t.read().filter(F.col("p") == 2)
    assert sorted(r.id for r in pruned.collect()) == sorted(r.id for r in full.collect())
    assert 0 < len(pruned.inputFiles()) < len(t.read().inputFiles())
    # the NULL-partition directory is skipped by any range probe
    assert all("__HIVE_DEFAULT_PARTITION__" not in f for f in pruned.inputFiles())

    # count footer reads during a merge touching ONLY partition 1
    calls = []
    orig = ParquetMergeTable._file_zone_map
    monkeypatch.setattr(
        ParquetMergeTable, "_file_zone_map",
        lambda self, path: calls.append(path) or orig(self, path),
    )
    t.merge(spark.createDataFrame([(1, 1, "V1"), (5, 1, "V5")], "id long, p int, v string"))
    assert calls, "new files must be stat'd"
    assert all("p=1" in c for c in calls), f"footer reads outside touched partition: {calls}"
    # inherited entries survived into the new manifest
    stats = t.stats()
    assert any("p=2" in rel for rel in stats)
    # pruning still exact after the incremental stats carry-over
    again = t.read_where({"p": (1, 1)})
    assert sorted((r.id, r.v) for r in again.collect()) == sorted(
        (r.id, r.v) for r in t.read().filter(F.col("p") == 1).collect()
    )


def test_merge_table_zone_map_composes_with_zorder(spark, tmp_path):
    """OPTIMIZE ZORDER + zone maps = the lakehouse data-skipping story:
    after compact(zorder_by=(x, y)) the files carry bounded rectangles
    on BOTH columns, so a narrow probe on either one prunes most of the
    scan — and the result still equals the plain filtered read."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    # key domains WIDER than the 16-bit interleave (x spans ~3.2M,
    # y ~2.1M): regression for the low-bit wrap bug, where every
    # 2^16-th key collided, file rectangles spanned the whole domain,
    # and zone maps pruned nothing at real key widths (seen on the
    # x10 lineitem tier). zorder_layout now range-normalizes first.
    df = spark.range(0, 4096).select(
        F.col("id"),
        ((F.col("id") % 64) * 50_000).alias("x"),
        ((F.col("id") / F.lit(64)).cast("long") * 33_000).alias("y"),
    )
    t.merge(df)
    t.compact(target_files=16, zorder_by=("x", "y"))

    total = len(t.read().inputFiles())
    assert total >= 8
    for col, unit in (("x", 50_000), ("y", 33_000)):
        lo, hi = 10 * unit, 13 * unit + unit - 1
        pruned = t.read_where({col: (lo, hi)})
        assert sorted(r.id for r in pruned.collect()) == sorted(
            r.id for r in t.read().filter(F.col(col).between(lo, hi)).collect()
        )
        assert len(pruned.inputFiles()) < total / 2, (
            f"zorder zone maps failed to prune on {col}: "
            f"{len(pruned.inputFiles())}/{total} files"
        )


def test_merge_table_count_where_metadata_only(spark, tmp_path):
    """count_where answers fully-clustered probes from footer row
    counts alone (zero Spark jobs — asserted by monkeypatching the
    scan path), scans only boundary files otherwise, and always equals
    read_where().count()."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge(
        spark.range(0, 1000)
        .withColumn("val", F.col("id") * 3)
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
    )
    # file boundaries at 250/500/750: [250, 749] covers files 1-2 fully
    assert t.count_where({"id": (250, 749)}) == 500
    # metadata-only: forbid the scan fallback for the aligned probe
    orig = ParquetMergeTable._boundary_scan
    try:
        def _boom(self, version, relkeys):
            raise AssertionError(f"scan path used for {relkeys}")
        ParquetMergeTable._boundary_scan = _boom
        assert t.count_where({"id": (250, 749)}) == 500
        assert t.count_where({"id": (5000, 9000)}) == 0
    finally:
        ParquetMergeTable._boundary_scan = orig
    # unaligned probe: boundary files scanned, exact count
    for rng in ((100, 620), (0, 999), (999, 2000), (None, 10)):
        assert t.count_where({"id": rng}) == t.read_where({"id": rng}).count()


def test_merge_table_read_point_lookup(spark, tmp_path):
    """read_point prunes by IN-list membership against the zones: keys
    from one file touch one file; NULL probes are dropped (SQL IN)."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge(
        spark.range(0, 1000)
        .withColumn("val", F.col("id") + 7)
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
    )
    total = len(t.read().inputFiles())
    p = t.read_point("id", [10, 20, 777, None])
    assert sorted((r.id, r.val) for r in p.collect()) == [
        (10, 17), (20, 27), (777, 784)
    ]
    assert len(p.inputFiles()) == 2 < total  # files {0..249} and {750..999}
    # all probes outside every zone: empty, no files
    p2 = t.read_point("id", [5000, -3])
    assert p2.count() == 0 and len(p2.inputFiles()) == 0
    # all-NULL probe list: empty result by IN semantics
    assert t.read_point("id", [None]).count() == 0


def test_merge_table_zorder_three_columns(spark, tmp_path):
    """compact(zorder_by=) takes ANY number of keys (Delta's OPTIMIZE
    ZORDER BY shape): with three wide-domain keys, a narrow probe on
    EACH of the three prunes most files, and the row set is intact."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    df = spark.range(0, 8192).select(
        F.col("id"),
        ((F.col("id") % 16) * 70_001).alias("x"),
        (((F.col("id") / 16).cast("long") % 16) * 50_003).alias("y"),
        (((F.col("id") / 256).cast("long") % 32) * 90_007).alias("w"),
    )
    t.merge(df)
    before = sorted(r.id for r in t.read().collect())
    t.compact(target_files=32, zorder_by=("x", "y", "w"))
    assert sorted(r.id for r in t.read().collect()) == before

    total = len(t.read().inputFiles())
    assert total >= 16
    for col, unit, width in (("x", 70_001, 2), ("y", 50_003, 2), ("w", 90_007, 4)):
        lo, hi = 6 * unit, (6 + width) * unit - 1
        pruned = t.read_where({col: (lo, hi)})
        assert sorted(r.id for r in pruned.collect()) == sorted(
            r.id for r in t.read().filter(F.col(col).between(lo, hi)).collect()
        )
        assert len(pruned.inputFiles()) < total * 3 // 4, (
            f"3-way zorder failed to prune on {col}: "
            f"{len(pruned.inputFiles())}/{total}"
        )


# ---------------------------------------------------------------------------
# predicate DML: DELETE / UPDATE / conditional MERGE INTO (r7)
# ---------------------------------------------------------------------------


def _clustered_table(spark, path, n=1000, files=4):
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(path), key="id")
    df = (
        spark.range(0, n)
        .withColumn("val", F.col("id") * 2)
        .withColumn("g", F.when(F.col("id") % 7 == 0, None)
                    .otherwise(F.col("id") % 3))
        .repartitionByRange(files, "id")
        .sortWithinPartitions("id")
    )
    t.merge(df)
    return t


def _snap_inodes(root, version):
    import os

    snap = os.path.join(str(root), f"v={version}")
    out = {}
    for dirpath, _, files in os.walk(snap):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(dirpath, f)
                out[os.path.relpath(full, snap)] = os.stat(full).st_ino
    return out


def test_merge_table_delete_where_metadata_only(spark, tmp_path):
    """A DELETE whose range exactly covers one clustered file is pure
    metadata: the file vanishes from the manifest, every surviving file
    is the SAME inode hardlinked forward (no Spark write happened), and
    the row set equals the SQL DELETE semantics."""
    t = _clustered_table(spark, tmp_path / "tbl")
    stats = t.stats()
    assert len(stats) == 4
    # pick a middle file's exact [min, max] id range
    rel, zm = sorted(stats.items(), key=lambda kv: kv[1]["cols"]["id"]["min"])[1]
    lo, hi = zm["cols"]["id"]["min"], zm["cols"]["id"]["max"]
    before = _snap_inodes(t.root, t.current_version())
    expected = sorted(
        r.id for r in t.read().filter(~F.col("id").between(lo, hi)).collect()
    )
    v = t.delete_where({"id": (lo, hi)})
    after = _snap_inodes(t.root, v)
    assert rel not in after
    assert after == {r: i for r, i in before.items() if r != rel}  # hardlinks
    assert sorted(r.id for r in t.read().collect()) == expected
    assert t.history()[0]["operation"] == "delete_where"
    # time travel: the pre-delete snapshot is intact
    assert t.read(version=v - 1).count() == 1000


def test_merge_table_delete_where_boundary_and_nulls(spark, tmp_path):
    """A range crossing file boundaries rewrites ONLY the boundary
    files; rows whose predicate column is NULL never match (SQL
    BETWEEN), so they survive any delete on that column."""
    t = _clustered_table(spark, tmp_path / "tbl")
    before = _snap_inodes(t.root, t.current_version())
    expected = sorted(
        r.id for r in t.read().filter(~F.col("id").between(100, 180)).collect()
    )
    v = t.delete_where({"id": (100, 180)})
    after = _snap_inodes(t.root, v)
    # exactly one boundary file rewritten; the other three hardlinked
    kept_same = [r for r in after if r in before and after[r] == before[r]]
    assert len(kept_same) == 3
    assert sorted(r.id for r in t.read().collect()) == expected

    # delete on the NULLABLE column: NULL rows survive
    null_before = t.read().filter(F.col("g").isNull()).count()
    assert null_before > 0
    t.delete_where({"g": (0, 2)})
    rem = t.read()
    assert rem.count() == null_before
    assert rem.filter(F.col("g").isNotNull()).count() == 0


def test_merge_table_update_where_semantics(spark, tmp_path):
    """UPDATE rewrites only files the zone maps can't prove untouched,
    the assignment may reference other columns, NULL-predicate rows
    pass through, and the schema (dtypes included) is unchanged."""
    t = _clustered_table(spark, tmp_path / "tbl")
    schema_before = t.read().schema
    before = _snap_inodes(t.root, t.current_version())
    v = t.update_where({"id": (0, 99)}, {"val": F.col("val") + 1})
    after = _snap_inodes(t.root, v)
    # three untouched files hardlinked, one rewritten
    assert len([r for r in after if after.get(r) == before.get(r)]) == 3
    rows = {r.id: r.val for r in t.read().collect()}
    for i in range(1000):
        assert rows[i] == i * 2 + (1 if i < 100 else 0)
    assert t.read().schema == schema_before
    assert t.history()[0]["operation"] == "update_where"

    # literal assignment + NULL predicate rows untouched
    t.update_where({"g": (2, 2)}, {"val": -1})
    got = t.read()
    assert got.filter(F.col("g").isNull()).filter(F.col("val") == -1).count() == 0
    assert got.filter(F.col("g") == 2).filter(F.col("val") != -1).count() == 0

    with pytest.raises(ValueError, match="unknown column"):
        t.update_where({"id": (0, 1)}, {"nope": 1})


def test_merge_table_update_where_partitioned(spark, tmp_path):
    """On a partitioned table, UPDATE hardlinks partitions the zone
    maps prove untouched (partition dirs contribute zones) and refuses
    to assign the partition column."""
    import os

    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="p")
    rows = [(i, i % 4, float(i)) for i in range(400)]
    t.merge(spark.createDataFrame(rows, "id long, p int, x double"))
    before = _snap_inodes(t.root, t.current_version())
    v = t.update_where({"p": (2, 2)}, {"x": F.col("x") * 10.0})
    after = _snap_inodes(t.root, v)
    untouched = [r for r in after if "p=2" not in r]
    assert untouched and all(after[r] == before.get(r) for r in untouched)
    got = {r.id: r.x for r in t.read().collect()}
    for i in range(400):
        assert got[i] == (i * 10.0 if i % 4 == 2 else float(i))

    with pytest.raises(ValueError, match="partition column"):
        t.update_where({"id": (0, 1)}, {"p": 9})


def test_merge_table_merge_into_clause_matrix(spark, tmp_path):
    """Conditional MERGE INTO: DELETE clause wins over UPDATE for a
    row matching both, UPDATE fires only where its s/t condition
    holds (others keep the target row), INSERT fires only where its
    condition holds, unmatched target rows always survive."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k")
    t.merge(spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d")],
        "k long, v long, tag string"))
    src = spark.createDataFrame(
        [(1, 99, "s1"),   # matched, s.v > t.v -> update
         (2, 5, "s2"),    # matched, s.v < t.v -> keep target row
         (3, 99, "s3"),   # matched, delete condition -> delete
         (5, 1, "new"),   # unmatched, insert cond holds
         (6, 2, "skip")], # unmatched, insert cond fails
        "k long, v long, tag string")
    t.merge_into(
        src,
        when_matched_update="s.v > t.v",
        when_matched_delete="t.k = 3",
        when_not_matched_insert="s.tag = 'new'",
    )
    got = {r.k: (r.v, r.tag) for r in t.read().collect()}
    assert got == {1: (99, "s1"), 2: (20, "b"), 4: (40, "d"), 5: (1, "new")}
    assert t.history()[0]["operation"] == "merge_into"

    # idempotent re-apply: same source, same clauses -> same table
    # (k=3 already gone; k=1 update rewrites the same values)
    t.merge_into(src, when_matched_update="s.v > t.v",
                 when_matched_delete="t.k = 3",
                 when_not_matched_insert="s.tag = 'new'")
    assert {r.k: (r.v, r.tag) for r in t.read().collect()} == got

    # empty table: only the insert clause applies
    t2 = ParquetMergeTable(spark, str(tmp_path / "tbl2"), key="k")
    t2.merge_into(src, when_not_matched_insert="s.v > 1")
    assert sorted(r.k for r in t2.read().collect()) == [1, 2, 3, 6]


def test_merge_table_merge_into_partition_pruned(spark, tmp_path):
    """merge_into on a partitioned table rewrites only partitions the
    SOURCE touches; the rest come forward as hardlinks."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="p")
    t.merge(spark.createDataFrame(
        [(i, i % 3, i * 1.0) for i in range(90)], "id long, p int, x double"))
    before = _snap_inodes(t.root, t.current_version())
    src = spark.createDataFrame(
        [(0, 0, 100.0), (3, 0, -1.0), (900, 0, 7.0)],
        "id long, p int, x double")
    v = t.merge_into(src, when_matched_update="s.x > t.x",
                     when_not_matched_insert=True)
    after = _snap_inodes(t.root, v)
    untouched = [r for r in after if "p=0" not in r]
    assert untouched and all(after[r] == before.get(r) for r in untouched)
    got = {r.id: r.x for r in t.read().filter(F.col("p") == 0).collect()}
    assert got[0] == 100.0 and got[3] == 3.0 and got[900] == 7.0


def test_merge_table_clone_zero_copy_and_divergence(spark, tmp_path):
    """clone() forks a snapshot as a NEW table by hardlink (zero data
    copy — inode-asserted), carries stats/schema so skipping works
    immediately, and the two tables diverge independently; vacuuming
    the source never breaks the clone (hardlinked data survives)."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import ParquetMergeTable

    t = _clustered_table(spark, tmp_path / "src")
    c = t.clone(str(tmp_path / "dev"))
    assert c.current_version() == 1
    # zero-copy: every cloned parquet file is the same inode
    src_ino = set(_snap_inodes(t.root, t.current_version()).values())
    dev_ino = set(_snap_inodes(c.root, 1).values())
    assert dev_ino == src_ino
    # stats came along: skipping works on the clone with no recompute
    assert c.stats() is not None
    pruned = c.read_where({"id": (0, 10)})
    assert pruned.count() == 11 and len(pruned.inputFiles()) == 1

    # divergence: write to the clone, delete in the source
    c.merge(spark.createDataFrame([(5000, 1, 0)], "id long, val long, g long"))
    t.delete_where({"id": (0, 499)})
    assert c.read().count() == 1001
    assert t.read().count() == 500
    assert c.read().filter(F.col("id") == 5000).count() == 1
    assert t.read().filter(F.col("id") == 5000).count() == 0

    # source vacuum drops its old snapshots; the clone still reads
    t.merge(spark.createDataFrame([(6000, 1, 0)], "id long, val long, g long"))
    t.vacuum(keep_last_n=1)
    assert c.read().count() == 1001
    assert c.read_where({"id": (0, 10)}).count() == 11

    # cloning onto an existing table refuses
    with pytest.raises(ValueError, match="already holds"):
        t.clone(str(tmp_path / "dev"))
    assert "clone" in c.history()[-1]["operation"]


def test_merge_table_multi_column_partitioning(spark, tmp_path):
    """partition_by=("p","q") — nested hive layout: pruned merges
    rewrite only touched LEAF partitions (others hardlinked), partition
    zone maps exist per level so read_where prunes on either, NULL and
    escaping-needing values work at any level, compact targets one
    leaf tuple, and DML prunes through the nested dirs."""
    import os

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by=("p", "q"))
    rows = [
        (i,
         i % 3 if i % 10 else None,            # p: ints + NULL partition
         ["a", "x y", "b:c"][(i // 3) % 3],    # q: strings needing escaping
         float(i))
        for i in range(300)
    ]  # id=1 -> leaf (p=1, q="a"); p and q vary independently
    t.merge(spark.createDataFrame(rows, "id long, p int, q string, x double"))
    assert t.read().count() == 300

    # nested dirs exist with hive escaping at level 2
    v1 = os.path.join(str(tmp_path / "tbl"), "v=1")
    leafs = t._leaf_partition_dirs(v1)
    assert any("__HIVE_DEFAULT_PARTITION__" in r for r in leafs)
    assert any("q=x y" in r for r in leafs)          # space NOT escaped
    assert any("q=b%3Ac" in r for r in leafs)        # ':' escaped

    # zone maps exist for BOTH levels -> read_where prunes on either
    pr = t.read_where({"p": (2, 2)})
    assert sorted(r.id for r in pr.collect()) == sorted(
        r.id for r in t.read().filter(F.col("p") == 2).collect())
    assert 0 < len(pr.inputFiles()) < len(t.read().inputFiles())
    qr = t.read_point("q", ["x y"])
    assert qr.count() == t.read().filter(F.col("q") == "x y").count()
    assert 0 < len(qr.inputFiles()) < len(t.read().inputFiles())

    # pruned merge touching ONE leaf (p=1, q='a'): every other leaf
    # hardlinked forward
    before = _snap_inodes(t.root, t.current_version())
    t.merge(spark.createDataFrame([(1, 1, "a", -1.0), (9001, 1, "a", -2.0)],
                                  "id long, p int, q string, x double"))
    after = _snap_inodes(t.root, t.current_version())
    changed = {r for r in after if after[r] != before.get(r)}
    assert changed and all(r.startswith(os.path.join("p=1", "q=a"))
                           for r in changed)
    got = {r.id: r.x for r in t.read().filter(
        (F.col("p") == 1) & (F.col("q") == "a")).collect()}
    assert got[1] == -1.0 and got[9001] == -2.0
    assert t.read().count() == 301

    # NULL-partition touch pulls existing NULL rows through the merge
    null_before = t.read().filter(F.col("p").isNull()).count()
    t.merge(spark.createDataFrame([(9002, None, "a", 0.5)],
                                  "id long, p int, q string, x double"))
    assert t.read().filter(F.col("p").isNull()).count() == null_before + 1

    # compact one leaf tuple; wrong arity refuses
    with pytest.raises(ValueError, match="one value per partition level"):
        t.compact(partition_value=1)
    t.compact(partition_value=(0, "a"), target_files=1)
    assert t.read().count() == 302

    # DML through nested dirs: update one p, delete a q stripe
    t.update_where({"p": (2, 2)}, {"x": F.lit(0.0)})
    assert t.read().filter((F.col("p") == 2) & (F.col("x") != 0.0)).count() == 0
    with pytest.raises(ValueError, match="partition column"):
        t.update_where({"id": (0, 1)}, {"q": "zz"})
    n_xy = t.read().filter(F.col("q") == "x y").count()
    total = t.read().count()
    t.delete_where({"q": ("x y", "x y")})
    assert t.read().count() == total - n_xy
    assert t.read().filter(F.col("q") == "x y").count() == 0

    # merge_into pruned on the tuple level
    src = spark.createDataFrame([(2, 2, "b:c", 999.0)],
                                "id long, p int, q string, x double")
    t.merge_into(src, when_matched_update="s.x > t.x",
                 when_not_matched_insert=True)
    assert t.read().filter(F.col("id") == 2).first().x == 999.0


def test_merge_table_check_constraints(spark, tmp_path):
    """CHECK constraints: validated once at add (refused if existing
    rows violate), then enforced on every commit's WRITTEN rows inside
    the write job (Observation — no extra scan); a violating commit
    aborts before the pointer flip, leaving the table bit-unchanged
    and no orphan snapshot. NULL passes, as in SQL CHECK."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ConstraintViolationError,
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k")
    t.merge(spark.createDataFrame(
        [(1, 10), (2, 20), (3, None)], "k long, v long"))
    t.add_constraint("v_nonneg", "v >= 0")      # NULL v passes
    assert t.constraints() == {"v_nonneg": "v >= 0"}

    # adding a constraint the existing data violates is refused
    with pytest.raises(ConstraintViolationError, match="existing rows"):
        t.add_constraint("v_big", "v >= 15")
    assert "v_big" not in t.constraints()

    # a violating merge aborts cleanly: version, rows, files unchanged
    v_before = t.current_version()
    rows_before = sorted((r.k, r.v) for r in t.read().collect())
    with pytest.raises(ConstraintViolationError, match="v_nonneg"):
        t.merge(spark.createDataFrame([(4, -5)], "k long, v long"))
    assert t.current_version() == v_before
    assert sorted((r.k, r.v) for r in t.read().collect()) == rows_before
    import os
    assert not os.path.exists(t._snap_dir(v_before + 1))  # no orphan

    # a valid merge (including NULL) still commits
    t.merge(spark.createDataFrame([(4, None), (5, 7)], "k long, v long"))
    assert t.read().count() == 5

    # update_where is checked too
    with pytest.raises(ConstraintViolationError):
        t.update_where({"k": (5, 5)}, {"v": F.lit(-1)})
    assert t.read().filter(F.col("k") == 5).first().v == 7

    # drop re-opens the gate
    t.drop_constraint("v_nonneg")
    t.merge(spark.createDataFrame([(6, -1)], "k long, v long"))
    assert t.read().count() == 6


def test_merge_table_constraints_partitioned_pruned_commit(spark, tmp_path):
    """Constraint abort on the partition-pruned path: the touched
    partition's rewrite is discarded, untouched partitions were never
    read, and the table stays at the prior version."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ConstraintViolationError,
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k",
                          partition_by="p")
    t.merge(spark.createDataFrame(
        [(i, i % 3, i * 1.0) for i in range(30)], "k long, p int, x double"))
    t.add_constraint("x_pos", "x >= 0.0")
    v = t.current_version()
    with pytest.raises(ConstraintViolationError):
        t.merge(spark.createDataFrame([(1, 1, -9.0)],
                                      "k long, p int, x double"))
    assert t.current_version() == v
    assert t.read().count() == 30
    # merge_into path enforces as well
    with pytest.raises(ConstraintViolationError):
        t.merge_into(
            spark.createDataFrame([(2, 2, -1.0)], "k long, p int, x double"),
            when_matched_update=True, when_not_matched_insert=True,
        )
    assert t.read().filter(F.col("x") < 0).count() == 0


def test_merge_table_deletion_vectors(spark, tmp_path):
    """Merge-on-read DELETE: use_deletion_vectors hardlinks EVERY file
    (inode-asserted — nothing rewritten) and records matching row
    POSITIONS; reads anti-join the DV so results equal the CoW
    semantics; DVs merge across deletes, survive unrelated commits,
    purge when their file is rewritten, and never resurrect rows."""
    t = _clustered_table(spark, tmp_path / "tbl")  # 1000 rows, 4 files
    before = _snap_inodes(t.root, t.current_version())
    v = t.delete_where({"id": (100, 180)}, use_deletion_vectors=True)
    after = _snap_inodes(t.root, v)
    assert after == before                      # zero rewrite
    assert t.history()[0]["operation"] == "delete_where_dv"
    assert t.read().count() == 919
    assert t.read().filter(F.col("id").between(100, 180)).count() == 0
    assert sum(len(p) for p in t.deletion_vectors().values()) == 81

    # a second DV delete merges; count_where stays exact
    t.delete_where({"id": (150, 250)}, use_deletion_vectors=True)
    assert t.read().count() == 1000 - 151
    assert t.count_where({"id": (0, 999)}) == 849
    assert t.count_where({"id": (90, 300)}) == 211 - 151

    # an unrelated CoW update purges only the files it rewrites and
    # keeps every deletion in force
    t.update_where({"id": (900, 999)}, {"val": F.lit(-1)})
    assert t.read().count() == 849
    assert t.read().filter(F.col("id").between(100, 250)).count() == 0
    # compact purges all DVs, data unchanged
    t.compact(target_files=4)
    assert t.deletion_vectors() == {}
    assert t.read().count() == 849
    # time travel to the DV snapshot still applies its DV
    assert t.read(version=v).count() == 919


def test_merge_table_deletion_vectors_partitioned_escaped(spark, tmp_path):
    """DV keys are the URI-form paths _metadata.file_path yields —
    Hive-escaped partition dirs ('x y' → 'x%20y', 'b%3Ac' →
    'b%253Ac') must round-trip through recording, filtering, AND the
    unquote-based carry-forward across a later commit."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="q")
    rows = [(i, ["plain", "x y", "b:c"][i % 3], i * 1.0) for i in range(90)]
    t.merge(spark.createDataFrame(rows, "id long, q string, x double"))
    before = _snap_inodes(t.root, t.current_version())
    v = t.delete_where({"id": (10, 40)}, use_deletion_vectors=True)
    after = _snap_inodes(t.root, v)
    # fully-contained files are still metadata-DROPPED; every survivor
    # is a hardlink (DV mode never rewrites)
    assert set(after.items()) <= set(before.items())
    assert t.read().count() == 90 - 31
    assert t.read().filter(F.col("id").between(10, 40)).count() == 0
    assert any("%20" in k or "%25" in k for k in t.deletion_vectors())

    # carry-forward across a pruned merge touching only 'plain'
    t.merge(spark.createDataFrame([(90, "plain", 9.0)],
                                  "id long, q string, x double"))
    assert t.read().count() == 60
    assert t.read().filter(F.col("id").between(10, 40)).count() == 0
    # clone carries the DV
    c = t.clone(str(tmp_path / "dev"))
    assert c.read().count() == 60
    assert c.read().filter(F.col("id").between(10, 40)).count() == 0


def test_merge_table_dv_free_read_has_no_join(spark, tmp_path):
    """The zero-overhead claim as a plan assertion: read() on a table
    with NO deletion vector must plan as a bare scan (no join, no
    _metadata projection) — a refactor that unconditionally wraps the
    DV anti-join would regress every reader and fail here."""
    t = _clustered_table(spark, tmp_path / "tbl")
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "_metadata" not in plan
    # and WITH a DV, the anti-join appears exactly as designed
    t.delete_where({"id": (100, 110)}, use_deletion_vectors=True)
    plan2 = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan2


def test_merge_table_update_where_deletion_vectors(spark, tmp_path):
    """Merge-on-read UPDATE: every pre-existing file hardlinks forward
    (inode-asserted), old row versions are DV-deleted, updated copies
    append as a new file; values and row count equal the CoW UPDATE,
    repeated DV updates chain correctly, and compact purges the DVs
    leaving identical data."""
    t = _clustered_table(spark, tmp_path / "tbl")  # 1000 rows, 4 files
    before = _snap_inodes(t.root, t.current_version())
    v = t.update_where({"id": (100, 110)}, {"val": F.col("val") + 1},
                       use_deletion_vectors=True)
    after = _snap_inodes(t.root, v)
    assert set(before.items()) <= set(after.items())   # all hardlinked
    assert len(after) == len(before) + 1               # one appended file
    assert t.read().count() == 1000
    rows = {r.id: r.val for r in t.read().collect()}
    for i in range(1000):
        assert rows[i] == i * 2 + (1 if 100 <= i <= 110 else 0)
    assert t.history()[0]["operation"] == "update_where_dv"

    # chained DV update over the SAME rows: the appended file carries
    # stats, gets scanned, its old copies DV-deleted in turn
    t.update_where({"id": (105, 115)}, {"val": F.lit(-1)},
                   use_deletion_vectors=True)
    rows = {r.id: r.val for r in t.read().collect()}
    assert t.read().count() == 1000
    for i in range(1000):
        if 105 <= i <= 115:
            assert rows[i] == -1
        else:
            assert rows[i] == i * 2 + (1 if 100 <= i <= 110 else 0)

    # compact purges, data identical
    expected = sorted(rows.items())
    t.compact(target_files=4)
    assert t.deletion_vectors() == {}
    assert sorted((r.id, r.val) for r in t.read().collect()) == expected


def test_bloom_sentinel_for_all_null_files(spark, tmp_path):
    """Regression (r10 review): a file whose indexed column is all
    NULL never produces a bloom entry, so the incremental maintainer
    used to re-diff it into 'added' and re-scan it on EVERY commit
    forever (and coverage could never reach 1.0). The build now
    records an m=0 sentinel for zero-non-null files: provably
    unmatchable (files are immutable, IN never matches NULL), pruned
    outright by read_point, counted as covered, and never re-scanned."""
    t = ParquetMergeTable(spark, str(tmp_path / "bn"), key="id",
                          partition_by="p")
    t.merge(spark.createDataFrame([(1, "a", "x"), (2, "a", "y")],
                                  "id long, p string, u string"))
    t.build_file_index("u")
    # an all-NULL-u partition arrives: its files get sentinels
    t.merge(spark.createDataFrame([(3, "z", None), (4, "z", None)],
                                  "id long, p string, u string"))
    idx = t.file_index()["u"]
    sentinels = {k for k, e in idx.items() if e["m"] == 0}
    assert any(k.startswith("p=z/") for k in sentinels)
    assert t.maintenance_plan()["bloom"]["u"]["coverage"] == 1.0

    # pruning: the sentinel file is dropped for any probe, results
    # stay exact
    got = t.read_point("u", ["x"])
    assert [r.id for r in got.collect()] == [1]
    assert not any("p=z/" in f for f in got.inputFiles())

    # the next commit's incremental build scans ONLY its own added
    # files — the carried all-NULL files never re-enter the diff
    seen: list[list] = []
    orig = t._bloom_build_entries
    t._bloom_build_entries = lambda v, col, relkeys=None, **kw: (
        seen.append(sorted(relkeys or [])) or
        orig(v, col, relkeys=relkeys, **kw))
    t.merge(spark.createDataFrame([(5, "w", "q")],
                                  "id long, p string, u string"))
    t._bloom_build_entries = orig
    assert seen and all(
        all(rel.startswith("p=w/") for rel in call) for call in seen
    ), f"re-scanned carried files: {seen}"
    assert t.maintenance_plan()["bloom"]["u"]["coverage"] == 1.0


def test_merge_table_bloom_file_index(spark, tmp_path):
    """Per-file Bloom index: point lookups on an UNCLUSTERED column
    (zone maps span everything) drop bloom-miss files driver-side with
    zero Spark jobs; an absent probe reads zero files; the index
    carries across hardlink commits, is dropped for rewritten files
    (results stay exact, just unpruned), and new unindexed files are
    kept conservatively."""
    import os

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="k")
    df = (
        spark.range(0, 20000)
        .select(F.col("id").alias("k"),
                (F.xxhash64(F.col("id")) % 10000).alias("u"))
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
    )
    t.merge(df)
    vals = [r.u for r in t.read().limit(3).collect()]
    expect = t.read().filter(F.col("u").isin(vals)).count()
    assert len(t.read_point("u", vals).inputFiles()) == 8  # no pruning

    t.build_file_index("u")
    pruned = t.read_point("u", vals)
    assert pruned.count() == expect
    assert 0 < len(pruned.inputFiles()) < 8
    # definitely-absent probe: zero files, no job needed for the probe
    gone = t.read_point("u", [99_999_999])
    assert gone.count() == 0 and len(gone.inputFiles()) == 0

    # survives a DV (hardlink) commit; exactness preserved vs re-filter
    t.delete_where({"k": (0, 50)}, use_deletion_vectors=True)
    assert t.file_index()
    p = t.read_point("u", vals)
    assert p.count() == t.read().filter(F.col("u").isin(vals)).count()

    # a full rewrite drops the stale bits and (r10) re-indexes the
    # rewritten files in the same commit: coverage stays 1.0 on the
    # compacted layout and lookups stay exact AND pruned
    old_idx = t.file_index()["u"]
    t.compact(target_files=4)
    idx = t.file_index()["u"]
    assert idx and not (set(idx) & set(old_idx))   # all-fresh entries
    assert t.maintenance_plan()["bloom"]["u"]["coverage"] == 1.0
    p2 = t.read_point("u", vals)
    assert p2.count() == t.read().filter(F.col("u").isin(vals)).count()
    assert len(t.read_point("u", [99_999_999]).inputFiles()) == 0

    # clone carries the index file
    c = t.clone(str(tmp_path / "dev"))
    assert c.file_index()
    assert c.read_point("u", [99_999_999]).count() == 0
    assert len(c.read_point("u", [99_999_999]).inputFiles()) == 0


def test_merge_table_bloom_index_partitioned_escaped(spark, tmp_path):
    """Bloom index over a partitioned table: file keys carry the
    URI-escaped partition dirs; probes prune across partitions, the
    index survives a pruned merge's hardlinks (dropped only for the
    rewritten partition), and results stay exact throughout."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="q")
    rows = [(i, ["plain", "x y", "b:c"][i % 3],
             int(i * 2654435761 % 100000)) for i in range(3000)]
    t.merge(spark.createDataFrame(rows, "id long, q string, u long"))
    t.build_file_index("u")
    assert any("%20" in k or "%25" in k
               for files in t.file_index().values() for k in files)

    probe = [rows[7][2], rows[1234][2]]
    expect = t.read().filter(F.col("u").isin(probe)).count()
    p = t.read_point("u", probe)
    assert p.count() == expect
    assert 0 < len(p.inputFiles()) < len(t.read().inputFiles())
    assert t.read_point("u", [2**40]).count() == 0

    # pruned merge rewrites ONE partition: its stale bloom entries
    # drop and (r10, VERDICT r9 next-2) the rewritten partition's NEW
    # files are re-indexed incrementally — the hardlinked partitions
    # keep their original bits; lookups stay exact and fully pruned
    old_idx = t.file_index()["u"]
    t.merge(spark.createDataFrame([(0, "plain", 55555)],
                                  "id long, q string, u long"))
    idx = t.file_index()["u"]
    new_plain = {k for k in idx if "q=plain" in k}
    assert new_plain and not (new_plain & set(old_idx))  # fresh entries
    assert t.maintenance_plan()["bloom"]["u"]["coverage"] == 1.0
    p2 = t.read_point("u", probe)
    assert p2.count() == t.read().filter(F.col("u").isin(probe)).count()
    # the refreshed index really prunes: the new 55555 value lives in
    # a q=plain file; bloom false positives may admit a few extras
    # (~1% FPR per file) but never a broad scan, and never miss
    kept = t._point_prune("u", [55555], t.current_version())
    n_files = len(t._file_keys(t.current_version()))
    assert any("q=plain" in k for k in kept)
    assert len(kept) <= max(2, n_files // 4), (len(kept), n_files)


def test_merge_table_restore(spark, tmp_path):
    """restore(v) commits a retained snapshot's exact content as a NEW
    head: data, deletion vectors and bloom index all roll back; the
    restore is hardlink-only (inode-asserted), history is preserved
    (the restore is itself a version), and a vacuumed or future
    version refuses."""
    t = _clustered_table(spark, tmp_path / "tbl")          # v1: 1000
    t.delete_where({"id": (100, 180)}, use_deletion_vectors=True)  # v2: 919
    t.build_file_index("val")
    t.update_where({"id": (0, 49)}, {"val": F.lit(-1)})     # v3
    assert t.read().filter(F.col("val") == -1).count() == 50

    src_ino = set(_snap_inodes(t.root, 2).values())
    v = t.restore(2)
    assert v == 4
    # content ≡ v2: the DV is back in force, the update is gone
    assert t.read().count() == 919
    assert t.read().filter(F.col("id").between(100, 180)).count() == 0
    assert t.read().filter(F.col("val") == -1).count() == 0
    assert set(_snap_inodes(t.root, v).values()) == src_ino  # hardlinks
    assert t.history()[0]["operation"] == "restore(v=2)"
    # the abandoned head is still readable (history preserved)
    assert t.read(version=3).filter(F.col("val") == -1).count() == 50

    with pytest.raises(ValueError, match="not committed"):
        t.restore(99)
    t.vacuum(keep_last_n=1)
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(2)
    # and life goes on after a restore: a normal merge commits
    t.merge(spark.createDataFrame([(5000, 1, 0)], "id long, val long, g long"))
    assert t.read().count() == 920


def test_bloom_index_rejects_unstable_column_types(spark, tmp_path):
    """build_file_index only accepts string/integral columns (ADVICE
    r7): for bool/float/timestamp the driver-side str(value) probe and
    Spark's CAST-to-string rendering diverge ('True' vs 'true',
    '1e-07' vs '1.0E-7'), which would make the bloom a FALSE-NEGATIVE
    filter — read_point silently dropping matching rows. The guard
    raises instead; and a non-str/int PROBE against a valid index
    skips the bloom (zone maps only) rather than mis-hashing."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge(spark.range(0, 100).selectExpr(
        "id", "id % 2 = 0 as flag", "id / 7.0 as ratio",
        "cast(id as string) as s"))
    for bad in ("flag", "ratio"):
        with pytest.raises(TypeError, match="engine-stable"):
            t.build_file_index(bad)
    # valid column still indexes, and an out-of-contract probe value
    # falls back to zone maps (exactness preserved, nothing dropped)
    t.build_file_index("id")
    got = sorted(r.id for r in t.read_point("id", [3, 7]).collect())
    assert got == [3, 7]
    got_f = sorted(r.id for r in t.read_point("id", [3.0, 7.0]).collect())
    assert got_f == [3, 7]  # float probes: bloom skipped, not wrong


def test_clone_carries_check_constraints(spark, tmp_path):
    """CHECK constraints are table metadata: clone() brings them along
    (ADVICE r7), so a commit the source rejects is rejected by the
    clone too."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ConstraintViolationError,
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "src"), key="id")
    t.merge(spark.range(0, 50).selectExpr("id", "id * 2 as v"))
    t.add_constraint("v_nonneg", "v >= 0")
    c = t.clone(str(tmp_path / "dst"))
    assert c.constraints() == {"v_nonneg": "v >= 0"}
    with pytest.raises(ConstraintViolationError):
        c.merge(spark.createDataFrame([(1, -5)], "id long, v long"))
    # the clone's reject left it intact; a valid merge still lands
    c.merge(spark.createDataFrame([(1, 7)], "id long, v long"))
    assert c.read().filter("id = 1").collect()[0].v == 7


def test_restore_revalidates_active_constraints(spark, tmp_path):
    """restore() must not promote a snapshot that violates CHECK
    constraints added after it was written (ADVICE r7): the head would
    otherwise hold rows every subsequent commit forbids."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ConstraintViolationError,
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge(spark.createDataFrame([(1, -3), (2, 4)], "id long, v long"))  # v1
    t.delete_where({"v": (None, -1)})                                     # v2
    t.add_constraint("v_nonneg", "v >= 0")  # valid for v2, not v1
    v_head = t.current_version()
    with pytest.raises(ConstraintViolationError, match="restore"):
        t.restore(1)
    assert t.current_version() == v_head  # nothing committed
    # restoring a CONFORMING snapshot still works
    t.merge(spark.createDataFrame([(3, 9)], "id long, v long"))
    assert t.restore(v_head) == t.current_version()
    assert sorted(r.id for r in t.read().collect()) == [2]


def test_vacuum_live_reader_fails_loudly(spark, tmp_path):
    """A DataFrame held across the retention window (VERDICT r7
    next-7): once vacuum removes the snapshot it was planned against,
    collecting it must FAIL (FileNotFound at scan time) — never return
    empty or partial results. The Delta VACUUM retention trade, here
    proven rather than just documented."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge(spark.range(0, 500).selectExpr("id", "id * 2 as v"))
    held = t.read()          # pinned to v1's files
    assert held.count() == 500
    # two full rewrites push v1 outside keep_last_n=2
    t.merge(spark.range(0, 500).selectExpr("id", "id * 3 as v"))
    t.merge(spark.range(0, 500).selectExpr("id", "id * 4 as v"))
    assert t.vacuum(keep_last_n=2) == [1]
    with pytest.raises(Exception) as ei:
        held.count()
    msg = str(ei.value)
    assert "not exist" in msg or "FileNotFound" in msg or "PATH_NOT_FOUND" in msg
    # the TABLE is healthy: fresh reads see the current head
    assert t.read().filter("id = 1").collect()[0].v == 4


def test_bloom_packed_encoding_parity_and_size(spark, tmp_path):
    """VERDICT r7 next-3: the Bloom index persists as a dense packed
    bitset pair (json meta + raw .bin) instead of JSON words. Pins
    (a) probe PARITY between the packed blob and the sparse words
    form it replaced (reconstructed bit-exactly from the blob),
    (b) zero false negatives against ground truth, and (c) the size
    budget: ≤1.5 bytes/row at 10 bits/row (the r7 JSON words encoding
    cost ~4.6 B/row on the 6M fixture)."""
    import json as _json
    import os

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    n = 200_000
    df = (
        spark.range(0, n)
        .withColumn("u", F.concat(F.lit("u"),
                                  (F.col("id") * 2654435761 % 999983)))
        .repartitionByRange(4, "id")
    )
    t.merge(df)
    t.build_file_index("u")
    idx = t.file_index()["u"]
    assert idx and all("blob" in e for e in idx.values())

    # (a) parity: words form reconstructed from the blob probes
    # identically for present and absent values
    def to_words(e):
        blob, m = e["blob"], e["m"]
        words = {}
        for w in range(m // 64):
            bits = int.from_bytes(blob[8 * w:8 * w + 8], "little")
            if bits:
                words[str(w)] = bits
        return {"m": m, "words": words}

    words_idx = {k: to_words(e) for k, e in idx.items()}
    present = [r.u for r in t.read().select("u").limit(50).collect()]
    probes = present + [f"absent-{i}" for i in range(200)]
    for k in idx:
        for p in probes:
            assert t._bloom_might_contain(idx[k], p) == \
                t._bloom_might_contain(words_idx[k], p)

    # (b) no false negatives: every present value's lookup is exact
    probe = present[:5]
    assert t.read_point("u", probe).count() == \
        t.read().filter(F.col("u").isin(probe)).count()

    # (c) size budget: meta json + bin together ≤ 1.5 B/row
    size = os.path.getsize(t._bloom_file(t.current_version())) + \
        os.path.getsize(t._bloom_bin_file(t.current_version()))
    assert size <= 1.5 * n, f"{size} bytes for {n} rows"
    # and the meta actually references the bin (packed layout on disk)
    with open(t._bloom_file(t.current_version())) as f:
        assert "cols" in _json.load(f)


def test_manifest_delta_log_and_checkpoints(spark, tmp_path):
    """Commits write DELTA manifests (added/removed vs the parent)
    with a full checkpoint every _CHECKPOINT_EVERY commits — the
    per-commit log write is O(changed files), not O(table files), the
    Delta Lake log design. Pins: deltas actually small on a pruned
    merge, chain resets at the checkpoint, every version (mid-chain
    included) resolves identically through the walk, and vacuum
    materializes a retained delta whose base falls outside retention."""
    import json as _json
    import os

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="p")
    t.merge(spark.createDataFrame(
        [(i, chr(97 + i % 8), i) for i in range(80)],
        "id long, p string, v long"))
    snapshots = {1: {r.id: r.v for r in t.read().collect()}}
    for n in range(2, 14):  # 12 single-partition merges
        t.merge(spark.createDataFrame(
            [(n % 80, chr(97 + (n % 80) % 8), n * 1000)],
            "id long, p string, v long"))
        snapshots[n] = {r.id: r.v for r in t.read().collect()}

    def raw(v):
        with open(t._manifest_path(v)) as f:
            return _json.load(f)

    # v1 full; v2.. deltas; a checkpoint (full, chain 0) appears
    # within _CHECKPOINT_EVERY commits and its successor is a delta
    kinds = {v: ("full" if "files" in raw(v) else "delta")
             for v in range(1, 14)}
    assert kinds[1] == "full" and kinds[2] == "delta"
    ckpts = [v for v in range(2, 14) if kinds[v] == "full"]
    assert ckpts, kinds
    assert kinds[ckpts[0] + 1] == "delta"
    # the resolution walk is BOUNDED: no chain ever reaches the
    # checkpoint interval
    assert all(raw(x).get("chain", 0) <
               ParquetMergeTable._CHECKPOINT_EVERY for x in range(1, 14))
    # a single-partition merge's delta records one partition's churn,
    # a small fraction of the table's file population
    d = raw(3)
    assert len(d["added"]) + len(d["removed"]) < len(t._files(3)) / 2
    assert d["delta_of"] == 2
    # every version resolves to the snapshot observed at commit time
    for v, want in snapshots.items():
        got = {r.id: r.v for r in t.read(version=v).collect()}
        assert got == want, f"v{v}"
        assert len(t._files(v)) == raw(v)["n_files"]

    # vacuum with a DELTA at the floor: the floor record materializes
    # to a full listing (content-identical) and still reads correctly
    floor = t.current_version() - 1
    assert kinds.get(floor) == "delta"
    t.vacuum(keep_last_n=2)
    assert "files" in raw(floor)
    got = {r.id: r.v for r in t.read(version=floor).collect()}
    assert got == snapshots[floor]
    with pytest.raises(ValueError, match="vacuumed"):
        t.read(version=floor - 1)


def test_stats_returns_defensive_copy(spark, tmp_path):
    """stats() must hand out a COPY (ADVICE r8): a caller mutating
    the returned dict must not corrupt the cached resolved file list
    that read_where pruning / count_where / DML classification /
    vacuum reference counting all share."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge(spark.range(0, 100).selectExpr("id", "id * 2 as v")
            .repartitionByRange(4, "id").sortWithinPartitions("id"))
    s = t.stats()
    before = t.count_where({"id": (0, 9)})
    s.clear()                       # hostile caller
    s["junk"] = {"rows": 0, "cols": {}}
    assert t.count_where({"id": (0, 9)}) == before == 10
    assert t.read().count() == 100
    assert "junk" not in t.stats()


def test_explicit_version_validation_on_metadata_apis(spark, tmp_path):
    """count_where / dv_density with an explicit version follow the
    read() contract (ADVICE r8): a never-committed or vacuumed version
    raises the documented ValueError, never a raw FileNotFoundError."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    for k in range(3):
        t.merge(spark.createDataFrame([(k, k)], "id long, v long"))
    with pytest.raises(ValueError, match="not committed"):
        t.count_where({"id": (0, 1)}, version=99)
    with pytest.raises(ValueError, match="not committed"):
        t.dv_density(version=99)
    t.vacuum(keep_last_n=1)
    with pytest.raises(ValueError, match="vacuumed"):
        t.count_where({"id": (0, 1)}, version=1)
    with pytest.raises(ValueError, match="vacuumed"):
        t.dv_density(version=1)
    assert t.count_where({"id": (0, 5)}) == 3


def test_auto_compact_failure_never_masks_committed_dml(spark, tmp_path):
    """_maybe_auto_compact is best-effort (ADVICE r8): the DML has
    already committed when the hook runs, so a compaction failure —
    e.g. a lost wait=False race — must not surface to the DML caller;
    the committed version is returned and a later compact() still
    repays the DVs."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          auto_compact_dv=0.01)
    t.merge(spark.range(0, 200).selectExpr("id", "id as v")
            .repartitionByRange(4, "id"))

    orig = ParquetMergeTable.compact

    def boom(self, *a, **k):
        raise ConcurrentMergeError("lost the compaction race")

    ParquetMergeTable.compact = boom
    try:
        v = t.delete_where({"id": (0, 49)}, use_deletion_vectors=True)
    finally:
        ParquetMergeTable.compact = orig
    assert v == 2                       # the DML's committed version
    assert t.current_version() == 2     # compaction never landed
    assert t.read().count() == 150
    t.compact()                         # policy retried explicitly
    assert t.deletion_vectors() == {}


def test_to_view_sql_addressing_and_snapshot_pin(spark, tmp_path):
    """to_view() registers the manifest-resolved snapshot for
    spark.sql consumers (VERDICT r8 next-3): the head view reflects
    the registered version, a version= view is the VERSION AS OF
    read, and BOTH are snapshot pins — commits after registration
    don't leak in until re-registration. snapshots() is the DESCRIBE
    HISTORY surface. Works in both storage modes."""
    for mode, sub in (("posix", "p"), ("object", "o")):
        t = ParquetMergeTable(spark, str(tmp_path / sub), key="id",
                              storage=mode)
        with pytest.raises(ValueError, match="no committed version"):
            t.to_view(f"mt_{sub}_early")
        t.merge(spark.createDataFrame([(1, 10), (2, 20)],
                                      "id long, v long"))
        t.merge(spark.createDataFrame([(2, 99), (3, 30)],
                                      "id long, v long"))
        t.to_view(f"mt_{sub}_v1", version=1)
        t.to_view(f"mt_{sub}_head")
        got_v1 = {r.id: r.v for r in spark.sql(
            f"SELECT id, v FROM mt_{sub}_v1").collect()}
        got_head = {r.id: r.v for r in spark.sql(
            f"SELECT id, v FROM mt_{sub}_head").collect()}
        assert got_v1 == {1: 10, 2: 20}
        assert got_head == {1: 10, 2: 99, 3: 30}
        # a later commit does NOT leak into the registered views
        t.merge(spark.createDataFrame([(4, 40)], "id long, v long"))
        assert spark.sql(f"SELECT COUNT(*) n FROM mt_{sub}_head"
                         ).collect()[0].n == 3
        t.to_view(f"mt_{sub}_head")             # re-register follows
        assert spark.sql(f"SELECT COUNT(*) n FROM mt_{sub}_head"
                         ).collect()[0].n == 4
        # DESCRIBE HISTORY surface, SQL-addressable too
        t.snapshots().createOrReplaceTempView(f"mt_{sub}_hist")
        hist = spark.sql(
            f"SELECT version, operation FROM mt_{sub}_hist "
            "ORDER BY version").collect()
        assert [(h.version, h.operation) for h in hist] == [
            (1, "merge"), (2, "merge"), (3, "merge")]
        with pytest.raises(ValueError, match="not committed"):
            t.to_view("nope", version=9)


def test_timestamp_as_of_resolution_and_read(spark, tmp_path):
    """TIMESTAMP AS OF (r10): version_at_timestamp resolves the LATEST
    commit at-or-before the instant (Delta semantics); read(timestamp=)
    / to_view(timestamp=) ride it; an instant after the head resolves
    to the head; one before the earliest RETAINED commit raises (a
    vacuumed snapshot's contents are unknowable — clamping forward
    would fabricate rows that did not exist then); datetime (naive =
    UTC) and ISO-string arguments normalize to the same instant."""
    import time as _time
    from datetime import timezone

    t = ParquetMergeTable(spark, str(tmp_path / "tt"), key="id")
    with pytest.raises(ValueError, match="no committed version"):
        t.version_at_timestamp(0)
    for v, rows in enumerate(([(1, 10)], [(2, 20)], [(1, 99)]), start=1):
        t.merge(spark.createDataFrame(rows, "id long, v long"))
        _time.sleep(0.05)   # commit wall times round to 1 ms — keep distinct
    hist = {h["version"]: h["committed_at_unix"] for h in t.history()}
    assert len(hist) == 3 and hist[1] < hist[2] < hist[3]

    mid_12 = (hist[1] + hist[2]) / 2
    assert t.version_at_timestamp(mid_12) == 1
    assert t.version_at_timestamp(hist[2]) == 2        # at == inclusive
    assert t.version_at_timestamp(hist[3] + 3600) == 3  # future → head
    with pytest.raises(ValueError, match="precedes the earliest"):
        t.version_at_timestamp(hist[1] - 1.0)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=1, timestamp=mid_12)

    got = {r.id: r.v for r in t.read(timestamp=mid_12).collect()}
    assert got == {1: 10}
    t.to_view("tt_asof", timestamp=(hist[2] + hist[3]) / 2)
    got2 = {r.id: r.v
            for r in spark.sql("SELECT id, v FROM tt_asof").collect()}
    assert got2 == {1: 10, 2: 20}

    # datetime (aware + naive-as-UTC), ISO-string and date forms agree
    aware = datetime.fromtimestamp(mid_12, tz=timezone.utc)
    naive = aware.replace(tzinfo=None)
    assert t.version_at_timestamp(aware) == 1
    assert t.version_at_timestamp(naive) == 1
    assert t.version_at_timestamp(naive.isoformat()) == 1
    # a bare date = midnight UTC, symmetric with its ISO string
    tomorrow = (naive.date() + __import__("datetime").timedelta(days=1))
    assert t.version_at_timestamp(tomorrow) == \
        t.version_at_timestamp(tomorrow.isoformat())

    # vacuum moves the earliest-retained boundary: v1's instant is now
    # unanswerable even though it was once resolvable
    t.vacuum(keep_last_n=1)
    assert t.version_at_timestamp(hist[3] + 1) == 3
    with pytest.raises(ValueError, match="precedes the earliest"):
        t.version_at_timestamp(mid_12)


# randomized CDF-ledger property (VERDICT r8 next-5): each example is
# a sequence of key-unique upsert/delete batches; for EVERY adjacent
# version pair the change feed must equal the batch's effect computed
# against a dict model — any interleaving of inserts, updates,
# re-deletes and no-op deletes.
_cdf_batches = st.lists(
    st.dictionaries(
        keys=st.integers(min_value=0, max_value=5),
        values=st.tuples(st.integers(min_value=0, max_value=3),
                         st.booleans()),
        min_size=1, max_size=4,
    ),
    min_size=1, max_size=3,
)


@settings(max_examples=12, deadline=None)
@given(batches=_cdf_batches)
def test_cdf_equals_batch_effect_property(spark, tmp_path_factory, batches):
    root = str(tmp_path_factory.mktemp("cdfprop") / "tbl")
    t = ParquetMergeTable(spark, root, key="id")
    states: list[dict] = [{}]
    for batch in batches:
        rows = [(k, v, d) for k, (v, d) in sorted(batch.items())]
        t.merge(
            spark.createDataFrame(rows, "id long, v long, _del boolean"),
            delete_col="_del",
        )
        nxt = dict(states[-1])
        for k, v, d in rows:
            if d:
                nxt.pop(k, None)
            else:
                nxt[k] = v
        states.append(nxt)
    assert {r.id: r.v for r in t.read().collect()} == states[-1]
    for v_from in range(len(batches)):
        old, new = states[v_from], states[v_from + 1]
        want = {}
        for k in set(old) | set(new):
            if k not in old:
                want[k] = "inserted"
            elif k not in new:
                want[k] = "deleted"
            elif old[k] != new[k]:
                want[k] = "updated"
            else:
                want[k] = "unchanged"
        got = {
            r.id: r.change_type
            for r in t.changes_between(v_from, v_from + 1).collect()
        }
        assert got == want, (v_from, batches)


def test_compact_bin_packs_by_target_size(spark, tmp_path):
    """compact(target_mb=) sizes the output from the manifest's
    per-file bytes (recorded at write time — no filesystem listing):
    a generous target collapses to one file, a tiny target fans out to
    ceil(total/target) files, and rows are byte-identical."""
    import math

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge(spark.range(0, 50_000).selectExpr(
        "id", "cast(id as string) as pad1", "md5(cast(id as string)) "
        "as pad2").repartition(8))
    stats = t.stats()
    assert all(isinstance(zm.get("bytes"), int) and zm["bytes"] > 0
               for zm in stats.values())
    total = sum(zm["bytes"] for zm in stats.values())

    v = t.compact(target_mb=total / 1e6 * 10)      # generous: one file
    assert len(t._files(v)) == 1
    assert t.read().count() == 50_000

    small = total / 1e6 / 4                        # ~4 output files
    v2 = t.compact(target_mb=small)
    n2 = len(t._files(v2))
    want = math.ceil(sum(zm["bytes"] for zm in
                         t._files(v).values()) / (small * 1e6))
    assert n2 == want >= 2
    assert t.read().count() == 50_000


def test_writers_record_what_readers_require(spark, tmp_path, monkeypatch):
    """The readers take three writer invariants on trust (no reader
    handles a layout that breaks them): every resolved manifest entry
    carries an int ``bytes`` (compact's size bin-packing), no
    checkpoint sidecar has an ``entry`` column (only the columnar
    layout is decoded), and every finalized export marker records the
    export-time ``schema`` (the feed-vs-head compatibility check).
    Checked after a merge, each DML method in CoW and DV mode, compact
    and restore — with every full record forced out to a sidecar, both
    by a fresh write and by the columnar checkpoint carry."""
    import functools
    import glob
    import json
    import os

    import pyarrow.parquet as pq

    monkeypatch.setattr(ParquetMergeTable, "_CKPT_INLINE_MAX", 3)
    monkeypatch.setattr(ParquetMergeTable, "_CHECKPOINT_EVERY", 2)
    root = str(tmp_path / "tbl")
    t = ParquetMergeTable(spark, root, key="id", partition_by="p")
    t.merge(spark.createDataFrame(
        [(i, "abc"[i % 3], i) for i in range(60)],
        "id long, p string, v long"))
    dml = {
        "delete_where": lambda b, dv: t.delete_where(
            {"id": (b, b + 2)}, use_deletion_vectors=dv),
        "delete_keys": lambda b, dv: t.delete_keys(
            "id", [b + 3, b + 4], use_deletion_vectors=dv),
        "update_where": lambda b, dv: t.update_where(
            {"id": (b + 5, b + 6)}, {"v": -1}, use_deletion_vectors=dv),
        "update_keys": lambda b, dv: t.update_keys(
            "id", [b + 7], {"v": F.col("v") * 2}, use_deletion_vectors=dv),
    }
    steps = [("merge", None)] + [
        (op + ("_dv" if dv else ""), functools.partial(f, 10 * dv, dv))
        for dv in (False, True) for op, f in dml.items()
    ]
    steps += [("compact", lambda: t.compact(target_mb=0.001)),
              ("restore(v=3)", lambda: t.restore(3))]
    for op, call in steps:
        if call is not None:
            call()
        v = t.current_version()
        assert t.history()[0]["operation"] == op
        fresh = ParquetMergeTable(spark, root, key="id", partition_by="p")
        entries = fresh._files(v)
        assert entries and all(
            type(e.get("bytes")) is int and e["bytes"] > 0
            for e in entries.values()), op
    sidecars = glob.glob(os.path.join(root, "_log", "*.ckpt.*.parquet"))
    assert len(sidecars) >= 4
    for path in sidecars:
        assert "entry" not in pq.read_schema(path).names, path
    assert t.export_changes()
    finalized = 0
    for path in glob.glob(os.path.join(root, "_cdf", "_exported", "*.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("files") is not None:
            finalized += 1
            assert "schema" in rec, path
    assert finalized == len(steps)


def test_maintenance_plan_reports_small_files(spark, tmp_path):
    """The small-file leg of maintenance_plan: many tiny files (the
    many-small-merges symptom) trip compact_for_small_files with a
    size-targeted recommendation; after compact(target_mb=) the signal
    clears — all from manifest metadata, zero Spark jobs."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge(spark.range(0, 4000).selectExpr("id", "id as v")
            .repartition(16))               # 16 tiny files
    plan = t.maintenance_plan(small_file_mb=1.0)
    assert plan["n_files"] == 16
    assert plan["small_files"] == 16
    assert plan["compact_for_small_files"]
    assert plan["actions"] == ["compact(target_mb=8)"]
    t.compact(target_mb=64)
    plan2 = t.maintenance_plan(small_file_mb=0.0001)
    assert plan2["n_files"] == 1
    assert not plan2["compact_for_small_files"]
    assert plan2["actions"] == []
    assert t.read().count() == 4000


def test_delete_keys_bloom_pruned_gdpr_shape(spark, tmp_path):
    """delete_keys: an IN-list delete pruned by the read_point stack.
    With a bloom index on an UNCLUSTERED key, only bloom-hit files are
    touched (the rest carry byte-identically); CoW and DV flavors both
    equal read().filter(NOT IN); NULL-keyed rows survive; the empty
    list is a committed no-op; time travel sees the pre-delete rows."""
    import os

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    rows = spark.range(0, 4000).selectExpr(
        "id", "concat('u', cast(id * 37 % 4001 as string)) as u",
        "case when id % 31 = 0 then null else 'keep' end as flag",
    ).repartitionByRange(8, "id").sortWithinPartitions("id")
    # u is unclustered (id*37 % 4001 scatters); make some u NULL
    rows = rows.withColumn(
        "u", F.when(F.col("id") % 29 == 0, None).otherwise(F.col("u")))
    t.merge(rows)
    t.build_file_index("u")

    victims = [f"u{(7 * 37) % 4001}", f"u{(1234 * 37) % 4001}", "u-nope"]
    want = sorted(
        r.id for r in t.read().filter(
            ~F.coalesce(F.col("u").isin(victims), F.lit(False))
        ).collect()
    )
    # the bloom must prune most of the 8 files for 2 real + 1 absent key
    kept = t._point_prune("u", victims, 1)
    assert len(kept) < 8

    v = t.delete_keys("u", victims)
    assert sorted(r.id for r in t.read().collect()) == want
    assert t.history()[0]["operation"] == "delete_keys"
    # untouched files carried: same physical manifest keys as v1
    carried = set(t._files(1)) & set(t._files(v))
    assert len(carried) == 8 - len(kept)
    assert t.read(version=1).count() == 4000     # time travel

    # DV flavor on a fresh OBJECT-mode table (no hardlink carry):
    # zero data files written
    t2 = ParquetMergeTable(spark, str(tmp_path / "tbl2"), key="id",
                           storage="object")
    t2.merge(rows)
    files_before = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(t2.root) for f in fs
        if f.endswith(".parquet")
    }
    t2.delete_keys("u", victims, use_deletion_vectors=True)
    files_after = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(t2.root) for f in fs
        if f.endswith(".parquet")
    }
    assert files_after == files_before
    assert sorted(r.id for r in t2.read().collect()) == want
    assert t2.history()[0]["operation"] == "delete_keys_dv"

    # empty list: no-op, version unchanged
    assert t2.delete_keys("u", [None]) == t2.current_version()
    # NULL keys survived both flavors
    assert t.read().filter(F.col("u").isNull()).count() == \
        t2.read().filter(F.col("u").isNull()).count() > 0


def test_update_keys_rectification_shape(spark, tmp_path):
    """update_keys: keyed UPDATE pruned by the read_point stack — CoW
    and DV flavors both equal the conditional-projection ground truth;
    untouched files carry; the DV flavor appends only matched rows."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          storage="object")
    t.merge(spark.range(0, 4000).selectExpr(
        "id", "concat('u', cast(id as string)) as u", "id * 2 as v")
        .repartitionByRange(8, "id").sortWithinPartitions("id"))
    victims = ["u7", "u1234", "u-none"]
    want = {r.id: r.v for r in t.read().collect()}
    want[7] = -1
    want[1234] = -1

    kept = t._point_prune("u", victims, 1)
    assert 0 < len(kept) < 8                     # zones prune (u tracks id)
    t.update_keys("u", victims, {"v": F.lit(-1)})
    assert {r.id: r.v for r in t.read().collect()} == want
    assert t.history()[0]["operation"] == "update_keys"
    carried = set(t._files(1)) & set(t._files(2))
    assert len(carried) == 8 - len(kept)

    # DV flavor: every v1 file still referenced + one appended file
    # holding ONLY the rewritten rows
    t2 = ParquetMergeTable(spark, str(tmp_path / "tbl2"), key="id",
                           storage="object")
    t2.merge(spark.range(0, 4000).selectExpr(
        "id", "concat('u', cast(id as string)) as u", "id * 2 as v")
        .repartitionByRange(8, "id").sortWithinPartitions("id"))
    t2.update_keys("u", victims, {"v": F.lit(-1)},
                   use_deletion_vectors=True)
    assert {r.id: r.v for r in t2.read().collect()} == want
    assert set(t2._files(1)) <= set(t2._files(2))
    appended = set(t2._files(2)) - set(t2._files(1))
    assert appended
    new_rows = sum(t2._files(2)[r].get("rows", 0) for r in appended)
    assert new_rows == 2                          # only the matched rows
    assert t2.history()[0]["operation"] == "update_keys_dv"
    # no-op + guards
    assert t2.update_keys("u", [], {"v": F.lit(0)}) == 2
    with pytest.raises(ValueError, match="unknown column"):
        t2.update_keys("u", ["u7"], {"nope": F.lit(1)})


def test_keyed_dml_on_partitioned_table(spark, tmp_path):
    """delete_keys/update_keys compose with hive partitioning: the
    partition-directory zone maps prune by the partition column, so a
    keyed op on it touches only the named partitions' files; results
    match the predicate algebra and untouched partitions carry."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="p", storage="object")
    t.merge(spark.createDataFrame(
        [(i, chr(97 + i % 4), i) for i in range(400)],
        "id long, p string, v long"))
    all_files = set(t._files(1))
    kept = t._point_prune("p", ["b"], 1)
    assert set(kept) == {r for r in all_files if "p=b/" in r}

    t.delete_keys("p", ["b"], use_deletion_vectors=True)
    assert t.read().filter("p = 'b'").count() == 0
    assert t.read().count() == 300
    # only p=b files carry DVs
    assert all("p=b/" in k for k in t.deletion_vectors())

    t.update_keys("p", ["c"], {"v": F.lit(-5)})
    got = {r.id: r.v for r in t.read().collect()}
    want = {i: (-5 if i % 4 == 2 else i)
            for i in range(400) if i % 4 != 1}
    assert got == want
    # p=a and p=d files untouched since v1 (same manifest keys)
    untouched = {r for r in all_files if "p=a/" in r or "p=d/" in r}
    assert untouched <= set(t._files(t.current_version()))


def test_stats_copy_is_deep(spark, tmp_path):
    """ADVICE r9: the shallow copy still aliased the nested per-file
    zone-map dicts — a caller mutating stats()[rel]['cols'] corrupted
    the handle's pruning source of truth. The copy must be deep."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge(spark.range(0, 100).selectExpr("id", "id * 2 as v")
            .repartitionByRange(4, "id").sortWithinPartitions("id"))
    before = t.count_where({"id": (0, 9)})
    s = t.stats()
    for zm in s.values():           # hostile caller, nested mutation
        zm["cols"]["id"] = {"min": 10**9, "max": 10**9 + 1, "nulls": 0}
        zm["rows"] = 0
        zm["bytes"] = 0
    assert t.count_where({"id": (0, 9)}) == before == 10
    assert t.read_where({"id": (0, 9)}).count() == 10


def test_changes_between_empty_table_raises(spark, tmp_path):
    """ADVICE r9: changes_between on a never-committed table must
    raise the documented ValueError, not AttributeError on None."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    with pytest.raises(ValueError, match="empty table"):
        t.changes_between(0)


def test_keyed_dml_fully_pruned_probe_is_noop(spark, tmp_path):
    """ADVICE r9: delete_keys/update_keys whose every probe is pruned
    (no touched file) must return the CURRENT version — no
    metadata-only commit churning history for a miss."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge(spark.range(0, 100).selectExpr("id", "id as v")
            .repartitionByRange(4, "id").sortWithinPartitions("id"))
    v = t.current_version()
    assert t.delete_keys("id", [10**6, 10**6 + 1]) == v
    assert t.update_keys("id", [10**6], {"v": F.lit(0)}) == v
    assert t.current_version() == v          # no new commit exists
    assert t.read().count() == 100
    # ... while a touching probe still commits normally
    assert t.delete_keys("id", [5]) == v + 1
    assert t.read().count() == 99


def test_vacuum_sweeps_root_constraint_temps(spark, tmp_path):
    """ADVICE r9: a crash mid _write_constraints leaves a
    '__CONSTRAINTS.json.<rand>' temp at the TABLE ROOT (outside _log);
    vacuum must sweep it past the grace window like any staged temp."""
    import os

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge(spark.createDataFrame([(1, 1)], "id long, v long"))
    orphan = os.path.join(t.root, "__CONSTRAINTS.json.deadbeef")
    with open(orphan, "w") as f:
        f.write("{torn")
    young = os.path.join(t.root, "__CONSTRAINTS.json.young1234")
    with open(young, "w") as f:
        f.write("{torn")
    os.utime(orphan, (0, 0))                 # aged past any grace
    t.vacuum(keep_last_n=2, stage_grace_seconds=3600)
    assert not os.path.exists(orphan)        # aged temp swept
    assert os.path.exists(young)             # grace-guarded temp kept
    t.vacuum(keep_last_n=2, stage_grace_seconds=0)
    assert not os.path.exists(young)
    # the real constraints file itself is never touched
    t.add_constraint("v_nonneg", "v >= 0")
    t.vacuum(keep_last_n=2, stage_grace_seconds=0)
    assert t.constraints() == {"v_nonneg": "v >= 0"}


def test_bloom_index_survives_churn_without_rebuild(spark, tmp_path):
    """VERDICT r9 next-2: the per-file Bloom index must not decay
    under churn. After build_file_index, 20 churn commits (pruned
    merges adding files, keyed DML, a DV delete) maintain the index
    INCREMENTALLY — every maintenance job is scoped to the commit's
    added files (never a full rebuild), coverage stays 1.0, keyed
    pruning stays bounded, and read_point never drops a row."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="p")

    def batch(ids):
        return spark.createDataFrame(
            [(i, i % 8, (i * 7919) % 997) for i in ids],
            "id long, p long, u long")

    t.merge(batch(range(4000)))
    t.build_file_index("u")

    # record every incremental maintenance job's scope
    scopes = []
    orig = ParquetMergeTable._bloom_build_entries

    def recording(self, version, col, relkeys=None, bits_per_row=10):
        scopes.append(None if relkeys is None else len(list(relkeys)))
        return orig(self, version, col, relkeys=relkeys,
                    bits_per_row=bits_per_row)

    ParquetMergeTable._bloom_build_entries = recording
    try:
        for b in range(18):           # pruned merges: new + updated keys
            ids = [4000 + 8 * (100 * b + j) + b % 8 for j in range(20)]
            ids += [8 * (50 * b + j) + b % 8 for j in range(10)]
            t.merge(batch(ids))
        t.delete_keys("id", [0, 8, 16])            # CoW keyed delete
        t.delete_where({"id": (24, 24)}, use_deletion_vectors=True)
    finally:
        ParquetMergeTable._bloom_build_entries = orig

    assert scopes and all(s is not None for s in scopes), \
        "a churn commit triggered a FULL index rebuild"
    v = t.current_version()
    assert v >= 21

    plan = t.maintenance_plan()
    assert plan["bloom"]["u"]["coverage"] == 1.0
    assert not any(a.startswith("build_file_index") for a in plan["actions"])

    # pruning intact: a one-value probe touches a bounded file subset
    probe = [(4000 + 8 * 100 + 0) * 7919 % 997]
    kept = t._point_prune("u", probe, v)
    n_files = len(t._file_keys(v))
    assert 0 < len(kept) < n_files / 2, (len(kept), n_files)

    # correctness: bloom pruning must never drop matching rows
    want = sorted(r.id for r in
                  t.read().filter(F.col("u").isin(probe)).collect())
    got = sorted(r.id for r in t.read_point("u", probe).collect())
    assert got == want and got


def test_bloom_coverage_reporting_matches_ground_truth(spark, tmp_path):
    """The coverage leg must report indexed∩live / live exactly, and
    recommend a rebuild below the floor. Churn decays coverage when
    the per-commit incremental build fails (advisory: _carry_bloom
    carries the surviving bits and leaves the added files unindexed)."""
    from urllib.parse import unquote

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id",
                          partition_by="p")

    def batch(ids):
        return spark.createDataFrame(
            [(i, i % 4, (i * 31) % 101) for i in ids],
            "id long, p long, u long")

    t.merge(batch(range(800)))
    t.build_file_index("u")
    assert t.maintenance_plan()["bloom"]["u"]["coverage"] == 1.0

    def failing_build(*args, **kwargs):
        raise RuntimeError("incremental Bloom build failed")

    t._bloom_build_entries = failing_build
    for b in range(8):     # churn partitions 0/1 only, no rebuild —
        # partitions 2/3 keep their carried entries
        t.merge(batch([800 + 4 * (10 * b + j) + b % 2 for j in range(10)]))
    del t._bloom_build_entries
    v = t.current_version()
    live = set(t._file_keys(v))
    idx = t.file_index(v)["u"]
    want_cov = sum(1 for k in idx if unquote(k) in live) / len(live)
    plan = t.maintenance_plan()
    assert plan["bloom"]["u"]["coverage"] == round(want_cov, 4)
    assert want_cov < 1.0             # churn really decayed
    if want_cov < t._BLOOM_COVERAGE_FLOOR:
        assert "build_file_index('u')" in plan["actions"]
    # unindexed files stay candidates: correctness holds under decay
    probe = [(803 * 31) % 101]
    want = sorted(r.id for r in
                  t.read().filter(F.col("u").isin(probe)).collect())
    got = sorted(r.id for r in t.read_point("u", probe).collect())
    assert got == want
    # an explicit rebuild restores full coverage
    t.build_file_index("u")
    assert t.maintenance_plan()["bloom"]["u"]["coverage"] == 1.0


def test_bloom_index_dies_with_schema_change_of_column(spark, tmp_path):
    """A column dropped from the table schema (an overwrite-style
    commit) loses its index — its rendering contract no longer holds;
    other columns' indexes keep maintaining through the rewrite."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge(spark.createDataFrame(
        [(i, i * 3 % 17, f"s{i}") for i in range(200)],
        "id long, u long, s string"))
    t.build_file_index("u")
    t.build_file_index("s")
    # an overwrite commit whose schema no longer carries u
    t._commit(t.read().drop("u"), op="overwrite")
    idx = t.file_index(t.current_version())
    assert "u" not in idx             # dropped column's index died
    assert "s" in idx                 # the surviving column maintained
    plan = t.maintenance_plan()
    assert plan["bloom"]["s"]["coverage"] == 1.0
    probe = ["s7", "s150"]
    got = sorted(r.id for r in t.read_point("s", probe).collect())
    assert got == [7, 150]


def test_minmax_where_metadata_only_and_exact(spark, tmp_path):
    """count_where's twin: MIN/MAX answered from zone bounds for
    contained clean files (zero scan on a clustered probe — pinned by
    poisoning _boundary_scan), scanned only at boundaries/DVs, always
    equal to the read_where aggregate, temporals denormalized."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="id")
    n = 8000
    t.merge(spark.createDataFrame(
        [(i, (i * 37) % 1000, f"d2024-{1 + i % 12:02d}") for i in range(n)],
        "id long, v long, tag string"))
    t.compact(zorder_by=("id",), target_files=8)

    def agg(ranges):
        df = t.read_where(ranges) if ranges else t.read()
        r = df.agg(F.min("id").alias("mn"), F.max("id").alias("mx")).first()
        return {"min": r.mn, "max": r.mx}

    # whole-table and band-aligned probes: metadata only — a scan is a bug
    poison = t  # same handle; shadow the method
    orig = poison._boundary_scan
    poison._boundary_scan = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("boundary scan on a contained probe"))
    try:
        assert t.minmax_where("id") == {"min": 0, "max": n - 1} == agg(None)
    finally:
        poison._boundary_scan = orig

    # misaligned range: boundary files scan, result exact
    rg = {"id": (123, 6789)}
    assert t.minmax_where("id", rg) == {"min": 123, "max": 6789} == agg(rg)
    # a different column under an id filter
    got = t.minmax_where("v", rg)
    r = t.read_where(rg).agg(F.min("v").alias("mn"),
                             F.max("v").alias("mx")).first()
    assert got == {"min": r.mn, "max": r.mx}

    # DV'd file: its zone max is stale for live rows — must scan, not trust
    t.delete_keys("id", [n - 1, n - 2], use_deletion_vectors=True)
    assert t.minmax_where("id") == {"min": 0, "max": n - 3}

    # empty match
    assert t.minmax_where("id", {"id": (n + 10, n + 20)}) == {
        "min": None, "max": None}


def test_minmax_where_timestamp_mixes_zone_and_scan_planes(spark, tmp_path):
    """ADVICE r11 (high): TimestampType zone bounds are tz-aware
    (``tsu``) while scan-collected extremes arrive as NAIVE driver-tz
    datetimes; un-anchored, the raw list compare ordered by the kind
    tag and every mixed-plane MAX silently stuck to the zone side.
    Both the misaligned-range and the DV'd-file mixes must equal the
    read_where aggregate, and the returned extremes must be aware-UTC
    either way."""
    import datetime as dt

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="id")
    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    n = 4000
    t.merge(spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=i)) for i in range(n)],
        "id long, ts timestamp"))
    t.compact(zorder_by=("id",), target_files=8)

    # misaligned id range: interior files contribute ts ZONE bounds,
    # boundary files contribute SCANNED extremes — and here the true
    # min AND max both live in boundary files, so the scan side must
    # be able to beat the zone side on both ends
    rg = {"id": (123, 3456)}
    got = t.minmax_where("ts", rg)
    r = t.read_where(rg).agg(F.min("ts").alias("mn"),
                             F.max("ts").alias("mx")).first()
    assert got["min"] == r.mn.astimezone(dt.timezone.utc)
    assert got["max"] == r.mx.astimezone(dt.timezone.utc)
    assert got["min"].tzinfo is not None and got["max"].tzinfo is not None
    assert got == {"min": base + dt.timedelta(minutes=123),
                   "max": base + dt.timedelta(minutes=3456)}

    # DV'd tail file: scanned (its zone max is stale), every other
    # file metadata-answered — the whole-table mixed-plane case; the
    # buggy compare returned min from the DV'd file's scan and max
    # from the clean files' zones, both wrong
    t.delete_keys("id", [n - 1], use_deletion_vectors=True)
    got2 = t.minmax_where("ts")
    assert got2 == {"min": base,
                    "max": base + dt.timedelta(minutes=n - 2)}


def test_minmax_where_statless_types_answered_by_scan(spark, tmp_path):
    """ADVICE r11 (medium): decimal/boolean/binary carry no stats
    plane (``_stat_norm`` → None, no zone maps), so every file scans —
    and the scanned extremes must come back RAW, not be erased by a
    None normalization (the bug returned {"min": None, "max": None}
    on non-empty data, violating the read_where-equality contract)."""
    from decimal import Decimal

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="id")
    rows = [(i, Decimal(i) / 100, i % 3 == 0, bytes([i % 251]))
            for i in range(300)]
    t.merge(spark.createDataFrame(
        rows, "id long, dec decimal(10,2), flag boolean, blob binary"))
    assert t.minmax_where("dec") == {"min": Decimal("0.00"),
                                     "max": Decimal("2.99")}
    assert t.minmax_where("flag") == {"min": False, "max": True}
    assert t.minmax_where("blob") == {"min": bytes([0]),
                                      "max": bytes([250])}
    # under a range filter on a stats-carrying column, the residual
    # applies to the scan and the contract still holds
    got = t.minmax_where("dec", {"id": (10, 20)})
    assert got == {"min": Decimal("0.10"), "max": Decimal("0.20")}


def test_overlap_profile_tolerates_heterogeneous_zone_kinds(spark, tmp_path):
    """ADVICE r11 (low): if one clustering column carries bounds of
    different zone KINDS across files (a retype across commits),
    sorted() over the raw bounds raised TypeError — crashing
    maintenance_plan(), clustering_overlap() and
    rezorder(only_decayed=True). Minority-kind files must instead
    degrade to unbounded (overlap 1.0, never prunable), mirroring
    _mask_range's cannot-prune conservatism."""
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="id")
    t.merge(spark.createDataFrame([(i, i) for i in range(50)],
                                  "id long, v long"))
    keys = ["a", "b", "c", "d"]
    mins = [0, 50, "x", 75]
    maxs = [49, 99, "z", 120]
    ans = [False] * 4
    orig = t._zone_arrays
    t._zone_arrays = lambda *a, **k: (
        keys, None, None, {"v": (mins, maxs, [0] * 4, ans)})
    try:
        prof, nb = t._overlap_profile(t.current_version(), "v")
    finally:
        t._zone_arrays = orig
    assert nb == 3                       # majority kind = num
    assert prof["c"] == 1.0              # the string-bounded file
    # bounded fractions stay exact against the 3-file num plane + c
    assert prof["a"] == round(1 / 3, 10) or abs(prof["a"] - 1 / 3) < 1e-9
    assert abs(prof["b"] - 2 / 3) < 1e-9
    assert abs(prof["d"] - 2 / 3) < 1e-9


def test_minmax_where_denormalizes_temporal_bounds(spark, tmp_path):
    """Zone bounds live in the kind-tagged normalized plane; the
    aggregate must come back as python temporals equal to the Spark
    aggregate (dates round-trip the ["d", iso] tag)."""
    import datetime as dt

    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="id")
    base = dt.date(2024, 3, 1)
    t.merge(spark.createDataFrame(
        [(i, base + dt.timedelta(days=i % 90)) for i in range(500)],
        "id long, d date"))
    got = t.minmax_where("d")
    assert got == {"min": base, "max": base + dt.timedelta(days=89)}
    assert isinstance(got["min"], dt.date)

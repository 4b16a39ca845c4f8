"""Physical-plan regression tests: the properties that matter at 100 TB
(predicate pushdown, column pruning, broadcast dim joins, codegen)
asserted against the formatted plan text — so a refactor that silently
breaks pushdown fails CI, not the cluster."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yelp_data_engineering_pipeline_spark.plans.flagship import revenue_by_nation
from yelp_data_engineering_pipeline_spark.plans.relational import (
    filter_project_pushdown,
    join_broadcast_dim,
)


def _formatted(df) -> str:
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    plan = _formatted(filter_project_pushdown(spark, sf_dir))
    assert "EqualTo(l_returnflag,R)" in plan  # predicate pushed down
    assert "LessThan(l_quantity,10.0)" in plan
    # column pruning: scan reads exactly the 4 needed columns
    assert "struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_returnflag:string>" in plan
    assert "codegen id" in plan  # filter+project fused in whole-stage codegen


def test_flagship_broadcasts_dims_and_prunes(spark, sf_dir):
    plan = _formatted(revenue_by_nation(spark, sf_dir))
    # nation (bounded dim) must come in via broadcast, never shuffle
    assert plan.count("BroadcastHashJoin") >= 1
    # lineitem scan reads only the 3 columns the query needs
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan


def test_dim_join_is_broadcast_not_shuffle(spark, sf_dir):
    plan = _formatted(join_broadcast_dim(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_date_partitioned_events_prune(spark, sf_dir, tmp_path):
    """Partition pruning: a date predicate over the partitioned layout
    must show up as PartitionFilters (directories skipped pre-I/O)."""
    from pyspark.sql import functions as F

    from yelp_data_engineering_pipeline_spark.sources.parquet_layout import (
        read_events_partitioned,
        write_events_partitioned,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    out = str(tmp_path / "events_by_date")
    write_events_partitioned(load(spark, sf_dir, "events"), out)
    df = read_events_partitioned(spark, out).filter(F.col("event_date") == "2024-01-05")
    plan = _formatted(df)
    assert "PartitionFilters" in plan and "event_date" in plan
    assert df.count() > 0
    # pruned scan reads one partition's files only
    n_files = df.select(F.input_file_name()).distinct().count()
    import glob

    total_files = len(glob.glob(f"{out}/event_date=*/*.parquet"))
    assert n_files < total_files


def test_events_load_handles_every_timestamp_unit(spark, tmp_path):
    """tables.load must deliver identical epoch micros for s/ms/us/ns
    parquet timestamp units (the driver has already shipped two of
    these across rounds) — each unit exercises its own conversion arm."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from yelp_data_engineering_pipeline_spark.tables import load

    base_us = [1_704_067_200_000_000, 1_706_659_032_194_062]
    for unit, scale in (("s", 1_000_000), ("ms", 1_000), ("us", 1), ("ns", 1)):
        vals = [v // scale if unit != "ns" else v * 1000 for v in base_us]
        expect = [v // scale * scale if unit != "ns" else v for v in base_us]
        tbl = pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(vals, pa.timestamp(unit)),
                "user_id": pa.array([7, 8], pa.int64()),
                "event_type": pa.array(["a", "b"], pa.string()),
                "value": pa.array([1.0, 2.0], pa.float64()),
            }
        )
        d = tmp_path / f"unit_{unit}"
        d.mkdir()
        pq.write_table(tbl, str(d / "events.parquet"))
        got = sorted(
            r["us"]
            for r in load(spark, str(d), "events")
            .select(F.unix_micros("ts").alias("us"))
            .collect()
        )
        assert got == expect, unit


def test_events_load_is_timezone_free(spark, sf_dir):
    """tables.load must deliver the SAME epoch micros under any session
    timezone and any conf state.

    Round 1 lost 9 CORRECTNESS rows to a conf that lived only in the
    session factory; round 4 found a 5-hour skew when the driver's
    events.parquet shipped as micros-NTZ and the wall→instant cast used
    the session tz. load() now reads the physical INT64 and converts
    with integer arithmetic, so the result must match the raw parquet
    value bit-for-bit regardless of session settings.
    """
    from pyspark.sql.types import TimestampType

    from yelp_data_engineering_pipeline_spark.tables import load

    import duckdb

    raw_min, raw_max = duckdb.sql(
        f"SELECT min(epoch_us(ts)), max(epoch_us(ts)) FROM '{sf_dir}/events.parquet'"
    ).fetchone()

    bare = spark.newSession()
    for tz in ("UTC", "America/New_York", "Asia/Kathmandu"):  # incl. a :45 offset
        bare.conf.set("spark.sql.session.timeZone", tz)
        ev = load(bare, sf_dir, "events")
        assert isinstance(ev.schema["ts"].dataType, TimestampType)
        got = ev.select(
            F.min(F.unix_micros("ts")).alias("mn"), F.max(F.unix_micros("ts")).alias("mx")
        ).collect()[0]
        assert (got["mn"], got["mx"]) == (raw_min, raw_max), tz
    bare.conf.set("spark.sql.session.timeZone", "UTC")


def test_pagination_keyset_plan_is_distributed(spark, sf_dir):
    """VERDICT r1 #5: the checked pagination path must plan as pushed
    range filter + top-k (TakeOrderedAndProject), not a full-table
    unpartitioned window."""
    from yelp_data_engineering_pipeline_spark.plans.relational import window_pagination

    plan = _formatted(window_pagination(spark, sf_dir))
    assert "GreaterThan(o_orderkey" in plan  # seek predicate reached the scan
    assert "TakeOrderedAndProject" in plan  # per-partition top-k + merge
    # the global row number is re-attached by a broadcast self-count over
    # the page_size-row page — there must be NO window stage at all
    # (Catalyst folds constant partition specs, so any Window here would
    # plan single-partition and warn)
    import re

    assert not re.search(r"\(\d+\) Window", plan), "pagination must be window-free"


def test_rank_distribution_has_no_global_window(spark, sf_dir):
    """VERDICT r1 #4: ntile/percent_rank/cume_dist must not serialize the
    fact table through one task; the two-phase plan windows only within
    range partitions (partitionBy _pid)."""
    from yelp_data_engineering_pipeline_spark.plans.analytics import (
        window_rank_distribution,
    )

    df = window_rank_distribution(spark, sf_dir)
    plan = _formatted(df)
    import re

    for m in re.finditer(r"Arguments: \[.*?windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        # every window spec must carry a partition expression (_cell
        # since r6's fixed-grid scheme; _pid under the range scheme)
        assert "_cell" in spec or "_pid" in spec, f"unpartitioned window in plan: {spec}"
    from yelp_data_engineering_pipeline_spark.cache import release_tracked

    release_tracked()


def test_widen_for_compute(spark, sf_dir):
    """Small parquet inputs collapse to one split; CPU-heavy operators
    widen so narrow pipelines parallelize (bench: minhash signature
    4.4 s -> 1.35 s at sf0.1)."""
    from yelp_data_engineering_pipeline_spark.partitioning import widen_for_compute
    from yelp_data_engineering_pipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    w = widen_for_compute(docs, 8)
    assert w.rdd.getNumPartitions() >= 8
    assert w.count() == docs.count()
    wide = spark.range(100).repartition(16)
    assert widen_for_compute(wide, 8) is wide  # already wide: no-op


def test_ann_variants_never_cross_join(spark, sf_dir):
    """RPH and IVF ANN paths must plan as equi-joins on bucket/cell —
    never a cartesian of query x corpus."""
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        similarity_topk_ivf,
        similarity_topk_rph,
    )

    for fn in (similarity_topk_rph, similarity_topk_ivf):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        # never a shuffle cartesian of query x corpus
        assert "CartesianProduct" not in plan, fn.__name__
    # RPH is pure equi-join; since r12 IVF's assignment is a map-side
    # argmax over the literal codebook (no join at all), so NEITHER
    # path may plan a nested loop anywhere.
    for fn in (similarity_topk_rph, similarity_topk_ivf):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_similarity_topk_ivf_executes_not_just_plans(spark, sf_dir):
    """Regression (r12): naming the probe-cells ARRAY in one
    projection and exploding it in a later one mis-bound attributes
    under the query-vs-corpus self-join — a DETERMINISTIC runtime
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND that PLANNED fine, so the
    plan-audit sweeps never saw it. ivf_assign(explode=True) keeps
    the generator inside its own projection; this pin EXECUTES the
    entry end to end."""
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        similarity_topk_ivf,
    )

    rows = similarity_topk_ivf(spark, sf_dir).collect()
    assert len(rows) == 50
    assert all(r.rk <= 5 for r in rows)


def test_rph_buckets_match_between_expressions(spark, sf_dir):
    """The Spark-side bucket and a DuckDB evaluation of the literal SQL
    must agree on every vector (sign bits are engine-stable because both
    sides use the same left-associated dot)."""
    import duckdb

    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        _RPH_BUCKET_SQL,
        RPH_PLANES,
        rph_bucket,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    from pyspark.sql import functions as F

    emb = load(spark, sf_dir, "embeddings")
    got = {
        r["vec_id"]: r["b"]
        for r in emb.select("vec_id", rph_bucket(F.col("embedding"), RPH_PLANES).alias("b")).collect()
    }
    con = duckdb.connect()
    sql = (
        f"SELECT vec_id, {_RPH_BUCKET_SQL.format(v='embedding')} AS b "
        f"FROM '{sf_dir}/embeddings.parquet'"
    )
    want = dict(con.execute(sql).fetchall())
    assert got == want


def test_multitable_tag_sql_matches_rph_bucket(spark, sf_dir):
    """The single-parse Spark-SQL tag expression used by
    topk_lsh_multitable's keys() (r13 — one F.expr instead of hundreds
    of py4j lambda round trips per plan) must produce bit-identical
    bucket strings to the Column-API rph_bucket for EVERY plane table
    and every vector, and the full multitable query must return the
    same rows as a reference built on rph_bucket directly."""
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        PLANE_TABLES,
        _rph_bucket_spark_sql,
        rph_bucket,
        similarity_topk_lsh,
        topk_lsh_multitable,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    for planes in PLANE_TABLES:
        mismatch = (
            emb.select(
                rph_bucket(F.col("embedding"), planes).alias("col_api"),
                F.expr(_rph_bucket_spark_sql("embedding", planes)).alias("sql_text"),
            )
            .filter(F.col("col_api") != F.col("sql_text"))
            .count()
        )
        assert mismatch == 0

    # End-to-end: the shipped query equals a reference multitable built
    # from the Column-API bucket expression (pre-r13 formulation).
    def ref_multitable(queries, corpus, k):
        from pyspark.sql import Window

        from yelp_data_engineering_pipeline_spark.operators.similarity import (
            cosine,
            widen_for_compute,
        )

        q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
        c = widen_for_compute(corpus).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
        )

        def keys(df, id_col, emb_col):
            tagged = F.array(
                *[
                    F.struct(
                        F.lit(i).alias("tid"),
                        rph_bucket(F.col(emb_col), p).alias("bucket"),
                    )
                    for i, p in enumerate(PLANE_TABLES)
                ]
            )
            return df.select(id_col, F.col(emb_col), F.explode(tagged).alias("k")).select(
                id_col, F.col(emb_col), F.col("k.tid").alias("tid"), F.col("k.bucket").alias("bucket")
            )

        pairs = (
            F.broadcast(keys(q, "query_id", "q_emb"))
            .join(keys(c, "neighbor_id", "c_emb"), ["tid", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine(F.col("q_emb"), F.col("c_emb")), 4).alias("cos_sim"),
            )
            .distinct()
        )
        w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
        return pairs.withColumn("rk", F.row_number().over(w).cast("bigint")).filter(F.col("rk") <= k)

    queries = emb.filter(F.col("vec_id") < 10)
    got = sorted(map(tuple, topk_lsh_multitable(queries, emb, 5, PLANE_TABLES).collect()))
    want = sorted(map(tuple, ref_multitable(queries, emb, 5).collect()))
    assert got == want
    # and the catalog entry itself still runs green
    assert similarity_topk_lsh(spark, sf_dir).count() > 0


def test_bucketed_join_skips_exchange(spark, sf_dir):
    """Bucketing is the co-located-join lever at 100 TB: two tables
    bucketed+sorted on the join key must SortMergeJoin with NO Exchange
    on either side (the shuffle was paid once, at write time)."""
    from yelp_data_engineering_pipeline_spark.sources.parquet_layout import (
        write_bucketed_table,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    write_bucketed_table(orders.withColumnRenamed("o_custkey", "custkey"), "b_orders", "custkey", 8)
    write_bucketed_table(customer.withColumnRenamed("c_custkey", "custkey"), "b_customer", "custkey", 8)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        joined = spark.table("b_orders").join(spark.table("b_customer"), "custkey")
        plan = _formatted(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not reshuffle"
        assert "SelectedBucketsCount" in plan
        assert joined.count() == orders.count()  # FK: every order has a customer
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_funnel_conversion_hand_case(spark, tmp_path):
    import datetime as dt

    from yelp_data_engineering_pipeline_spark.plans.analytics import funnel_conversion

    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    rows = [
        # user 1: full funnel inside windows
        (1, ts(0), 1, "view", 0.0, None),
        (2, ts(1), 1, "click", 0.0, None),
        (3, ts(2), 1, "purchase", 0.0, None),
        # user 2: click 30h after view -> out of window
        (4, ts(0), 2, "view", 0.0, None),
        (5, ts(30), 2, "click", 0.0, None),
        # user 3: view then purchase without click -> stops at view
        (6, ts(0), 3, "view", 0.0, None),
        (7, ts(1), 3, "purchase", 0.0, None),
        # user 4: click before any view -> not counted at click stage
        (8, ts(0), 4, "click", 0.0, None),
        (9, ts(1), 4, "view", 0.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    df.write.parquet(f"{sf}/events.parquet")
    out = funnel_conversion(spark, sf).collect()[0]
    assert (out["n_view"], out["n_click"], out["n_purchase"]) == (4, 1, 1)


def test_bloom_semi_join_plan_broadcasts_and_prefilters(spark, sf_dir):
    """The bloom path must keep the probe side shuffle-free: bloom
    filter evaluated map-side, exact join a broadcast semi — never a
    sort-merge exchange of the probe table."""
    from yelp_data_engineering_pipeline_spark.operators.bloom import join_bloom_prefilter

    plan = _formatted(join_bloom_prefilter(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    # the probe-side bloom test compiles to a plain Filter over the scan
    assert plan.count("Filter") >= 1 and "md5" in plan


def test_zorder_layout_plan_range_partitions_and_sorts(spark):
    from yelp_data_engineering_pipeline_spark.operators.zorder import zorder_layout

    grid = spark.range(0, 1000).selectExpr("id as x", "id % 37 as y")
    plan = _formatted(zorder_layout(grid, "x", "y", n_files=8))
    assert "rangepartitioning(_z" in plan.lower()
    assert "Sort" in plan


def test_label_centroids_single_exchange(spark):
    """posexplode + partial agg: exactly ONE shuffle (the final
    hash-agg); no extra repartition or join exchanges."""
    from yelp_data_engineering_pipeline_spark.operators.similarity import label_centroids

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "label int, embedding array<float>"
    )
    import re

    plan = _formatted(label_centroids(emb, "label", "embedding"))
    # formatted explain names each node twice (tree + detail section)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_funnel_plan_no_cartesian(spark, sf_dir):
    from yelp_data_engineering_pipeline_spark.plans.analytics import funnel_conversion

    plan = _formatted(funnel_conversion(spark, sf_dir))
    assert "CartesianProduct" not in plan  # 1-row stage counts broadcast


def test_tpch_q1_pushdown_and_partial_agg(spark, sf_dir):
    from yelp_data_engineering_pipeline_spark.plans.tpch import tpch_q1_pricing_summary

    plan = _formatted(tpch_q1_pricing_summary(spark, sf_dir))
    # the shipdate cutoff must reach the parquet scan (row-group pruning)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "LessThanOrEqual(l_shipdate" in plan
    # 6-group agg: partial (map-side) + final HashAggregate pair
    assert plan.count("HashAggregate") >= 2


def test_tpch_q9_broadcasts_nation_and_prunes_part(spark, sf_dir):
    from yelp_data_engineering_pipeline_spark.plans.tpch import tpch_q9_nation_profit

    plan = _formatted(tpch_q9_nation_profit(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # nation comes in broadcast
    # p_type filter pushed into the part scan, not applied post-join
    assert "EqualTo(p_type,PROMO)" in plan
    # lineitem scan pruned to exactly the columns q9 touches
    assert (
        "struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,"
        "l_extendedprice:double,l_discount:double>" in plan
    )


def test_tpch_q5_pushes_region_and_date_filters(spark, sf_dir):
    from yelp_data_engineering_pipeline_spark.plans.tpch import tpch_q5_local_supplier_volume

    plan = _formatted(tpch_q5_local_supplier_volume(spark, sf_dir))
    # region literal reaches the region scan; orderdate range reaches orders scan
    assert "EqualTo(r_name,ASIA)" in plan
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in plan
    assert "BroadcastHashJoin" in plan


def test_token_budget_mix_single_hash_shuffle(spark, sf_dir):
    from yelp_data_engineering_pipeline_spark.operators.preptext import prep_token_budget_mix

    plan = _formatted(prep_token_budget_mix(spark, sf_dir))
    # the per-source window's hash partitioning must be REUSED by the
    # groupBy (source is a subset of the grouping keys) — exactly one
    # hash exchange in the whole plan, or the mixture op double-shuffles
    assert plan.count("hashpartitioning") == 1, plan


def test_bucketed_tables_join_without_exchange(spark, sf_dir):
    """Write-time bucketing is THE shuffle eliminator for repeated joins
    on a fact key at 100 TB: both sides pre-hashed into the same bucket
    scheme → the sort-merge join needs no Exchange on either side."""
    from yelp_data_engineering_pipeline_spark.sources.parquet_layout import (
        write_bucketed_table,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed_table(orders, "t_orders_bucketed", "o_orderkey", n_buckets=4)
    write_bucketed_table(li, "t_lineitem_bucketed", "l_orderkey", n_buckets=4)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a shuffle-family join so the assertion is about bucketing
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_lineitem_bucketed").join(
            spark.table("t_orders_bucketed"),
            spark.table("t_lineitem_bucketed").l_orderkey
            == spark.table("t_orders_bucketed").o_orderkey,
        )
        plan = _formatted(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # bucket scheme co-locates both sides
        assert j.count() == li.count()  # every lineitem finds its order
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_orders_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_bucketed")


def test_priority_window_is_exactly_the_driver_check_surface():
    """The driver verifies only the FIRST 50 queries() entries; a typo
    in _PRIORITY silently wastes a verification slot. Lock the
    invariants: exactly 50 names, every one registered, every one
    oracle-bearing (a window slot without an oracle records a weaker
    rows-only check)."""
    from yelp_data_engineering_pipeline_spark.plans import catalog

    qs = catalog.queries()
    oracles = catalog.oracle_sql()
    prio = catalog._PRIORITY
    assert len(prio) == 50
    missing = [n for n in prio if n not in qs]
    assert not missing, f"_PRIORITY names not registered: {missing}"
    no_oracle = [n for n in prio if n not in oracles and n != "mm_decode_stub"]
    assert not no_oracle, f"window slots without oracles: {no_oracle}"
    # emission order actually honors the priority list
    assert list(qs)[: len(prio)] == list(prio)


def test_no_unscheduled_verification_debt():
    """Rotation-debt guard (VERDICT r5 next-8): every catalog entry must
    either HAVE a driver CORRECTNESS row from some past round or HOLD a
    slot in the current 50-entry window — i.e. new entries must take
    window slots in the round that adds them, so never-checked entries
    can never silently accumulate again (the r5 failure mode: 18
    late-round additions with no scheduled verification)."""
    import json
    from pathlib import Path

    from yelp_data_engineering_pipeline_spark.plans import catalog

    repo = Path(__file__).resolve().parent.parent
    checked: set[str] = set()
    for f in sorted(repo.glob("CORRECTNESS_r*.json")):
        try:
            checked.update(json.loads(f.read_text()).keys())
        except (ValueError, OSError):
            continue
    if not checked:  # fresh clone without driver artifacts
        return
    qs = catalog.queries()
    unscheduled = [
        n for n in qs if n not in checked and n not in catalog._PRIORITY
    ]
    assert not unscheduled, (
        f"{len(unscheduled)} entries have no driver row AND no window "
        f"slot (unscheduled verification debt): {unscheduled}"
    )


def test_evidence_max_age():
    """Staleness guard (VERDICT r6 next-1): evidence must not silently
    age out. Every catalog entry's LATEST green driver row must be at
    most 5 rounds older than the newest CORRECTNESS artifact present,
    unless the entry holds a slot in the current window (i.e. its
    refresh is scheduled). The never-checked case is covered by
    test_no_unscheduled_verification_debt; this one catches the r6
    failure mode where 19 entries sat on r1 evidence for five rounds
    with nothing forcing a re-certification."""
    import json
    from pathlib import Path

    from yelp_data_engineering_pipeline_spark.plans import catalog

    repo = Path(__file__).resolve().parent.parent
    latest: dict[str, int] = {}
    max_round = 0
    for f in sorted(repo.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(f.stem.split("_r")[1])
            rows = json.loads(f.read_text())
        except (ValueError, OSError, IndexError):
            continue
        max_round = max(max_round, rnd)
        for name, row in rows.items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match", True)
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    if max_round == 0:  # fresh clone without driver artifacts
        return
    floor = max_round - 5
    stale = [
        n
        for n in catalog.queries()
        if latest.get(n, 0) < floor and n not in catalog._PRIORITY
    ]
    assert not stale, (
        f"{len(stale)} entries have evidence older than round {floor} "
        f"(newest artifact r{max_round}) and no scheduled refresh slot: "
        f"{[(n, latest.get(n)) for n in stale]} — head the next window "
        f"with them (see catalog.py r8-window-first comment)"
    )


def test_events_load_accepts_ntz_parquet(spark, sf_dir, tmp_path):
    """Parquet written without isAdjustedToUTC (DuckDB et al.) loads as
    TIMESTAMP_NTZ; load() must normalize it so unix_micros/window()
    downstream still work."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from yelp_data_engineering_pipeline_spark.tables import load

    ev = load(spark, sf_dir, "events")
    ev.withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    back = load(spark, str(tmp_path), "events")
    assert isinstance(back.schema["ts"].dataType, TimestampType)
    # unix_micros works and round-trips the wall time under the UTC session
    n = back.filter(F.unix_micros("ts") > 0).count()
    assert n == ev.count()


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew handling: a whale key must make AQE re-plan the
    sort-merge join with the skewed partition SPLIT (SortMergeJoin
    skew=true) — the no-code-change answer to hot keys, complementing
    the explicit salting operator. Thresholds are scaled to test data;
    note the skewedPartitionFactor conf is an INT — passing \"2.0\"
    silently disables the whole rule."""
    from pyspark.sql import functions as F

    s = spark.newSession()
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    left = s.range(800000).select(
        F.when(F.col("id") < 750000, 0).otherwise((F.col("id") % 99) + 1).alias("k"),
        F.md5(F.col("id").cast("string")).alias("pad"),
    )
    right = s.range(100).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("w")
    )
    agg = left.join(right, "k").groupBy().count()
    assert agg.collect()[0]["count"] == 800000
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan[:2000]


def test_tpch_q6_is_pure_scan_no_join(spark, sf_dir):
    """Q6 must compile to scan→filter→two-phase agg: zero joins, all
    three predicates pushed to the lineitem parquet scan."""
    from yelp_data_engineering_pipeline_spark.plans.tpch_full import tpch_q6_forecast_revenue

    plan = _formatted(tpch_q6_forecast_revenue(spark, sf_dir))
    assert "Join" not in plan
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan
    assert "LessThan(l_quantity,25" in plan  # qty cap pushed too
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_tpch_q19_keeps_equijoin_despite_disjunction(spark, sf_dir):
    """The three OR-ed predicate arms must stay a residual on a
    broadcast equi-join — a disjunction that degrades the join to a
    nested-loop cross product is the classic Q19 planner failure."""
    from yelp_data_engineering_pipeline_spark.plans.tpch_full import tpch_q19_disjunctive_revenue

    plan = _formatted(tpch_q19_disjunctive_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the common pushable bounds still reach the scans
    assert "LessThanOrEqual(l_quantity,30" in plan
    assert "In(p_brand, [Brand#1,Brand#2,Brand#3])" in plan


def test_tpch_q21_single_lineitem_pass(spark, sf_dir):
    """The EXISTS / NOT EXISTS pair must decorrelate into ONE scan of
    lineitem (per-order registers), not three correlated rescans."""
    from yelp_data_engineering_pipeline_spark.plans.tpch_full import tpch_q21_waiting_suppliers

    plan = _formatted(tpch_q21_waiting_suppliers(spark, sf_dir))
    assert plan.count("lineitem.parquet") <= 2  # persisted pairs: ≤1 live + reuse
    assert "BroadcastHashJoin" in plan  # supplier decoration broadcasts


def test_tpch_q1_pushes_date_filter_to_scan(spark, sf_dir):
    """Q1 is THE full-scan agg: the shipdate bound must reach the
    parquet reader (PushedFilters) and the agg must run over one scan
    with no join or shuffle beyond the group-by exchange."""
    from yelp_data_engineering_pipeline_spark.plans.tpch import tpch_q1_pricing_summary

    plan = _formatted(tpch_q1_pricing_summary(spark, sf_dir))
    assert "LessThan(l_shipdate" in plan          # predicate at the scan
    assert "Join" not in plan                     # single-table query
    import re

    # exactly two shuffles: the group-by and the tiny final sort
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_tpch_q5_broadcasts_every_dimension(spark, sf_dir):
    """Q5's 6-way join must broadcast the bounded dims (region, nation,
    supplier, customer, orders side chains) and never sort-merge them —
    lineitem is the only large input, so the scale plan is a broadcast
    chain over one lineitem scan."""
    from yelp_data_engineering_pipeline_spark.plans.tpch import (
        tpch_q5_local_supplier_volume,
    )

    plan = _formatted(tpch_q5_local_supplier_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan

def test_hybrid_skew_join_equals_plain_join_and_splits_routes(spark):
    from yelp_data_engineering_pipeline_spark.operators.salting import hybrid_skew_join

    # key 7 owns half the fact side — guaranteed hot at factor 1.5
    big = spark.createDataFrame(
        [(7, i) for i in range(50)] + [(k, 0) for k in range(10) if k != 7] * 5,
        "k long, payload long",
    )
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(10)], "dk long, attr string")
    got = hybrid_skew_join(big, dim, "k", "dk", hot_factor=1.5)
    plain = big.join(dim, big.k == dim.dk)
    assert sorted((r.k, r.payload, r.attr) for r in got.collect()) == sorted(
        (r.k, r.payload, r.attr) for r in plain.collect()
    )
    # the hot branch really carries the heavy key: no row of key 7 goes
    # through the cold shuffle join (checked by reconstructing the split)
    from pyspark.sql import functions as F

    counts = big.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    mean = counts.agg(F.avg("c")).collect()[0][0]
    hot = {r.k for r in counts.filter(F.col("c") > 1.5 * mean).collect()}
    assert hot == {7}


def test_hybrid_skew_join_correct_when_no_key_is_hot(spark):
    from yelp_data_engineering_pipeline_spark.operators.salting import hybrid_skew_join

    big = spark.createDataFrame([(k, k * 10) for k in range(20)], "k long, payload long")
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(20)], "dk long, attr string")
    got = hybrid_skew_join(big, dim, "k", "dk", hot_factor=1.5)
    assert got.count() == 20  # uniform counts -> empty hot set -> pure cold path


def test_sq8_plan_broadcasts_queries_integer_only_output(spark, sf_dir):
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        similarity_topk_sq8,
    )

    df = similarity_topk_sq8(spark, sf_dir)
    plan = _formatted(df)
    assert "BroadcastExchange" in plan  # tiny query side ships to the corpus
    assert "CartesianProduct" not in plan
    # the whole point of the tier: nothing float-typed survives to output
    assert {f.dataType.simpleString() for f in df.schema.fields} == {"bigint"}


def test_cms_plan_partial_aggregates_and_broadcasts_cells(spark, sf_dir):
    from yelp_data_engineering_pipeline_spark.operators.sketches import (
        CMS_D,
        agg_countmin_topk,
    )

    plan = _formatted(agg_countmin_topk(spark, sf_dir))
    # each of the d point-query joins broadcasts the <= d*w-row sketch
    assert plan.count("BroadcastHashJoin") >= CMS_D
    assert "CartesianProduct" not in plan
    # sketch build combines map-side before the shuffle
    assert "partial_count" in plan


def test_weighted_sample_pushes_weight_filter_single_window(spark, sf_dir):
    from yelp_data_engineering_pipeline_spark.operators.sampling import (
        prep_weighted_sample,
    )

    plan = _formatted(prep_weighted_sample(spark, sf_dir))
    assert "GreaterThan(n_chars,0)" in plan  # weight filter reaches the scan
    # exactly one window (the per-group bottom-k); key math is map-side
    assert plan.count("(21) Window") + plan.count(" Window\n") >= 1
    assert "CartesianProduct" not in plan


def test_hybrid_skew_join_plan_hot_path_is_broadcast(spark, sf_dir):
    from yelp_data_engineering_pipeline_spark.plans.catalog import queries

    df = queries()["join_skew_hybrid"](spark, sf_dir)
    plan = _formatted(df)
    # hot-key semi/anti routing + hot dim join all ride broadcasts;
    # the single-row mean threshold is a broadcast nested loop, fine
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_bm25_plan_topk_heap_and_broadcast_stats(spark, sf_dir):
    from yelp_data_engineering_pipeline_spark.operators.textstats import text_bm25_topk

    df = text_bm25_topk(spark, sf_dir)
    plan = _formatted(df)
    # global top-k must be per-partition heaps + k-row merge, never a
    # full global Sort stage; the 1-row corpus stats ride a broadcast
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the only Window is the rank attach over the k-row result
    import re

    windows = re.findall(r"\(\d+\) Window", plan)
    assert len(windows) <= 1


def test_prefix_filter_candidate_join_is_equijoin(spark, sf_dir):
    from yelp_data_engineering_pipeline_spark.operators.dedup import dedup_jaccard_prefix

    plan = _formatted(dedup_jaccard_prefix(spark, sf_dir))
    # candidate generation must hash-join on the prefix token — the size
    # filters are residual conditions, not a nested-loop driver
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_normalize_star_build_plan_shape(spark, tmp_path_factory):
    """yelp_e2e plan pin (VERDICT r7 next-6): the star build's dim
    joins must all broadcast — the bench tier's 1.3x budget is too
    coarse to catch a lost broadcast hint, so the shape is asserted
    directly. Bridges join exploded fact rows to name dims
    (plans/normalize.py bridge()/business_amenity/open_hours); a
    SortMergeJoin anywhere would shuffle the fact side on a dim key."""
    from tests.yelp_fixtures import make_results, write_ndjson
    from yelp_data_engineering_pipeline_spark.plans.normalize import normalize
    from yelp_data_engineering_pipeline_spark.schemas import RESULTS_SCHEMA

    path = write_ndjson(
        make_results(80, seed=7), tmp_path_factory.mktemp("np") / "r.ndjson"
    )
    tables = normalize(spark.read.schema(RESULTS_SCHEMA).json(str(path)))
    for name in ("business_food_category", "business_amenity", "open_hours"):
        plan = _formatted(tables[name])
        assert "SortMergeJoin" not in plan, f"{name}: dim join lost broadcast"
        assert "ShuffledHashJoin" not in plan, f"{name}: dim join lost broadcast"
        assert "BroadcastHashJoin" in plan, name
    from yelp_data_engineering_pipeline_spark.cache import release_tracked

    release_tracked()


def test_open_now_plan_shape(spark, tmp_path_factory):
    """yelp_e2e plan pin (VERDICT r7 next-6): restaurants_open_now over
    the STORAGE-BACKED star (parquet write + read-back, matching the
    e2e tier's stage boundaries) must (a) push the implied weekday
    dispatch In-filter to the open_hours parquet scan — the rollover
    branches compare close<open column-to-column, which can never
    push, so the redundant conjunct is the scan-pruning path — and
    (b) join business to the filtered hours as a broadcast, building
    on the selective hours side."""
    from datetime import datetime

    from tests.yelp_fixtures import make_results, write_ndjson
    from yelp_data_engineering_pipeline_spark.plans.normalize import (
        normalize,
        write_star_schema,
    )
    from yelp_data_engineering_pipeline_spark.plans.yelp_queries import (
        open_now_predicate,
        resolve_now,
        restaurants_open_now,
    )
    from yelp_data_engineering_pipeline_spark.schemas import RESULTS_SCHEMA

    tmp = tmp_path_factory.mktemp("onp")
    path = write_ndjson(make_results(80, seed=7), tmp / "r.ndjson")
    write_star_schema(
        normalize(spark.read.schema(RESULTS_SCHEMA).json(str(path))),
        str(tmp / "star"),
    )
    loaded = {
        n: spark.read.parquet(str(tmp / "star" / f"{n}.parquet"))
        for n in ("business", "weekday", "open_hours")
    }
    now = datetime(2024, 5, 15, 12, 30)
    # endpoint runs end-to-end on the storage-backed star
    res = restaurants_open_now(loaded, now)
    assert res["total_results"] >= 0
    # pin the joined frame's plan (same construction as the endpoint)
    now_secs, _, _ = resolve_now(now)
    joined = loaded["business"].join(
        loaded["open_hours"]
        .filter(open_now_predicate(now_secs, 3, 2))
        .select("business_id", "close_time"),
        F.col("id") == F.col("business_id"),
    )
    plan = _formatted(joined)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" in plan
    # the weekday In-dispatch reached the open_hours scan as a pushed
    # filter (In or the two-value Or form, depending on translation)
    assert "In(weekday_id" in plan or "EqualTo(weekday_id" in plan, plan
    from yelp_data_engineering_pipeline_spark.cache import release_tracked

    release_tracked()


def test_minhash_sql_twin_matches_column_formulation(spark, sf_dir):
    """minhash_lsh_pairs builds its shingle/signature/band projections
    from SQL strings parsed JVM-side (one selectExpr each) instead of
    ~1700 py4j round trips of Column construction (r13, guide §7.3).
    The Column builders remain the equivalence oracle: the two
    formulations must produce the SAME canonical optimized plan and the
    same rows."""
    from yelp_data_engineering_pipeline_spark.cache import release_tracked, tracked_persist
    from yelp_data_engineering_pipeline_spark.operators.dedup import (
        N_HASHES,
        band_keys,
        minhash_lsh_pairs,
        minhash_signature,
        nonbroadcast_hint,
        shingle_ab,
        shingles,
    )
    from yelp_data_engineering_pipeline_spark.partitioning import widen_for_compute
    from yelp_data_engineering_pipeline_spark.tables import load

    def pairs_reference(docs, id_col, text_col, jaccard_threshold):
        # the pre-r13 Column-by-Column formulation, verbatim
        docs = widen_for_compute(docs)
        base = (
            docs.select(F.col(id_col).alias("doc_id"), shingles(F.col(text_col)).alias("sh"))
            .filter(F.size("sh") > 0)
        )
        base = tracked_persist(base)
        sig = base.withColumn("ab", shingle_ab(F.col("sh"))).select(
            "doc_id",
            "sh",
            *[c.alias(f"h{i}") for i, c in enumerate(minhash_signature(F.col("ab")))],
        )
        bands = sig.select(
            "doc_id",
            F.posexplode(
                F.array(*band_keys([F.col(f"h{i}") for i in range(N_HASHES)]))
            ).alias("band_idx", "band_key"),
        )
        bands = tracked_persist(bands)
        cand = (
            bands.alias("a")
            .join(bands.alias("b"), ["band_idx", "band_key"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        sets = base.select("doc_id", "sh")
        nb = nonbroadcast_hint(sets)
        verified = (
            cand.join(
                sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")).hint(nb),
                "doc_a",
            )
            .join(
                sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")).hint(nb),
                "doc_b",
            )
            .select(
                "doc_a",
                "doc_b",
                (
                    F.size(F.array_intersect("sh_a", "sh_b"))
                    / (
                        F.size("sh_a")
                        + F.size("sh_b")
                        - F.size(F.array_intersect("sh_a", "sh_b"))
                    )
                ).alias("jaccard"),
            )
        )
        return verified.filter(F.col("jaccard") >= jaccard_threshold)

    docs = load(spark, sf_dir, "documents")
    ref = pairs_reference(docs, "doc_id", "text", 0.5)
    new = minhash_lsh_pairs(docs, "doc_id", "text", jaccard_threshold=0.5)
    ref_plan = ref._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    new_plan = new._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    assert ref_plan == new_plan
    assert sorted(map(tuple, ref.collect())) == sorted(map(tuple, new.collect()))
    release_tracked()


def test_dense_ids_grid_long_matches_dense_ids(spark):
    """dense_ids_grid_long (one eager count job, lazy rank window) must
    assign the SAME ids as the two-phase range scheme for integer-led
    total orders — including keys spanning multiple grid cells and
    multi-column tiebreaks (r13, the star-schema child-table path)."""
    from yelp_data_engineering_pipeline_spark.operators.ids import (
        dense_ids,
        dense_ids_grid_long,
    )

    rows = [
        (int(k), int(f), float(v))
        for k, f, v in zip(
            [7, 3, 3, 200_000, 99_999, 65_536, 65_535, 0, 7, 3],
            [2, 9, 1, 4, 4, 4, 4, 1, 1, 2],
            [0.5, 1.5, -2.0, 3.25, 0.0, 9.0, 8.0, 7.0, 6.0, 5.0],
        )
    ]
    df = spark.createDataFrame(rows, "k long, f long, v double")
    a = dense_ids(df, "k", "f", "v", id_col="id")
    b = dense_ids_grid_long(df, "k", "f", "v", id_col="id")
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
    # the window must be partitioned (plan-audit posture: _cell spec)
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(_cell" in plan


def test_cosine_sql_twin_matches_column_cosine(spark, sf_dir):
    """_cosine_spark_sql must build the SAME expression tree as the
    Column-API cosine() (r13 single-parse verify projection in
    topk_lsh_multitable): canonical optimized plans equal, values
    bit-identical."""
    import struct

    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        _cosine_spark_sql,
        cosine,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").limit(40)
    two = (
        emb.alias("a")
        .crossJoin(
            emb.alias("b")
            .withColumnRenamed("embedding", "e2")
            .withColumnRenamed("vec_id", "v2")
        )
        .limit(300)
    )
    col_form = two.select(F.round(cosine(F.col("embedding"), F.col("e2")), 4).alias("c"))
    sql_form = two.select(
        F.expr(f"round({_cosine_spark_sql('embedding', 'e2')}, 4)").alias("c")
    )
    po = col_form._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    pn = sql_form._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    assert po == pn
    pack = lambda r: None if r["c"] is None else struct.pack("d", r["c"])  # noqa: E731
    assert [pack(r) for r in col_form.collect()] == [pack(r) for r in sql_form.collect()]


def test_semdedup_cell_sql_twin_matches_column_form(spark, sf_dir):
    """semdedup_cells builds its nearest-centroid cell assignment as
    ONE parsed expression (_semdedup_cell_expr, r13 guide §7.3) instead
    of C × ~15 py4j round trips of Column construction. The verbatim
    Column formulation (_semdedup_cell_column) stays as the equivalence
    oracle: same canonical optimized plan, same rows."""
    from yelp_data_engineering_pipeline_spark.operators.dedup import (
        _SEM_CELLS,
        _semdedup_cell_column,
        _semdedup_cell_expr,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    cent_rows = sorted(
        emb.filter(F.col("vec_id") < _SEM_CELLS)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    col_form = emb.select(
        "vec_id", _semdedup_cell_column(cent_rows).cast("bigint").alias("cell")
    )
    sql_form = emb.select(
        "vec_id", _semdedup_cell_expr(cent_rows).cast("bigint").alias("cell")
    )
    po = col_form._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    pn = sql_form._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    assert po == pn
    assert sorted(map(tuple, col_form.collect())) == sorted(
        map(tuple, sql_form.collect())
    )


def test_multiprobe_sql_twin_matches_column_form(spark, sf_dir):
    """topk_rph_multiprobe builds its 1+n_bits probe projection and
    corpus bucket from SQL strings parsed JVM-side (r13, guide §7.3).
    The verbatim pre-r13 Column formulation below is the equivalence
    oracle: same canonical optimized plan, same rows."""
    from pyspark.sql import Window

    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        RPH_PLANES,
        cosine,
        rph_bucket,
        topk_rph_multiprobe,
    )
    from yelp_data_engineering_pipeline_spark.partitioning import (
        widen_for_compute,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    def multiprobe_ref(queries, corpus, k, planes):
        n_bits = len(planes)
        q_bucket = rph_bucket(F.col("embedding"), planes)
        flips = [q_bucket] + [
            F.concat(
                F.substring(q_bucket, 1, i),
                F.when(
                    F.substring(q_bucket, i + 1, 1) == "1", F.lit("0")
                ).otherwise(F.lit("1")),
                F.substring(q_bucket, i + 2, n_bits - i - 1),
            )
            for i in range(n_bits)
        ]
        q = queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(F.array(*flips)).alias("bucket"),
        )
        c = widen_for_compute(corpus).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
            rph_bucket(F.col("embedding"), planes).alias("bucket"),
        )
        pairs = (
            F.broadcast(q)
            .join(c, "bucket")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine(F.col("q_emb"), F.col("c_emb")), 4).alias(
                    "cos_sim"
                ),
            )
            .distinct()
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
        return (
            pairs.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rk") <= k)
        )

    emb = load(spark, sf_dir, "embeddings")
    ref = multiprobe_ref(emb.filter(F.col("vec_id") < 10), emb, 5, RPH_PLANES)
    new = topk_rph_multiprobe(emb.filter(F.col("vec_id") < 10), emb, k=5)
    po = ref._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    pn = new._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    assert po == pn
    assert sorted(map(tuple, ref.collect())) == sorted(
        map(tuple, new.collect())
    )


def _cosine_reference(a, b):
    """similarity.cosine as the pre-hoist code called it: three folds."""
    def sq_norm(v):
        return F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))

    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    return dot / (F.sqrt(sq_norm(a)) * F.sqrt(sq_norm(b)))


def _cell_structs_reference(vec, cents):
    """The IVF kernel as it stood before the per-row/per-codebook norm
    hoist, kept verbatim as the bit-identity oracle: a CreateArray
    codebook matrix, and every cell re-folds the row's norm AND the
    centroid's norm beside the dot product (three folds per cell)."""
    from yelp_data_engineering_pipeline_spark.functions.bulklit import (
        lit_double_matrix,
        lit_long_array,
    )

    cosine = _cosine_reference
    keys = sorted(cents)
    mat = lit_double_matrix([[float(x) for x in cents[c]] for c in keys])
    ids = lit_long_array([int(c) for c in keys])
    return F.transform(
        F.sequence(F.lit(1), F.lit(len(keys))),
        lambda i: F.struct(
            (-F.round(cosine(vec, F.element_at(mat, i)), 4))
            .alias("neg_sim"),
            F.element_at(ids, i).cast("long").alias("cell"),
        ),
    )


def _cells_reference(vec, cents, nprobe):
    structs = _cell_structs_reference(vec, cents)
    if nprobe is None:
        return F.array_min(structs)["cell"]
    return F.transform(
        F.slice(F.array_sort(structs), 1, max(1, nprobe)), lambda s: s["cell"]
    )


def _search_reference(ix, queries, k, nprobe):
    """IvfIndex.search (float store, no prune/where/rerank) as it stood
    before the hoist: probe through the reference kernel, verify every
    candidate pair with the full three-fold cosine."""
    from pyspark.sql import Window

    cosine = _cosine_reference
    cents = ix._cents_from_meta(ix.meta())
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    q = q.select(
        *q.columns,
        F.explode(_cells_reference(F.col("q_emb"), cents, nprobe)).alias("cell"),
    )
    c = ix.assign.read().select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"),
        "cell",
    )
    pairs = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_emb"), F.col("c_emb")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return pairs.withColumn("rk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rk") <= k
    )


def _bits(v):
    """Doubles by their exact IEEE bits (-0.0 and NaN stay visible)."""
    import struct

    return struct.pack("<d", v) if isinstance(v, float) else v


def _bit_rows(df):
    return sorted(tuple(_bits(v) for v in r) for r in df.collect())


def test_ivf_kernel_bit_identical_to_prefold_form(spark, sf_dir, tmp_path,
                                                 monkeypatch):
    """The hoisted IVF kernel (one codebook literal, centroid norms
    folded on the driver, the row norm once per row, one dot fold per
    cell) and the hoisted search verify (one fold per candidate pair)
    keep every IEEE operation in order, so they must reproduce the
    pre-hoist formulation above BIT FOR BIT: assign and probe at
    nprobe 1/2/4 over both codebook transports, the raw neg_sim
    structs, and IvfIndex.search rows including cos_sim bits. The
    fixture embeddings are unit vectors, so rows are rescaled by 1-5×:
    a norm taken from the wrong side would otherwise cancel out."""
    import yelp_data_engineering_pipeline_spark.operators.similarity as S
    from yelp_data_engineering_pipeline_spark.operators.ann_index import IvfIndex
    from yelp_data_engineering_pipeline_spark.operators.upsert import (
        ParquetMergeTable,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    scale = (F.col("vec_id") % 5 + 1).cast("double")
    base = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x * scale).alias("embedding"))
    cents = {
        int(r["vec_id"]): list(r["embedding"])
        for r in base.orderBy("vec_id").limit(16).collect()
    }
    vec = F.col("embedding")
    structs_new = base.select("vec_id", S._literal_cells(vec, cents).alias("s"))
    structs_ref = base.select("vec_id", _cell_structs_reference(vec, cents).alias("s"))
    enc = lambda df: sorted(  # noqa: E731
        (r.vec_id, [(_bits(s.neg_sim), s.cell) for s in r.s])
        for r in df.collect()
    )
    assert enc(structs_new) == enc(structs_ref)

    for bound in (S._CODEBOOK_LITERAL_MAX_VALUES, 0):  # literal, broadcast
        monkeypatch.setattr(S, "_CODEBOOK_LITERAL_MAX_VALUES", bound)
        for nprobe in (None, 1, 2, 4):
            ref = base.select("vec_id", _cells_reference(vec, cents, nprobe).alias("cell"))
            new = S.ivf_assign(base, cents, nprobe=nprobe).select("vec_id", "cell")
            assert _bit_rows(new) == _bit_rows(ref), (bound, nprobe)
    monkeypatch.undo()

    corpus = ParquetMergeTable(spark, str(tmp_path / "corpus"), key="vec_id")
    corpus.merge(base)
    ix = IvfIndex(spark, str(tmp_path / "ix"))
    ix.build(corpus, n_centroids=8)
    queries = base.filter(F.col("vec_id") < 40)
    for nprobe in (1, 2, 4):
        got = ix.search(queries, k=5, nprobe=nprobe, prune_files=False)
        want = _search_reference(ix, queries, 5, nprobe)
        assert _bit_rows(got) == _bit_rows(want), nprobe
        assert got.count() > 0


def test_ivf_kernel_plan_one_codebook_literal_one_fold_per_pair(spark, sf_dir):
    """Plan pin for the hoist. (1) The analyzed assign plan holds the
    codebook values in exactly ONE literal node — the flattened
    array<double> — and nowhere else (the pre-hoist form inlined k·d
    literal nodes, twice per cell's norm). (2) The search verify
    projection has exactly one zip_with per candidate pair and no
    sqrt: both norms arrive as precomputed columns."""
    import re

    from yelp_data_engineering_pipeline_spark.operators import ann_index as AI
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        ivf_assign_cell,
        similarity_topk_ivf,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    cents = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(8).collect()
    }
    jdbl = spark._jvm.java.lang.Double.toString
    flat = [jdbl(x) for c in sorted(cents) for x in cents[c]]
    lit_text = "[" + ",".join(flat) + "]"

    def codebook_literals(col):
        plan = (emb.select(col.alias("cell"))
                ._jdf.queryExecution().analyzed().toString())
        n = plan.count(lit_text)
        rest = plan.replace(lit_text, "")
        stray = [v for v in flat
                 if re.search(r"(?<![\w.\-])" + re.escape(v) + r"(?![\w.])", rest)]
        return n, stray

    assert codebook_literals(ivf_assign_cell(F.col("embedding"), cents)) == (1, [])
    n_ref, stray_ref = codebook_literals(
        _cells_reference(F.col("embedding"), cents, None))
    assert n_ref == 0 and stray_ref  # the pin distinguishes the old form

    ix = AI._demo_index(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    for df in (ix.search(q, k=5, nprobe=2), similarity_topk_ivf(spark, sf_dir)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        verify = [ln for ln in plan.splitlines() if " AS cos_sim#" in ln]
        assert len(verify) == 1, plan
        assert verify[0].count("zip_with(") == 1, verify[0]
        assert "SQRT(" not in verify[0], verify[0]


def test_ivf_kernel_vector_column_named_emb_cb(spark, sf_dir):
    """ADVICE r14: the removed SQL-text kernel substituted the codebook
    into a ``_cb`` placeholder by string replace, so a vector column
    whose NAME contained ``_cb`` was mangled. Assign and probe over a
    column named ``emb_cb`` must give the same cells as over
    ``embedding``."""
    from yelp_data_engineering_pipeline_spark.operators.similarity import (
        ivf_assign,
    )
    from yelp_data_engineering_pipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = {
        int(r["vec_id"]): list(r["embedding"])
        for r in emb.orderBy("vec_id").limit(6).collect()
    }
    renamed = emb.withColumnRenamed("embedding", "emb_cb")
    for nprobe in (None, 2):
        want = ivf_assign(emb, cents, nprobe=nprobe).select("vec_id", "cell")
        got = ivf_assign(renamed, cents, vec_col="emb_cb",
                         nprobe=nprobe).select("vec_id", "cell")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect()))


def test_ivf_kernel_memo_is_bounded(spark):
    """ADVICE r14: the kernel memo is keyed on codebook CONTENT, so a
    serving loop that refreshes centroids would keep one entry per
    version forever. Building many distinct codebooks must keep it at
    or below its bound, and a repeated codebook must still hit."""
    import yelp_data_engineering_pipeline_spark.operators.similarity as S

    memo = S._kernel_memo
    bound = memo.cache_info().maxsize
    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    memo.cache_clear()
    for n in range(3 * bound):
        cents = {0: [1.0, float(n)], 1: [float(n), 1.0]}
        S.ivf_assign(df, cents)
        assert memo.cache_info().currsize <= bound
    assert memo.cache_info().currsize == bound
    hits = memo.cache_info().hits
    assert S._ivf_kernel_expr("embedding", cents, None) is S._ivf_kernel_expr(
        "embedding", cents, None)
    assert memo.cache_info().hits == hits + 2


def test_lsh_tag_memo_is_bounded(spark):
    """The multi-table LSH tag-array memo is keyed on plane CONTENT,
    like the IVF kernel memo: a caller cycling through plane
    configurations must keep it at or below its bound, and a repeated
    configuration must still hit (no re-parse of the tag text)."""
    import yelp_data_engineering_pipeline_spark.operators.similarity as S

    memo = S._tag_expr_memo
    bound = memo.cache_info().maxsize
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])],
                               "vec_id long, embedding array<double>")
    memo.cache_clear()
    for n in range(bound):      # two entries (query + corpus side) each
        planes = [[[1.0, float(n)], [float(n), -1.0]]]
        S.topk_lsh_multitable(df, df, 1, planes)
        assert memo.cache_info().currsize <= bound
    assert memo.cache_info().currsize == bound
    hits = memo.cache_info().hits
    S.topk_lsh_multitable(df, df, 1, planes)
    assert memo.cache_info().hits == hits + 2
    assert memo.cache_info().currsize == bound


def test_rank_histogram_grid_lazy_matches_eager(spark):
    """rank_histogram_grid_lazy (no collect, no eager job — r14) must
    assign the SAME ranks and total as the eager grid scheme, including
    across cell boundaries and on ties broken by the tiebreak column."""
    from yelp_data_engineering_pipeline_spark.operators.ids import (
        rank_histogram_grid,
        rank_histogram_grid_lazy,
    )

    rows = [(float(v) * 655.36, i) for i, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5])]
    df = spark.createDataFrame(rows, "v double, tb long")
    eager, n = rank_histogram_grid(df, "v", "tb", cell_shift=4, id_col="r")
    lazy = rank_histogram_grid_lazy(df, "v", "tb", cell_shift=4, id_col="r", n_col="_n")
    re_ = sorted((r["tb"], r["r"]) for r in eager.collect())
    rl = sorted((r["tb"], r["r"]) for r in lazy.collect())
    assert re_ == rl
    totals = {r["_n"] for r in lazy.collect()}
    assert totals == {n}

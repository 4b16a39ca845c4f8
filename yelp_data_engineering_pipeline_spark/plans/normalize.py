"""Stage-2 ETL: nested scrape results → 11-table star schema
(SURVEY.md §2.8, E2; reference parse_and_upload_to_db.py:84-183).

The reference loads row-at-a-time with per-value ``get_or_create``
round trips (N+1). This plan is the set-oriented rewrite (SURVEY E2.4):

    bronze (nested)                    # one cached pass
      ├─ quarantine split (P11: pydantic constraint regexes)
      ├─ business + surrogate ids (W3)
      ├─ per collection: explode → distinct → dim ids → broadcast-join
      │  FKs back (J5 batch dim-merge — no per-row lookups)
      └─ open_hours: explode entries → parse ranges (F2/F4/F5) →
         second explode (N1: split shifts → multiple rows)

Semantic deltas vs the reference (deliberate, documented):
- surrogate ids are deterministic (row_number over natural key), not
  insertion-order autoincrement — same shape, different values;
- weekday ids follow Mon..Sun canonical order;
- constraint-violating rows and unparseable hour strings go to
  quarantine outputs instead of failing the whole transaction
  (the reference rolls back everything on one bad row,
  parse_and_upload_to_db.py:175-179).

Scale notes: every dim is bounded-cardinality → broadcast joins for FK
attachment; the only fact-scale shuffles are the surrogate-id sort and
the explodes' downstream writes. Dense-id assignment uses a global
row_number window — fine for dimension-sized outputs; for fact-scale id
assignment at 100 TB swap in the two-phase per-partition-offset scheme
(count per partition → prefix-sum offsets) noted in operators/dim_merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hours import hours_ranges
from ..operators.ids import dense_ids, dense_ids_grid_long, dense_ids_window
from ..schemas import HEALTH_SCORE_PATTERN, PRICE_PATTERN, WEEKDAY_ORDER

# Fact-scale tables (business, bridges, open_hours) get a distributed
# id assigner; bounded dims use the plain window (cheaper below
# ~millions of rows, identical results — equivalence tested). The
# business table keys on the scraped string id → two-phase range
# scheme; the five child tables lead with the dense business_id
# surrogate → the fixed-grid scheme (no sample+persist+count: its
# offsets plan lazily, so it runs no eager job — guide §1.2; ids
# identical, goldens + oracle sweep pin it).
_dense_ids = dense_ids
_child_dense_ids = dense_ids_grid_long


def _name_dim(values: DataFrame) -> DataFrame:
    """distinct name → (id, name) dim, ids dense by name order."""
    return dense_ids_window(values.select("name").distinct(), "name").select("id", "name")


def validity_predicate() -> F.Column:
    """P11: the pydantic constraints as a quarantine predicate
    (web_scraping.py:232-247)."""
    price_ok = F.col("price").isNull() | F.col("price").rlike(PRICE_PATTERN)
    health_ok = F.col("health_score").isNull() | F.col("health_score").rlike(HEALTH_SCORE_PATTERN)
    return F.col("name").isNotNull() & price_ok & health_ok


def normalize(results: DataFrame) -> dict[str, DataFrame]:
    """Nested results (RESULTS_SCHEMA) → star schema tables.

    Returns the 11 star tables plus ``quarantine`` (constraint-violating
    input rows) and ``hours_rejects`` (unparseable hour strings — the
    rows the reference would abort the batch on).
    """
    valid = results.filter(validity_predicate())
    quarantine = results.filter(~validity_predicate())

    keyed = _dense_ids(valid, "bizId").cache()

    business = keyed.select(
        "id", "name", "website", "phone_number", "address", "price", "health_score"
    )

    # --- weekday dim: canonical Mon..Sun ordering (W2) ----------------------
    weekday_pos = F.array_position(
        F.array(*[F.lit(d) for d in WEEKDAY_ORDER]), F.col("name")
    )
    weekday = (
        keyed.select(F.explode("open_hours").alias("oh"))
        .select(F.col("oh.weekday").alias("name"))
        .distinct()
        .withColumn("id", F.row_number().over(Window.orderBy(weekday_pos)).cast("bigint"))
        .select("id", "name")
    )

    # --- simple name dims + bridges (N2-N4 / J5) ----------------------------
    def bridge(array_col: str, dim: DataFrame, fk_name: str) -> DataFrame:
        ex = keyed.select(F.col("id").alias("business_id"), F.explode(array_col).alias("name"))
        joined = ex.join(F.broadcast(dim.withColumnRenamed("id", fk_name)), "name").select(
            "business_id", fk_name
        )
        return _child_dense_ids(joined, "business_id", fk_name).select("id", "business_id", fk_name)

    food_category = _name_dim(
        keyed.select(F.explode("food_category").alias("name"))
    )
    search_term = _name_dim(keyed.select(F.explode("related_search_terms").alias("name")))
    highlight = _name_dim(keyed.select(F.explode("highlights").alias("name")))
    amenity = _name_dim(keyed.select(F.explode("amenities.amenity").alias("name")))

    def _business_amenity() -> DataFrame:
        # --- amenity bridge carries the is_available payload (N5) -----------
        am_ex = keyed.select(
            F.col("id").alias("business_id"),
            F.explode("amenities").alias("am"),
        ).select("business_id", F.col("am.amenity").alias("name"), F.col("am.is_available").alias("is_available"))
        return _child_dense_ids(
            am_ex.join(F.broadcast(amenity.withColumnRenamed("id", "amenity_id")), "name").select(
                "business_id", "amenity_id", "is_available"
            ),
            "business_id",
            "amenity_id",
        ).select("id", "business_id", "amenity_id", "is_available")

    # --- open_hours: double explode with range parsing (N1) -----------------
    entries = keyed.select(
        F.col("id").alias("business_id"), F.explode("open_hours").alias("oh")
    ).select(
        "business_id",
        F.col("oh.weekday").alias("weekday_name"),
        F.col("oh.open_hours").alias("hours_str"),
        hours_ranges(F.col("oh.open_hours")).alias("ranges"),
    )
    hours_rejects = entries.filter(F.col("ranges").isNull()).select(
        "business_id", "weekday_name", "hours_str"
    )

    def _open_hours() -> DataFrame:
        oh = (
            entries.filter(F.col("ranges").isNotNull())
            .select("business_id", "weekday_name", F.explode("ranges").alias("r"))
            .join(
                F.broadcast(
                    weekday.select(F.col("id").alias("weekday_id"), F.col("name").alias("weekday_name"))
                ),
                "weekday_name",
            )
            .select(
                "business_id",
                "weekday_id",
                F.col("r.open_time").alias("open_time"),
                F.col("r.close_time").alias("close_time"),
            )
        )
        return _child_dense_ids(
            oh, "business_id", "weekday_id", "open_time", "close_time"
        ).select("id", "business_id", "weekday_id", "open_time", "close_time")

    # The five child tables are mutually independent once ``keyed``
    # exists, so their construction overlaps in a small pool (guide
    # §2.6). It runs no Spark job (dense_ids_grid_long plans its offsets
    # lazily), so the pool overlaps only py4j plan building. Each child
    # action evaluates its input subtree twice (broadcast counts build
    # and probe side) and relies on the shared ``keyed`` cache, filled
    # once under Spark's block locks, to parse the raw input once.
    # Results are byte-identical to the sequential build (goldens).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=5) as pool:
        f_bfc = pool.submit(bridge, "food_category", food_category, "food_category_id")
        f_bst = pool.submit(bridge, "related_search_terms", search_term, "search_term_id")
        f_bhl = pool.submit(bridge, "highlights", highlight, "highlight_id")
        f_bam = pool.submit(_business_amenity)
        f_oh = pool.submit(_open_hours)
        business_food_category = f_bfc.result()
        business_search_term = f_bst.result()
        business_highlight = f_bhl.result()
        business_amenity = f_bam.result()
        open_hours = f_oh.result()

    return {
        "business": business,
        "weekday": weekday,
        "food_category": food_category,
        "search_term": search_term,
        "highlight": highlight,
        "amenity": amenity,
        "open_hours": open_hours,
        "business_food_category": business_food_category,
        "business_search_term": business_search_term,
        "business_highlight": business_highlight,
        "business_amenity": business_amenity,
        "quarantine": quarantine,
        "hours_rejects": hours_rejects,
    }


def write_star_schema(
    tables: dict[str, DataFrame], out_dir: str, max_concurrent: int = 4
) -> None:
    """Persist the star schema as parquet (the engine's native store;
    the JDBC sink in sources/jdbc.py is the drop-in alternative).

    The 13 table writes are independent jobs over mostly-tiny frames;
    submitting them sequentially leaves the cluster idle through each
    job's tail (optimization guide §2.6 — actions are only sequential
    because the driver calls them sequentially). A small thread pool
    keeps 4 writes in flight so the next job back-fills executors the
    current one's stragglers freed (~25-30% off the bench's 8k-row
    ingest leg at local[32] — see OPTIMIZATION_r13.md for the
    recorded A/B). FIFO scheduling (the default) preserves the back-fill
    behavior; per-thread job descriptions keep the UI readable. The
    first write materializes the shared ``keyed`` cache exactly once —
    concurrent fills of one cached plan are serialized by Spark's
    cache manager, and every frame here derives from it, so duplicate
    upstream compute is bounded to the race on the first fill."""
    from concurrent.futures import ThreadPoolExecutor

    def _write(item: tuple[str, DataFrame]) -> None:
        name, df = item
        sc = df.sparkSession.sparkContext
        sc.setJobDescription(f"write_star_schema: {name}")
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")
        sc.setJobDescription(None)

    with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
        list(pool.map(_write, tables.items()))


def read_star_schema(
    spark, written: dict[str, DataFrame], out_dir: str
) -> dict[str, DataFrame]:
    """Read back a star schema persisted by :func:`write_star_schema`,
    planning job-free (r13, guide §7.3): a bare
    ``spark.read.parquet`` runs a schema-INFERENCE Spark job per table
    per call — 13 driver round trips per serving snapshot read — but
    the writer just wrote these files, so each table's schema is the
    written frame's schema (that is exactly what the parquet footer
    records; the files are re-read, nothing is cached). A serving
    deployment holds table schemas in its catalog for the same reason.
    """
    return {
        name: spark.read.schema(df.schema).parquet(f"{out_dir}/{name}.parquet")
        for name, df in written.items()
    }

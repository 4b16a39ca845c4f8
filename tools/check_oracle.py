"""Local differential harness mimicking the driver's t2 gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, schema
arity, and order-insensitive values (columns sorted by name, rows
sorted by their full value tuple — STRICTER than a hash compare).

Usage: python tools/check_oracle.py [--bare] [--first-n N] [sf_dir] [query_name ...]

Every PASS line carries ``sha=`` — the first 16 hex digits of a SHA-256
over the canonical (sorted, exact-bits) Spark rows — so two sweeps can
be diffed entry by entry as a hash baseline (``grep ^PASS | cut -d' '
-f2,5`` strips the timings).

``--bare`` builds a PLAIN SparkSession (no session-factory confs, JVM
default timezone) to simulate the round driver's harness — catches
anything that silently depends on get_spark's configuration.
``--first-n N`` restricts to the first N catalog entries (the driver
checks only a prefix).
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # EXACT bits, no tolerance: every double the catalog emits is
        # engine-identical by construction (exact-int ratios, grid-exact
        # rounded sums, identical IEEE op sequences) — verified 0
        # mismatches across all 89 entries at sf0.01. A tolerance here
        # would let real drift hide below the driver's exact hash.
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _canon(rows: list[dict]) -> list[tuple]:
    if not rows:
        return []
    cols = sorted(rows[0].keys())
    out = [tuple(_norm(r[c]) for c in cols) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def _digest(canon: list[tuple]) -> str:
    """Order-insensitive content hash of canonical rows; floats enter
    by their exact IEEE bits (``float.hex``), never a rounded repr."""
    def enc(v):
        if isinstance(v, float):
            return v.hex()
        if isinstance(v, tuple):
            return tuple(enc(x) for x in v)
        return v
    h = hashlib.sha256(repr([enc(t) for t in canon]).encode())
    return h.hexdigest()[:16]


def main() -> int:
    args = sys.argv[1:]
    bare = "--bare" in args
    if bare:
        args.remove("--bare")
    first_n = None
    if "--first-n" in args:
        i = args.index("--first-n")
        first_n = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as e

    if bare:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]").appName("bare-oracle").getOrCreate()
        )
    else:
        from yelp_data_engineering_pipeline_spark.session import get_spark

        spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    if first_n is not None:
        qs = dict(list(qs.items())[:first_n])
    n_pass = n_fail = n_weak = n_vacuous = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        from yelp_data_engineering_pipeline_spark.cache import release_tracked

        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
            release_tracked()  # free per-query persisted subtrees
        except Exception as ex:
            print(f"FAIL {name}: spark error: {type(ex).__name__}: {str(ex)[:400]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"weak {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_weak += 1
            continue
        try:
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            drows = [dict(zip(cols, row)) for row in cur.fetchall()]
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {type(ex).__name__}: {str(ex)[:400]}")
            n_fail += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: row count spark={len(srows)} duckdb={len(drows)}")
            n_fail += 1
            continue
        scols = sorted(srows[0].keys()) if srows else sorted(sdf.columns)
        dcols = sorted(cols)
        if scols != dcols:
            print(f"FAIL {name}: columns spark={scols} duckdb={dcols}")
            n_fail += 1
            continue
        sc, dc = _canon(srows), _canon(drows)
        if sc != dc:
            bad = next(i for i, (a, b) in enumerate(zip(sc, dc)) if a != b)
            print(f"FAIL {name}: values differ at sorted-row {bad}:")
            print(f"  cols : {scols}")
            print(f"  spark: {sc[bad]}")
            print(f"  duck : {dc[bad]}")
            n_fail += 1
            continue
        if not srows:
            # 0-row agreement proves only schema plumbing — flag it so a
            # fixture change can't silently make an entry vacuous
            # (ADVICE r3: tpch_q7 at sf0.001; round-4 audit: J4/U2).
            print(f"PASS {name} (VACUOUS: 0 rows — strengthen the predicate, "
                  f"{time.time()-t0:.1f}s)")
            n_vacuous += 1
        else:
            print(f"PASS {name} ({len(srows)} rows, sha={_digest(sc)}, "
                  f"{time.time()-t0:.1f}s)")
        n_pass += 1

    vac = f", {n_vacuous} VACUOUS (0-row pass)" if n_vacuous else ""
    print(f"\n{n_pass} pass, {n_weak} weak (rows-only), {n_fail} fail{vac}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""functions/bulklit must be a drop-in for element-wise F.lit arrays.

The whole point of the helper is that ONE parsed expression yields the
same Catalyst literal values as one py4j round trip per element — if a
double ever changed bits through the SQL-text round trip, every
centroid/plane kernel built on it would silently drift from its
oracle. These tests pin bit-exact equality (via struct pack, so -0.0
vs 0.0 and NaN payloads are visible) and the declared element types.
"""

from __future__ import annotations

import math
import struct

from pyspark.sql import functions as F

from yelp_data_engineering_pipeline_spark.functions.bulklit import (
    lit_array_node,
    lit_double_array,
    lit_double_matrix,
    lit_long_array,
)

TRICKY_DOUBLES = [
    0.0,
    -0.0,
    0.1,
    -2.5,
    1 / 3,
    math.pi,
    1e308,
    -1.7976931348623157e308,  # -DBL_MAX
    5e-324,  # smallest subnormal
    2.2250738585072014e-308,  # smallest normal
    123456789.123456789,
    float("nan"),
    float("inf"),
    float("-inf"),
]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_double_array_bit_exact(spark):
    row = (
        spark.range(1)
        .select(
            lit_double_array(TRICKY_DOUBLES).alias("bulk"),
            F.array(*[F.lit(float(v)) for v in TRICKY_DOUBLES]).alias("ref"),
        )
        .first()
    )
    assert [_bits(v) for v in row.bulk] == [_bits(v) for v in row.ref]
    assert [_bits(v) for v in row.bulk] == [_bits(v) for v in TRICKY_DOUBLES]


def test_double_matrix_bit_exact(spark):
    rows = [TRICKY_DOUBLES, [1.5, -7.25], [0.3, 0.7, 1e-30]]
    got = spark.range(1).select(lit_double_matrix(rows).alias("m")).first().m
    assert [[_bits(v) for v in r] for r in got] == [
        [_bits(float(v)) for v in r] for r in rows
    ]


def test_long_array_exact(spark):
    vals = [0, 1, -1, 2**62, -(2**62), 9_007_199_254_740_993]  # > 2^53
    got = spark.range(1).select(lit_long_array(vals).alias("a")).first().a
    assert got == vals


def test_declared_element_types(spark):
    df = spark.range(1).select(
        lit_double_array([1.0]).alias("d"),
        lit_double_matrix([[1.0]]).alias("m"),
        lit_long_array([1]).alias("l"),
        lit_double_array([]).alias("d0"),
        lit_double_matrix([]).alias("m0"),
        lit_long_array([]).alias("l0"),
    )
    t = dict(df.dtypes)
    assert t["d"] == t["d0"] == "array<double>"
    assert t["m"] == t["m0"] == "array<array<double>>"
    assert t["l"] == t["l0"] == "array<bigint>"


def test_same_plan_as_element_wise(spark):
    """The parsed form folds to the same literal array the element-wise
    form does — compare the optimized plans, not just the values."""
    vals = [0.5, -1.25, 3.0]
    bulk = spark.range(1).select(lit_double_array(vals).alias("a"))
    ref = spark.range(1).select(
        F.array(*[F.lit(float(v)) for v in vals]).alias("a")
    )
    import re

    def norm(df):
        return re.sub(r"#\d+", "#x", df._jdf.queryExecution().optimizedPlan().toString())

    assert norm(bulk) == norm(ref)


def test_array_node_is_one_bit_exact_literal(spark):
    """lit_array_node copies IEEE bits across py4j (no decimal parse),
    so every tricky double — NaN, ±inf, -0.0, subnormals — must come
    back bit for bit, bigints past 2^53 exactly, and the ANALYZED plan
    must hold ONE literal node, not a CreateArray of per-value ones."""
    longs = [0, -1, 2**62, -(2**62), 9_007_199_254_740_993]
    df = spark.range(1).select(
        lit_array_node(TRICKY_DOUBLES).alias("d"),
        lit_array_node(longs, "bigint").alias("l"),
        lit_array_node([]).alias("d0"),
    )
    row = df.first()
    assert [_bits(v) for v in row.d] == [_bits(v) for v in TRICKY_DOUBLES]
    assert row.l == longs and row.d0 == []
    t = dict(df.dtypes)
    assert t["d"] == t["d0"] == "array<double>" and t["l"] == "array<bigint>"
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "array(" not in analyzed, analyzed

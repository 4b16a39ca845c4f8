"""Bulk literal-array construction — one parsed expression instead of
one py4j call per value.

``F.lit(<list>)`` (and ``F.array(*[F.lit(x) ...])``) builds the literal
array element by element: every element is its own Python→JVM round
trip, so a codebook-sized matrix (16 cells × 64 dims = 1024 values, or
2 LSH tables × 8 planes × 64 dims = 1024) costs 1-2 s of serial DRIVER
time per DataFrame *construction* — measured on this repo's bench,
``similarity_topk_lsh`` spent 1.9 s building its plan against 0.6 s
executing it (optimization guide §5: the driver should do almost no
work; §7.3: plan construction is single-threaded driver time).

Rendering the whole array as ONE SQL expression string and parsing it
with a single ``F.expr`` call produces the *identical* Catalyst tree
(CreateArray over typed literals — double literals use the ``D``
suffix, bigints ``L``, so no decimal/int ambiguity) in one round trip:
~30 ms for 1024 values. Values round-trip exactly: ``repr(float)`` is
shortest-round-trip decimal and the SQL parser reads it back with
``Double.parseDouble`` — the same bits, verified by test.

Non-finite doubles (nan/±inf) have no bare SQL literal form; they are
emitted as ``CAST('NaN' AS DOUBLE)`` etc. No caller currently produces
them (planes are half-integers, centroids come from real embeddings),
but the helper must not silently corrupt one.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(x: float) -> str:
    v = float(x)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"{v!r}D"


def sql_double_array(values: Iterable[float]) -> str:
    """The ``array<double>`` literal as SQL TEXT — for callers that
    embed it inside a larger single-parse expression (e.g. the
    semdedup cell fold) instead of wrapping it themselves. An empty
    input renders typed (ADVICE r13: a bare ``array()`` parses as
    ``array<void>``, silently diverging from ``lit_double_array``'s
    typed-empty form)."""
    body = ",".join(_d(v) for v in values)
    if not body:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return "array(" + body + ")"


def lit_double_array(values: Iterable[float]) -> Column:
    """``array<double>`` literal from one parsed expression."""
    vals = list(values)
    if not vals:
        return F.array().cast("array<double>")
    return F.expr(sql_double_array(vals))


def sql_double_matrix(rows: Sequence[Iterable[float]]) -> str:
    """The ``array<array<double>>`` literal as SQL TEXT — for callers
    that embed the matrix inside a larger single-parse expression
    (e.g. the LSH bucket fold) instead of wrapping it themselves."""
    inner = ("array(" + ",".join(_d(v) for v in r) + ")" for r in rows)
    body = ",".join(inner)
    if not body:
        return "CAST(array() AS ARRAY<ARRAY<DOUBLE>>)"
    return "array(" + body + ")"


def lit_double_matrix(rows: Sequence[Iterable[float]]) -> Column:
    """``array<array<double>>`` literal from one parsed expression."""
    if not rows:
        return F.array().cast("array<array<double>>")
    return F.expr(sql_double_matrix(rows))


def lit_long_array(values: Iterable[int]) -> Column:
    """``array<bigint>`` literal from one parsed expression."""
    vals = list(values)
    if not vals:
        return F.array().cast("array<bigint>")
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")


def lit_array_node(values: Iterable, elem: str = "double") -> Column:
    """``array<double>`` (or ``elem="bigint"``) as ONE Catalyst
    ``Literal`` node, where the helpers above parse to a CreateArray of
    one node per value that every analysis walks. The values cross
    py4j as one packed byte string into a JVM primitive array that
    ``functions.lit`` wraps — five calls whatever the length; bits are
    copied, never parsed, so NaN payloads and -0.0 survive."""
    from pyspark import SparkContext

    fmt, view, prim, conv = (("d", "asDoubleBuffer", "double", float)
                             if elem == "double" else
                             ("q", "asLongBuffer", "long", int))
    vals = [conv(v) for v in values]
    sc = SparkContext._active_spark_context
    arr = sc._gateway.new_array(getattr(sc._jvm, prim), len(vals))
    buf = sc._jvm.java.nio.ByteBuffer.wrap(struct.pack(f">{len(vals)}{fmt}", *vals))
    getattr(buf, view)().get(arr)
    return Column(sc._jvm.org.apache.spark.sql.functions.lit(arr))

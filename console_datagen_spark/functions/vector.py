"""Vector math over ArrayType(FloatType) embedding columns.

All expressions are built-in higher-order functions (zip_with/aggregate):
they run inside the JVM with no Python round-trip, and — important for the
oracle contract — accumulate left-to-right in double precision, which is
bit-identical to DuckDB's ``list_inner_product`` over ``DOUBLE[]`` casts of
the same float32 values.

At 100 TB scale these stay embedded in whole-stage-codegen'd projections;
for very high dims a vectorized Pandas UDF over Arrow batches (numpy dot)
becomes competitive — see operators/similarity.py for the trade-off note.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column, functions as F


def to_double_vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def sql_double_array(values: Iterable[float]) -> str:
    """SQL text of a literal ``array<double>``: ``array(0.12D, -3.0D, ...)``.

    ``repr(float)`` is the shortest string that round-trips, and Spark
    parses a ``D`` literal with Java's correctly rounded
    ``Double.parseDouble``, so every element is bit-identical to
    ``F.lit(x)`` (``-0.0`` and subnormals included). Non-finite values
    have no literal spelling and raise ``ValueError``.
    """
    out = []
    for x in values:
        x = float(x)
        if not math.isfinite(x):
            raise ValueError(f"non-finite element {x!r} in a literal vector")
        out.append(repr(x) + "D")
    return "array(" + ", ".join(out) + ")"


def sql_int_array(values: Iterable[int]) -> str:
    """SQL text of a literal integer array: ``array(3, -17, ...)``."""
    return "array(" + ", ".join(str(int(x)) for x in values) + ")"


def lit_dot(col: str, values: Iterable[float]) -> Column:
    """``dot(F.col(col), <literal vector>)`` parsed from ONE SQL string.

    Same left-fold in double precision as ``dot``, so results are
    bit-identical. Spelling the vector as ``F.array(*[F.lit(x) ...])``
    costs py4j round trips per element: a large share of the driver-side
    build time of plans that inline a dozen 64-dim vectors.
    """
    return F.expr(
        f"aggregate(zip_with({col}, {sql_double_array(values)}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def absmax_scale(v: Column) -> Column:
    """Per-vector max-abs — the int8 quantization scale."""
    return F.array_max(F.transform(v, F.abs))


def quantize_int8(v: Column, scale: Column) -> Column:
    """Symmetric int8 quantization: floor(x·127/scale) per element.

    FLOOR (not round) keeps both engines bit-identical — round-half
    tie-breaking differs across engines, floor of the identical IEEE
    double does not. Callers guard scale > 0 (an all-zero vector has no
    meaningful scale). Dequantization error is bounded by scale/127 per
    element; at 100 TB this is the cheap ANN-index storage format (4x
    smaller vectors, integer SIMD distance kernels).
    """
    return F.transform(v, lambda x: F.floor(x * 127 / scale).cast("int"))

"""Vector math over `array<float>` columns — pure builtin expressions.

Everything here compiles to Catalyst higher-order functions (zip_with /
aggregate / transform) → JVM-side codegen, no Python in the hot path.
Accumulation is left-to-right, matching DuckDB's list_sum order, so oracle
comparisons are bit-stable after rounding.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F


def to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def lit_long_array(vals) -> Column:
    """Literal array<bigint> built as ONE parsed expression.

    `F.array(*[F.lit(v).cast("long") for v in vals])` costs 2+ py4j round
    trips PER ELEMENT on the driver (~1 ms each — a 1024-element bitmap
    measured ~3 s of pure driver time in join_bloom_pruned, r11); parsing
    one array literal string is milliseconds and yields the same
    expression tree. Guide §5: the driver should do almost no work.
    Raises ``ValueError`` on an empty input (``array()`` is typed
    ``array<void>``)."""
    return _lit_array([f"{int(v)}L" for v in vals])


def lit_double_array(vals) -> Column:
    """Literal array<double> as ONE parsed expression (see lit_long_array).

    repr(float) is the shortest round-trip decimal form and Java's
    Double.parseDouble is correctly rounded, so the parsed doubles are
    bit-identical to the Python values (verified for exponent and
    negative-zero forms). Raises ``ValueError`` on an empty input or a
    NaN/±inf element, which has no SQL literal (``nanD`` does not parse)."""
    vals = [float(v) for v in vals]
    return _lit_array([f"{v!r}D" for v in vals], all(map(math.isfinite, vals)))


def _lit_array(items: list[str], finite: bool = True) -> Column:
    if not items or not finite:
        raise ValueError(
            "a literal array needs non-empty, finite values "
            f"(got {len(items)} values, finite={finite})"
        )
    return F.expr("array(" + ",".join(items) + ")")


def dot(a: Column, b: Column) -> Column:
    """Dot product: zip_with multiply + left-to-right aggregate sum."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def sq_norm(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns."""
    return dot(a, b) / (F.sqrt(sq_norm(a)) * F.sqrt(sq_norm(b)))

"""Vector/embedding kernels (extension surface, SURVEY.md §2.13).

Every dot product, norm, distance and cosine over vectors in the
package is one of these functions. Two numeric paths:

* integer (oracle-checked) — `quantize` scales embeddings to longs
  (round(x*1000)); `dot`, `norm2` and `sq_dist` are then exact 64-bit
  sums: a long accumulator starting at 0, folded left in array order.
  `cosine` is the one double quotient dot / sqrt(n1 * n2) of those
  exact integers, so scores and rankings are bit-identical across
  engines. Quantization error ~1e-3 relative is irrelevant for ranking.
  The DuckDB twin that every oracle writes out by hand (oracles share
  no code with the builders, or the differential check proves
  nothing): `SUM(a.qv[i] * b.qv[i])` over `range(1, d + 1)`,
  `SUM(x * x) FROM unnest(qv)`, and
  `CAST(dot AS DOUBLE) / SQRT(CAST(n1 * n2 AS DOUBLE))`. An empty array
  sums to 0.
* float (rows-only) — `float_dot`, `float_sq_dist` and `float_cosine`
  fold in double: fully JVM-side higher-order functions, no Python, no
  explode (one row per vector pair, not one per dimension). The sum
  order is engine-specific, so their results are not oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _fold(terms: Column, zero: Column) -> Column:
    """Left fold `acc + x` over `terms` in array order, from `zero`."""
    return F.aggregate(terms, zero, lambda acc, x: acc + x)


def quantize(col: Column | str, scale: int = 1000) -> Column:
    """array<float> -> array<long> with elements round(x * scale)."""
    return F.transform(_c(col), lambda x: F.round(x.cast("double") * scale).cast("long"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Exact long Σ a_i·b_i (the query·candidate dot, or a projection
    onto a literal ±1 coefficient array)."""
    return _fold(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"))


def norm2(a: Column | str) -> Column:
    """Exact long Σ a_i² (the squared L2 norm)."""
    return _fold(F.transform(a, lambda x: x * x), F.lit(0).cast("long"))


def sq_dist(a: Column | str, b: Column | str, scale: Column | None = None) -> Column:
    """Exact long Σ (a_i − b_i)², the squared L2 distance. With `scale`
    it is Σ (scale·a_i − b_i)²: the distance of a to the centroid b/scale
    with its denominator cleared."""

    def diff(x: Column, y: Column) -> Column:
        return (x if scale is None else scale * x) - y

    return _fold(
        F.zip_with(a, b, lambda x, y: diff(x, y) * diff(x, y)), F.lit(0).cast("long")
    )


def cosine(dot: Column | str, n1: Column | str, n2: Column | str) -> Column:
    """dot / sqrt(n1 * n2) from exact integer operands: one IEEE
    division of a double product, the same on every engine."""
    return _c(dot).cast("double") / F.sqrt((_c(n1) * _c(n2)).cast("double"))


def float_dot(a: Column | str, b: Column | str) -> Column:
    """Left-fold dot product in double (JVM-side)."""
    return _fold(
        F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double"))), F.lit(0.0)
    )


def float_sq_dist(a: Column | str, b: Column | str) -> Column:
    """Left-fold squared L2 distance in double, each term pow(x − y, 2)."""
    return _fold(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
    )


def float_norm(a: Column) -> Column:
    return F.sqrt(float_dot(a, a))


def float_cosine(a: Column, b: Column) -> Column:
    return float_dot(a, b) / (float_norm(a) * float_norm(b))

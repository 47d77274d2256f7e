"""Exact-arithmetic helpers for cross-engine (Spark vs DuckDB) bitwise
result equality.

Why: the driver hashes values; double summation is order-dependent, and
Spark/DuckDB accumulate in different orders. All fixture money columns are
exact 2-decimal values, so casting them to DECIMAL(18,2) recovers the
intended value exactly in both engines (rounding to the nearest decimal of
a double that sits ~1e-13 from the target never crosses a 0.005 midpoint).
All sums/products then happen in decimal (associative, exact) and only the
final result is cast back to double — bit-identical on both sides.

At 100 TB this costs nothing extra: decimal aggregation is codegen'd
JVM-side and the partial/final aggregate split is unchanged.

Content-hash integers: every sampled, walked, split, bucketed or
A/B-assigned decision reads hex digits [s, s+k) of md5(tag || key) as a
bigint, so it is a pure function of row content. `md5_int` (and
`hex_int`, for a digest already computed) is the one Spark
implementation; Spark conv(hex, 16, 10) and DuckDB's '0x' || hex cast
parse the same digits to the same integer. The DuckDB twin is written
out by hand in each oracle, so the differential check shares no code
with the builder:

    ('0x' || substr(md5(p1 || p2 || ...), s, k))::BIGINT

k <= 15: sixteen hex digits overflow a signed bigint.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# matching DuckDB fragment: CAST(x AS DECIMAL(18,2))
def dec2(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,2)")


def money_sum(c: Column | str, alias: str) -> Column:
    """SUM over exact decimals, surfaced as double.

    DuckDB twin: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS alias
    """
    return F.sum(dec2(c)).cast("double").alias(alias)


def money_avg(c: Column | str, alias: str) -> Column:
    """AVG as exact-decimal SUM divided by COUNT in double.

    (Decimal division scale rules differ between engines; double division
    of identical inputs does not.)
    DuckDB twin:
      CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)
        / CAST(COUNT(x) AS DOUBLE) AS alias
    """
    col = F.col(c) if isinstance(c, str) else c
    return (F.sum(dec2(col)).cast("double") / F.count(col).cast("double")).alias(alias)


def hex_int(hex_col: Column | str, start: int = 1, digits: int = 8) -> Column:
    """Hex digits [start, start+digits) of an md5 hex string as a long.

    DuckDB twin: ('0x' || substr(h, start, digits))::BIGINT
    """
    if digits > 15:
        raise ValueError(f"digits={digits}: more than 15 hex digits overflow a bigint")
    return F.conv(F.substring(hex_col, start, digits), 16, 10).cast("long")


def md5_int(*parts: Column | str, start: int = 1, digits: int = 8) -> Column:
    """Hex digits [start, start+digits) of md5(p1 || p2 || ...) as a long.

    A str part is a literal; a Column part is cast to string.
    DuckDB twin: ('0x' || substr(md5(p1 || p2 || ...), start, digits))::BIGINT
    """
    cols = [F.lit(p) if isinstance(p, str) else p.cast("string") for p in parts]
    key = cols[0] if len(cols) == 1 else F.concat(*cols)
    return hex_int(F.md5(key.cast("binary")), start, digits)

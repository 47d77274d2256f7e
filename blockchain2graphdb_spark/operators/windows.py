"""Window functions (SURVEY.md §2.5): the reference's three windows-in-
disguise (W1 chain validity, W2 height assignment, W3 first-appearance)
plus the declared built-in frame-spec surface.

Every ORDER BY inside a window carries a unique tie-breaker so results are
deterministic under the driver's value-hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..exact import dec2
from ..registry import query


@query(
    "window_lag",
    oracle="""
    SELECT event_id,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: adjacent-pair comparison (B:428–435 chain validity) as LAG.

    The reference compares each block to its predecessor in a Java loop;
    LAG over a sorted window does it in one pass per partition.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events")
    return ev.select("event_id", (F.col("value") - F.lag("value").over(w)).alias("delta"))


@query(
    "window_row_number",
    oracle="""
    SELECT o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS seq
    FROM orders
    """,
)
def window_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: monotone height assignment (B:364, B:458 blockHeight++) as ROW_NUMBER."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return table(spark, sf_dir, "orders").select(
        "o_orderkey", F.row_number().over(w).cast("long").alias("seq")
    )


@query(
    "window_first_seen",
    oracle="""
    SELECT event_id,
           CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                THEN TRUE ELSE FALSE END AS is_first
    FROM events
    """,
)
def window_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: first-appearance detection (B:1077–1080 new-address probe)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return table(spark, sf_dir, "events").select(
        "event_id", (F.row_number().over(w) == 1).alias("is_first")
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                OVER (PARTITION BY l_orderkey
                      ORDER BY l_linenumber, l_quantity, l_partkey, l_suppkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
    FROM lineitem
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum with an explicit rowsBetween frame (declared surface §2.5).

    (l_orderkey, l_linenumber) is not unique in the fixture, so the frame
    order carries extra keys; remaining ties are equal in both sort keys
    and summed value, making the output multiset deterministic.
    """
    w = (
        W.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_quantity", "l_partkey", "l_suppkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.sum(dec2("l_quantity")).over(w).cast("double").alias("running_qty"),
    )


@query(
    "window_rank",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS qty_rank,
           DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS qty_dense_rank
    FROM lineitem
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK / DENSE_RANK (declared surface §2.5). Rank functions are
    tie-stable by definition (equal inputs get equal ranks), so no
    tie-breaker is needed."""
    w = W.partitionBy("l_returnflag").orderBy(F.col("l_quantity").desc())
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.rank().over(w).cast("long").alias("qty_rank"),
        F.dense_rank().over(w).cast("long").alias("qty_dense_rank"),
    )


@query(
    "window_topk_per_group",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group = row_number() <= k (declared surface §2.5).

    Catalyst plans this with a rank-limit pushdown (WindowGroupLimit) so
    each partition keeps only k rows before the final window sort.
    """
    w = W.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber")
    )
    return (
        table(spark, sf_dir, "lineitem")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@query(
    "window_ntile",
    oracle="""
    SELECT o_orderkey,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (declared surface §2.5): NTILE /
    PERCENT_RANK / CUME_DIST per priority class. Both pct_rank and cume
    are exact small rationals ((rank-1)/(n-1), rank/n) computed from the
    same integer operands on both engines, so the double hash matches
    without quantization. Unique tie-breaker (o_orderkey) as always."""
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT event_id,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN INTERVAL 2 DAY PRECEDING
                                    AND CURRENT ROW) AS n_last_2d
    FROM events
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based (RANGE) window frame: events per user within the
    trailing 2 days — the time-decayed rolling aggregate rowsBetween
    cannot express. The frame bound is event-time arithmetic, so ties
    in ts need no breaker (all peers share one frame). The range key is
    unix_micros, not a seconds cast: ts carries sub-second precision,
    and a seconds truncation shifts boundary rows relative to the
    oracle's microsecond-exact INTERVAL arithmetic (caught at sf0.1)."""
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-2 * 86400 * 1_000_000, 0)
    )
    return table(spark, sf_dir, "events").select(
        "event_id", F.count(F.lit(1)).over(w).alias("n_last_2d")
    )


@query(
    "window_percent_rank",
    oracle="""
    SELECT o_orderkey,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-decl completeness: relative-standing windows. percent_rank and
    cume_dist are TIE-SAFE by construction — their value depends only on
    the multiset of order keys (tied rows share a value), so unlike
    row_number no synthetic tie-breaker is needed and the result is
    deterministic cross-engine; both are exact rational ratios of row
    counts, rounded to 6dp on both sides only to normalize double
    formatting. One partitioned window (one keyed shuffle + in-partition
    sort), the 100 TB shape for any percentile-standing feature."""
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "window_lead_nth",
    oracle="""
    SELECT o_orderkey,
           LEAD(o_totalprice) OVER w AS next_price,
           NTH_VALUE(o_totalprice, 2) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lead_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-decl completeness: forward-looking (LEAD) and positional
    (NTH_VALUE) window functions over each customer's order history —
    next order's value and the running view of the second-ever order.
    Values pass through untouched (no arithmetic, no parity exposure);
    the order (o_orderdate, o_orderkey) is a unique total order per
    partition, and NTH_VALUE's frame is pinned to ROWS UNBOUNDED
    PRECEDING..CURRENT ROW explicitly on both engines so the default-
    frame semantics can never diverge. One keyed shuffle + one
    in-partition sort serves both functions — the 100 TB shape."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_price"),
    )


@query(
    "window_cume_dist",
    oracle="""
    WITH h AS (
      SELECT l_returnflag, l_quantity AS qty, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag, qty, n,
           CAST((CAST(SUM(n) OVER (PARTITION BY l_returnflag ORDER BY qty
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS HUGEINT) * 1000000000)
                // SUM(n) OVER (PARTITION BY l_returnflag) AS BIGINT)
             AS cume_nanos
    FROM h
    """,
)
def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family: CUME_DIST — the fraction of a partition's rows at or
    below each value (the empirical CDF the relative-rank family
    exposes; percent_rank's <=-variant). Computed over the per-(flag,
    quantity) HISTOGRAM rather than raw rows: cume_dist of the
    underlying rows is cum(n)/total(n) per distinct value, which (a)
    surfaces the same numbers SQL CUME_DIST would attach to every row
    of that value and (b) keeps the window input bounded by the value
    domain, not the data (the auc_exact shape). The ratio is one
    exact-int floor division quantized to nanos — no float rank.

    Scale shape: ONE map-side-combinable histogram aggregate, then
    windows partitioned by flag over the bounded histogram."""
    h = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", F.col("l_quantity").alias("qty"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wcum = (
        W.partitionBy("l_returnflag")
        .orderBy("qty")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wall = W.partitionBy("l_returnflag").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return h.select(
        "l_returnflag",
        "qty",
        "n",
        F.sum("n").over(wcum).alias("_cum"),
        F.sum("n").over(wall).alias("_tot"),
    ).select(
        "l_returnflag",
        "qty",
        "n",
        F.expr("CAST(_cum AS DECIMAL(38,0)) * 1000000000 div _tot")
        .cast("long")
        .alias("cume_nanos"),
    )

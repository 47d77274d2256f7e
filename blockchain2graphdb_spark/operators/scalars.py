"""Scalar function surface (SURVEY.md §2.8): the reference's string /
date / conversion helpers (C1–C11) re-expressed as built-in, codegen'd
`pyspark.sql.functions` — never row-at-a-time Python in the hot path —
plus the declared math/date/array/json built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query


@query(
    "str_concat",
    oracle="""
    SELECT CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) AS item_id,
           l_partkey
    FROM lineitem
    """,
)
def str_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: composite key `txHash + ":" + outputIndex` (B:988, B:1081)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        F.concat_ws(":", F.col("l_orderkey"), F.col("l_linenumber")).alias("item_id"),
        "l_partkey",
    )


@query(
    "str_regexp_extract",
    oracle="""
    SELECT event_id, regexp_extract(props, '"k": (\\d+)', 1) AS k_str
    FROM events
    """,
)
def str_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: log-line pattern extraction (B:143–156, `UpdateTip: new best=`)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.regexp_extract("props", r'"k": (\d+)', 1).alias("k_str")
    )


@query(
    "str_cast",
    oracle="""
    SELECT event_id, CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INTEGER) AS k
    FROM events
    """,
)
def str_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: Integer.parseInt of an extracted substring (B:145–146)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("k"),
    )


@query(
    "str_format",
    oracle="SELECT n_nationkey, printf('blk%05d.dat', n_nationkey) AS fname FROM nation",
)
def str_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: zero-padded block-file name `blk%05d.dat` (B:82, B:1100)."""
    return table(spark, sf_dir, "nation").select(
        "n_nationkey", F.format_string("blk%05d.dat", F.col("n_nationkey")).alias("fname")
    )


@query(
    "str_split",
    oracle="SELECT doc_id, string_split(text, ' ')[1] AS first_token FROM documents",
)
def str_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: key=value split (B:1156–1165) — split + element access."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.split("text", " ").getItem(0).alias("first_token"))


@query(
    "date_compare",
    oracle="""
    SELECT user_id,
           COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) AS n_after,
           DATE_DIFF('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS active_days
    FROM events GROUP BY user_id
    """,
)
def date_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: Date before/after comparisons (B:72, B:586) + datediff arithmetic."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(
            F.when(F.col("ts") >= F.lit("2024-01-15").cast("timestamp"), 1)
        ).alias("n_after"),
        F.datediff(F.max("ts").cast("date"), F.min("ts").cast("date")).alias("active_days"),
    )


@query(
    "null_coalesce",
    oracle="""
    SELECT event_id, COALESCE(NULLIF(event_type, 'error'), 'none') AS safe_type
    FROM events
    """,
)
def null_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: null-coalesced fee (B:788–793)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("none")).alias(
            "safe_type"
        ),
    )


@query(
    "conditional_flag",
    oracle="""
    SELECT CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS bucket,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def conditional_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: boolean flag derivation (B:786 isCoinBase, B:247 OutputIsUsed)."""
    bucket = F.when(F.col("o_totalprice") > 200000, "big").otherwise("small")
    return (
        table(spark, sf_dir, "orders")
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "math_ops",
    oracle="""
    SELECT c_custkey,
           ROUND(ABS(c_acctbal)) AS abs_bal,
           SQRT(ABS(c_acctbal)) AS sqrt_bal,
           POW(2, c_nationkey % 5) AS pow2
    FROM customer
    """,
)
def math_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math built-ins (declared surface §2.8). abs/sqrt/pow/integer-round
    are IEEE-deterministic across engines (unlike log/exp, which depend on
    libm and are kept off the oracle path)."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.round(F.abs(F.col("c_acctbal"))).alias("abs_bal"),
        F.sqrt(F.abs(F.col("c_acctbal"))).alias("sqrt_bal"),
        F.pow(F.lit(2), F.col("c_nationkey") % 5).alias("pow2"),
    )


@query(
    "date_trunc_group",
    oracle="""
    SELECT DATE_TRUNC('month', o_orderdate) AS month, COUNT(*) AS n_orders
    FROM orders GROUP BY 1
    """,
)
def date_trunc_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc + calendar grouping (declared surface §2.8)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "array_explode",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token LIMIT 20
    """,
)
def array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions: split → explode → aggregate (declared surface §2.8)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


@query(
    "date_parts",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           CAST(day(o_orderdate) AS INTEGER) AS d,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date
    FROM orders
    """,
)
def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic built-ins (declared surface §2.8): year/month/day
    extraction + date_add."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_add(F.col("o_orderdate").cast("date"), 30)
        .cast("timestamp")
        .alias("due_date"),
    )


@query(
    "array_ops",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           list_contains(string_split(text, ' '), 'spark') AS has_spark,
           list_sort(list_transform(string_split(text, ' '), x -> upper(x)))[1] AS first_upper
    FROM documents
    """,
)
def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions (declared surface §2.8): size,
    array_contains, transform + array_sort — all JVM-side, no explode."""
    toks = F.split("text", " ")
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_sort(F.transform(toks, lambda x: F.upper(x))).getItem(0).alias(
            "first_upper"
        ),
    )


@query(
    "json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (declared surface §2.8; events.props is a JSON string)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(F.get_json_object("props", "$.k").cast("int").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "map_ops",
    oracle="""
    SELECT o_orderkey,
           3 AS n_keys,
           CAST(o_totalprice AS DOUBLE) AS price_val,
           'priority,status,total' AS sorted_keys
    FROM orders WHERE o_orderkey % 50 = 0
    """,
)
def map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map functions (declared surface §2.8): build a MapType column with
    map_from_arrays, then probe it with element_at / map_keys /
    map_contains_key. The oracle pins the *results* of the probes (maps
    themselves never cross the engine boundary — MapType comparison
    semantics are engine-specific, scalars are not)."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    m = F.map_from_arrays(
        F.array(F.lit("priority"), F.lit("status"), F.lit("total")),
        F.array(
            F.col("o_orderpriority"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("string"),
        ),
    )
    return o.select(
        "o_orderkey",
        F.size(m).alias("n_keys"),
        F.when(
            F.map_contains_key(m, "total"), F.element_at(m, "total").cast("double")
        ).alias("price_val"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("sorted_keys"),
    )


@query(
    "unpivot_stack",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
           CAST(l_quantity AS DOUBLE) AS val
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (wide → long), the inverse of pivot_table: one
    narrow scan emitting k rows per input row via stack(). No shuffle at
    all — it's a generator projection, which is why melt-then-aggregate
    beats per-column loops at 100 TB."""
    li = table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', CAST(l_quantity AS DOUBLE),"
            " 'price', l_extendedprice, 'discount', l_discount)"
        ).alias("measure", "val"),
    )


@query(
    "str_edit_distance",
    oracle="""
    SELECT c_custkey,
           CAST(levenshtein(c_name, replace(c_name, '0', 'O')) AS BIGINT)
             AS dist_vs_ocr,
           CAST(levenshtein(c_name,
                            'Customer#' || CAST(c_custkey AS VARCHAR)) AS BIGINT)
             AS dist_vs_short
    FROM customer
    """,
)
def str_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-family completeness: Levenshtein edit distance — the
    record-linkage / fuzzy-match scalar (e.g. OCR confusables, padded vs
    unpadded keys). Both engines implement the same unit-cost DP, so the
    distance is exact. Entirely map-side; at 100 TB fuzzy-JOINS must
    never be distance-against-everything — block first (phonetic key,
    q-gram bucket, the dedup_substring anchor idiom) and verify with
    this scalar inside buckets only."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.levenshtein(
            F.col("c_name"), F.regexp_replace("c_name", "0", "O")
        ).cast("long").alias("dist_vs_ocr"),
        F.levenshtein(
            F.col("c_name"),
            F.concat(F.lit("Customer#"), F.col("c_custkey").cast("string")),
        ).cast("long").alias("dist_vs_short"),
    )


@query(
    "variant_extract",
    oracle="""
    WITH j AS (
      SELECT '{"u": ' || user_id || ', "m": {"t": "' || event_type
             || '", "c": ' || CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
             || '}}' AS js
      FROM events
    )
    SELECT json_extract_string(js, '$.m.t') AS t,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract(js, '$.u') AS BIGINT)) AS BIGINT) AS u_sum,
           CAST(SUM(CAST(json_extract(js, '$.m.c') AS BIGINT)) AS BIGINT)
             AS cents_sum
    FROM j GROUP BY 1
    """,
)
def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via Spark 4's VARIANT type: nested
    JSON (deterministically rebuilt from event columns so both engines
    see byte-identical documents) is parsed ONCE with parse_json into
    the shredded binary VARIANT encoding, then typed paths are read
    with try_variant_get — at 100 TB this is the difference between
    one parse + O(1) binary path probes and get_json_object re-parsing
    the string for every extraction (the `json_extract` key keeps the
    legacy per-probe form for contrast). The oracle replays the same
    paths with DuckDB's JSON accessors, so path semantics — nested
    object, typed long, string leaf — are what's checked, not just the
    aggregate."""
    ev = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    js = F.concat(
        F.lit('{"u": '),
        F.col("user_id").cast("string"),
        F.lit(', "m": {"t": "'),
        F.col("event_type"),
        F.lit('", "c": '),
        cents.cast("string"),
        F.lit("}}"),
    )
    v = ev.select(F.parse_json(js).alias("v"))
    return (
        v.select(
            F.try_variant_get("v", "$.m.t", "string").alias("t"),
            F.try_variant_get("v", "$.u", "long").alias("u"),
            F.try_variant_get("v", "$.m.c", "long").alias("c"),
        )
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("u").cast("long").alias("u_sum"),
            F.sum("c").cast("long").alias("cents_sum"),
        )
    )

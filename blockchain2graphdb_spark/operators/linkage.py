"""Entity resolution / record linkage (SURVEY.md §2.13 extension
surface): blocking-key candidate generation → edit-distance
verification → connected components → canonical entity ids — the
classic three-stage dedup-of-records pipeline (Fellegi–Sunter style
blocking, deterministic verify), sharing the components machinery with
wallet clustering (graph/components.py).

Scale notes (100 TB): candidate pairs come ONLY from an equi-join on
the blocking key — never an all-pairs comparison; the Levenshtein
verify runs inside blocks (JVM-side `levenshtein`, no Python); the
verified-pair graph is a sliver of the input by construction, so the
components step operates on a tiny edge list. Entity assignment is a
single left join back to the full record table — records without any
verified match default to their own key (singleton entities), exactly
the label-assignment pattern of dedup.minhash_clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..graph.components import connected_components
from ..registry import query

_RECORD_LINKAGE_ORACLE = """
    WITH RECURSIVE c AS (
      SELECT c_custkey, c_name, substr(c_name, 1, 17) AS blk FROM customer
    ),
    pairs AS (
      SELECT a.c_custkey AS s, b.c_custkey AS d
      FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    sym AS (
      SELECT s, d FROM pairs UNION SELECT d, s FROM pairs
    ),
    reach AS (
      SELECT c_custkey AS node, c_custkey AS comp FROM c
      UNION
      SELECT s.d AS node, r.comp FROM reach r JOIN sym s ON s.s = r.node
    ),
    comp AS (
      SELECT node, MIN(comp) AS entity_id FROM reach GROUP BY node
    )
    SELECT node AS c_custkey, entity_id,
           CAST(COUNT(*) OVER (PARTITION BY entity_id) AS BIGINT) AS entity_size
    FROM comp
    """


@query("record_linkage", oracle=_RECORD_LINKAGE_ORACLE)
def record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over customer records: block on the 17-char
    name prefix (bounded blocks — ≤10 records each in the fixture's
    zero-padded naming, and in production whatever the blocking key
    yields), generate candidate pairs by blocking-key equi-join with
    a < b orientation, verify with Levenshtein ≤ 1 (JVM built-in),
    cluster verified matches with connected components, and assign
    entity_id = min custkey per cluster. Unmatched records become
    singleton entities via the left-join default. Deterministic
    end-to-end, so the recursive-CTE oracle replays it exactly."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.substring("c_name", 1, 17).alias("blk")
    )
    a = cust.select(
        F.col("blk"), F.col("c_custkey").alias("s"), F.col("c_name").alias("name_s")
    )
    b = cust.select(
        F.col("blk"), F.col("c_custkey").alias("d"), F.col("c_name").alias("name_d")
    )
    pairs = (
        a.join(b, "blk")
        .where(F.col("s") < F.col("d"))
        .where(F.levenshtein("name_s", "name_d") <= 1)
        .select("s", "d")
    )
    comp = connected_components(pairs, "s", "d", canonical=True)
    out = (
        cust.join(
            comp.select(F.col("node").alias("c_custkey"), "comp"), "c_custkey", "left"
        )
        .select(
            "c_custkey",
            F.coalesce(F.col("comp"), F.col("c_custkey")).alias("entity_id"),
        )
    )
    return out.withColumn(
        "entity_size",
        F.count(F.lit(1)).over(W.partitionBy("entity_id")).cast("long"),
    )


@query(
    "linkage_blocking_quality",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000 AS bal_band
      FROM customer
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_records FROM c),
    truth AS (
      SELECT a.c_custkey AS s, b.c_custkey AS d,
             CASE WHEN a.c_nationkey = b.c_nationkey THEN 1 ELSE 0 END AS caught
      FROM c a JOIN c b
        ON a.c_mktsegment = b.c_mktsegment AND a.bal_band = b.bal_band
       AND a.c_custkey < b.c_custkey
    ),
    cand AS (
      SELECT CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS n_cand
      FROM (SELECT COUNT(*) AS m FROM c GROUP BY c_nationkey, c_mktsegment)
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
             CAST(SUM(caught) AS BIGINT) AS n_caught
      FROM truth
    )
    SELECT n.n_records,
           CAST(n.n_records * (n.n_records - 1) // 2 AS BIGINT) AS n_all_pairs,
           t.n_true, cand.n_cand, t.n_caught,
           CAST(CAST(t.n_caught AS HUGEINT) * 1000000000
                // t.n_true AS BIGINT) AS completeness_nanos,
           CAST(1000000000 - CAST(cand.n_cand AS HUGEINT) * 1000000000
                // (n.n_records * (n.n_records - 1) // 2) AS BIGINT)
             AS reduction_nanos
    FROM n, t, cand
    """,
)
def linkage_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation — the audit an entity-resolution
    pipeline runs BEFORE trusting a blocking key: pair completeness
    (what fraction of true matches the blocking keeps as candidates)
    vs reduction ratio (what fraction of the n(n-1)/2 all-pairs space
    it prunes). Ground-truth matches are pairs agreeing on
    (mktsegment, 10-dollar acctbal band); the evaluated blocking is
    the coarser (nationkey, mktsegment) key — deliberately imperfect,
    so both metrics are non-trivial (a good blocking maximizes BOTH).

    Scale shape (100 TB): the candidate count NEVER materializes
    candidate pairs — it is sum(m*(m-1)/2) over the O(#blocks)
    group-count table; only the (small by construction) truth pairs
    are materialized, by a band equi-join. Ratios are exact-int64
    divisions quantized to nanos, so the row value-hashes identically
    on both engines."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) div 1000").alias("bal_band"),
    )
    n = c.agg(F.count(F.lit(1)).cast("long").alias("n_records"))
    a = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("bal_band").alias("bb"),
        F.col("c_custkey").alias("s"),
        F.col("c_nationkey").alias("nat_s"),
    )
    b = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("bal_band").alias("bb"),
        F.col("c_custkey").alias("d"),
        F.col("c_nationkey").alias("nat_d"),
    )
    truth = (
        a.join(b, ["seg", "bb"])
        .where(F.col("s") < F.col("d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.count_if(F.col("nat_s") == F.col("nat_d"))
            .cast("long")
            .alias("n_caught"),
        )
    )
    cand = (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(
            F.sum(F.expr("m * (m - 1) div 2")).cast("long").alias("n_cand")
        )
    )
    return (
        n.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(cand))
        .select(
            "n_records",
            F.expr("n_records * (n_records - 1) div 2")
            .cast("long")
            .alias("n_all_pairs"),
            "n_true",
            "n_cand",
            "n_caught",
            F.expr(
                "CAST(n_caught AS DECIMAL(38,0)) * 1000000000 div n_true"
            )
            .cast("long")
            .alias("completeness_nanos"),
            F.expr(
                "1000000000 - CAST(n_cand AS DECIMAL(38,0)) * 1000000000"
                " div (n_records * (n_records - 1) div 2)"
            )
            .cast("long")
            .alias("reduction_nanos"),
        )
    )

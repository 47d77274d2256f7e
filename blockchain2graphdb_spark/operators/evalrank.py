"""Model-evaluation and distribution-comparison metrics (SURVEY.md
§2.13 X18): two-sample Kolmogorov-Smirnov, NDCG@k, Gini concentration,
Cohen's kappa, and calibration (reliability) bins — the offline-eval
statistics a training pipeline computes between scoring and shipping,
completing the X15 trio (AUC = threshold-free curve, lift/gain =
decile sweep, confusion = operating point) with the distribution-level
and agreement-level views.

Determinism: every statistic is a function of exact integer (or
exact-decimal) aggregates; cross-term float sums are quantized to int
nanos per term before summation (the BM25/surprisal technique), and
ratio comparisons clear denominators into integer cross-products so no
fence/threshold decision ever rides a double (the iqr_outliers
discipline).

Scale notes (100 TB): the KS sweep and Gini ranks never use an
unpartitioned window over raw rows — KS cumulates over the per-score
HISTOGRAM (the auc_exact shape: window above an aggregate) and Gini
ranks through `functions/ranking.bucketed_global_rank`'s two-pass
form; NDCG's per-query top-k compiles to WindowGroupLimit (map-side
partial top-k per partition, never a full per-query sort); kappa and
calibration are single map-side-combinable aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..exact import dec2, md5_int
from ..functions.ranking import bucketed_global_rank, bucketed_prefix_sums
from ..registry import query


def _pseudo_p():
    """The calibration keys' pseudo-probability: md5('p' || orderkey)
    first 8 hex digits mod 1000 (permille)."""
    return md5_int("p", F.col("o_orderkey")) % 1000

_D38 = "decimal(38,0)"


@query(
    "ks_statistic",
    oracle="""
    WITH s AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS score,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS c1,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus <> 'F') AS BIGINT) AS c2
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT SUM(c1) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum1,
             SUM(c2) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum2,
             SUM(c1) OVER () AS n1,
             SUM(c2) OVER () AS n2
      FROM s
    )
    SELECT CAST(MAX(n1) AS BIGINT) AS n1,
           CAST(MAX(n2) AS BIGINT) AS n2,
           CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS ks_num,
           CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS DOUBLE)
             / (CAST(MAX(n1) AS DOUBLE) * CAST(MAX(n2) AS DOUBLE)) AS ks_d
    FROM r
    """,
)
def ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the order-
    value distributions of fulfilled vs non-fulfilled orders — the
    distribution-shift test a pipeline runs between cohorts or between
    a feature's train/serve distributions. D = max_x |F1(x) - F2(x)|
    stays EXACT INTEGER by clearing denominators: at each distinct
    score, |cum1*n2 - cum2*n1| is the D numerator scaled by n1*n2 —
    the max over int64s can never be reordered by a float ulp; the
    surfaced D is one double division of the exact max.

    Scale shape: the data collapses to the per-score histogram first
    (one map-side-combinable aggregate), then BOTH cumulative counts run
    through ONE `functions/ranking.bucketed_prefix_sums` pass
    (score-band buckets -> broadcast per-band offsets -> in-band
    windows), so there is NO unpartitioned window even when score
    cardinality is unbounded — VERDICT r9 #2's de-weakening of the
    former global-window-over-aggregate shape. The n1/n2 totals ride a
    1-row broadcast crossJoin."""
    pc = (dec2("o_totalprice") * 100).cast("long")
    s = (
        table(spark, sf_dir, "orders")
        .groupBy(pc.alias("score"))
        .agg(
            F.count_if(F.col("o_orderstatus") == "F").cast("long").alias("c1"),
            F.count_if(F.col("o_orderstatus") != "F").cast("long").alias("c2"),
        )
    )
    # $10k bands over cent scores: monotone in score (prices > 0),
    # O(#bands) offsets; `score` is unique within a band (groupBy key).
    cum = bucketed_prefix_sums(
        s,
        F.floor(F.col("score") / 1_000_000),
        [F.col("score")],
        {"cum1": F.col("c1"), "cum2": F.col("c2")},
    )
    tot = s.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    r = cum.crossJoin(F.broadcast(tot)).select("cum1", "cum2", "n1", "n2")
    d = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    return r.agg(
        F.max("n1").cast("long").alias("n1"),
        F.max("n2").cast("long").alias("n2"),
        F.max(d).cast("long").alias("ks_num"),
        (
            F.max(d).cast("double")
            / (F.max("n1").cast("double") * F.max("n2").cast("double"))
        ).alias("ks_d"),
    )


@query(
    "ndcg_at_k",
    oracle="""
    WITH scored AS (
      SELECT o_orderpriority AS qry, o_orderkey,
             CASE o_orderstatus WHEN 'F' THEN 2 WHEN 'P' THEN 1 ELSE 0 END AS rel,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY CASE o_orderstatus WHEN 'F' THEN 2
                                         WHEN 'P' THEN 1 ELSE 0 END DESC,
                                         o_orderkey) AS irn
      FROM orders
    ),
    dcg AS (
      SELECT qry,
             CAST(SUM(CAST(ROUND(rel * ln(2.0) / ln(rn + 1) * 1e9) AS BIGINT))
                  AS BIGINT) AS dcg_nanos
      FROM scored WHERE rn <= 10 GROUP BY qry
    ),
    idcg AS (
      SELECT qry,
             CAST(SUM(CAST(ROUND(rel * ln(2.0) / ln(irn + 1) * 1e9) AS BIGINT))
                  AS BIGINT) AS idcg_nanos
      FROM scored WHERE irn <= 10 GROUP BY qry
    )
    SELECT d.qry, d.dcg_nanos, i.idcg_nanos,
           CASE WHEN i.idcg_nanos = 0 THEN 0.0
                ELSE CAST(d.dcg_nanos AS DOUBLE) / i.idcg_nanos END AS ndcg
    FROM dcg d JOIN idcg i ON i.qry = d.qry
    """,
)
def ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per query group (order priority as the query, value-
    descending rank as the model's ordering, fulfillment status as
    graded relevance 2/1/0) — the ranking-quality metric for search /
    recommendation eval. Each DCG term rel/log2(i+1) is written as
    rel*ln(2)/ln(i+1) on BOTH engines (the ln-parity precedent; at
    i=1 the identical-operand division gives exactly rel) and
    int-nanos-quantized per position before the per-query sum; the
    ideal ordering ranks by relevance descending — tie order among
    equal relevances cannot change the rel sequence, but the key
    tie-breaker keeps the window order total anyway (the sweep rule).
    NDCG is one double ratio of the two exact int64 sums.

    Scale shape: both rank filters (rn <= 10) compile to
    WindowGroupLimit — Spark keeps a map-side partial top-10 per
    partition per query, so no per-query full sort materializes; the
    final join is over O(#queries) rows, broadcast."""
    rel = (
        F.when(F.col("o_orderstatus") == "F", 2)
        .when(F.col("o_orderstatus") == "P", 1)
        .otherwise(0)
    )
    scored = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("qry"),
        "o_orderkey",
        "o_totalprice",
        rel.alias("rel"),
    )
    by_score = W.partitionBy("qry").orderBy(F.desc("o_totalprice"), "o_orderkey")
    by_rel = W.partitionBy("qry").orderBy(F.desc("rel"), "o_orderkey")

    def term(rank_col: F.Column) -> F.Column:
        return F.round(
            F.col("rel").cast("double")
            * F.log(F.lit(2.0))
            / F.log((rank_col + 1).cast("double"))
            * 1e9
        ).cast("long")

    dcg = (
        scored.withColumn("rn", F.row_number().over(by_score))
        .where(F.col("rn") <= 10)
        .groupBy("qry")
        .agg(F.sum(term(F.col("rn"))).cast("long").alias("dcg_nanos"))
    )
    idcg = (
        scored.withColumn("irn", F.row_number().over(by_rel))
        .where(F.col("irn") <= 10)
        .groupBy("qry")
        .agg(F.sum(term(F.col("irn"))).cast("long").alias("idcg_nanos"))
    )
    joined = dcg.join(F.broadcast(idcg), "qry")
    return joined.select(
        "qry",
        "dcg_nanos",
        "idcg_nanos",
        F.when(F.col("idcg_nanos") == 0, F.lit(0.0))
        .otherwise(F.col("dcg_nanos").cast("double") / F.col("idcg_nanos"))
        .alias("ndcg"),
    )


@query(
    "gini_concentration",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS cat,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS r
      FROM orders
    ),
    s AS (
      SELECT cat, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(r AS DECIMAL(38,0)) * x) AS srx,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx
      FROM v GROUP BY cat
    )
    SELECT cat, n,
           CAST(ROUND(CAST(2 * srx - (n + 1) * sx AS DOUBLE)
                      / CAST(n * sx AS DOUBLE) * 1e9) AS BIGINT) AS gini_nanos
    FROM s
    """,
)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-value concentration per priority class
    — the inequality/concentration measure (how much of the spend sits
    in the top orders) used for revenue-concentration and label-
    imbalance reporting. Uses the rank formula G = (2*Σi*x_i - (n+1)*
    Σx) / (n*Σx) over values ascending: ranks within tied values are
    assigned by the unique (value, key) order, and since tied values
    share one x, Σi*x_i over a tie group is x*Σi — invariant to tie
    permutation, so the statistic is deterministic. Moment sums
    accumulate in DECIMAL(38,0) (rank*cents exceeds int64 past ~sf1;
    the corr_pairs discipline); one double division at the end,
    int-nanos quantized.

    Scale shape: per-category rank via bucketed_global_rank over a
    COMPOSITE monotone bucket (category-digit * 1000 + value band), so
    in-bucket windows stay partitioned; per-category rank = global pos
    minus the category's min pos (one O(#categories) broadcast) — no
    window partitioned by the 5-value category column ever sees raw
    rows."""
    pc = (dec2("o_totalprice") * 100).cast("long")
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("cat"),
        pc.alias("x"),
        "o_totalprice",
        "o_orderkey",
    )
    # priority strings '1-URGENT'..'5-LOW' sort identically to their
    # leading digit, so cat_digit*1000 + price band ascends with
    # (cat, price) — the monotone-bucket contract
    cat_digit = F.substring(F.col("cat"), 1, 1).cast("long")
    bucket = cat_digit * 1000 + F.floor(F.col("o_totalprice") / 60000).cast("long")
    ranked = bucketed_global_rank(
        orders, bucket, [F.col("cat"), F.col("o_totalprice"), F.col("o_orderkey")]
    )
    offs = ranked.groupBy("cat").agg(F.min("pos").alias("p0"))
    d38 = "decimal(38,0)"
    r = ranked.join(F.broadcast(offs), "cat").select(
        "cat", "x", (F.col("pos") - F.col("p0") + 1).alias("r")
    )
    s = r.groupBy("cat").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("r").cast(d38) * F.col("x")).cast(d38).alias("srx"),
        F.sum(F.col("x").cast(d38)).cast(d38).alias("sx"),
    )
    num = (2 * F.col("srx") - (F.col("n") + 1) * F.col("sx")).cast("double")
    den = (F.col("n") * F.col("sx")).cast("double")
    return s.select(
        "cat", "n", F.round(num / den * 1e9).cast("long").alias("gini_nanos")
    )


@query(
    "cohens_kappa",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) FILTER (WHERE o_totalprice >= 150000
               AND o_orderpriority IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS yy,
             CAST(COUNT(*) FILTER (WHERE o_totalprice >= 150000
               AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS yn,
             CAST(COUNT(*) FILTER (WHERE o_totalprice < 150000
               AND o_orderpriority IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS ny,
             CAST(COUNT(*) FILTER (WHERE o_totalprice < 150000
               AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS nn
      FROM orders
    )
    SELECT yy, yn, ny, nn,
           CAST(ROUND(CAST((yy + yn + ny + nn) * (yy + nn)
                           - ((yy + yn) * (yy + ny) + (ny + nn) * (yn + nn))
                           AS DOUBLE)
                      / ((yy + yn + ny + nn) * (yy + yn + ny + nn)
                         - ((yy + yn) * (yy + ny) + (ny + nn) * (yn + nn)))
                      * 1e9) AS BIGINT) AS kappa_nanos
    FROM m
    """,
)
def cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between two screening rules (rater A:
    order value >= 150k; rater B: priority urgent/high) — the
    inter-annotator / rule-agreement statistic labeling pipelines
    report before trusting a silver-label source. kappa = (p_o - p_e)
    / (1 - p_e) is cleared into one exact-integer ratio: with cells
    yy/yn/ny/nn and n their sum, kappa = (n*(yy+nn) - pe_num) /
    (n^2 - pe_num) where pe_num = (yy+yn)(yy+ny) + (ny+nn)(yn+nn) —
    numerator and denominator are exact int64 (n^2 < 2^63 up to ~3e9
    rows; past that the same formula runs in DECIMAL(38,0)), then one
    int-nanos-quantized division.

    Scale shape: ONE map-side-combinable four-counter aggregate over a
    column-pruned scan — the minimal plan, same as
    confusion_threshold."""
    a = F.col("o_totalprice") >= 150000
    b = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    cell = lambda c, n: F.count_if(c).cast("long").alias(n)  # noqa: E731
    m = table(spark, sf_dir, "orders").agg(
        cell(a & b, "yy"), cell(a & ~b, "yn"), cell(~a & b, "ny"), cell(~a & ~b, "nn")
    )
    yy, yn, ny, nn = (F.col(c) for c in ("yy", "yn", "ny", "nn"))
    n = yy + yn + ny + nn
    pe_num = (yy + yn) * (yy + ny) + (ny + nn) * (yn + nn)
    return m.select(
        "yy",
        "yn",
        "ny",
        "nn",
        F.round((n * (yy + nn) - pe_num).cast("double") / (n * n - pe_num) * 1e9)
        .cast("long")
        .alias("kappa_nanos"),
    )


@query(
    "calibration_bins",
    oracle="""
    WITH scored AS (
      SELECT ('0x' || substr(md5('p' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % 1000 AS p_permille,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    )
    SELECT p_permille // 100 AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p_permille) AS BIGINT) AS sum_permille,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(ROUND(CAST(SUM(p_permille) AS DOUBLE) * 1e3 / COUNT(*))
                AS BIGINT) AS mean_p_micros,
           CAST(ROUND(CAST(SUM(y) AS DOUBLE) * 1e6 / COUNT(*)) AS BIGINT)
             AS pos_rate_micros
    FROM scored GROUP BY 1
    """,
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) table: predicted probability (the
    portable md5-permille score — a stand-in model output, the
    split_assign hashing discipline) binned into deciles, per bin the
    mean prediction vs the observed positive rate — the calibration
    diagnostic behind Brier/ECE reporting (a well-calibrated model has
    mean_p ~ pos_rate per bin). Counts and permille sums are exact
    integers; each surfaced rate is one double division of exact
    int64s, quantized to integer micros (mean_p_micros = sum_permille
    * 1e3 / n since permille = p * 1000).

    Scale shape: score, label, and bin are pure per-row expressions;
    ONE map-side-combinable aggregate over 10 bins — no shuffle of the
    data rows beyond the 10-key partial merge."""
    p = _pseudo_p()
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    scored = table(spark, sf_dir, "orders").select(
        p.alias("p_permille"), y.alias("y")
    )
    return (
        scored.groupBy(F.expr("p_permille div 100").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("p_permille").cast("long").alias("sum_permille"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .select(
            "bin",
            "n",
            "sum_permille",
            "n_pos",
            F.round(F.col("sum_permille").cast("double") * 1e3 / F.col("n"))
            .cast("long")
            .alias("mean_p_micros"),
            F.round(F.col("n_pos").cast("double") * 1e6 / F.col("n"))
            .cast("long")
            .alias("pos_rate_micros"),
        )
    )


@query(
    "rrf_fusion",
    oracle="""
    WITH ranked AS (
      SELECT p_brand, p_partkey,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS r1,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_size DESC, p_partkey) AS r2
      FROM part
    ),
    fused AS (
      SELECT p_brand, p_partkey, CAST(r1 AS BIGINT) AS r1,
             CAST(r2 AS BIGINT) AS r2,
             CAST(ROUND(1e9 / (60 + r1)) + ROUND(1e9 / (60 + r2)) AS BIGINT)
               AS rrf_nanos
      FROM ranked
    )
    SELECT p_brand, p_partkey, r1, r2, rrf_nanos,
           CAST(rank_fused AS BIGINT) AS rank_fused
    FROM (
      SELECT *, row_number() OVER (PARTITION BY p_brand
                                   ORDER BY rrf_nanos DESC, p_partkey)
                  AS rank_fused
      FROM fused
    )
    WHERE rank_fused <= 5
    """,
)
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two per-brand part rankings (by
    retail price and by size) into a fused top-5 — the standard
    training-free rank aggregation behind hybrid search (BM25 +
    vector) result merging: RRF(d) = Σ_r 1/(k + rank_r(d)), k = 60.
    Each reciprocal term is int-nanos-quantized BEFORE the cross-
    ranker sum (integers add associatively; a float Σ of reciprocals
    would be order-dependent), and every window order carries the key
    tie-breaker so ranks, scores, and the fused cut are all total.

    Scale shape: three windows partitioned by brand over the 2-column
    projection; the fused rank's <=5 filter compiles to
    WindowGroupLimit (map-side partial top-5 per partition). In a
    hybrid-search deployment the two input rankings arrive as top-k
    lists, making every partition k-bounded."""
    p = table(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice", "p_size"
    )
    w1 = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    w2 = W.partitionBy("p_brand").orderBy(F.desc("p_size"), "p_partkey")
    ranked = p.select(
        "p_brand",
        "p_partkey",
        F.row_number().over(w1).cast("long").alias("r1"),
        F.row_number().over(w2).cast("long").alias("r2"),
    )
    rrf = (
        F.round(F.lit(1e9) / (60 + F.col("r1")))
        + F.round(F.lit(1e9) / (60 + F.col("r2")))
    ).cast("long")
    fused = ranked.withColumn("rrf_nanos", rrf)
    wf = W.partitionBy("p_brand").orderBy(F.desc("rrf_nanos"), "p_partkey")
    return (
        fused.withColumn("rank_fused", F.row_number().over(wf).cast("long"))
        .where(F.col("rank_fused") <= 5)
    )


@query(
    "ab_test_zscore",
    oracle="""
    WITH assigned AS (
      SELECT CASE WHEN (instr('0123456789abcdef',
                             substr(md5('ab' || CAST(o_orderkey AS VARCHAR)), 1, 1))
                        - 1) < 8
                  THEN 'A' ELSE 'B' END AS grp,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    m AS (
      SELECT CAST(COUNT(*) FILTER (WHERE grp = 'A') AS BIGINT) AS n_a,
             CAST(COUNT(*) FILTER (WHERE grp = 'B') AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN grp = 'A' THEN y END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN grp = 'B' THEN y END) AS BIGINT) AS c_b
      FROM assigned
    )
    SELECT n_a, n_b, c_a, c_b,
           CAST(ROUND(CAST(c_a AS DOUBLE) * 1e6 / n_a) AS BIGINT) AS p_a_micros,
           CAST(ROUND(CAST(c_b AS DOUBLE) * 1e6 / n_b) AS BIGINT) AS p_b_micros,
           CAST(ROUND((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                      / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                             * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                             * (1.0 / n_a + 1.0 / n_b))
                      * 1e6) AS BIGINT) AS z_micros
    FROM m
    """,
)
def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between A/B buckets of the portable
    md5-hash assignment ('ab'-salted first nibble < 8 → A, ~50/50) on
    the fulfillment-rate metric — the experiment-readout primitive
    (chi2_association tests global independence; this is the directed
    two-arm contrast with a signed effect). Counts are exact integers
    from ONE four-counter aggregate; rates and the pooled-variance z
    are single double expressions over those integers, quantized to
    int micros (z at 1e-6 resolution — far below any decision
    threshold anyone uses).

    Scale shape: assignment and metric are pure per-row expressions;
    one map-side-combinable aggregate produces the single-row readout
    — the cohens_kappa/confusion_threshold minimal plan."""
    nib = md5_int("ab", F.col("o_orderkey"), digits=1)
    grp_a = nib < 8
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    m = table(spark, sf_dir, "orders").select(grp_a.alias("a"), y.alias("y")).agg(
        F.count_if(F.col("a")).cast("long").alias("n_a"),
        F.count_if(~F.col("a")).cast("long").alias("n_b"),
        F.sum(F.when(F.col("a"), F.col("y"))).cast("long").alias("c_a"),
        F.sum(F.when(~F.col("a"), F.col("y"))).cast("long").alias("c_b"),
    )
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    c_a, c_b = F.col("c_a").cast("double"), F.col("c_b").cast("double")
    pool = (c_a + c_b) / (n_a + n_b)
    z = (c_a / n_a - c_b / n_b) / F.sqrt(
        pool * (1.0 - pool) * (1.0 / n_a + 1.0 / n_b)
    )
    return m.select(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        F.round(c_a * 1e6 / n_a).cast("long").alias("p_a_micros"),
        F.round(c_b * 1e6 / n_b).cast("long").alias("p_b_micros"),
        F.round(z * 1e6).cast("long").alias("z_micros"),
    )


@query(
    "map_at_k",
    oracle="""
    WITH scored AS (
      SELECT o_orderpriority AS qry, o_orderkey,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS rel,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ),
    top AS (
      SELECT qry, rel, rn,
             SUM(rel) OVER (PARTITION BY qry ORDER BY rn
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS hits
      FROM scored WHERE rn <= 10
    ),
    terms AS (
      SELECT qry,
             CAST(SUM(CASE WHEN rel = 1 THEN (1000000000 * hits) // rn
                           ELSE 0 END) AS BIGINT) AS ap_terms
      FROM top GROUP BY qry
    ),
    relcnt AS (
      SELECT qry, CAST(SUM(rel) AS BIGINT) AS n_rel FROM scored GROUP BY qry
    )
    SELECT r.qry, r.n_rel,
           CASE WHEN LEAST(r.n_rel, 10) = 0 THEN 0
                ELSE t.ap_terms // LEAST(r.n_rel, 10) END AS ap_nanos
    FROM relcnt r JOIN terms t ON t.qry = r.qry
    """,
)
def map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision @ 10 per query group (X18, the third ranking-
    quality view after NDCG and RRF): same query/ordering/relevance
    setup as `ndcg_at_k` but binary relevance (fulfilled = relevant).
    AP@10 = Σ_{relevant hits i ≤ 10} precision@i / min(R, 10), with
    every precision@i term int-nanos floored (1e9·hits_i // i — both
    operands exact integers) and the final division an integer floor —
    the whole statistic never touches a float, so it value-hashes
    bit-for-bit cross-engine.

    Scale shape: the rank filter compiles to WindowGroupLimit (map-side
    partial top-10 per partition per query — never a per-query full
    sort); the running hit count windows over the ≤10-row survivors;
    n_rel is one hash aggregate; the final join is O(#queries),
    broadcast."""
    rel = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    scored = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("qry"),
        "o_orderkey",
        "o_totalprice",
        rel.alias("rel"),
    )
    by_score = W.partitionBy("qry").orderBy(F.desc("o_totalprice"), "o_orderkey")
    top = scored.withColumn("rn", F.row_number().over(by_score)).where(
        F.col("rn") <= 10
    )
    running = (
        W.partitionBy("qry").orderBy("rn").rowsBetween(W.unboundedPreceding, 0)
    )
    top = top.withColumn("hits", F.sum("rel").over(running))
    terms = top.groupBy("qry").agg(
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.expr("(1000000000 * hits) div rn"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("ap_terms")
    )
    relcnt = scored.groupBy("qry").agg(F.sum("rel").cast("long").alias("n_rel"))
    m = F.least(F.col("n_rel"), F.lit(10))
    return (
        relcnt.join(F.broadcast(terms), "qry")
        .select(
            "qry",
            "n_rel",
            F.when(m == 0, F.lit(0))
            .otherwise(F.expr("ap_terms div least(n_rel, 10)"))
            .cast("long")
            .alias("ap_nanos"),
        )
    )


@query(
    "mrr_at_k",
    oracle="""
    WITH scored AS (
      SELECT o_orderpriority AS qry, o_orderkey,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS rel,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ),
    firsts AS (
      SELECT qry, CAST(MIN(CASE WHEN rel = 1 THEN rn END) AS BIGINT)
               AS first_rank
      FROM scored WHERE rn <= 10 GROUP BY qry
    ),
    qs AS (SELECT DISTINCT qry FROM scored)
    SELECT q.qry,
           CAST(COALESCE(f.first_rank, 0) AS BIGINT) AS first_rank,
           CAST(CASE WHEN f.first_rank IS NULL THEN 0
                ELSE 1000000000 // f.first_rank END AS BIGINT) AS rr_nanos
    FROM qs q LEFT JOIN firsts f ON f.qry = q.qry
    """,
)
def mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank @ 10 per query group — the first-hit latency view
    of ranking quality (chatbot/RAG eval's favorite because it only
    cares where the first good result lands). rr = floor(1e9 /
    first_relevant_rank), 0 when no relevant result reaches the top 10;
    pure integer end to end. Same WindowGroupLimit top-10 shape as
    `map_at_k`; the per-query reduction is a MIN aggregate."""
    rel = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    scored = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("qry"),
        "o_orderkey",
        "o_totalprice",
        rel.alias("rel"),
    )
    by_score = W.partitionBy("qry").orderBy(F.desc("o_totalprice"), "o_orderkey")
    top = scored.withColumn("rn", F.row_number().over(by_score)).where(
        F.col("rn") <= 10
    )
    firsts = top.groupBy("qry").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rn"))).cast("long").alias("fr")
    )
    qs = scored.select("qry").distinct()
    return qs.join(F.broadcast(firsts), "qry", "left").select(
        "qry",
        F.coalesce(F.col("fr"), F.lit(0)).cast("long").alias("first_rank"),
        F.when(F.col("fr").isNull(), F.lit(0))
        .otherwise(F.expr("1000000000 div fr"))
        .cast("long")
        .alias("rr_nanos"),
    )


@query(
    "isotonic_calibration",
    oracle="""
    WITH scored AS (
      SELECT ('0x' || substr(md5('p' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % 1000 AS p_permille,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    bins AS (
      SELECT p_permille // 20 AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    ),
    pairs AS (
      SELECT j.bin AS jb, k.bin AS kb,
             SUM(b.cnt) AS cnt_jk, SUM(b.pos) AS pos_jk
      FROM bins j JOIN bins k ON j.bin <= k.bin
      JOIN bins b ON b.bin BETWEEN j.bin AND k.bin
      GROUP BY 1, 2
    ),
    q AS (
      SELECT jb, kb,
             (CAST(pos_jk AS HUGEINT) * 1000000000) // cnt_jk AS qv
      FROM pairs
    ),
    m AS (
      SELECT i.bin AS bin, q.jb, MIN(q.qv) AS mq
      FROM q JOIN bins i ON q.jb <= i.bin AND i.bin <= q.kb
      GROUP BY 1, 2
    ),
    iso AS (SELECT bin, MAX(mq) AS iso_nanos FROM m GROUP BY 1)
    SELECT b.bin, b.cnt AS n, b.pos AS n_pos,
           CAST((CAST(b.pos AS HUGEINT) * 1000000000) // b.cnt AS BIGINT)
             AS pos_rate_nanos,
           CAST(iso.iso_nanos AS BIGINT) AS iso_nanos
    FROM bins b JOIN iso ON iso.bin = b.bin
    """,
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC (PAV) calibration of a model score — the monotone
    recalibration step (sklearn's IsotonicRegression / Platt's rival)
    a scoring pipeline fits between raw model outputs and decision
    thresholds. Scores are the portable md5-permille prediction (the
    calibration_bins stand-in) bucketed into 50 bins; the fit is the
    pool-adjacent-violators solution computed by its MINIMAX identity
    fit(i) = max_{j<=i} min_{k>=i} avg(pos[j..k]) — no sequential
    PAV loop, just joins over the bin table. Exactness: the weighted
    interval average is quantized by integer floor division
    (floor(1e9 * pos/cnt)); floor is monotone, so it commutes with
    the min/max nesting, and both engines run the identical integer
    arithmetic — the surfaced fit is exactly floor(1e9 * true_fit).

    Scale shape (100 TB): the ONLY data-sized operation is the one
    map-side-combinable (bin -> cnt, pos) aggregate; the O(B^2)
    interval table and O(B^3) expansion are over the 50-row bin
    table (~2x10^4 rows), all broadcast joins — the classic
    bounded-post-aggregate pattern (kaplan_meier's shape). B is the
    resolution/robustness knob, not a scale knob."""
    p = _pseudo_p()
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    bins = (
        table(spark, sf_dir, "orders")
        .select(p.alias("p_permille"), y.alias("y"))
        .groupBy(F.expr("p_permille div 20").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    bj = bins.select(F.col("bin").alias("jb"))
    bk = bins.select(F.col("bin").alias("kb"))
    bb = bins.select(
        F.col("bin").alias("b"), F.col("cnt").alias("cb"), F.col("pos").alias("pb")
    )
    pairs = (
        bj.join(F.broadcast(bk), F.col("jb") <= F.col("kb"))
        .join(
            F.broadcast(bb),
            (F.col("b") >= F.col("jb")) & (F.col("b") <= F.col("kb")),
        )
        .groupBy("jb", "kb")
        .agg(F.sum("cb").alias("cnt_jk"), F.sum("pb").alias("pos_jk"))
    )
    q = pairs.select(
        "jb",
        "kb",
        F.expr(
            "CAST(pos_jk AS DECIMAL(38,0)) * 1000000000 div cnt_jk"
        ).alias("qv"),
    )
    bi = bins.select(F.col("bin").alias("i"))
    iso = (
        q.join(
            F.broadcast(bi),
            (F.col("jb") <= F.col("i")) & (F.col("i") <= F.col("kb")),
        )
        .groupBy("i", "jb")
        .agg(F.min("qv").alias("mq"))
        .groupBy("i")
        .agg(F.max("mq").cast("long").alias("iso_nanos"))
    )
    return bins.join(F.broadcast(iso), F.col("bin") == F.col("i")).select(
        "bin",
        F.col("cnt").alias("n"),
        F.col("pos").alias("n_pos"),
        F.expr("CAST(pos AS DECIMAL(38,0)) * 1000000000 div cnt")
        .cast("long")
        .alias("pos_rate_nanos"),
        "iso_nanos",
    )


@query(
    "pr_curve_points",
    oracle="""
    WITH scored AS (
      SELECT ('0x' || substr(md5('p' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % 1000 AS p_permille,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    h AS (
      SELECT p_permille AS threshold,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    ),
    s AS (
      SELECT threshold,
             CAST(SUM(pos) OVER (ORDER BY threshold DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS tp,
             CAST(SUM(n) OVER (ORDER BY threshold DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS pp,
             CAST(SUM(pos) OVER () AS BIGINT) AS p_total
      FROM h
    )
    SELECT threshold, tp, pp - tp AS fp,
           CAST((CAST(tp AS HUGEINT) * 1000000000) // pp AS BIGINT)
             AS precision_nanos,
           CAST((CAST(tp AS HUGEINT) * 1000000000) // p_total AS BIGINT)
             AS recall_nanos
    FROM s
    """,
)
def pr_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full PRECISION-RECALL CURVE of the portable md5-permille
    score against the order-status label — every operating point, not
    just one threshold (`confusion_threshold`) or ranked deciles
    (`lift_gain_table`): at threshold t, predictions are positive
    where score >= t, tp/fp come from suffix sums over the per-score
    histogram, and precision/recall are exact-int64 ratios quantized
    to nanos.

    Scale shape: ONE map-side-combinable histogram aggregate (at most
    1000 rows — the score's resolution bounds the curve, not the data
    size), then cumulative windows OVER that aggregate (the declared
    sweep-exempt auc_exact shape) and pure per-row arithmetic. The
    whole curve costs one scan regardless of corpus size."""
    p = _pseudo_p()
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    h = (
        table(spark, sf_dir, "orders")
        .select(p.alias("threshold"), y.alias("y"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    wdesc = W.orderBy(F.desc("threshold")).rowsBetween(W.unboundedPreceding, 0)
    wall = W.orderBy(F.desc("threshold")).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    s = h.select(
        "threshold",
        F.sum("pos").over(wdesc).cast("long").alias("tp"),
        F.sum("n").over(wdesc).cast("long").alias("pp"),
        F.sum("pos").over(wall).cast("long").alias("p_total"),
    )
    return s.select(
        "threshold",
        "tp",
        (F.col("pp") - F.col("tp")).cast("long").alias("fp"),
        F.expr("CAST(tp AS DECIMAL(38,0)) * 1000000000 div pp")
        .cast("long")
        .alias("precision_nanos"),
        F.expr("CAST(tp AS DECIMAL(38,0)) * 1000000000 div p_total")
        .cast("long")
        .alias("recall_nanos"),
    )


@query(
    "expected_calibration_error",
    oracle="""
    WITH scored AS (
      SELECT ('0x' || substr(md5('p' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % 1000 AS p_permille,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    b AS (
      SELECT p_permille // 100 AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(p_permille) AS BIGINT) AS sum_permille,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(n) AS BIGINT) AS n_total,
           CAST(SUM(ABS(CAST(sum_permille AS HUGEINT) * 1000000
                        - CAST(pos AS HUGEINT) * 1000000000))
                // SUM(n) AS BIGINT) AS ece_nanos,
           CAST(MAX(ABS(CAST(sum_permille AS HUGEINT) * 1000000
                        - CAST(pos AS HUGEINT) * 1000000000) // n)
                AS BIGINT) AS mce_nanos
    FROM b
    """,
)
def expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECE / MCE — the one-number calibration summary over
    `calibration_bins`' deciles: ECE = sum_b (n_b/N)·|mean-pred -
    pos-rate|, MCE the worst bin. The per-bin gap times n_b collapses
    EXACTLY to |sum_permille·1e6 - pos·1e9| (both means share the n_b
    denominator), so ECE is ONE integer floor division of an exact
    sum — no per-bin rounding ever happens, tighter than quantizing
    each bin's gap first.

    Scale shape: one map-side-combinable 10-bin aggregate, one 1-row
    reduction. Nothing scales with the data but the scan."""
    p = _pseudo_p()
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    b = (
        table(spark, sf_dir, "orders")
        .select(p.alias("p_permille"), y.alias("y"))
        .groupBy(F.expr("p_permille div 100").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("p_permille").cast("long").alias("sum_permille"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    gap = F.abs(
        F.col("sum_permille").cast("decimal(38,0)") * 1000000
        - F.col("pos").cast("decimal(38,0)") * 1000000000
    )
    return b.select("n", gap.alias("gap")).agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("n").cast("long").alias("n_total"),
        F.expr("SUM(gap) div SUM(n)").cast("long").alias("ece_nanos"),
        F.max(F.expr("gap div n")).cast("long").alias("mce_nanos"),
    )


@query(
    "brier_decomposition",
    oracle="""
    WITH o AS (
      SELECT ('0x' || substr(md5('p' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % 1000 AS p,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    b AS (
      SELECT p // 100 AS bin,
             CAST(COUNT(*) AS HUGEINT) AS n_b,
             CAST(SUM(p) AS HUGEINT) AS sp,
             CAST(SUM(y) AS HUGEINT) AS pos_b,
             CAST(SUM(CAST(p - 1000 * y AS HUGEINT)
                      * (p - 1000 * y)) AS HUGEINT) AS sq
      FROM o GROUP BY p // 100
    ),
    t AS (
      SELECT CAST(SUM(n_b) AS HUGEINT) AS n,
             CAST(SUM(pos_b) AS HUGEINT) AS pos,
             CAST(SUM(sq) AS HUGEINT) AS sq
      FROM b
    ),
    parts AS (
      SELECT t.n, t.pos, t.sq,
             CAST(SUM(((b.sp - 1000 * b.pos_b) * (b.sp - 1000 * b.pos_b))
                      // (b.n_b * t.n)) AS HUGEINT) AS rel,
             CAST(SUM(((b.pos_b * t.n - b.n_b * t.pos)
                       * (b.pos_b * t.n - b.n_b * t.pos) * 1000000)
                      // (b.n_b * t.n * t.n * t.n)) AS HUGEINT) AS res
      FROM b, t GROUP BY t.n, t.pos, t.sq
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(sq // n AS BIGINT) AS brier_micros,
           CAST(rel AS BIGINT) AS reliability_micros,
           CAST(res AS BIGINT) AS resolution_micros,
           CAST((pos * (n - pos) * 1000000) // (n * n) AS BIGINT)
             AS uncertainty_micros
    FROM parts
    """,
)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE + MURPHY DECOMPOSITION — the proper scoring rule
    beside expected_calibration_error's gap readout (same md5
    pseudo-probability and o_orderstatus='F' label, same 10 deciles):
    brier = mean (p - y)^2, split into reliability (calibration, the
    part you can fix by recalibrating) - resolution (discrimination)
    + uncertainty (the irreducible base-rate variance). In permille
    units every term clears to exact integers with ONE floor division
    per bin (brier itself needs just one division total:
    sum (p - 1000y)^2 div N is already micros); the identity
    brier ~= rel - res + unc holds up to the within-bin variance term
    the 3-term decomposition drops (~ bin_width^2/12, ~833 micros for
    uniform p over deciles) and is pinned with that tolerance in
    tests. By construction the md5 'probabilities' are uniform noise,
    so the decomposition reads 'calibrated but useless' (reliability
    ~0, resolution ~0) — exactly what it should say about a random
    scorer; swap in a model score column and the readout becomes the
    model card line.

    Scale shape: one 10-bin map-side-combinable aggregate over the
    scan, then constant-size algebra — the ECE plan."""
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    o = table(spark, sf_dir, "orders").select(
        _pseudo_p().alias("p"), y.alias("y")
    )
    d = (F.col("p") - 1000 * F.col("y")).cast(_D38)
    b = o.groupBy(F.expr("p div 100").alias("bin")).agg(
        F.count(F.lit(1)).cast(_D38).alias("n_b"),
        F.sum("p").cast(_D38).alias("sp"),
        F.sum("y").cast(_D38).alias("pos_b"),
        F.sum(d * d).cast(_D38).alias("sq"),
    )
    t = b.agg(
        F.sum("n_b").cast(_D38).alias("n"),
        F.sum("pos_b").cast(_D38).alias("pos"),
        F.sum("sq").cast(_D38).alias("sq_t"),
    )
    parts = (
        b.crossJoin(F.broadcast(t))
        .groupBy("n", "pos", "sq_t")
        .agg(
            F.sum(
                F.expr(
                    "((sp - 1000 * pos_b) * (sp - 1000 * pos_b))"
                    " div (n_b * n)"
                )
            )
            .cast(_D38)
            .alias("rel"),
            F.sum(
                F.expr(
                    "((pos_b * n - n_b * pos) * (pos_b * n - n_b * pos)"
                    " * 1000000) div (n_b * n * n * n)"
                )
            )
            .cast(_D38)
            .alias("res"),
        )
    )
    return parts.select(
        F.col("n").cast("long").alias("n"),
        F.expr("CAST(sq_t div n AS BIGINT)").alias("brier_micros"),
        F.col("rel").cast("long").alias("reliability_micros"),
        F.col("res").cast("long").alias("resolution_micros"),
        F.expr(
            "CAST((pos * (n - pos) * 1000000) div (n * n) AS BIGINT)"
        ).alias("uncertainty_micros"),
    )


@query(
    "matthews_mcc",
    oracle="""
    WITH o AS (
      SELECT ('0x' || substr(md5('p' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % 1000 AS p,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    c AS (
      SELECT CAST(COUNT(*) FILTER (WHERE p >= 500 AND y = 1) AS BIGINT) AS tp,
             CAST(COUNT(*) FILTER (WHERE p >= 500 AND y = 0) AS BIGINT) AS fp,
             CAST(COUNT(*) FILTER (WHERE p < 500 AND y = 1) AS BIGINT) AS fn,
             CAST(COUNT(*) FILTER (WHERE p < 500 AND y = 0) AS BIGINT) AS tn
      FROM o
    )
    SELECT tp, fp, fn, tn,
           CAST(ROUND(
             CAST(tp * tn - fp * fn AS DOUBLE)
             / (SQRT(CAST((tp + fp) * (tp + fn) AS DOUBLE))
                * SQRT(CAST((tn + fp) * (tn + fn) AS DOUBLE)))
             * 1e6) AS BIGINT) AS mcc_micros
    FROM c
    """,
)
def matthews_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTHEWS CORRELATION COEFFICIENT at the 0.5 operating point —
    the chance-corrected single-number confusion summary beside
    cohens_kappa (inter-rater form) and confusion_threshold (the raw
    counts): MCC = (TP TN - FP FN)/sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN)),
    the metric of choice under class imbalance. Same md5
    pseudo-probability/label as the calibration family.

    Exactness: counts are exact; the four-factor denominator is
    DELIBERATELY computed as sqrt(ab)*sqrt(cd) — each pairwise product
    stays below 2^53 where int->double conversion is exact (the full
    product does NOT, hitting the documented engine-divergent 1-ulp
    conversion hazard); both engines then run the identical IEEE
    sqrt/multiply/divide/round pipeline.

    Scale shape: ONE map-side-combinable conditional-count aggregate
    over the scan to a single row — nothing else."""
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    o = table(spark, sf_dir, "orders").select(
        _pseudo_p().alias("p"), y.alias("y")
    )
    c = o.agg(
        F.sum(F.when((F.col("p") >= 500) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("p") >= 500) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((F.col("p") < 500) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when((F.col("p") < 500) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    num = (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")).cast("double")
    den = F.sqrt(
        ((F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn"))).cast("double")
    ) * F.sqrt(
        ((F.col("tn") + F.col("fp")) * (F.col("tn") + F.col("fn"))).cast("double")
    )
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(num / den * 1e6).cast("long").alias("mcc_micros"),
    )


@query(
    "pinball_loss_eval",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS grp,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
      FROM orders
    ),
    v AS (SELECT pc, CAST(COUNT(*) AS BIGINT) AS cnt FROM o GROUP BY pc),
    r AS (
      SELECT pc, CAST(SUM(cnt) OVER (ORDER BY pc) AS BIGINT) AS cum FROM v
    ),
    nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM v),
    qq AS (
      SELECT CAST(MIN(CASE WHEN r.cum >= (90 * nn.n + 99) // 100
                           THEN r.pc END) AS BIGINT) AS q
      FROM r, nn
    )
    SELECT o.grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(qq.q) AS BIGINT) AS q90_cents,
           CAST(SUM(CASE WHEN o.pc >= qq.q
                         THEN 9 * CAST(o.pc - qq.q AS HUGEINT)
                         ELSE CAST(qq.q - o.pc AS HUGEINT) END) AS BIGINT)
             AS loss10_cents,
           CAST((100000 * SUM(CASE WHEN o.pc >= qq.q
                                   THEN 9 * CAST(o.pc - qq.q AS HUGEINT)
                                   ELSE CAST(qq.q - o.pc AS HUGEINT) END))
                // COUNT(*) AS BIGINT) AS mean_pinball_micros
    FROM o, qq GROUP BY o.grp ORDER BY o.grp
    """,
)
def pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PINBALL (QUANTILE) LOSS at tau = 0.9 — the proper scoring rule
    for quantile forecasts, evaluated for the global exact-p90
    constant predictor per order priority: the readout that tells you
    WHICH segments a single global quantile under- or over-covers
    (a segment whose loss is dominated by the overshoot branch needs
    its own quantile — the group_percentiles motivation, quantified).
    tau = 0.9 clears to integers by scaling the loss x10
    (9*(y-q) above, 1*(q-y) below); the mean is one floor division to
    micros of a cent. The q90 itself is the exact nearest-rank cut
    from the distinct-value cumulative table (the approx_quantile_audit
    machinery).

    Scale shape: one distinct-value aggregate + bucketed prefix sums
    for the cut, then ONE map-side-combinable conditional-sum pass
    with the 1-row q broadcast — two scans total, no shuffle beyond
    the value histogram."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        (dec2("o_totalprice") * 100).cast("long").alias("pc"),
    )
    v = o.groupBy("pc").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    r = bucketed_prefix_sums(
        v, F.expr("pc div 100000"), [F.col("pc")], {"cum": F.col("cnt")}
    )
    nn = v.agg(F.sum("cnt").cast("long").alias("n"))
    qq = (
        r.crossJoin(F.broadcast(nn))
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(90 * n + 99) div 100"), F.col("pc")
                )
            )
            .cast("long")
            .alias("q")
        )
    )
    loss = F.when(
        F.col("pc") >= F.col("q"),
        (F.lit(9).cast(_D38) * (F.col("pc") - F.col("q"))),
    ).otherwise((F.col("q") - F.col("pc")).cast(_D38))
    return (
        o.crossJoin(F.broadcast(qq))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("q").cast("long").alias("q90_cents"),
            F.sum(loss).cast("long").alias("loss10_cents"),
            F.expr(
                "CAST((100000 * SUM(CASE WHEN pc >= q"
                " THEN 9 * CAST(pc - q AS DECIMAL(38,0))"
                " ELSE CAST(q - pc AS DECIMAL(38,0)) END))"
                " div COUNT(*) AS BIGINT)"
            ).alias("mean_pinball_micros"),
        )
        .orderBy("grp")
    )

"""ML feature-prep and data-quality statistics (SURVEY.md §2.13 X15):
per-group min-max feature scaling, chi-square feature/label
association, and population-stability-index drift between dataset
splits — the preprocessing/monitoring trio every training pipeline
runs between curation (X9) and the trainer.

Determinism: every statistic is computed FROM exact integer (or
exact-decimal) aggregates, and any cross-group float sum is quantized
to int nanos per term before summation (the BM25/surprisal/modularity
technique) — bit-identical across engines.

Scale notes (100 TB): each operator is one or two map-side-combinable
aggregates plus a broadcast of a tiny statistics table back into the
scan — no windows over unbounded input, no pairwise joins; the
per-group statistics tables are O(#groups)/O(#bins) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..exact import dec2, md5_int
from ..functions.ranking import (
    bucketed_global_rank,
    bucketed_prefix_sum,
    bucketed_prefix_sums,
)
from ..registry import query

_D38 = "decimal(38,0)"


@query(
    "feature_scale_minmax",
    oracle="""
    WITH stats AS (
      SELECT c_mktsegment, MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment,
           CAST(ROUND(CASE WHEN s.hi = s.lo THEN 0.0
                           ELSE (c.c_acctbal - s.lo) / (s.hi - s.lo) END * 1e6)
                AS BIGINT) AS scaled_micros,
           CAST(CAST(ROUND(CASE WHEN s.hi = s.lo THEN 0.0
                           ELSE (c.c_acctbal - s.lo) / (s.hi - s.lo) END * 1e6)
                AS BIGINT) AS DOUBLE) / 1e6 AS acctbal_scaled
    FROM customer c JOIN stats s ON s.c_mktsegment = c.c_mktsegment
    """,
)
def feature_scale_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max feature scaling (x - min)/(max - min) — the
    normalization pass feeding numeric features to a model, grouped by
    segment so each cohort scales within itself. Min/max of doubles
    are input values (no accumulation), the ratio is one double
    division of identical operands on both engines, then quantized to
    integer MICROS (the int-nanos family technique, ADVICE r8) — the
    surfaced double is re-derived from the integer on both sides, so
    there is no round(double, n)-as-double last-ULP parity exposure;
    constant groups scale to 0 (the degenerate-range guard every
    scaler needs).

    Scale shape: one map-side-combinable min/max aggregate producing an
    O(#groups) table broadcast back into the scan — a second pass over
    the column, no shuffle of the data rows."""
    cust = table(spark, sf_dir, "customer")
    stats = cust.groupBy("c_mktsegment").agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    )
    scaled = F.when(F.col("hi") == F.col("lo"), F.lit(0.0)).otherwise(
        (F.col("c_acctbal") - F.col("lo")) / (F.col("hi") - F.col("lo"))
    )
    micros = F.round(scaled * 1e6).cast("long")
    return (
        cust.join(F.broadcast(stats), "c_mktsegment")
        .select(
            "c_custkey",
            "c_mktsegment",
            micros.alias("scaled_micros"),
            (micros.cast("double") / 1e6).alias("acctbal_scaled"),
        )
    )


@query(
    "chi2_association",
    oracle="""
    WITH obs AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat, COUNT(*) AS o
      FROM customer GROUP BY c_mktsegment, c_nationkey
    ),
    rt AS (SELECT seg, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY seg),
    ct AS (SELECT nat, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY nat),
    t AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    cells AS (
      SELECT obs.seg, obs.nat,
             CAST(ROUND(POWER(CAST(obs.o AS DOUBLE)
                              - CAST(rt.r * ct.c AS DOUBLE) / t.n, 2)
                        / (CAST(rt.r * ct.c AS DOUBLE) / t.n) * 1e9)
                  AS BIGINT) AS nanos
      FROM obs JOIN rt USING (seg) JOIN ct USING (nat), t
    )
    SELECT CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS n_cols,
           CAST(SUM(nanos) AS BIGINT) AS chi2_nanos,
           CAST(SUM(nanos) AS DOUBLE) / 1e9 AS chi2
    FROM cells
    """,
)
def chi2_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square statistic of the (segment x nation) contingency table
    — the categorical feature/label association test behind feature
    selection and leakage screening: chi2 = Σ (O - E)² / E with
    E = row_total * col_total / N. Observed counts, marginals, and N
    are exact integers; each cell's contribution is quantized to int
    nanos before the cross-cell sum, so the statistic is bit-exact.

    Scale shape: one (seg, nat) count aggregate (map-side combinable),
    two marginal re-aggregations of that tiny table, a broadcast
    scalar N — the contingency table is O(|seg| x |nat|), never the
    data."""
    cust = table(spark, sf_dir, "customer")
    obs = cust.groupBy(
        F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat")
    ).agg(F.count(F.lit(1)).alias("o"))
    obs = obs.localCheckpoint(eager=True)
    rt = obs.groupBy("seg").agg(F.sum("o").cast("long").alias("r"))
    ct = obs.groupBy("nat").agg(F.sum("o").cast("long").alias("c"))
    t = obs.agg(F.sum("o").cast("long").alias("n"))
    e = (F.col("r") * F.col("c")).cast("double") / F.col("n").cast("double")
    cells = (
        obs.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "nat")
        .crossJoin(F.broadcast(t))
        .select(
            F.round(F.pow(F.col("o").cast("double") - e, 2) / e * 1e9)
            .cast("long")
            .alias("nanos")
        )
    )
    n_rows = rt.count()
    n_cols = ct.count()
    return cells.agg(F.sum("nanos").cast("long").alias("chi2_nanos")).select(
        F.lit(n_rows).cast("long").alias("n_rows"),
        F.lit(n_cols).cast("long").alias("n_cols"),
        "chi2_nanos",
        (F.col("chi2_nanos").cast("double") / 1e9).alias("chi2"),
    )


@query(
    "split_drift_psi",
    oracle="""
    WITH labeled AS (
      SELECT o_totalprice,
             CASE WHEN (instr('0123456789abcdef',
                              substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1)
                       < 13 THEN 'train' ELSE 'val' END AS split,
             LEAST(CAST(FLOOR(o_totalprice / 60000) AS BIGINT), 9) AS bin
      FROM orders
    ),
    raw_counts AS (
      SELECT bin,
             COUNT(CASE WHEN split = 'train' THEN 1 END) AS tr,
             COUNT(CASE WHEN split = 'val' THEN 1 END) AS va
      FROM labeled GROUP BY bin
    ),
    counts AS (
      SELECT CAST(s.i AS BIGINT) AS bin,
             COALESCE(r.tr, 0) AS tr, COALESCE(r.va, 0) AS va
      FROM UNNEST(range(10)) AS s(i)
      LEFT JOIN raw_counts r ON r.bin = s.i
    ),
    tot AS (
      SELECT CAST(SUM(tr) AS BIGINT) AS ttr, CAST(SUM(va) AS BIGINT) AS tva
      FROM counts
    ),
    terms AS (
      SELECT c.bin,
             CAST(ROUND((CAST(c.tr + 1 AS DOUBLE) / (t.ttr + 10)
                         - CAST(c.va + 1 AS DOUBLE) / (t.tva + 10))
                        * ln((CAST(c.tr + 1 AS DOUBLE) / (t.ttr + 10))
                             / (CAST(c.va + 1 AS DOUBLE) / (t.tva + 10)))
                        * 1e9) AS BIGINT) AS nanos,
             CAST(c.tr AS BIGINT) AS n_train, CAST(c.va AS BIGINT) AS n_val
      FROM counts c, tot t
    )
    SELECT bin, n_train, n_val, nanos AS psi_nanos FROM terms
    """,
)
def split_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the train and validation
    splits of the order-price distribution — the drift monitor every
    deployed pipeline runs on its features: PSI = Σ_bins (p - q)
    ln(p/q), here per-bin (summable downstream) over the FULL 10-bin
    spine, with add-one smoothing (Laplace: +1 per bin, +#bins per
    total — consistent because absent bins are materialized, so the
    smoothed p and q each sum to exactly 1) and no infinities from
    empty bins. The split is the md5-bucket assignment
    (split_assign's growth-stable scheme: first hex nibble < 13 →
    train ≈ 81%); bins are fixed-width price deciles capped at 9.
    Counts are exact ints; each bin's PSI term is int-nanos-quantized
    (ln parity pinned by the BM25/surprisal precedent).

    Scale shape: one (bin, split) count aggregate over a
    column-pruned scan + a 1-row total broadcast — the PSI table is
    O(#bins)."""
    orders = table(spark, sf_dir, "orders")
    first_nibble = md5_int(F.col("o_orderkey"), digits=1)
    labeled = orders.select(
        F.when(first_nibble < 13, "train").otherwise("val").alias("split"),
        F.least(
            F.floor(F.col("o_totalprice") / 60000).cast("long"), F.lit(9)
        ).alias("bin"),
    )
    raw_counts = labeled.groupBy("bin").agg(
        F.count(F.when(F.col("split") == "train", 1)).alias("tr"),
        F.count(F.when(F.col("split") == "val", 1)).alias("va"),
    )
    # full 0-9 bin spine BEFORE smoothing: a bin empty on both sides
    # still contributes its (smoothed) term and the smoothed p/q each
    # sum to exactly 1 over all 10 bins — without the spine the +10
    # denominators assume bins the output silently drops (review r8)
    spine = spark.range(10).select(F.col("id").alias("bin"))
    counts = spine.join(raw_counts, "bin", "left").select(
        "bin",
        F.coalesce(F.col("tr"), F.lit(0)).alias("tr"),
        F.coalesce(F.col("va"), F.lit(0)).alias("va"),
    )
    counts = counts.localCheckpoint(eager=True)
    tot = counts.agg(
        F.sum("tr").cast("long").alias("ttr"), F.sum("va").cast("long").alias("tva")
    )
    p = (F.col("tr") + 1).cast("double") / (F.col("ttr") + 10).cast("double")
    q = (F.col("va") + 1).cast("double") / (F.col("tva") + 10).cast("double")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.col("tr").cast("long").alias("n_train"),
            F.col("va").cast("long").alias("n_val"),
            F.round((p - q) * F.log(p / q) * 1e9).cast("long").alias("psi_nanos"),
        )
    )


@query(
    "target_encode",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS cat,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS s_cents,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderpriority
    ),
    t AS (
      SELECT CAST(SUM(s_cents) AS BIGINT) AS s_tot,
             CAST(SUM(n) AS BIGINT) AS n_tot
      FROM g
    )
    SELECT cat, n,
           CAST((CAST(s_cents AS HUGEINT) * n_tot + 10 * CAST(s_tot AS HUGEINT))
                * 1000000 // (n_tot * (n + 10)) AS BIGINT) AS enc_micros
    FROM g, t
    """,
)
def target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of order priority against order value —
    the categorical-encoding pass (CatBoost-style mean encoding with a
    global-mean prior, m = 10): enc(cat) = (sum_cat + m*mean_all) /
    (n_cat + m). Kept EXACT by clearing denominators: with integer
    cents enc = (S_cat*N + m*S_tot) / (N*(n_cat + m)), quantized to
    integer micros by ONE exact truncating division. No leakage handling here (that's split_assign's train-fold
    job); this is the encoding arithmetic.

    Scale shape: one map-side-combinable aggregate to O(#categories)
    rows, one 1-row total re-aggregate cross-joined back — the data is
    scanned once. The numerator runs in DECIMAL(38,0) in BOTH engines:
    the r14 int64 form's own docstring predicted cents*N overflowing
    past ~10^18, and the sf1 decade delivered it (S_cat*N ~ 6.8e18 vs
    int64 max 9.2e18 — DuckDB's checked BIGINT multiply raised first).
    DECIMAL(38,0) gives the same EXACT rational with ~10^19 more
    headroom; scale-0 decimal->double stays correctly rounded in both
    engines for the micros readout."""
    cents = (dec2("o_totalprice") * 100).cast("long")
    g = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("cat"))
        .agg(
            F.sum(cents).cast("long").alias("s_cents"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    t = g.agg(
        F.sum("s_cents").cast("long").alias("s_tot"),
        F.sum("n").cast("long").alias("n_tot"),
    )
    # Exact integer micros via ONE trunc-division (the BM25 int-nanos
    # idiom). Spark runs the numerator in DECIMAL and `div`s exactly;
    # the oracle runs it in internal HUGEINT (int128) because DuckDB's
    # decimal `//` routes through DOUBLE (off-by-one at the 2.4e13
    # quotient — measured). Only the BOUNDED quotient is surfaced —
    # enc_micros <= max smoothed mean x 1e6, scale-invariant, where
    # the r14 raw rational's numerator grew O(S*N) without bound (it
    # overflowed int64 at sf1, and wide-decimal output columns
    # float-degrade in the oracle's pandas readout: both measured).
    num = (
        F.col("s_cents").cast("decimal(20,0)")
        * F.col("n_tot").cast("decimal(10,0)")
        + 10 * F.col("s_tot").cast("decimal(20,0)")
    )
    den = F.col("n_tot") * (F.col("n") + 10)
    return g.crossJoin(F.broadcast(t)).select(
        "cat",
        "n",
        (num * 1000000).cast("decimal(38,0)").alias("_num_micros"),
        den.cast("long").alias("_den"),
    ).select(
        "cat",
        "n",
        F.expr("CAST(_num_micros div _den AS LONG)").alias("enc_micros"),
    )


@query(
    "auc_exact",
    oracle="""
    WITH s AS (
      SELECT o_totalprice AS score,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS pos
      FROM orders GROUP BY o_totalprice
    ),
    r AS (
      SELECT cnt, pos,
             SUM(cnt) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) - cnt AS bef
      FROM s
    ),
    agg AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(cnt - pos) AS BIGINT) AS n_neg,
             CAST(SUM(pos * (2 * bef + cnt + 1)) AS BIGINT) AS two_rank_pos
      FROM r
    )
    SELECT n_pos, n_neg,
           CAST(two_rank_pos - n_pos * (n_pos + 1) AS BIGINT) AS u2,
           CAST(two_rank_pos - n_pos * (n_pos + 1) AS DOUBLE)
             / (2.0 * n_pos * n_neg) AS auc
    FROM agg
    """,
)
def auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of order value as a classifier for fulfilled
    status — the Mann-Whitney U form every model-eval pipeline uses:
    AUC = (ΣR_pos − n_pos(n_pos+1)/2) / (n_pos·n_neg) with AVERAGE
    ranks for tied scores. Tie handling stays exact-integer by scaling
    ranks by 2: a score group preceded by `bef` rows holds average
    rank bef + (cnt+1)/2, i.e. 2·avgrank = 2·bef + cnt + 1 — integer.
    The statistic is surfaced as exact 2U plus one double division.

    Scale shape: the data collapses to the per-score histogram first
    (one map-side-combinable aggregate), then the cumulative rank runs
    through `functions/ranking.bucketed_prefix_sum` (score-band
    buckets -> broadcast per-band offsets -> in-band windows), so there
    is NO unpartitioned window even when score cardinality is unbounded
    — VERDICT r9 #2's de-weakening of the former
    global-window-over-aggregate shape."""
    s = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_totalprice").alias("score"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1))
            .cast("long")
            .alias("pos"),
        )
    )
    # $10k score bands: monotone in score (o_totalprice > 0), O(#bands)
    # offsets table; `score` is unique within a band (it's a groupBy key).
    r = bucketed_prefix_sum(
        s,
        F.floor(F.col("score") / 10000),
        [F.col("score")],
        F.col("cnt"),
        alias="_cum",
    ).select("cnt", "pos", (F.col("_cum") - F.col("cnt")).alias("bef"))
    agg = r.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("n_neg"),
        F.sum(F.col("pos") * (2 * F.col("bef") + F.col("cnt") + 1))
        .cast("long")
        .alias("two_rank_pos"),
    )
    u2 = F.col("two_rank_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    return agg.select(
        "n_pos",
        "n_neg",
        u2.cast("long").alias("u2"),
        (
            u2.cast("double")
            / (2.0 * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


@query(
    "lift_gain_table",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) - 1 AS rn,
             COUNT(*) OVER () AS n
      FROM orders
    ),
    binned AS (
      SELECT CAST(rn * 10 // n AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM scored GROUP BY rn * 10 // n
    ),
    tot AS (
      SELECT CAST(SUM(n_rows) AS BIGINT) AS nt, CAST(SUM(n_pos) AS BIGINT) AS pt
      FROM binned
    ),
    cum AS (
      SELECT decile, n_rows, n_pos,
             SUM(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_pos,
             SUM(n_rows) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_rows
      FROM binned
    )
    SELECT decile, n_rows, n_pos,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST(ROUND(CAST(cum_pos * nt AS DOUBLE)
                      / (cum_rows * pt) * 1e9) AS BIGINT) AS cum_lift_nanos,
           CAST(ROUND(CAST(cum_pos AS DOUBLE) / pt * 1e9) AS BIGINT)
             AS cum_gain_nanos
    FROM cum, tot
    """,
)
def lift_gain_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gain table of order value as a ranker for fulfilled
    status — AUC's operational companion (which top-k slice to act
    on): rows ranked by score descending (unique (score DESC, key)
    order), split into 10 equi-depth bins by integer arithmetic
    (rn*10 div n — no ntile, whose remainder placement would need its
    own parity pin), then cumulative positives, lift = (cum_pos/
    cum_rows)/(total_pos/total_rows) and gain = cum_pos/total_pos as
    int-nanos-quantized ratios of exact integers.

    Scale shape: the global rank is bucketed_global_rank's two-pass
    form (price-band buckets, partitioned in-bucket windows — no
    unpartitioned window over the data, the sort_by_key discipline);
    totals and cumulatives are windows over the 10-row decile
    aggregate. Fully lazy — no driver count, no checkpoint."""
    scored = table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        "o_totalprice",
        "o_orderkey",
    )
    # bucket = negated price band: ascends with (price DESC); in-band
    # order (price DESC, key) completes the unique total order
    ranked = bucketed_global_rank(
        scored,
        -F.floor(F.col("o_totalprice") / 60000).cast("long"),
        [F.desc("o_totalprice"), F.col("o_orderkey")],
    )
    binned = (
        ranked.groupBy(
            F.expr("(pos - 1) * 10 div n_total").alias("decile")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    wall = W.orderBy("decile").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    cum = binned.select(
        "decile",
        "n_rows",
        "n_pos",
        F.sum("n_pos").over(wc).alias("cum_pos"),
        F.sum("n_rows").over(wc).alias("cum_rows"),
        F.sum("n_rows").over(wall).cast("long").alias("nt"),
        F.sum("n_pos").over(wall).cast("long").alias("pt"),
    )
    return cum.select(
        "decile",
        "n_rows",
        "n_pos",
        F.col("cum_pos").cast("long").alias("cum_pos"),
        F.round(
            (F.col("cum_pos") * F.col("nt")).cast("double")
            / (F.col("cum_rows") * F.col("pt"))
            * 1e9
        )
        .cast("long")
        .alias("cum_lift_nanos"),
        F.round(F.col("cum_pos").cast("double") / F.col("pt") * 1e9)
        .cast("long")
        .alias("cum_gain_nanos"),
    )


@query(
    "onehot_encode",
    oracle="""
    SELECT c_custkey,
           CAST(c_mktsegment = 'AUTOMOBILE' AS BIGINT) AS seg_automobile,
           CAST(c_mktsegment = 'BUILDING' AS BIGINT) AS seg_building,
           CAST(c_mktsegment = 'FURNITURE' AS BIGINT) AS seg_furniture,
           CAST(c_mktsegment = 'HOUSEHOLD' AS BIGINT) AS seg_household,
           CAST(c_mktsegment = 'MACHINERY' AS BIGINT) AS seg_machinery,
           CAST(c_mktsegment NOT IN ('AUTOMOBILE', 'BUILDING', 'FURNITURE',
                                     'HOUSEHOLD', 'MACHINERY') AS BIGINT)
             AS seg_other
    FROM customer
    """,
)
def onehot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encoding of the market segment with a FIXED, ordered
    category list plus an explicit OTHER column — the
    schema-stability discipline real feature pipelines need (a pivot
    on observed values would let a new category silently change the
    output schema mid-stream; the closed list + overflow column keeps
    the feature vector width constant). Pure map-side projection —
    zero shuffles, pushdown-friendly.

    Scale shape: at training-pipeline widths the closed category list
    comes from a dictionary table compiled into the same CASE
    projection (codegen'd, one pass); never a runtime pivot over
    unbounded cardinality."""
    cats = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    cols = [
        (F.col("c_mktsegment") == c).cast("long").alias(f"seg_{c.lower()}")
        for c in cats
    ]
    other = (~F.col("c_mktsegment").isin(cats)).cast("long").alias("seg_other")
    return table(spark, sf_dir, "customer").select("c_custkey", *cols, other)


@query(
    "quantile_bucketize",
    oracle="""
    WITH ranked AS (
      SELECT c_custkey, c_acctbal,
             row_number() OVER (ORDER BY c_acctbal, c_custkey) - 1 AS rn,
             COUNT(*) OVER () AS n
      FROM customer
    ),
    b AS (SELECT c_custkey, c_acctbal, CAST(rn * 4 // n AS BIGINT) AS bucket
          FROM ranked)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(c_acctbal) AS lo,
           MAX(c_acctbal) AS hi,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
    FROM b GROUP BY bucket
    """,
)
def quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth quartile binning of account balance with per-bin
    edges and exact-decimal sums — the quantile-discretization pass
    (Spark's QuantileDiscretizer / feature binning) done exactly:
    bucket = rn*4 div n over the unique (value, key) order, so bins
    differ by at most one row and bin EDGES (min/max per bin) come
    out of the same aggregate rather than a separate percentile
    probe.

    Scale shape: the rank is bucketed_global_rank's two-pass form
    (balance-band buckets, partitioned in-bucket windows), then one
    map-side-combinable aggregate; at extreme scale bin edges from
    approx_percentile seed a broadcast CASE instead — this exact form
    is also the oracle for that approximation's error bound. Fully
    lazy — no driver count, no checkpoint."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = bucketed_global_rank(
        cust,
        F.floor(F.col("c_acctbal") / 1000).cast("long"),
        [F.col("c_acctbal"), F.col("c_custkey")],
    )
    b = ranked.select(
        "c_acctbal", F.expr("(pos - 1) * 4 div n_total").alias("bucket")
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
        F.sum(dec2("c_acctbal")).cast("double").alias("bal_sum"),
    )


@query(
    "confusion_threshold",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) FILTER (WHERE o_totalprice >= 150000
                                     AND o_orderstatus = 'F') AS BIGINT) AS tp,
             CAST(COUNT(*) FILTER (WHERE o_totalprice >= 150000
                                     AND o_orderstatus <> 'F') AS BIGINT) AS fp,
             CAST(COUNT(*) FILTER (WHERE o_totalprice < 150000
                                     AND o_orderstatus = 'F') AS BIGINT) AS fn,
             CAST(COUNT(*) FILTER (WHERE o_totalprice < 150000
                                     AND o_orderstatus <> 'F') AS BIGINT) AS tn
      FROM orders
    )
    SELECT tp, fp, fn, tn,
           CAST(ROUND(CAST(tp AS DOUBLE) / (tp + fp) * 1e9) AS BIGINT)
             AS precision_nanos,
           CAST(ROUND(CAST(tp AS DOUBLE) / (tp + fn) * 1e9) AS BIGINT)
             AS recall_nanos,
           CAST(ROUND(2.0 * tp / (2 * tp + fp + fn) * 1e9) AS BIGINT)
             AS f1_nanos,
           CAST(ROUND(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) * 1e9)
                AS BIGINT) AS accuracy_nanos
    FROM m
    """,
)
def confusion_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + precision/recall/F1/accuracy of the
    thresholded ranker (predict fulfilled when o_totalprice >=
    150000) — the point-estimate companion to `auc_exact` (whole
    curve) and `lift_gain_table` (decile sweep): the numbers a model
    card reports at the chosen operating point. The four cells are
    exact integer conditional counts from ONE pass; each derived rate
    is a single double expression over those exact integers, int-nanos
    quantized (F1 simplified to 2tp/(2tp+fp+fn) so it is one division,
    not a composition of rounded intermediates).

    Scale shape: one map-side-combinable aggregate producing a single
    row — the minimal possible plan; no shuffle of data rows beyond
    the 4-counter partial merge."""
    pred = F.col("o_totalprice") >= 150000
    y = F.col("o_orderstatus") == "F"
    cell = lambda c, n: F.count_if(c).cast("long").alias(n)  # noqa: E731
    m = table(spark, sf_dir, "orders").agg(
        cell(pred & y, "tp"),
        cell(pred & ~y, "fp"),
        cell(~pred & y, "fn"),
        cell(~pred & ~y, "tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    q = lambda e, n: F.round(e * 1e9).cast("long").alias(n)  # noqa: E731
    return m.select(
        "tp",
        "fp",
        "fn",
        "tn",
        q(tp.cast("double") / (tp + fp), "precision_nanos"),
        q(tp.cast("double") / (tp + fn), "recall_nanos"),
        q(F.lit(2.0) * tp / (2 * tp + fp + fn), "f1_nanos"),
        q((tp + tn).cast("double") / (tp + fp + fn + tn), "accuracy_nanos"),
    )


@query(
    "woe_iv",
    oracle="""
    WITH seg AS (
      SELECT c_mktsegment,
             CAST(COUNT(*) FILTER (WHERE c_acctbal >= 0) AS BIGINT) AS n_good,
             CAST(COUNT(*) FILTER (WHERE c_acctbal < 0) AS BIGINT) AS n_bad
      FROM customer GROUP BY c_mktsegment
    ),
    tot AS (
      SELECT CAST(SUM(n_good) AS BIGINT) AS tg, CAST(SUM(n_bad) AS BIGINT) AS tb
      FROM seg
    )
    SELECT c_mktsegment, n_good, n_bad,
           CAST(ROUND(ln(CAST((2 * n_good + 1) * tb AS DOUBLE)
                         / ((2 * n_bad + 1) * tg)) * 1e9) AS BIGINT)
             AS woe_nanos,
           CAST(ROUND((CAST(n_good AS DOUBLE) / tg - CAST(n_bad AS DOUBLE) / tb)
                      * ln(CAST((2 * n_good + 1) * tb AS DOUBLE)
                           / ((2 * n_bad + 1) * tg)) * 1e9) AS BIGINT)
             AS iv_nanos
    FROM seg, tot
    """,
)
def woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value of the market segment
    against solvency (acctbal >= 0) — the credit-scoring categorical
    strength measure (sibling of `chi2_association` and
    `target_encode`): WOE = ln((good_share)/(bad_share)) with
    add-half Laplace smoothing carried as EXACT integers by clearing
    the halves ((n+0.5)/t == (2n+1)/2t, and the 2s cancel inside the
    ratio), so the ln sees one ratio of exact integer products — the
    BM25/surprisal ln-parity precedent; the IV term multiplies the
    un-smoothed share gap back in, int-nanos quantized per segment so
    the total IV is summable downstream.

    Scale shape: one (segment) conditional-count aggregate, one 2-cell
    re-aggregate of that O(#segments) table broadcast back — never a
    shuffle of customer rows."""
    seg = (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count_if(F.col("c_acctbal") >= 0).cast("long").alias("n_good"),
            F.count_if(F.col("c_acctbal") < 0).cast("long").alias("n_bad"),
        )
    )
    tot = seg.agg(
        F.sum("n_good").cast("long").alias("tg"),
        F.sum("n_bad").cast("long").alias("tb"),
    )
    woe = F.log(
        ((2 * F.col("n_good") + 1) * F.col("tb")).cast("double")
        / ((2 * F.col("n_bad") + 1) * F.col("tg"))
    )
    gap = F.col("n_good").cast("double") / F.col("tg") - F.col("n_bad").cast(
        "double"
    ) / F.col("tb")
    return seg.crossJoin(F.broadcast(tot)).select(
        "c_mktsegment",
        "n_good",
        "n_bad",
        F.round(woe * 1e9).cast("long").alias("woe_nanos"),
        F.round(gap * woe * 1e9).cast("long").alias("iv_nanos"),
    )


@query(
    "mutual_information",
    oracle="""
    WITH obs AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat, COUNT(*) AS o
      FROM customer GROUP BY c_mktsegment, c_nationkey
    ),
    rt AS (SELECT seg, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY seg),
    ct AS (SELECT nat, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY nat),
    t AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    cells AS (
      SELECT CAST(ROUND(CAST(obs.o AS DOUBLE) / t.n
                        * ln(CAST(obs.o * t.n AS DOUBLE) / (rt.r * ct.c))
                        * 1e9) AS BIGINT) AS nanos
      FROM obs JOIN rt USING (seg) JOIN ct USING (nat), t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(nanos) AS BIGINT) AS mi_nanos,
           CAST(SUM(nanos) AS DOUBLE) / 1e9 AS mi_nats
    FROM cells
    """,
)
def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) of the (segment x nation) contingency
    table — chi2_association's information-theoretic twin, the feature
    -redundancy screen: MI = sum p(x,y) ln(p(x,y)/(p(x)p(y))), each
    cell evaluated as one double expression over exact integer counts
    (o*n / (r*c) keeps the ratio in integers until the ln) and
    int-nanos quantized before the cross-cell sum. Zero cells simply
    don't appear in the sparse aggregate — the 0 ln 0 = 0 convention
    for free.

    Scale shape: identical to chi2_association — one (seg, nat) count
    (map-side combinable), marginals re-aggregated from the tiny
    contingency table, broadcast scalar N."""
    obs = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rt = obs.groupBy("seg").agg(F.sum("o").cast("long").alias("r"))
    ct = obs.groupBy("nat").agg(F.sum("o").cast("long").alias("c"))
    t = obs.agg(F.sum("o").cast("long").alias("n"))
    nanos = F.round(
        F.col("o").cast("double")
        / F.col("n")
        * F.log((F.col("o") * F.col("n")).cast("double") / (F.col("r") * F.col("c")))
        * 1e9
    ).cast("long")
    cells = (
        obs.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "nat")
        .crossJoin(F.broadcast(t))
        .select(nanos.alias("nanos"))
    )
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("nanos").cast("long").alias("mi_nanos"),
        (F.sum("nanos").cast("double") / 1e9).alias("mi_nats"),
    )


@query(
    "corr_pairs",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
      FROM c GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      / sqrt(CAST(n * syy - sy * sy AS DOUBLE))
                      * 1e9) AS BIGINT) AS corr_nanos
    FROM s
    """,
)
def corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation of quantity vs extended price per
    return flag — the numeric feature-redundancy screen (drop one of
    two collinear features before training). Values become exact
    integer cents, the five moment sums accumulate in DECIMAL(38,0)
    (associative, order-independent — a double Σxy would hash-diverge
    between engines), and the correlation's numerator/denominator
    difference terms n*Sxy - Sx*Sy are formed IN EXACT ARITHMETIC so
    the classic catastrophic cancellation of the textbook formula
    never touches floating point; only the final ratio is double,
    int-nanos quantized.

    Scale shape: one map-side-combinable aggregate per group, output
    O(#groups) rows; decimal partial aggregation is codegen'd JVM-side
    (exact.py's discipline)."""
    d38 = "decimal(38,0)"
    x = (dec2("l_quantity") * 100).cast("long")
    y = (dec2("l_extendedprice") * 100).cast("long")
    c = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", x.alias("x"), y.alias("y")
    )
    xd, yd = F.col("x").cast(d38), F.col("y").cast(d38)
    s = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xd).cast(d38).alias("sx"),
        F.sum(yd).cast(d38).alias("sy"),
        F.sum(xd * F.col("x")).cast(d38).alias("sxx"),
        F.sum(yd * F.col("y")).cast(d38).alias("syy"),
        F.sum(xd * F.col("y")).cast(d38).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    dx = F.sqrt((n * F.col("sxx") - sx * sx).cast("double"))
    dy = F.sqrt((n * F.col("syy") - sy * sy).cast("double"))
    return s.select(
        "l_returnflag",
        "n",
        F.round(num / dx / dy * 1e9).cast("long").alias("corr_nanos"),
    )


@query(
    "iqr_outliers",
    oracle="""
    WITH ranked AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS pos,
             COUNT(*) OVER () AS n
      FROM orders
    ),
    q AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n,
             CAST(MIN(CASE WHEN pos = (n + 3) // 4 THEN pc END) AS BIGINT)
               AS q1c,
             CAST(MIN(CASE WHEN pos = (3 * n + 3) // 4 THEN pc END) AS BIGINT)
               AS q3c
      FROM ranked
    ),
    f AS (
      SELECT n, q1c, q3c,
             2 * q1c - 3 * (q3c - q1c) AS lo2,
             2 * q3c + 3 * (q3c - q1c) AS hi2
      FROM q
    )
    SELECT f.n,
           CAST(f.q1c AS DOUBLE) / 100 AS q1,
           CAST(f.q3c AS DOUBLE) / 100 AS q3,
           CAST(f.lo2 AS DOUBLE) / 200 AS lo_fence,
           CAST(f.hi2 AS DOUBLE) / 200 AS hi_fence,
           CAST(COUNT(*) FILTER (
                  WHERE 2 * CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                                 AS BIGINT) < f.lo2
                     OR 2 * CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                                 AS BIGINT) > f.hi2) AS BIGINT) AS n_outliers
    FROM orders o, f
    GROUP BY f.n, f.q1c, f.q3c, f.lo2, f.hi2
    """,
)
def iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census of order value: EXACT rank-based
    quartiles (value at rank ceil(n/4) / ceil(3n/4) over the unique
    (price, key) order) and the 1.5x IQR fences with DENOMINATORS
    CLEARED into integer cents (lo2 = 2*q1 - 3*IQR in cents, compare
    2*price against it) so the fence test is pure int64 on both
    engines — a half-cent fence can never flip a count via a last-ULP
    double (the target_encode denominator-clearing discipline); the
    surfaced fence columns are one double division of the same exact
    integers. The distribution-sanity pass a feature pipeline runs
    before clipping/winsorizing.

    Scale shape: quartile extraction is bucketed_global_rank's
    two-pass form filtered to two target ranks (never a driver collect
    of the column); the fence table is one row broadcast back into a
    second scan — doc_length_band's percentile-trim discipline."""
    pc = (dec2("o_totalprice") * 100).cast("long")
    orders = table(spark, sf_dir, "orders").select(
        pc.alias("pc"), "o_totalprice", "o_orderkey"
    )
    ranked = bucketed_global_rank(
        orders,
        F.floor(F.col("o_totalprice") / 60000).cast("long"),
        [F.col("o_totalprice"), F.col("o_orderkey")],
    )
    q1_pos = F.floor((F.col("n_total") + 3) / 4).cast("long")
    q3_pos = F.floor((3 * F.col("n_total") + 3) / 4).cast("long")
    q = (
        ranked.where((F.col("pos") == q1_pos) | (F.col("pos") == q3_pos))
        .select("pos", "n_total", "pc", q1_pos.alias("p1"), q3_pos.alias("p3"))
        .groupBy()
        .agg(
            F.max("n_total").cast("long").alias("n"),
            F.min(F.when(F.col("pos") == F.col("p1"), F.col("pc")))
            .cast("long")
            .alias("q1c"),
            # select on pos == p3 directly (NOT pos != p1): when n == 1
            # both target ranks collapse to the same row, and the oracle's
            # CASE still yields the value — `pos != p1` would yield NULL
            # and diverge (ADVICE r9).
            F.min(F.when(F.col("pos") == F.col("p3"), F.col("pc")))
            .cast("long")
            .alias("q3c"),
        )
    )
    iqr = F.col("q3c") - F.col("q1c")
    f = q.select(
        "n",
        "q1c",
        "q3c",
        (2 * F.col("q1c") - 3 * iqr).alias("lo2"),
        (2 * F.col("q3c") + 3 * iqr).alias("hi2"),
    )
    return (
        table(spark, sf_dir, "orders")
        .select(pc.alias("pc"))
        .crossJoin(F.broadcast(f))
        .groupBy("n", "q1c", "q3c", "lo2", "hi2")
        .agg(
            F.count_if(
                (2 * F.col("pc") < F.col("lo2")) | (2 * F.col("pc") > F.col("hi2"))
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "n",
            (F.col("q1c").cast("double") / 100).alias("q1"),
            (F.col("q3c").cast("double") / 100).alias("q3"),
            (F.col("lo2").cast("double") / 200).alias("lo_fence"),
            (F.col("hi2").cast("double") / 200).alias("hi_fence"),
            "n_outliers",
        )
    )


@query(
    "feature_hashing",
    oracle="""
    WITH feats AS (
      SELECT 'seg=' || c_mktsegment AS feat FROM customer
      UNION ALL
      SELECT 'nat=' || CAST(c_nationkey AS VARCHAR) AS feat FROM customer
    ),
    b AS (
      SELECT ('0x' || substr(md5(feat), 1, 8))::BIGINT % 32 AS bucket, feat
      FROM feats
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT feat) AS BIGINT) AS n_features,
           MIN(feat) AS first_feature
    FROM b GROUP BY bucket
    """,
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick for OPEN categorical vocabularies —
    onehot_encode's counterpart when the category set is unbounded
    (user agents, URLs, vendor ids): feature string -> md5 -> bucket
    in a fixed 32-wide space, so the feature vector width is constant
    without a dictionary. Emits the collision census per bucket
    (row count, distinct features, first feature) — the diagnostic
    that sizes the hash space (n_features > 1 = collision). The
    bucket hash is the portable hex->int md5 prefix (split_assign /
    spatial discipline), so assignment is engine-independent and
    stable under corpus growth.

    Scale shape: feature emission and bucketing are pure map-side
    expressions (a 2-wide stack per row); the only shuffle is the
    O(#buckets) census aggregate. At 100 TB the census runs on a
    sample; the bucket expression itself ships into the feature
    projection unchanged."""
    cust = table(spark, sf_dir, "customer")
    feats = cust.select(
        F.concat(F.lit("seg="), F.col("c_mktsegment")).alias("feat")
    ).unionAll(
        cust.select(
            F.concat(F.lit("nat="), F.col("c_nationkey").cast("string")).alias("feat")
        )
    )
    bucket = md5_int(F.col("feat")) % 32
    return (
        feats.select(bucket.alias("bucket"), "feat")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("feat").cast("long").alias("n_features"),
            F.min("feat").alias("first_feature"),
        )
    )


@query(
    "group_kfold",
    oracle="""
    WITH f AS (
      SELECT user_id, event_id,
             ('0x' || substr(md5('u' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 5 AS fold
      FROM events
    )
    SELECT fold,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM f GROUP BY fold
    """,
)
def group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware k-fold assignment: every event of a user lands in
    the SAME fold (fold = portable md5 hash of the user id, k=5) — the
    leakage guard split_assign's per-row split cannot give when rows
    of one entity are correlated (a user's events in both train and
    val folds leak behavior across the boundary; cf. sklearn
    GroupKFold). Assignment is content-stable: a grown corpus never
    reassigns an existing user. Emits the fold census (users, events)
    — balance verification before training.

    Scale shape: the fold is a pure per-row expression (no join to a
    user table, no shuffle to co-locate groups); the census is one
    map-side-combinable aggregate over 5 keys."""
    fold = md5_int("u", F.col("user_id")) % 5
    return (
        table(spark, sf_dir, "events")
        .select(fold.alias("fold"), "user_id")
        .groupBy("fold")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


@query(
    "mad_robust",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
             o_orderkey
      FROM orders
    ),
    r1 AS (
      SELECT c, row_number() OVER (ORDER BY c, o_orderkey) AS pos,
             COUNT(*) OVER () AS n
      FROM v
    ),
    m AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN pos = (n + 1) // 2 THEN c END)
                  + SUM(CASE WHEN pos = (n + 2) // 2 THEN c END) AS BIGINT)
               AS med2
      FROM r1
    ),
    d AS (
      SELECT ABS(2 * v.c - m.med2) AS dev2, v.o_orderkey, m.n, m.med2
      FROM v, m
    ),
    r2 AS (
      SELECT dev2, n, med2,
             row_number() OVER (ORDER BY dev2, o_orderkey) AS pos
      FROM d
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(med2) AS BIGINT) AS med2_cents,
           CAST(SUM(CASE WHEN pos = (n + 1) // 2 THEN dev2 END)
                + SUM(CASE WHEN pos = (n + 2) // 2 THEN dev2 END) AS BIGINT)
             AS mad4_cents,
           CAST(MAX(med2) AS DOUBLE) / 200 AS median,
           CAST(SUM(CASE WHEN pos = (n + 1) // 2 THEN dev2 END)
                + SUM(CASE WHEN pos = (n + 2) // 2 THEN dev2 END) AS DOUBLE)
             / 400 AS mad
    FROM r2
    """,
)
def mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median and median-absolute-deviation of order value — the
    robust location/scale pair (the outlier-resistant alternative to
    mean/stddev that iqr_outliers' fences complement). Both medians
    use the true even-n interpolation kept EXACT INTEGER by doubling:
    med2 = x_(k1) + x_(k2) in cents (k1 = k2 at odd n, so the same
    row is picked twice — no special case), deviations dev2 =
    |2x - med2| are half-cent integers, and mad4 = dev2_(k1) +
    dev2_(k2) is quarter-cent — every comparison and selection happens
    on int64; the surfaced median/mad are single divisions of the
    exact integers.

    Scale shape: TWO bucketed_global_rank two-pass ranks (value bands,
    then deviation bands — both partitioned in-bucket windows), each
    filtered to its two target positions; the 1-row median table
    broadcasts into the deviation pass. Never a driver collect of the
    column, never an unpartitioned data window — the iqr_outliers
    discipline applied twice."""
    pc = (dec2("o_totalprice") * 100).cast("long")
    v = table(spark, sf_dir, "orders").select(
        pc.alias("c"), "o_totalprice", "o_orderkey"
    )
    r1 = bucketed_global_rank(
        v,
        F.floor(F.col("o_totalprice") / 60000).cast("long"),
        [F.col("c"), F.col("o_orderkey")],
    )
    k1 = F.floor((F.col("n_total") + 1) / 2).cast("long")
    k2 = F.floor((F.col("n_total") + 2) / 2).cast("long")
    m = (
        r1.where((F.col("pos") == k1) | (F.col("pos") == k2))
        .select("pos", "n_total", "c", k1.alias("k1"), k2.alias("k2"))
        .groupBy()
        .agg(
            F.max("n_total").cast("long").alias("n"),
            (
                F.sum(F.when(F.col("pos") == F.col("k1"), F.col("c")))
                + F.sum(F.when(F.col("pos") == F.col("k2"), F.col("c")))
            )
            .cast("long")
            .alias("med2"),
        )
    )
    # eager checkpoint of the 1-row median: the second rank pass fans m
    # out into its counts/offsets/total branches, and without the cut
    # each branch would re-embed (and re-run) the ENTIRE first pass
    # (chi2_association's tiny-aggregate checkpoint discipline)
    m = m.localCheckpoint(eager=True)
    d = v.crossJoin(F.broadcast(m)).select(
        F.abs(2 * F.col("c") - F.col("med2")).alias("dev2"),
        "o_orderkey",
        "n",
        "med2",
    )
    r2 = bucketed_global_rank(
        d,
        F.expr("dev2 div 10000000"),
        [F.col("dev2"), F.col("o_orderkey")],
    )
    return (
        r2.where((F.col("pos") == k1) | (F.col("pos") == k2))
        .select("pos", "dev2", "n", "med2", k1.alias("k1"), k2.alias("k2"))
        .groupBy()
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("med2").cast("long").alias("med2_cents"),
            (
                F.sum(F.when(F.col("pos") == F.col("k1"), F.col("dev2")))
                + F.sum(F.when(F.col("pos") == F.col("k2"), F.col("dev2")))
            )
            .cast("long")
            .alias("mad4_cents"),
        )
        .select(
            "n",
            "med2_cents",
            "mad4_cents",
            (F.col("med2_cents").cast("double") / 200).alias("median"),
            (F.col("mad4_cents").cast("double") / 400).alias("mad"),
        )
    )


_PCT_CUTS = (10, 25, 50, 75, 90, 99)


def _pct_oracle() -> str:
    cases = ",\n           ".join(
        f"CAST(MIN(CASE WHEN pos = ({p} * n + 99) // 100 THEN pc END) AS BIGINT)"
        f" AS p{p}_cents" for p in _PCT_CUTS
    )
    return f"""
    WITH ranked AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS pos,
             COUNT(*) OVER () AS n
      FROM orders
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           {cases}
    FROM ranked
    """


@query("percentile_summary", oracle=_pct_oracle())
def percentile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p10/p25/p50/p75/p90/p99 of order value from ONE two-pass
    rank — the N-cut generalization of iqr_outliers' quartile probe
    (nearest-rank percentiles: value at rank ceil(p*n/100) over the
    unique (value, key) order), the distribution summary a feature
    card reports. Cut list drives BOTH the Spark builder and the
    oracle (the _FUNNEL_STEPS one-constant discipline). All
    selections are int64 cents; no interpolation (mad_robust shows
    the interpolating form where it matters).

    Scale shape: one bucketed_global_rank (value-band buckets,
    partitioned in-bucket windows) filtered to six target ranks, one
    single-row aggregate — never a percentile() over raw doubles,
    never a driver collect; at extreme scale the same plan serves
    as the exactness oracle for approx_percentile's error bound."""
    pcc = (dec2("o_totalprice") * 100).cast("long")
    v = table(spark, sf_dir, "orders").select(
        pcc.alias("pc"), "o_totalprice", "o_orderkey"
    )
    ranked = bucketed_global_rank(
        v,
        F.floor(F.col("o_totalprice") / 60000).cast("long"),
        [F.col("pc"), F.col("o_orderkey")],
    )
    targets = [
        F.floor((p * F.col("n_total") + 99) / 100).cast("long").alias(f"t{p}")
        for p in _PCT_CUTS
    ]
    hit = ranked.select("pos", "n_total", "pc", *targets).where(
        " OR ".join(f"pos = t{p}" for p in _PCT_CUTS)
    )
    aggs = [
        F.min(F.when(F.col("pos") == F.col(f"t{p}"), F.col("pc")))
        .cast("long")
        .alias(f"p{p}_cents")
        for p in _PCT_CUTS
    ]
    return hit.groupBy().agg(F.max("n_total").cast("long").alias("n"), *aggs)


@query(
    "ols_multi",
    oracle="""
    WITH c AS (
      SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS x1,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x1 AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(SUM(CAST(x2 AS HUGEINT)) AS HUGEINT) AS s2,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
             CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
             CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
             CAST(SUM(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
             CAST(SUM(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y
      FROM c
    ),
    ctr AS (
      SELECT n, s1, s2, sy,
             n * s11 - s1 * s1 AS c11,
             n * s22 - s2 * s2 AS c22,
             n * s12 - s1 * s2 AS c12,
             n * s1y - s1 * sy AS c1y,
             n * s2y - s2 * sy AS c2y
      FROM m
    )
    SELECT n,
           CAST(ROUND(CAST(c1y * c22 - c2y * c12 AS DOUBLE)
                      / CAST(c11 * c22 - c12 * c12 AS DOUBLE) * 1e6)
                AS BIGINT) AS beta1_micros,
           CAST(ROUND(CAST(c2y * c11 - c1y * c12 AS DOUBLE)
                      / CAST(c11 * c22 - c12 * c12 AS DOUBLE) * 1e6)
                AS BIGINT) AS beta2_micros,
           CAST(ROUND((CAST(sy AS DOUBLE)
                       - CAST(c1y * c22 - c2y * c12 AS DOUBLE)
                         / CAST(c11 * c22 - c12 * c12 AS DOUBLE)
                         * CAST(s1 AS DOUBLE)
                       - CAST(c2y * c11 - c1y * c12 AS DOUBLE)
                         / CAST(c11 * c22 - c12 * c12 AS DOUBLE)
                         * CAST(s2 AS DOUBLE))
                      / CAST(n AS DOUBLE) * 1e2) AS BIGINT) AS intercept_tenth_cents
    FROM ctr
    """,
)
def ols_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS via the normal equations solved in closed
    form (2x2 Cramer on CENTERED moments): extended price (cents) on
    quantity (units) and discount (hundredths) — the multi-feature
    generalization of trend_ols (timeseries.py:716). The nine moment
    sums accumulate exactly (DECIMAL(38,0) / HUGEINT); centered
    moments are formed with denominators cleared (Cab = n*Sab - Sa*Sb,
    all exact — the corr_pairs cancellation discipline), and the
    Cramer determinants multiply centered moments IN EXACT ARITHMETIC
    (magnitudes ~1e31 at sf0.1, comfortably inside 38 digits /
    HUGEINT); betas and the intercept are final double ratios of
    identical exact integers, int-quantized.

    Scale shape: ONE map-side-combinable nine-sum aggregate over the
    scan — the entire regression is a single reduce to one row; adding
    regressors grows the moment count quadratically but never adds a
    shuffle (the classic 100 TB closed-form-regression plan)."""
    d38 = "decimal(38,0)"
    c = table(spark, sf_dir, "lineitem").select(
        dec2("l_quantity").cast("long").alias("x1"),
        (dec2("l_discount") * 100).cast("long").alias("x2"),
        (dec2("l_extendedprice") * 100).cast("long").alias("y"),
    )
    x1d, x2d, yd = (F.col(k).cast(d38) for k in ("x1", "x2", "y"))
    m = c.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1d).cast(d38).alias("s1"),
        F.sum(x2d).cast(d38).alias("s2"),
        F.sum(yd).cast(d38).alias("sy"),
        F.sum(x1d * F.col("x1")).cast(d38).alias("s11"),
        F.sum(x2d * F.col("x2")).cast(d38).alias("s22"),
        F.sum(x1d * F.col("x2")).cast(d38).alias("s12"),
        F.sum(x1d * F.col("y")).cast(d38).alias("s1y"),
        F.sum(x2d * F.col("y")).cast(d38).alias("s2y"),
    )
    n = F.col("n")
    ctr = m.select(
        "n",
        "s1",
        "s2",
        "sy",
        (n * F.col("s11") - F.col("s1") * F.col("s1")).alias("c11"),
        (n * F.col("s22") - F.col("s2") * F.col("s2")).alias("c22"),
        (n * F.col("s12") - F.col("s1") * F.col("s2")).alias("c12"),
        (n * F.col("s1y") - F.col("s1") * F.col("sy")).alias("c1y"),
        (n * F.col("s2y") - F.col("s2") * F.col("sy")).alias("c2y"),
    )
    det = (F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")).cast("double")
    b1 = (F.col("c1y") * F.col("c22") - F.col("c2y") * F.col("c12")).cast("double") / det
    b2 = (F.col("c2y") * F.col("c11") - F.col("c1y") * F.col("c12")).cast("double") / det
    icpt = (
        F.col("sy").cast("double")
        - b1 * F.col("s1").cast("double")
        - b2 * F.col("s2").cast("double")
    ) / n.cast("double")
    return ctr.select(
        "n",
        F.round(b1 * 1e6).cast("long").alias("beta1_micros"),
        F.round(b2 * 1e6).cast("long").alias("beta2_micros"),
        F.round(icpt * 1e2).cast("long").alias("intercept_tenth_cents"),
    )


@query(
    "winsorized_mean",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment, c_custkey,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
      FROM customer
    ),
    ranked AS (
      SELECT pc, row_number() OVER (ORDER BY pc, c_custkey) AS pos,
             COUNT(*) OVER () AS n
      FROM c
    ),
    fences AS (
      SELECT CAST(MIN(CASE WHEN pos = (5 * n + 99) // 100 THEN pc END)
                  AS BIGINT) AS lo,
             CAST(MIN(CASE WHEN pos = (95 * n + 99) // 100 THEN pc END)
                  AS BIGINT) AS hi
      FROM ranked
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(CAST(SUM(c.pc) AS HUGEINT) AS DOUBLE)
                      / COUNT(*) * 1e4) AS BIGINT) AS mean_raw_micros,
           CAST(ROUND(CAST(CAST(SUM(LEAST(GREATEST(c.pc, f.lo), f.hi))
                                AS HUGEINT) AS DOUBLE)
                      / COUNT(*) * 1e4) AS BIGINT) AS mean_winsor_micros,
           CAST(COUNT(*) FILTER (WHERE c.pc < f.lo OR c.pc > f.hi)
                AS BIGINT) AS n_clipped
    FROM c, fences f
    GROUP BY c.c_mktsegment
    """,
)
def winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip account balances at the exact global
    p05/p95 (nearest-rank over the unique (cents, custkey) order —
    percentile_summary's probe) and report per-segment raw vs
    winsorized means plus the clipped-row census — the robust-mean
    transform a feature pipeline applies where iqr_outliers only
    counts. Fences and clipped values are pure int64 cents (a
    half-cent fence can never flip a LEAST/GREATEST via a last-ULP
    double); means are one double division of exact integer sums,
    int-micros quantized.

    Scale shape: one bucketed_global_rank two-pass for the two fence
    ranks, the 1-row fence table broadcast into a second scan, one
    map-side-combinable per-segment aggregate — the iqr_outliers /
    doc_length_band percentile-trim plan."""
    pc = (dec2("c_acctbal") * 100).cast("long")
    c = table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_custkey", pc.alias("pc")
    )
    ranked = bucketed_global_rank(
        c.select("pc", "c_custkey"),
        F.floor(F.col("pc") / F.lit(100_000)).cast("long"),
        [F.col("pc"), F.col("c_custkey")],
    )
    fences = ranked.agg(
        F.min(F.when(F.col("pos") == F.expr("(5 * n_total + 99) div 100"), F.col("pc")))
        .cast("long")
        .alias("lo"),
        F.min(F.when(F.col("pos") == F.expr("(95 * n_total + 99) div 100"), F.col("pc")))
        .cast("long")
        .alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("pc"), F.col("lo")), F.col("hi"))
    return (
        c.crossJoin(F.broadcast(fences))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("pc").cast("double") / F.count(F.lit(1)) * 1e4)
            .cast("long")
            .alias("mean_raw_micros"),
            F.round(F.sum(clipped).cast("double") / F.count(F.lit(1)) * 1e4)
            .cast("long")
            .alias("mean_winsor_micros"),
            F.count_if((F.col("pc") < F.col("lo")) | (F.col("pc") > F.col("hi")))
            .cast("long")
            .alias("n_clipped"),
        )
    )


@query(
    "impute_group_median",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             CASE WHEN instr('0123456789abcdef',
                             substr(md5('imp' || CAST(event_id AS VARCHAR)), 1, 1))
                       - 1 = 0
                  THEN 1 ELSE 0 END AS miss
      FROM events
    ),
    ranked AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS pos,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM e WHERE miss = 0
    ),
    med AS (
      SELECT event_type,
             CAST(MIN(CASE WHEN pos = (n + 1) // 2 THEN cents END)
                  AS BIGINT) AS med_cents
      FROM ranked GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CAST(e.miss AS BIGINT) AS was_missing,
           CAST(CASE WHEN e.miss = 1 THEN m.med_cents ELSE e.cents END
                AS BIGINT) AS cents_imputed,
           CAST(CASE WHEN e.miss = 1 THEN m.med_cents ELSE e.cents END
                AS DOUBLE) / 100 AS value_imputed
    FROM e JOIN med m USING (event_type)
    """,
)
def impute_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median imputation: a deterministic ~1/16 of event values
    is masked missing (portable md5 nibble assignment, the
    ab_test_zscore hashing), and each masked value is filled with its
    event type's EXACT lower median of the surviving values (value at
    rank (n+1) div 2 over the unique (cents, event_id) order) — the
    imputation pass a feature pipeline runs before scaling, with the
    missing flag kept as a model feature. All selection and fill math
    is int64 cents; the surfaced double is derived from the integer on
    both engines.

    Scale shape: the median pass is a window PARTITIONED BY group
    (distributed across types; at 100 TB a heavy group upgrades to
    bucketed_global_rank within the group); the O(#groups) median
    table broadcasts back into the scan — no global window, no
    driver collect."""
    nib = md5_int("imp", F.col("event_id"), digits=1)
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (dec2("value") * 100).cast("long").alias("cents"),
        F.when(nib == 0, F.lit(1)).otherwise(F.lit(0)).alias("miss"),
    )
    wr = W.partitionBy("event_type").orderBy("cents", "event_id")
    ranked = (
        e.where(F.col("miss") == 0)
        .withColumn("pos", F.row_number().over(wr))
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("event_type")))
    )
    med = ranked.groupBy("event_type").agg(
        F.min(F.when(F.col("pos") == F.expr("(n + 1) div 2"), F.col("cents")))
        .cast("long")
        .alias("med_cents")
    )
    filled = F.when(F.col("miss") == 1, F.col("med_cents")).otherwise(F.col("cents"))
    return e.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        F.col("miss").cast("long").alias("was_missing"),
        filled.cast("long").alias("cents_imputed"),
        (filled.cast("double") / 100).alias("value_imputed"),
    )


@query(
    "weighted_median",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    c AS (
      SELECT flag, cents, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY cents) AS cum,
             SUM(w) OVER (PARTITION BY flag) AS tot
      FROM g
    )
    SELECT flag,
           CAST(MIN(CASE WHEN 2 * cum >= tot THEN cents END) AS BIGINT)
             AS wmedian_cents,
           CAST(MAX(tot) AS BIGINT) AS total_weight
    FROM c GROUP BY flag
    """,
)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median per segment (quantity-weighted price —
    the robust location statistic when rows carry unequal mass; the
    unweighted forms live in mad_robust / percentile_summary): the
    lower weighted median is the smallest value whose cumulative
    weight reaches half the total, found with one cumulative window
    OVER AN AGGREGATE — values are first merged per (segment, cents),
    so the window input is the distinct-value table, not the raw scan
    (the auc_exact sweep-allowed shape), and the window is partitioned
    by segment. Everything is int64 cents/quantities; the half-total
    comparison is the cleared-denominator form 2*cum >= tot, so no
    division ever happens."""
    li = table(spark, sf_dir, "lineitem")
    g = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("w"))
    )
    c = g.select(
        "flag",
        "cents",
        F.sum("w").over(W.partitionBy("flag").orderBy("cents")).alias("cum"),
        F.sum("w").over(W.partitionBy("flag")).alias("tot"),
    )
    return c.groupBy("flag").agg(
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("cents")))
        .cast("long")
        .alias("wmedian_cents"),
        F.max("tot").cast("long").alias("total_weight"),
    )


@query(
    "conformal_interval",
    oracle="""
    WITH o AS (
      SELECT o.o_orderkey AS k, c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             ('0x' || substr(md5('conf' || CAST(o.o_orderkey AS VARCHAR)), 1, 1))::BIGINT
               AS nib
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    mu AS (
      SELECT seg, pri,
             CAST((CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) * 1000000)
                  // COUNT(*) AS BIGINT) AS mean_micros
      FROM o WHERE nib < 8 GROUP BY seg, pri
    ),
    cal AS (
      SELECT o.k, abs(o.cents * 1000000 - mu.mean_micros) AS r
      FROM o JOIN mu ON mu.seg = o.seg AND mu.pri = o.pri
      WHERE o.nib BETWEEN 8 AND 11
    ),
    ranked AS (
      SELECT r, row_number() OVER (ORDER BY r, k) AS pos,
             COUNT(*) OVER () AS n
      FROM cal
    ),
    q AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n_cal,
             CAST(MIN(CASE WHEN pos = (9 * n + 18) // 10 THEN r END)
                  AS BIGINT) AS qhat_micros
      FROM ranked
    ),
    tst AS (
      SELECT o.k, abs(o.cents * 1000000 - mu.mean_micros) AS r
      FROM o JOIN mu ON mu.seg = o.seg AND mu.pri = o.pri
      WHERE o.nib >= 12
    )
    SELECT q.n_cal,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           q.qhat_micros,
           CAST((CAST(SUM(CASE WHEN tst.r <= q.qhat_micros THEN 1 ELSE 0 END)
                      AS HUGEINT) * 1000000000) // COUNT(*) AS BIGINT)
             AS coverage_nanos
    FROM tst, q
    GROUP BY q.n_cal, q.qhat_micros
    """,
)
def conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction over order values: a group-mean
    predictor (customer segment x order priority, fit on the md5 'conf'
    train split, nibble < 8), the 90% conformal quantile qhat = the
    absolute-residual value at EXACT rank ceil(0.9 * (n_cal + 1)) over
    the calibration split (nibble 8-11), and the realized coverage of
    |y - yhat| <= qhat on the held-out test split (nibble >= 12) — the
    distribution-free uncertainty wrapper modern ML pipelines bolt onto
    any point predictor, and the audit that the promised >=90% marginal
    coverage actually holds. Everything is integer micros: group means
    are (sum*1e6) div n (positive, trunc == floor), residuals are
    int64, the quantile is an order statistic (no interpolation), and
    coverage is (covered * 1e9) div n_test.

    Scale shape (100 TB): the predictor table is O(#groups) and
    broadcast back into the scan; the calibration rank pass is the
    bucketed two-pass form (signed-log2 residual bands — never one
    WindowExec partition); qhat is a 1-row broadcast; the coverage
    pass is one map-side-combinable aggregate. Split membership is a
    per-row hash — no shuffle to assign."""
    nib = md5_int("conf", F.col("k"), digits=1)
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        "o_custkey",
        F.col("o_orderpriority").alias("pri"),
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    o = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select("k", "seg", "pri", "cents")
        .withColumn("nib", nib)
    )
    mu = (
        o.where(F.col("nib") < 8)
        .groupBy("seg", "pri")
        .agg(
            F.expr(
                "(cast(sum(cast(cents as decimal(38,0))) as decimal(38,0)) * 1000000)"
                " div count(*)"
            )
            .cast("long")
            .alias("mean_micros")
        )
    )
    resid = F.abs(F.col("cents") * 1000000 - F.col("mean_micros")).alias("r")
    cal = (
        o.where((F.col("nib") >= 8) & (F.col("nib") <= 11))
        .join(F.broadcast(mu), ["seg", "pri"])
        .select("k", resid)
    )
    ranked = bucketed_global_rank(
        cal,
        F.expr("length(bin(r div 1000 + 1)) - 1"),
        [F.col("r"), F.col("k")],
    )
    q = ranked.agg(
        F.max("n_total").cast("long").alias("n_cal"),
        F.min(
            F.when(
                F.col("pos") == F.expr("(9 * n_total + 18) div 10"), F.col("r")
            )
        )
        .cast("long")
        .alias("qhat_micros"),
    )
    tst = (
        o.where(F.col("nib") >= 12)
        .join(F.broadcast(mu), ["seg", "pri"])
        .select(resid)
    )
    return (
        tst.crossJoin(F.broadcast(q))
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.max("qhat_micros").alias("qhat_micros"),
            F.expr(
                "(cast(sum(case when r <= qhat_micros then 1 else 0 end)"
                " as decimal(38,0)) * 1000000000) div count(*)"
            )
            .cast("long")
            .alias("coverage_nanos"),
        )
    )


@query(
    "benford_deviation",
    oracle="""
    WITH o AS (
      SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                               AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
    ),
    cnt AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM o GROUP BY digit),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM cnt)
    SELECT cnt.digit, cnt.n_obs,
           CAST(ROUND(log10(1.0 + 1.0 / cnt.digit) * tot.n * 1e9) AS BIGINT)
             AS expected_nanos,
           CAST(cnt.n_obs * 1000000000
                - CAST(ROUND(log10(1.0 + 1.0 / cnt.digit) * tot.n * 1e9) AS BIGINT)
                AS BIGINT) AS dev_nanos
    FROM cnt, tot
    """,
)
def benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order amounts: observed first-significant-
    digit counts vs the expected n*log10(1 + 1/d) — the classic
    fabricated-numbers / data-quality screen (synthetic or truncated
    money columns drift from Benford long before any schema check
    fails). The first digit is taken from the exact integer cents'
    decimal string (both engines render bigints identically — no float
    formatting exposure); the expected count is one log10 per digit,
    int-nanos quantized (STATUS ln/log rule), scaled by the exact total.

    Scale shape (100 TB): a per-row substring, one map-side-combinable
    9-group aggregate, and a 1-row broadcast total — the minimal
    two-aggregate plan. Output is 9 rows regardless of input size."""
    digit = F.substring(
        (dec2("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    cnt = (
        table(spark, sf_dir, "orders")
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    tot = cnt.agg(F.sum("n_obs").cast("long").alias("n"))
    expected = F.round(
        F.log10(1.0 + 1.0 / F.col("digit")) * F.col("n") * 1e9
    ).cast("long")
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            expected.alias("expected_nanos"),
            (F.col("n_obs") * F.lit(1000000000) - expected).alias("dev_nanos"),
        )
    )


@query(
    "wasserstein_1d_drift",
    oracle="""
    WITH o AS (
      SELECT CASE WHEN ('0x' || substr(md5('w1' || CAST(o_orderkey AS VARCHAR)), 1, 1))::BIGINT < 8
                  THEN 1 ELSE 0 END AS a,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ),
    v AS (
      SELECT cents,
             CAST(SUM(a) AS BIGINT) AS ca,
             CAST(COUNT(*) - SUM(a) AS BIGINT) AS cb
      FROM o GROUP BY cents
    ),
    r AS (
      SELECT cents,
             CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER w AS BIGINT) AS cum_b,
             CAST(row_number() OVER (ORDER BY cents) AS BIGINT) AS pos
      FROM v WINDOW w AS (ORDER BY cents)
    ),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      FROM v
    ),
    terms AS (
      SELECT abs(CAST(c.cum_a AS HUGEINT) * tot.nb - CAST(c.cum_b AS HUGEINT) * tot.na)
             * (n.cents - c.cents) AS term
      FROM r c JOIN r n ON n.pos = c.pos + 1, tot
    )
    SELECT tot.na AS n_a, tot.nb AS n_b,
           CAST((CAST(COALESCE(SUM(term), 0) AS HUGEINT) * 1000000)
                // (CAST(tot.na AS HUGEINT) * tot.nb) AS BIGINT)
             AS w1_microcents
    FROM terms, tot GROUP BY tot.na, tot.nb
    """,
)
def wasserstein_1d_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein (earth-mover) distance between the md5
    A/B halves of the order-value distribution: W1 = integral
    |F_A - F_B| dx over the step CDFs, i.e. per consecutive distinct
    value sum |cumA*nB - cumB*nA| * gap with the common denominator
    nA*nB cleared — every term an exact integer, so the hash-sensitive
    magnitude-aware drift metric (PSI and KS ignore HOW FAR mass moved;
    W1 is the one that prices it) is bit-identical across engines,
    surfaced once as micro-cents.

    Scale shape (100 TB): one hash aggregate to O(#distinct values);
    ONE bucketed_prefix_sums pass produces BOTH cumulative counts AND
    the position (running +1) — never an unpartitioned window; the
    consecutive-value gap is a pos/pos+1 equi-join on the same
    aggregate (no lead() across bucket boundaries); one final
    map-side-combinable reduction."""
    from ..functions.ranking import bucketed_prefix_sums

    nib = md5_int("w1", F.col("o_orderkey"), digits=1)
    o = table(spark, sf_dir, "orders").select(
        F.when(nib < 8, 1).otherwise(0).alias("a"),
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
    )
    v = o.groupBy("cents").agg(
        F.sum("a").cast("long").alias("ca"),
        (F.count(F.lit(1)) - F.sum("a")).cast("long").alias("cb"),
    )
    r = bucketed_prefix_sums(
        v,
        F.expr("cents div 100000"),
        [F.col("cents")],
        {"cum_a": F.col("ca"), "cum_b": F.col("cb"), "pos": F.lit(1)},
    )
    tot = v.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    cur = r.select("cents", "cum_a", "cum_b", "pos")
    nxt = r.select(F.col("pos").alias("npos"), F.col("cents").alias("ncents"))
    terms = (
        cur.join(nxt, F.col("npos") == F.col("pos") + 1)
        .crossJoin(F.broadcast(tot))
        .select(
            (
                F.abs(
                    F.col("cum_a").cast("decimal(38,0)") * F.col("nb")
                    - F.col("cum_b").cast("decimal(38,0)") * F.col("na")
                )
                * (F.col("ncents") - F.col("cents"))
            ).alias("term")
        )
    )
    return (
        terms.agg(
            F.coalesce(F.sum("term"), F.lit(0)).cast("decimal(38,0)").alias("s")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.expr("(s * 1000000) div (cast(na as decimal(38,0)) * nb)")
            .cast("long")
            .alias("w1_microcents"),
        )
    )


@query(
    "quantile_normalize",
    oracle="""
    WITH a AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS a_cents
      FROM orders
    ),
    ra AS (
      SELECT o_orderkey, a_cents,
             row_number() OVER (ORDER BY a_cents, o_orderkey) AS pos
      FROM a
    ),
    b AS (
      SELECT o_orderkey,
             CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) * 100 AS b_cents
      FROM orders
    ),
    rb AS (
      SELECT b_cents,
             row_number() OVER (ORDER BY b_cents, o_orderkey) AS pos
      FROM b
    )
    SELECT ra.o_orderkey, CAST(ra.pos AS BIGINT) AS pos, ra.a_cents,
           rb.b_cents,
           ra.a_cents + rb.b_cents AS qnorm_x2_cents
    FROM ra JOIN rb ON rb.pos = ra.pos
    """,
)
def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION across two feature columns — the
    rank-based distribution-matching transform (microarray/genomics
    classic, and the feature-alignment step before mixing features
    with wildly different marginals): each row's feature value is
    replaced by the mean, across columns, of the order statistics at
    that row's rank. Column A is order value in cents; column B is
    the order date as epoch-day pseudo-cents (deliberately alien
    units — the transform's point is to erase marginal differences).
    The surfaced value is the x2 SUM of the two order statistics so
    it stays exact int64 (the attribution_linear money discipline:
    never divide ints by 2 and hash the float).

    Scale shape (100 TB): each column's global rank is
    `bucketed_global_rank`'s two-pass band-bucketed form (value band
    for cents, 32-day band for days — monotone non-null buckets, no
    unpartitioned window anywhere); the final alignment is ONE
    equi-join on rank position (both sides already shuffled by pos'
    parent keys; the join is the only row-sized shuffle beyond the
    ranks themselves)."""
    orders = table(spark, sf_dir, "orders")
    a = orders.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("a_cents"),
    )
    ra = bucketed_global_rank(
        a,
        F.expr("a_cents div 1000000"),
        [F.col("a_cents"), F.col("o_orderkey")],
    ).select("o_orderkey", "a_cents", "pos")
    b = orders.select(
        "o_orderkey",
        F.expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT) * 100").alias("b_cents"),
    )
    rb = bucketed_global_rank(
        b,
        F.expr("b_cents div 3200"),
        [F.col("b_cents"), F.col("o_orderkey")],
    ).select(F.col("b_cents"), F.col("pos").alias("pos_b"))
    return (
        ra.join(rb, F.col("pos") == F.col("pos_b"))
        .select(
            "o_orderkey",
            "pos",
            "a_cents",
            "b_cents",
            (F.col("a_cents") + F.col("b_cents")).cast("long").alias("qnorm_x2_cents"),
        )
    )


@query(
    "adversarial_validation",
    oracle="""
    WITH lab AS (
      SELECT o_totalprice AS score,
             CASE WHEN ('0x' || substr(md5('av' || CAST(o_orderkey AS VARCHAR)), 1, 1))::BIGINT < 12
                  THEN 0 ELSE 1 END AS is_test
      FROM orders
    ),
    s AS (
      SELECT score,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(is_test) AS BIGINT) AS pos
      FROM lab GROUP BY score
    ),
    r AS (
      SELECT cnt, pos,
             SUM(cnt) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) - cnt AS bef
      FROM s
    ),
    agg AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS n_test,
             CAST(SUM(cnt - pos) AS BIGINT) AS n_train,
             CAST(SUM(pos * (2 * bef + cnt + 1)) AS BIGINT) AS two_rank_pos
      FROM r
    )
    SELECT n_test, n_train,
           CAST(two_rank_pos - n_test * (n_test + 1) AS BIGINT) AS u2,
           CAST(ABS(CAST(two_rank_pos - n_test * (n_test + 1) AS DOUBLE)
                    / (2.0 * n_test * n_train) - 0.5) * 2 AS DOUBLE)
             AS separability
    FROM agg
    """,
)
def adversarial_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADVERSARIAL VALIDATION — the leakage/shift check run before
    trusting a train/test split: how well does a feature distinguish
    the test rows from the train rows? A sound random split is
    indistinguishable (AUC ~ 0.5); drift or leakage shows up as
    separability >> 0. Here the split is the md5 'av'-salted 75/25
    assignment (first hex nibble < 12, i.e. 12/16 of keys train —
    the split_assign discipline) and the probe feature is
    order value; the readout is the tie-aware exact Mann-Whitney AUC
    (`auc_exact`'s 2x-scaled-rank machinery with the split flag as the
    label) folded to separability = 2*|AUC - 1/2|. Because the md5
    split is genuinely content-random, the expected separability is ~0
    — the null calibration of the audit, pinned in tests.

    Scale shape: identical to auc_exact — per-score histogram (one
    map-side-combinable aggregate), bucketed prefix sums for the
    cumulative rank, one 1-row reduction. No unpartitioned window."""
    is_test = md5_int("av", F.col("o_orderkey"), digits=1) >= 12
    s = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_totalprice").alias("score"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.count(F.when(is_test, 1)).cast("long").alias("pos"),
        )
    )
    r = bucketed_prefix_sum(
        s,
        F.floor(F.col("score") / 10000).cast("long"),
        [F.col("score")],
        F.col("cnt"),
        "cum",
    ).withColumn("bef", F.col("cum") - F.col("cnt"))
    agg = r.agg(
        F.sum("pos").cast("long").alias("n_test"),
        F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("n_train"),
        F.sum(F.col("pos") * (2 * F.col("bef") + F.col("cnt") + 1))
        .cast("long")
        .alias("two_rank_pos"),
    )
    return agg.select(
        "n_test",
        "n_train",
        (F.col("two_rank_pos") - F.col("n_test") * (F.col("n_test") + 1))
        .cast("long")
        .alias("u2"),
        F.expr(
            "CAST(ABS(CAST(two_rank_pos - n_test * (n_test + 1) AS DOUBLE)"
            " / (2.0 * n_test * n_train) - 0.5) * 2 AS DOUBLE)"
        ).alias("separability"),
    )


@query(
    "feature_pit_join",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_ns(ts) // 1000 AS us,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    merged AS (
      SELECT user_id, event_id, us,
             0 AS kind, 0 AS cnt_inc, 0 AS cents_inc
      FROM e WHERE event_type = 'view'
      UNION ALL
      SELECT user_id, event_id, us,
             1 AS kind, 1 AS cnt_inc, cents AS cents_inc
      FROM e WHERE event_type = 'purchase'
    ),
    carried AS (
      SELECT user_id, event_id, us, kind,
             CAST(SUM(cnt_inc) OVER w AS BIGINT) AS n_prior_purchases,
             CAST(SUM(cents_inc) OVER w AS BIGINT) AS prior_spend_cents
      FROM merged
      WINDOW w AS (PARTITION BY user_id ORDER BY us, kind, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, us, n_prior_purchases, prior_spend_cents
    FROM carried WHERE kind = 0
    """,
)
def feature_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature join — the leakage-free feature-store
    lookup (Feast/Tecton's core semantics): every 'view' event (the
    training example) is enriched with the user's RUNNING purchase
    features (count, spend) as of strictly before the example's
    timestamp. Unlike `join_asof` (latest single event), the features
    are running AGGREGATES, and the implementation never joins at
    all: updates and queries are UNIONED into one per-user timeline,
    cumulative sums carry the state forward, and query rows (sorted
    BEFORE same-microsecond updates, so an equal-timestamp purchase
    is never visible — the strict-before contract that kills label
    leakage) read the feature value for free.

    Scale shape: ONE user-keyed shuffle serves the whole enrichment —
    the merge-then-window form replaces the per-feature as-of join
    fan-out a naive feature store does (k features = k joins); here k
    features are k running columns in the same window pass."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        (dec2("value") * 100).cast("long").alias("cents"),
    )
    q = e.where(F.col("event_type") == "view").select(
        "user_id",
        "event_id",
        "us",
        F.lit(0).alias("kind"),
        F.lit(0).alias("cnt_inc"),
        F.lit(0).cast("long").alias("cents_inc"),
    )
    upd = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "us",
        F.lit(1).alias("kind"),
        F.lit(1).alias("cnt_inc"),
        F.col("cents").alias("cents_inc"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "kind", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    carried = q.unionByName(upd).select(
        "user_id",
        "event_id",
        "us",
        "kind",
        F.sum("cnt_inc").over(w).cast("long").alias("n_prior_purchases"),
        F.sum("cents_inc").over(w).cast("long").alias("prior_spend_cents"),
    )
    return carried.where(F.col("kind") == 0).select(
        "event_id", "user_id", "us", "n_prior_purchases", "prior_spend_cents"
    )


@query(
    "gini_split_points",
    oracle="""
    WITH scored AS (
      SELECT ('0x' || substr(md5('p' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % 1000 AS f,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    h AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
      FROM scored GROUP BY f
    ),
    c AS (
      SELECT f,
             CAST(SUM(n) OVER w AS BIGINT) AS nl,
             CAST(SUM(pos) OVER w AS BIGINT) AS pl,
             CAST(SUM(n) OVER () AS BIGINT) AS nt,
             CAST(SUM(pos) OVER () AS BIGINT) AS pt
      FROM h
      WINDOW w AS (ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT f AS threshold, nl AS n_left, pl AS pos_left,
           nt - nl AS n_right, pt - pl AS pos_right,
           CAST(CASE WHEN nl = 0 OR nt - nl = 0 THEN 0
                ELSE (CAST(pl AS HUGEINT) * pl + CAST(nl - pl AS HUGEINT)
                      * (nl - pl)) * 1000000000 // nl
                     + (CAST(pt - pl AS HUGEINT) * (pt - pl)
                        + CAST((nt - nl) - (pt - pl) AS HUGEINT)
                          * ((nt - nl) - (pt - pl))) * 1000000000 // (nt - nl)
                END AS BIGINT) AS purity_nanos
    FROM c WHERE nt - nl > 0
    """,
)
def gini_split_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-TREE SPLIT FINDING — the weighted-Gini scan a tree
    trainer runs per feature: for every candidate threshold t (rows
    with feature <= t go left), the class counts on each side and the
    split's purity. Minimizing weighted Gini impurity n_L·G_L+n_R·G_R
    is EQUIVALENT to maximizing purity = Σc_L²/n_L + Σc_R²/n_R (the
    n - Σc²/n identity clears the 1-minus and the shared n), so the
    surfaced score is a sum of two exact-integer floor divisions —
    argmax(purity_nanos) is the best split, no float impurity ever
    forms. Degenerate one-sided splits surface purity 0.

    Scale shape: ONE map-side-combinable per-value histogram, then
    cumulative windows OVER that bounded table (the pr_curve shape) —
    the whole per-feature scan costs one pass regardless of rows; a
    real trainer fans this out over features as independent columns
    of the same histogram pass."""
    from .evalrank import _pseudo_p

    p = _pseudo_p()
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    h = (
        table(spark, sf_dir, "orders")
        .select(p.alias("f"), y.alias("y"))
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    wcum = W.orderBy("f").rowsBetween(W.unboundedPreceding, 0)
    wall = W.orderBy("f").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    c = h.select(
        "f",
        F.sum("n").over(wcum).cast("long").alias("nl"),
        F.sum("pos").over(wcum).cast("long").alias("pl"),
        F.sum("n").over(wall).cast("long").alias("nt"),
        F.sum("pos").over(wall).cast("long").alias("pt"),
    )
    purity = F.expr(
        "CASE WHEN nl = 0 OR nt - nl = 0 THEN 0"
        " ELSE (CAST(pl AS DECIMAL(38,0)) * pl + CAST(nl - pl AS DECIMAL(38,0))"
        "       * (nl - pl)) * 1000000000 div nl"
        "      + (CAST(pt - pl AS DECIMAL(38,0)) * (pt - pl)"
        "         + CAST((nt - nl) - (pt - pl) AS DECIMAL(38,0))"
        "           * ((nt - nl) - (pt - pl))) * 1000000000 div (nt - nl)"
        " END"
    )
    return (
        c.where(F.col("nt") - F.col("nl") > 0)
        .select(
            F.col("f").alias("threshold"),
            F.col("nl").alias("n_left"),
            F.col("pl").alias("pos_left"),
            (F.col("nt") - F.col("nl")).cast("long").alias("n_right"),
            (F.col("pt") - F.col("pl")).cast("long").alias("pos_right"),
            purity.cast("long").alias("purity_nanos"),
        )
    )


@query(
    "temporal_edge_split",
    oracle="""
    WITH inter AS (
      SELECT o.o_custkey AS cust, l.l_partkey AS item,
             CAST(date_diff('day', DATE '1970-01-01',
                  CAST(o.o_orderdate AS DATE)) AS BIGINT) AS day
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    cut AS (
      SELECT MIN(day) + ((MAX(day) - MIN(day)) * 4) // 5 AS cutoff
      FROM inter
    ),
    train AS (SELECT * FROM inter, cut WHERE day < cutoff),
    test AS (SELECT * FROM inter, cut WHERE day >= cutoff),
    tc AS (SELECT DISTINCT cust FROM train),
    ti AS (SELECT DISTINCT item FROM train),
    marked AS (
      SELECT t.cust, t.item,
             CASE WHEN tc.cust IS NULL THEN 1 ELSE 0 END AS cold_user,
             CASE WHEN ti.item IS NULL THEN 1 ELSE 0 END AS cold_item
      FROM test t
      LEFT JOIN tc ON tc.cust = t.cust
      LEFT JOIN ti ON ti.item = t.item
    )
    SELECT (SELECT cutoff FROM cut) AS cutoff_day,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM train) AS n_train,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN cold_user = 0 AND cold_item = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_test_inductive,
           CAST(SUM(cold_user) AS BIGINT) AS n_cold_user_rows,
           CAST(SUM(cold_item) AS BIGINT) AS n_cold_item_rows
    FROM marked
    """,
)
def temporal_edge_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAK-FREE TEMPORAL SPLIT of the customer–part interaction graph
    — the split discipline recommender/GNN training actually needs
    (a random `split_assign` on interactions leaks future edges into
    train): train = the first 80% of the calendar (cutoff = min +
    floor((max−min)·4/5) on epoch days, data-derived integer math so
    fixture-calendar drift cannot desync engines), test = the rest,
    and the INDUCTIVE test subset keeps only rows whose BOTH endpoints
    were seen in train — cold-user / cold-item rows are counted and
    surfaced, not silently evaluated (the #1 silent inflation in
    link-pred benchmarks: scoring edges the model has no embedding
    for).

    Scale shape (100 TB): the interaction build is one fact-fact
    equi-join; the cutoff is a 1-row broadcast; seen-sets are two
    distinct aggregates probed by broadcast-able left joins; the
    readout is one conditional aggregate. No windows, nothing
    pairwise."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("cust"),
        F.expr(
            "CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)"
        ).alias("day"),
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_partkey").alias("item")
    )
    inter = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "cust", "item", "day"
    )
    cut = inter.agg(
        F.expr("min(day) + ((max(day) - min(day)) * 4) div 5")
        .cast("long")
        .alias("cutoff")
    )
    withcut = inter.crossJoin(F.broadcast(cut))
    train = withcut.where(F.col("day") < F.col("cutoff"))
    test = withcut.where(F.col("day") >= F.col("cutoff"))
    tc = train.select("cust").distinct().withColumn("seen_u", F.lit(1))
    ti = train.select("item").distinct().withColumn("seen_i", F.lit(1))
    marked = (
        test.join(tc, "cust", "left")
        .join(ti, "item", "left")
        .select(
            F.when(F.col("seen_u").isNull(), 1).otherwise(0).alias("cold_user"),
            F.when(F.col("seen_i").isNull(), 1).otherwise(0).alias("cold_item"),
        )
    )
    n_train = train.agg(F.count(F.lit(1)).cast("long").alias("n_train"))
    summary = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(
            F.when((F.col("cold_user") == 0) & (F.col("cold_item") == 0), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_test_inductive"),
        F.sum("cold_user").cast("long").alias("n_cold_user_rows"),
        F.sum("cold_item").cast("long").alias("n_cold_item_rows"),
    )
    return (
        cut.select(F.col("cutoff").alias("cutoff_day"))
        .crossJoin(F.broadcast(n_train))
        .crossJoin(F.broadcast(summary))
        .select(
            "cutoff_day",
            "n_train",
            "n_test",
            "n_test_inductive",
            "n_cold_user_rows",
            "n_cold_item_rows",
        )
    )


@query(
    "regression_metrics",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS cat,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
             ('0x' || substr(md5('rm' || CAST(o_orderkey AS VARCHAR)),
              1, 1))::BIGINT >= 12 AS is_test
      FROM orders
    ),
    tr AS (
      SELECT cat,
             (SUM(CAST(y AS HUGEINT)) * 1000000) // COUNT(*) AS pred
      FROM o WHERE NOT is_test GROUP BY cat
    ),
    te AS (
      SELECT o.y * 1000000 AS ym, tr.pred,
             abs(o.y * 1000000 - tr.pred) AS ae
      FROM o JOIN tr ON tr.cat = o.cat WHERE o.is_test
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ae AS HUGEINT)) AS HUGEINT) AS sae,
             CAST(SUM(CAST(ae AS HUGEINT) * ae) AS HUGEINT) AS sse,
             CAST(SUM(CAST(ym AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(ym AS HUGEINT) * ym) AS HUGEINT) AS syy,
             CAST(SUM((ae * 1000000) // ym) AS HUGEINT) AS sape
      FROM te
    ),
    ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM o WHERE NOT is_test)
    SELECT ntr.n_train, m.n AS n_test,
           CAST(m.sae // m.n AS BIGINT) AS mae_micros,
           CAST(ROUND(sqrt(CAST(m.sse AS DOUBLE) / CAST(m.n AS DOUBLE)))
                AS BIGINT) AS rmse_micros,
           CAST(ROUND((1.0 - (CAST(m.n AS DOUBLE) * CAST(m.sse AS DOUBLE))
                       / (CAST(m.n AS DOUBLE) * CAST(m.syy AS DOUBLE)
                          - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE)))
                      * 1e6)
                AS BIGINT) AS r2_micros,
           CAST(m.sape // m.n AS BIGINT) AS mape_micros
    FROM m, ntr
    """,
)
def regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGRESSION EVAL METRICS (MAE / RMSE / R² / MAPE) for the
    group-mean predictor — the eval-side sibling of
    `confusion_threshold` (classification) and the readout every
    regression model is judged by. The predictor is the train-split
    per-priority mean of order cents (md5 'rm'-salted 75/25 split, the
    adversarial_validation assignment; mean carried as the exact
    trunc-division micro-quantized integer), scored on the held-out
    rows. MAE and MAPE are pure integer arithmetic (MAPE's per-row
    ratio floored ONCE at formation — |e|·1e6 div y, y > 0 —
    the BM25 int-nanos discipline); RMSE and R² touch doubles exactly
    once each (an IEEE sqrt / one ratio of exact
    DECIMAL(38,0)/HUGEINT cancellations, the cuped structure),
    rounded to micros.

    Scale shape: one train aggregate (O(#categories), broadcast), one
    test probe join, one moment aggregate → 1 row. No windows."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("cat"),
        (dec2("o_totalprice") * 100).cast("long").alias("y"),
        (md5_int("rm", F.col("o_orderkey"), digits=1) >= 12).alias("is_test"),
    )
    tr = (
        o.where(~F.col("is_test"))
        .groupBy("cat")
        .agg(
            F.expr(
                "(SUM(CAST(y AS decimal(38,0))) * 1000000) div COUNT(*)"
            ).alias("pred")
        )
    )
    te = (
        o.where(F.col("is_test"))
        .join(F.broadcast(tr), "cat")
        .select(
            (F.col("y").cast(_D38) * 1000000).alias("ym"),
            F.abs(F.col("y").cast(_D38) * 1000000 - F.col("pred")).alias("ae"),
        )
    )
    m = te.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ae").cast(_D38).alias("sae"),
        F.sum(F.col("ae") * F.col("ae")).cast(_D38).alias("sse"),
        F.sum("ym").cast(_D38).alias("sy"),
        F.sum(F.col("ym") * F.col("ym")).cast(_D38).alias("syy"),
        F.sum(F.expr("(ae * 1000000) div ym")).cast(_D38).alias("sape"),
    )
    ntr = o.where(~F.col("is_test")).agg(
        F.count(F.lit(1)).cast("long").alias("n_train")
    )
    return (
        m.crossJoin(F.broadcast(ntr))
        .select(
            "n_train",
            F.col("n").alias("n_test"),
            F.expr("CAST(sae div n AS LONG)").alias("mae_micros"),
            F.round(
                F.sqrt(F.col("sse").cast("double") / F.col("n").cast("double"))
            )
            .cast("long")
            .alias("rmse_micros"),
            # each factor goes to DOUBLE before multiplying: n*sse and
            # sy*sy exceed both Decimal(38) and int128 at the sf1
            # decade (n*syy ~ 3.5e38 — it fit at sf0.1 by one decade
            # exactly). The sums stay exact; only the final ratio is
            # float, and scale-0 decimal->double is correctly rounded
            # in both engines (unlike scaled decimals, SLOPE_r15.md).
            F.round(
                (
                    F.lit(1.0)
                    - (F.col("n").cast("double") * F.col("sse").cast("double"))
                    / (
                        F.col("n").cast("double") * F.col("syy").cast("double")
                        - F.col("sy").cast("double") * F.col("sy").cast("double")
                    )
                )
                * 1e6
            )
            .cast("long")
            .alias("r2_micros"),
            F.expr("CAST(sape div n AS LONG)").alias("mape_micros"),
        )
    )


@query(
    "group_percentiles",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    h AS (
      SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, cents
    ),
    w AS (
      SELECT event_type, cents, c,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM h
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN cents END)
                AS BIGINT) AS p50_cents,
           CAST(MIN(CASE WHEN cum >= (90 * n + 99) // 100 THEN cents END)
                AS BIGINT) AS p90_cents,
           CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN cents END)
                AS BIGINT) AS p99_cents
    FROM w GROUP BY event_type ORDER BY event_type
    """,
)
def group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP exact percentiles (p50/p90/p99 of event value per
    type) — the grouped sibling of the global `percentile_summary`,
    the shape every latency/value dashboard needs. Exact NEAREST-RANK
    (ceil(p·n) by integer cross-multiplication — no interpolation, no
    float rank) over the per-(type, value) histogram; all three cuts
    read the SAME cumulative pass.

    Scale shape: one hash aggregate collapses the log to the histogram;
    the cumulative window is PARTITIONED by event_type over that
    aggregate (the auc_exact window-over-aggregate shape — the
    unpartitioned global variant is what percentile_summary's bucketed
    two-pass rank exists to avoid; here the partition key makes each
    window partition a single type's value domain); one final
    aggregate per type."""
    e = table(spark, sf_dir, "events").select(
        "event_type", (dec2("value") * 100).cast("long").alias("cents")
    )
    h = e.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wcum = (
        W.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w = h.select(
        "event_type",
        "cents",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(W.partitionBy("event_type")).alias("n"),
    )

    def cut(p: int) -> F.Column:
        return F.min(
            F.when(F.col("cum") >= F.expr(f"({p} * n + 99) div 100"), F.col("cents"))
        ).cast("long")

    return (
        w.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            cut(50).alias("p50_cents"),
            cut(90).alias("p90_cents"),
            cut(99).alias("p99_cents"),
        )
        .orderBy("event_type")
    )


_CHURN_HORIZON_US = 28 * 24 * 3600 * 1_000_000


@query(
    "churn_labels",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS us,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  ELSE 0 END AS cents
      FROM events
    ),
    cut AS (SELECT MAX(us) - {_CHURN_HORIZON_US} AS t FROM e),
    pre AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events_pre,
             CAST(SUM(cents) AS BIGINT) AS cents_pre,
             CAST(MAX(us) AS BIGINT) AS last_us
      FROM e, cut WHERE us < t GROUP BY user_id
    ),
    fut AS (
      SELECT DISTINCT user_id FROM e, cut WHERE us >= t
    )
    SELECT p.user_id, p.n_events_pre, p.cents_pre,
           CAST((cut.t - p.last_us) // 86400000000 AS BIGINT)
             AS recency_days,
           CAST(CASE WHEN f.user_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS churned
    FROM pre p LEFT JOIN fut f ON f.user_id = p.user_id, cut
    ORDER BY p.user_id
    """,
)
def churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHURN LABEL CONSTRUCTION — the future-window twin of
    `feature_pit_join`'s leakage rule: features may only read events
    STRICTLY BEFORE the cutoff (the last fully-observed 28-day horizon
    defines it, t = max_ts − 28d, data-derived integer micros), the
    label only the window AT/AFTER it — churned = no activity in
    [t, t+28d). Getting this wrong in either direction is the classic
    silent-perfect-model bug (a feature peeking past t) or the
    silently-wrong-label bug (a horizon the data hasn't finished
    observing — pinned here by construction, since the horizon IS the
    observed tail). Features per user: pre-cutoff event count, exact
    purchase cents, and recency in whole days at the cutoff.

    Scale shape: one 1-row cutoff broadcast, one user-keyed
    conditional aggregate (log → O(#users)), one distinct-key probe
    for the label. No windows."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.when(
            F.col("event_type") == "purchase", (dec2("value") * 100).cast("long")
        )
        .otherwise(0)
        .alias("cents"),
    )
    cut = e.agg((F.max("us") - _CHURN_HORIZON_US).cast("long").alias("t"))
    withcut = e.crossJoin(F.broadcast(cut))
    pre = (
        withcut.where(F.col("us") < F.col("t"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events_pre"),
            F.sum("cents").cast("long").alias("cents_pre"),
            F.max("us").cast("long").alias("last_us"),
            F.max("t").cast("long").alias("t"),
        )
    )
    fut = (
        withcut.where(F.col("us") >= F.col("t"))
        .select("user_id")
        .distinct()
        .withColumn("active_fut", F.lit(1))
    )
    return (
        pre.join(fut, "user_id", "left")
        .select(
            "user_id",
            "n_events_pre",
            "cents_pre",
            F.expr("(t - last_us) div 86400000000").cast("long").alias(
                "recency_days"
            ),
            F.when(F.col("active_fut").isNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("churned"),
        )
        .orderBy("user_id")
    )


@query(
    "regression_stump",
    oracle="""
    WITH li AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100
               AS dollars
      FROM lineitem
    ),
    g AS (
      SELECT q, CAST(COUNT(*) AS HUGEINT) AS n_g,
             CAST(SUM(CAST(dollars AS HUGEINT)) AS HUGEINT) AS s_g
      FROM li GROUP BY q
    ),
    cum AS (
      SELECT q,
             SUM(n_g) OVER (ORDER BY q) AS n_l,
             SUM(s_g) OVER (ORDER BY q) AS s_l
      FROM g
    ),
    tot AS (
      SELECT CAST(SUM(n_g) AS HUGEINT) AS n, CAST(SUM(s_g) AS HUGEINT) AS s
      FROM g
    ),
    cand AS (
      SELECT c.q, c.n_l, t.n - c.n_l AS n_r, c.s_l, t.s - c.s_l AS s_r,
             (c.s_l * c.s_l) // c.n_l + ((t.s - c.s_l) * (t.s - c.s_l))
               // (t.n - c.n_l) - (t.s * t.s) // t.n AS gain
      FROM cum c, tot t
      WHERE c.n_l < t.n
    )
    SELECT CAST(q AS BIGINT) AS split_q,
           CAST(n_l AS BIGINT) AS n_left,
           CAST(n_r AS BIGINT) AS n_right,
           CAST((s_l * 1000000) // n_l AS BIGINT) AS mean_left_micros,
           CAST((s_r * 1000000) // n_r AS BIGINT) AS mean_right_micros,
           CAST(gain AS BIGINT) AS gain_d2
    FROM cand
    ORDER BY gain DESC, q LIMIT 1
    """,
)
def regression_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGRESSION STUMP — the single best binary split of extended
    price (whole dollars) on quantity: the first iteration of every
    tree/boosting trainer, and the regression sibling of
    gini_split_points (which scores classification splits). Split
    candidates are 'q <= t' for each observed quantity t; the gain is
    the variance-reduction identity SSE(parent) - SSE(children)
    = S_l^2/n_l + S_r^2/n_r - S^2/N (the Sum y^2 term cancels), with
    ONE floor per term on non-negative operands so both engines
    quantize identically; argmax ties break on the smaller threshold.

    Scale shape (100 TB): ONE map-side-combinable (count, sum)
    aggregate onto the quantity domain (<= 50 rows BY CONSTRUCTION —
    l_quantity is a bounded integer domain, the attribution_markov
    bounded-state argument), then prefix sums and the argmax run as a
    window + TakeOrdered over that domain-sized table — never over
    data-sized rows. Adding candidate features adds aggregates, not
    shuffles (the gini_split_points plan)."""
    li = table(spark, sf_dir, "lineitem").select(
        dec2("l_quantity").cast("long").alias("q"),
        F.expr(
            "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " div 100 AS BIGINT)"
        ).alias("dollars"),
    )
    xd = F.col("dollars").cast(_D38)
    g = li.groupBy("q").agg(
        F.count(F.lit(1)).cast(_D38).alias("n_g"),
        F.sum(xd).cast(_D38).alias("s_g"),
    )
    # prefix sums over the <=50-row quantity domain: bounded window by
    # construction (sweep-exempt shape, same as gini_split_points)
    wq = W.orderBy("q").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = g.select(
        "q",
        F.sum("n_g").over(wq).cast(_D38).alias("n_l"),
        F.sum("s_g").over(wq).cast(_D38).alias("s_l"),
    )
    tot = g.agg(
        F.sum("n_g").cast(_D38).alias("n"), F.sum("s_g").cast(_D38).alias("s")
    )
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("n_l") < F.col("n"))
        .select(
            "q",
            "n_l",
            (F.col("n") - F.col("n_l")).alias("n_r"),
            "s_l",
            (F.col("s") - F.col("s_l")).alias("s_r"),
            F.expr(
                "(s_l * s_l) div n_l + ((s - s_l) * (s - s_l)) div (n - n_l)"
                " - (s * s) div n"
            ).alias("gain"),
        )
    )
    return (
        cand.orderBy(F.desc("gain"), "q")
        .limit(1)
        .select(
            F.col("q").cast("long").alias("split_q"),
            F.col("n_l").cast("long").alias("n_left"),
            F.col("n_r").cast("long").alias("n_right"),
            F.expr("CAST((s_l * 1000000) div n_l AS BIGINT)").alias(
                "mean_left_micros"
            ),
            F.expr("CAST((s_r * 1000000) div n_r AS BIGINT)").alias(
                "mean_right_micros"
            ),
            F.col("gain").cast("long").alias("gain_d2"),
        )
    )


@query(
    "approx_quantile_audit",
    oracle="""
    WITH o AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
      FROM orders
    ),
    v AS (SELECT pc, CAST(COUNT(*) AS BIGINT) AS cnt FROM o GROUP BY pc),
    r AS (
      SELECT pc, cnt, CAST(SUM(cnt) OVER (ORDER BY pc) AS BIGINT) AS cum
      FROM v
    ),
    nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM v),
    ps AS (SELECT CAST(p AS BIGINT) AS p FROM (VALUES (50), (90), (99)) t(p)),
    ex AS (
      SELECT ps.p, nn.n,
             CAST(MIN(CASE WHEN r.cum >= (ps.p * nn.n + 99) // 100
                           THEN r.pc END) AS BIGINT) AS exact_cents
      FROM ps, nn, r
      GROUP BY ps.p, nn.n
    )
    SELECT p, n, exact_cents, CAST(1 AS BIGINT) AS within_bound
    FROM ex ORDER BY p
    """,
)
def approx_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX-PERCENTILE CONTRACT AUDIT — the promise at the end of
    percentile_summary's docstring, delivered: run Spark's
    percentile_approx (accuracy=100, so the sketch guarantees rank
    error <= n/100) at p50/p90/p99 of order value, look up the
    RETURNED value's true rank interval [lt+1, cum] in the exact
    distinct-value rank table, and assert it intersects the target
    rank +- (n div 100 + 1) window (+1 absorbs the nearest-rank vs
    p*n definitional edge). The sketch's value never enters the output
    (it is engine-specific); what hashes is the exact percentile AND
    the audit verdict — the ORACLE ENCODES THE CONTRACT as literal
    TRUE, so a sketch that ever violated its epsilon bound would
    hash-mismatch and fail the gate, exactly like a data bug.

    Scale shape (100 TB): the sketch is one mergeable aggregate over
    the scan (the whole point of approx quantiles at scale); the audit
    side is one hash aggregate to distinct values + bucketed prefix
    sums (mann_whitney_u's plan) + a 3-row probe join — the exact
    rank pass you run ONCE to qualify the sketch before trusting it
    everywhere."""
    o = table(spark, sf_dir, "orders").select(
        (dec2("o_totalprice") * 100).cast("long").alias("pc")
    )
    v = o.groupBy("pc").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    r = bucketed_prefix_sums(
        v, F.expr("pc div 100000"), [F.col("pc")], {"cum": F.col("cnt")}
    )
    nn = v.agg(F.sum("cnt").cast("long").alias("n"))
    approx = o.agg(
        F.percentile_approx("pc", 0.50, 100).alias("a50"),
        F.percentile_approx("pc", 0.90, 100).alias("a90"),
        F.percentile_approx("pc", 0.99, 100).alias("a99"),
    )
    ps = approx.select(
        F.expr("stack(3, 50, a50, 90, a90, 99, a99) as (p, av)")
    ).crossJoin(F.broadcast(nn))
    # target nearest-rank, the sketch's rank window, and the exact cut
    probed = (
        F.broadcast(ps)
        .join(r, F.col("av") == F.col("pc"))
        .select(
            "p",
            "n",
            F.expr("(p * n + 99) div 100").alias("t"),
            (F.col("cum") - F.col("cnt") + 1).alias("rank_lo"),
            F.col("cum").alias("rank_hi"),
        )
        .select(
            "p",
            "n",
            F.when(
                (F.col("rank_lo") <= F.col("t") + F.expr("n div 100") + 1)
                & (F.col("rank_hi") >= F.col("t") - F.expr("n div 100") - 1),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("within_bound"),
        )
    )
    ex = (
        F.broadcast(ps.select("p", "n"))
        .join(r, F.col("cum") >= F.expr("(p * n + 99) div 100"))
        .groupBy("p", "n")
        .agg(F.min("pc").cast("long").alias("exact_cents"))
    )
    return (
        ex.join(probed.select("p", "within_bound"), "p")
        .select("p", "n", "exact_cents", "within_bound")
        .orderBy("p")
    )


@query(
    "skew_kurtosis_profile",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS grp,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000
               AS x
      FROM orders
    ),
    m AS (
      SELECT grp,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2,
             CAST(SUM(CAST(x AS HUGEINT) * x * x) AS HUGEINT) AS s3,
             CAST(SUM(CAST(x AS HUGEINT) * x * x * x) AS HUGEINT) AS s4
      FROM o GROUP BY grp
    ),
    c AS (
      SELECT grp, n,
             (n * s2 - s1 * s1) // (n * n) AS m2,
             (n * n * s3 - 3 * n * s2 * s1 + 2 * s1 * s1 * s1)
               // (n * n * n) AS m3,
             (n * n * n * s4 - 4 * n * n * s3 * s1 + 6 * n * s2 * s1 * s1
              - 3 * s1 * s1 * s1 * s1) // (n * n * n * n) AS m4
      FROM m
    )
    SELECT grp,
           CAST(n AS BIGINT) AS n,
           CAST(m2 AS BIGINT) AS m2_h2,
           CAST(ROUND(CAST(m3 AS DOUBLE)
                      / (CAST(m2 AS DOUBLE) * SQRT(CAST(m2 AS DOUBLE)))
                      * 1e6) AS BIGINT) AS skew_micros,
           CAST(ROUND(CAST(m4 AS DOUBLE)
                      / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))
                      * 1e6) AS BIGINT) AS kurtosis_micros
    FROM c ORDER BY grp
    """,
)
def skew_kurtosis_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKEWNESS & KURTOSIS per order priority — the 3rd/4th-moment
    shape profile beside agg_stats' mean/variance (heavy-tail
    detection before choosing a z-score vs a rank test; kurtosis is
    raw m4/m2^2, not excess). Values are coarsened to whole hundreds
    of dollars so the CLEARED central-moment polynomials (n^3 s4 terms)
    stay far inside DECIMAL(38,0)/HUGEINT.

    Exactness discipline (the bollinger floor-then-convert rule):
    every central moment is floor-divided to its natural unit
    (m2 = (n s2 - s1^2) div n^2, m3 div n^3, m4 div n^4) as an EXACT
    INTEGER BELOW 2^53 *before* any double conversion — the raw
    cleared numerators exceed 2^53 where int->double rounding is
    engine-divergent; the ratios and the one sqrt are then
    structurally identical IEEE expressions on both engines.

    Scale shape: ONE map-side-combinable four-sum aggregate per group
    (k = 5 rows out of the scan), constant-size algebra after — the
    ols_multi closed-form plan; higher moments add sums, never
    shuffles."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.expr(
            "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " div 10000 AS BIGINT)"
        ).alias("x"),
    )
    xd = F.col("x").cast(_D38)
    m = o.groupBy("grp").agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum(xd).cast(_D38).alias("s1"),
        F.sum(xd * F.col("x")).cast(_D38).alias("s2"),
        F.sum(xd * F.col("x") * F.col("x")).cast(_D38).alias("s3"),
        F.sum(xd * F.col("x") * F.col("x") * F.col("x")).cast(_D38).alias("s4"),
    )
    c = m.select(
        "grp",
        "n",
        F.expr("(n * s2 - s1 * s1) div (n * n)").alias("m2"),
        F.expr(
            "(n * n * s3 - 3 * n * s2 * s1 + 2 * s1 * s1 * s1)"
            " div (n * n * n)"
        ).alias("m3"),
        F.expr(
            "(n * n * n * s4 - 4 * n * n * s3 * s1 + 6 * n * s2 * s1 * s1"
            " - 3 * s1 * s1 * s1 * s1) div (n * n * n * n)"
        ).alias("m4"),
    )
    return c.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.col("m2").cast("long").alias("m2_h2"),
        F.round(
            F.col("m3").cast("double")
            / (F.col("m2").cast("double") * F.sqrt(F.col("m2").cast("double")))
            * 1e6
        )
        .cast("long")
        .alias("skew_micros"),
        F.round(
            F.col("m4").cast("double")
            / (F.col("m2").cast("double") * F.col("m2").cast("double"))
            * 1e6
        )
        .cast("long")
        .alias("kurtosis_micros"),
    ).orderBy("grp")


@query(
    "grubbs_test",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100
               AS x
      FROM orders
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
      FROM o
    ),
    dev AS (
      SELECT o.o_orderkey, o.x, ABS(m.n * o.x - m.s) AS nd, m.n, m.s, m.q
      FROM o, m
    ),
    top AS (
      SELECT * FROM dev ORDER BY nd DESC, o_orderkey LIMIT 1
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(o_orderkey AS BIGINT) AS outlier_key,
           CAST(x AS BIGINT) AS outlier_dollars,
           CAST((n * q - s * s) // (n * n) AS BIGINT) AS m2_d2,
           CAST(ROUND(CAST(nd AS DOUBLE)
                      / (CAST(n AS DOUBLE)
                         * SQRT(CAST((n * q - s * s) // (n * n) AS DOUBLE)))
                      * 1e6) AS BIGINT) AS g_micros
    FROM top
    """,
)
def grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRUBBS' STATISTIC — the single most-studentized-deviant order
    value, G = max|x - mean|/sd: the formal one-outlier test beside the
    census detectors (iqr_outliers counts fence-crossers, mad_robust
    rescales, anomaly_daily_zscore watches the series; Grubbs names THE
    candidate and its test statistic, compared to the t-based critical
    value by the analyst since that depends on n and alpha). Whole
    dollars; the n-scaled deviation |n*x - S| is exact int64, argmax
    ties break on the key; variance floor-reduces to an exact integer
    below 2^53 before the single IEEE sqrt (the bollinger rule);
    G = nd/(n*sd) is one structurally-identical double expression.

    Scale shape: one three-sum aggregate, one broadcast of the 1-row
    moments, one TakeOrdered(1) over the scan — two passes, no
    shuffle beyond the 1-row exchanges."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " div 100 AS BIGINT)"
        ).alias("x"),
    )
    xd = F.col("x").cast(_D38)
    m = o.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum(xd).cast(_D38).alias("s"),
        F.sum(xd * F.col("x")).cast(_D38).alias("q"),
    )
    dev = o.crossJoin(F.broadcast(m)).select(
        "o_orderkey",
        "x",
        F.abs(F.col("n") * F.col("x") - F.col("s")).alias("nd"),
        "n",
        "s",
        "q",
    )
    top = dev.orderBy(F.desc("nd"), "o_orderkey").limit(1)
    return top.select(
        F.col("n").cast("long").alias("n"),
        F.col("o_orderkey").cast("long").alias("outlier_key"),
        F.col("x").cast("long").alias("outlier_dollars"),
        F.expr("CAST((n * q - s * s) div (n * n) AS BIGINT)").alias("m2_d2"),
        F.round(
            F.col("nd").cast("double")
            / (
                F.col("n").cast("double")
                * F.sqrt(F.expr("CAST((n * q - s * s) div (n * n) AS DOUBLE)"))
            )
            * 1e6
        )
        .cast("long")
        .alias("g_micros"),
    )


@query(
    "kendall_tau",
    oracle="""
    WITH li AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM lineitem
    ),
    cells AS (
      SELECT x, y, CAST(COUNT(*) AS HUGEINT) AS c FROM li GROUP BY x, y
    ),
    n AS (SELECT CAST(SUM(c) AS HUGEINT) AS n FROM cells),
    cd AS (
      SELECT CAST(SUM(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END)
                  AS HUGEINT) AS conc,
             CAST(SUM(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END)
                  AS HUGEINT) AS disc
      FROM cells a JOIN cells b ON b.x > a.x
    ),
    tx AS (
      SELECT CAST(SUM(t * (t - 1) // 2) AS HUGEINT) AS n1
      FROM (SELECT CAST(SUM(c) AS HUGEINT) AS t FROM cells GROUP BY x)
    ),
    ty AS (
      SELECT CAST(SUM(t * (t - 1) // 2) AS HUGEINT) AS n2
      FROM (SELECT CAST(SUM(c) AS HUGEINT) AS t FROM cells GROUP BY y)
    )
    SELECT CAST(n.n AS BIGINT) AS n,
           CAST(cd.conc AS BIGINT) AS concordant,
           CAST(cd.disc AS BIGINT) AS discordant,
           CAST(ROUND(CAST(cd.conc - cd.disc AS DOUBLE)
                      / (SQRT(CAST(n.n * (n.n - 1) // 2 - tx.n1 AS DOUBLE))
                         * SQRT(CAST(n.n * (n.n - 1) // 2 - ty.n2 AS DOUBLE)))
                      * 1e6) AS BIGINT) AS tau_b_micros
    FROM n, cd, tx, ty
    """,
)
def kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S TAU-B between quantity and discount — the
    rank-correlation companion to corr_pairs' Pearson: tau-b =
    (C - D)/sqrt((n0 - n1)(n0 - n2)) with full tie correction. The
    naive definition is a quadratic pair sweep; both columns live on
    BOUNDED INTEGER DOMAINS (quantity 1..50, discount hundredths
    0..10), so the JOINT HISTOGRAM has <= domain-product cells BY
    CONSTRUCTION and concordant/discordant pair counts are one
    cell-level self-join on that constant-size table (the
    attribution_markov bounded-state argument) — pair counts are
    products of cell counts, all exact. The tie terms n1/n2 use
    t(t-1)/2 per marginal value (always integral). The denominator
    splits sqrt(n0-n1)*sqrt(n0-n2) (the matthews_mcc 2^53 discipline —
    n0 ~ n^2/2 stays exactly convertible, the product would not).

    Scale shape: ONE map-side-combinable cell aggregate over the scan;
    everything after is constant-size algebra. Adding rows never grows
    the self-join."""
    li = table(spark, sf_dir, "lineitem").select(
        dec2("l_quantity").cast("long").alias("x"),
        (dec2("l_discount") * 100).cast("long").alias("y"),
    )
    cells = li.groupBy("x", "y").agg(F.count(F.lit(1)).cast(_D38).alias("c"))
    n = cells.agg(F.sum("c").cast(_D38).alias("n"))
    a = cells.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("c").alias("ac")
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("c").alias("bc")
    )
    cd = (
        a.join(F.broadcast(b), F.col("bx") > F.col("ax"))
        .agg(
            F.sum(
                F.when(F.col("by") > F.col("ay"), F.col("ac") * F.col("bc")).otherwise(
                    F.lit(0).cast(_D38)
                )
            )
            .cast(_D38)
            .alias("conc"),
            F.sum(
                F.when(F.col("by") < F.col("ay"), F.col("ac") * F.col("bc")).otherwise(
                    F.lit(0).cast(_D38)
                )
            )
            .cast(_D38)
            .alias("disc"),
        )
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("c").cast(_D38).alias("t"))
        .agg(F.sum(F.expr("(t * (t - 1)) div 2")).cast(_D38).alias("n1"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("c").cast(_D38).alias("t"))
        .agg(F.sum(F.expr("(t * (t - 1)) div 2")).cast(_D38).alias("n2"))
    )
    return (
        n.crossJoin(F.broadcast(cd))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("conc").cast("long").alias("concordant"),
            F.col("disc").cast("long").alias("discordant"),
            F.round(
                F.expr("CAST(conc - disc AS DOUBLE)")
                / (
                    F.sqrt(F.expr("CAST((n * (n - 1)) div 2 - n1 AS DOUBLE)"))
                    * F.sqrt(F.expr("CAST((n * (n - 1)) div 2 - n2 AS DOUBLE)"))
                )
                * 1e6
            )
            .cast("long")
            .alias("tau_b_micros"),
        )
    )


@query(
    "spearman_rho",
    oracle="""
    WITH li AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM lineitem
    ),
    cells AS MATERIALIZED (
      SELECT x, y, CAST(COUNT(*) AS HUGEINT) AS c FROM li GROUP BY x, y
    ),
    nn AS (SELECT CAST(SUM(c) AS HUGEINT) AS n FROM cells),
    rx AS MATERIALIZED (
      SELECT x, 2 * (SUM(t) OVER (ORDER BY x) - t) + t + 1 AS r2
      FROM (SELECT x, CAST(SUM(c) AS HUGEINT) AS t FROM cells GROUP BY x)
    ),
    ry AS MATERIALIZED (
      SELECT y, 2 * (SUM(t) OVER (ORDER BY y) - t) + t + 1 AS r2
      FROM (SELECT y, CAST(SUM(c) AS HUGEINT) AS t FROM cells GROUP BY y)
    ),
    m AS (
      SELECT CAST(SUM(c.c * rx.r2) AS HUGEINT) AS sx,
             CAST(SUM(c.c * ry.r2) AS HUGEINT) AS sy,
             CAST(SUM(c.c * rx.r2 * rx.r2) AS HUGEINT) AS sxx,
             CAST(SUM(c.c * ry.r2 * ry.r2) AS HUGEINT) AS syy,
             CAST(SUM(c.c * rx.r2 * ry.r2) AS HUGEINT) AS sxy
      FROM cells c JOIN rx ON rx.x = c.x JOIN ry ON ry.y = c.y
    )
    SELECT CAST(nn.n AS BIGINT) AS n,
           CAST(ROUND(
             CAST((nn.n * m.sxy - m.sx * m.sy) // (nn.n * nn.n) AS DOUBLE)
             / (SQRT(CAST((nn.n * m.sxx - m.sx * m.sx) // (nn.n * nn.n)
                          AS DOUBLE))
                * SQRT(CAST((nn.n * m.syy - m.sy * m.sy) // (nn.n * nn.n)
                            AS DOUBLE)))
             * 1e6) AS BIGINT) AS rho_micros
    FROM nn, m
    """,
)
def spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN'S RHO between quantity and discount — Pearson
    correlation of MIDRANKS, completing the rank-correlation pair with
    kendall_tau: doubled midranks 2r(v) = 2*cum_before(v) + t(v) + 1
    stay exact integers (the mann_whitney_u device), assembled per
    CELL of the bounded joint histogram so no rank is ever attached
    row-by-row. The centered moments clear denominators and are then
    floor-reduced by n^2 to exact integers BELOW 2^53 before the
    double conversion (the skew_kurtosis discipline — the raw cleared
    moments overflow exact double conversion at sf0.1 already); the
    final expression is the structurally-identical ratio-of-sqrt form.
    The same floor is applied to numerator and both variance terms, so
    the quantization is a defined, engine-identical semantics.

    Scale shape: one cell aggregate over the scan; marginal rank
    tables are windows over <= domain-size rows; one constant-size
    moment join ends it."""
    li = table(spark, sf_dir, "lineitem").select(
        dec2("l_quantity").cast("long").alias("x"),
        (dec2("l_discount") * 100).cast("long").alias("y"),
    )
    cells = li.groupBy("x", "y").agg(F.count(F.lit(1)).cast(_D38).alias("c"))
    nn = cells.agg(F.sum("c").cast(_D38).alias("n"))

    def marginal_ranks(col: str) -> DataFrame:
        t = cells.groupBy(col).agg(F.sum("c").cast(_D38).alias("t"))
        w = W.orderBy(col).rowsBetween(W.unboundedPreceding, W.currentRow)
        return t.select(
            col,
            (
                2 * (F.sum("t").over(w) - F.col("t")) + F.col("t") + 1
            ).cast(_D38).alias(f"r2{col}"),
        )
    rx, ry = marginal_ranks("x"), marginal_ranks("y")
    m = (
        cells.join(F.broadcast(rx), "x")
        .join(F.broadcast(ry), "y")
        .agg(
            F.sum(F.col("c") * F.col("r2x")).cast(_D38).alias("sx"),
            F.sum(F.col("c") * F.col("r2y")).cast(_D38).alias("sy"),
            F.sum(F.col("c") * F.col("r2x") * F.col("r2x")).cast(_D38).alias("sxx"),
            F.sum(F.col("c") * F.col("r2y") * F.col("r2y")).cast(_D38).alias("syy"),
            F.sum(F.col("c") * F.col("r2x") * F.col("r2y")).cast(_D38).alias("sxy"),
        )
    )
    return nn.crossJoin(F.broadcast(m)).select(
        F.col("n").cast("long").alias("n"),
        F.round(
            F.expr("CAST((n * sxy - sx * sy) div (n * n) AS DOUBLE)")
            / (
                F.sqrt(F.expr("CAST((n * sxx - sx * sx) div (n * n) AS DOUBLE)"))
                * F.sqrt(F.expr("CAST((n * syy - sy * sy) div (n * n) AS DOUBLE)"))
            )
            * 1e6
        )
        .cast("long")
        .alias("rho_micros"),
    )


@query(
    "kfold_cv_metrics",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS cat,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
             ('0x' || substr(md5('kf' || CAST(o_orderkey AS VARCHAR)),
              1, 1))::BIGINT % 5 AS fold
      FROM orders
    ),
    fc AS (
      SELECT fold, cat, CAST(COUNT(*) AS HUGEINT) AS n_fc,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS s_fc
      FROM o GROUP BY fold, cat
    ),
    c AS (
      SELECT cat, CAST(SUM(n_fc) AS HUGEINT) AS n_c,
             CAST(SUM(s_fc) AS HUGEINT) AS s_c
      FROM fc GROUP BY cat
    ),
    pred AS (
      SELECT fc.fold, fc.cat,
             ((c.s_c - fc.s_fc) * 1000000) // (c.n_c - fc.n_fc) AS pred
      FROM fc JOIN c ON c.cat = fc.cat
    )
    SELECT o.fold,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(ABS(CAST(o.y AS HUGEINT) * 1000000 - p.pred))
                // COUNT(*) AS BIGINT) AS mae_micros
    FROM o JOIN pred p ON p.fold = o.fold AND p.cat = o.cat
    GROUP BY o.fold ORDER BY o.fold
    """,
)
def kfold_cv_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-FOLD CROSS-VALIDATION of the group-mean predictor — the CV
    generalization of regression_metrics' single split, computed WITHOUT
    k training passes: the leave-fold-out mean for fold f is pure
    algebra on ONE (fold, cat) aggregate, pred(f, c) =
    (S_c - S_fc)/(n_c - n_fc), floor-quantized to micro-cents — the
    O(1)-per-fold trick every CV harness over additive statistics
    should use at scale (k full re-trains read the data k times; this
    reads it once). Per-fold test MAE comes from one join of the scan
    against the 25-row broadcast prediction table.

    Scale shape: one map-side-combinable (fold, cat) aggregate, one
    constant-size leave-out algebra join, one scan-side equi-join with
    a broadcast dim, one fold-keyed reduce — two scans total, k
    appears only in the tiny dimension."""
    fold = md5_int("kf", F.col("o_orderkey"), digits=1) % 5
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("cat"),
        (dec2("o_totalprice") * 100).cast("long").alias("y"),
        fold.alias("fold"),
    )
    fc = o.groupBy("fold", "cat").agg(
        F.count(F.lit(1)).cast(_D38).alias("n_fc"),
        F.sum(F.col("y").cast(_D38)).cast(_D38).alias("s_fc"),
    )
    c = fc.groupBy("cat").agg(
        F.sum("n_fc").cast(_D38).alias("n_c"),
        F.sum("s_fc").cast(_D38).alias("s_c"),
    )
    pred = fc.join(c, "cat").select(
        "fold",
        "cat",
        F.expr("((s_c - s_fc) * 1000000) div (n_c - n_fc)").alias("pred"),
    )
    return (
        o.join(F.broadcast(pred), ["fold", "cat"])
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr(
                "CAST(SUM(ABS(CAST(y AS DECIMAL(38,0)) * 1000000 - pred))"
                " div COUNT(*) AS BIGINT)"
            ).alias("mae_micros"),
        )
        .orderBy("fold")
    )

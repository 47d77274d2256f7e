"""Experimentation readouts over the event log (SURVEY §2.13 X18
family): CUPED variance reduction and funnel time-to-convert — the two
measurement primitives an A/B platform layers on top of the
ab_test_zscore / chi2 readouts (evalrank.py, mlprep.py).

Reference parity: the reference has no experimentation surface; these
extend the mandated training-pipeline analytics (BASELINE.json
north_star) the same way cohort_retention / funnel_conversion do.

Determinism: all timestamp math is unix-micro bigints (catalog
conventions), money becomes exact integer cents, and every cross-row
statistic is built from DECIMAL(38,0)/HUGEINT moment sums (the
corr_pairs discipline) — only final ratios touch doubles, quantized to
int micros.

Scale notes (100 TB): both operators reduce the event log to O(#users)
rows with ONE user-keyed aggregate, then compute O(1)/O(#users)
statistics on that reduction; quantiles use the bucketed two-pass rank
(never an unpartitioned window over the full log).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..exact import dec2, md5_int
from ..functions.ranking import bucketed_global_rank, bucketed_prefix_sums
from ..registry import query

_D38 = "decimal(38,0)"


@query(
    "cuped_adjustment",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS us,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    cut AS (SELECT (MIN(us) + MAX(us)) // 2 AS cutoff FROM e),
    u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN us < cutoff THEN cents ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN us >= cutoff THEN cents ELSE 0 END)
                  AS BIGINT) AS y
      FROM e, cut GROUP BY user_id
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM u
    )
    SELECT n,
           CAST(sx AS BIGINT) AS sum_pre_cents,
           CAST(sy AS BIGINT) AS sum_post_cents,
           CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6)
                AS BIGINT) AS theta_micros,
           CAST(ROUND((CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE))
                      * (CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * syy - sy * sy AS DOUBLE)) * 1e6)
                AS BIGINT) AS var_reduction_micros
    FROM m
    """,
)
def cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data): split
    the event calendar at its midpoint, reduce to per-user pre-period
    (covariate X) and post-period (metric Y) spend in exact cents, and
    report theta = Cov(X,Y)/Var(X) plus the variance-reduction factor
    rho^2 = theta * Cov/Var(Y) an adjusted metric Y - theta(X - mean X)
    would achieve. The calendar midpoint is DATA-DERIVED integer math
    ((min+max) div 2 on unix micros) so fixture-calendar drift cannot
    desync the two engines (STATUS round-9 date-domain rule). The five
    moment sums accumulate exactly (DECIMAL(38,0) / HUGEINT); the
    n*Sxy - Sx*Sy cancellations happen in exact arithmetic (corr_pairs
    discipline); theta and rho^2 are final double ratios of identical
    exact integers, int-micros quantized.

    Scale shape: one user-keyed conditional aggregate collapses the log
    to O(#users); one map-side-combinable moment aggregate collapses
    that to a single row. The cutoff is a 1-row broadcast, not a
    collect. No windows, no pairwise joins."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        (dec2("value") * 100).cast("long").alias("cents"),
    )
    cut = e.agg(
        F.expr("(min(us) + max(us)) div 2").cast("long").alias("cutoff")
    )
    u = (
        e.crossJoin(F.broadcast(cut))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("cutoff"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("us") >= F.col("cutoff"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    xd, yd = F.col("x").cast(_D38), F.col("y").cast(_D38)
    m = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xd).cast(_D38).alias("sx"),
        F.sum(yd).cast(_D38).alias("sy"),
        F.sum(xd * F.col("x")).cast(_D38).alias("sxx"),
        F.sum(yd * F.col("y")).cast(_D38).alias("syy"),
        F.sum(xd * F.col("y")).cast(_D38).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cxy = (n * F.col("sxy") - sx * sy).cast("double")
    cxx = (n * F.col("sxx") - sx * sx).cast("double")
    cyy = (n * F.col("syy") - sy * sy).cast("double")
    return m.select(
        "n",
        sx.cast("long").alias("sum_pre_cents"),
        sy.cast("long").alias("sum_post_cents"),
        F.round(cxy / cxx * 1e6).cast("long").alias("theta_micros"),
        F.round((cxy / cxx) * (cxy / cyy) * 1e6)
        .cast("long")
        .alias("var_reduction_micros"),
    )


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events
    ),
    s1 AS (
      SELECT user_id, MIN(us) AS t1 FROM e
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.us) AS t2
      FROM e JOIN s1 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.us >= s1.t1
      GROUP BY e.user_id
    ),
    d AS (
      SELECT s1.user_id, s2.t2 - s1.t1 AS delta_us
      FROM s1 JOIN s2 USING (user_id)
    ),
    ranked AS (
      SELECT delta_us,
             row_number() OVER (ORDER BY delta_us, user_id) AS pos,
             COUNT(*) OVER () AS n
      FROM d
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST(MIN(delta_us) AS BIGINT) AS min_us,
           CAST(MAX(delta_us) AS BIGINT) AS max_us,
           CAST(MIN(CASE WHEN pos = (n + 1) // 2 THEN delta_us END)
                AS BIGINT) AS median_us,
           CAST(MIN(CASE WHEN pos = (9 * n + 9) // 10 THEN delta_us END)
                AS BIGINT) AS p90_us
    FROM ranked
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user whose first
    purchase happens at-or-after their first signup (the
    funnel_conversion step semantics, behavior.py:71), the latency
    between the two, summarized as exact rank-based min / lower-median
    / ceil-p90 / max in integer microseconds. Quantiles are VALUES AT
    EXACT RANKS ((n+1) div 2 and ceil(0.9 n) over the unique
    (delta, user_id) order) — no interpolation, so no float midpoint
    parity exposure (iqr_outliers discipline, mlprep.py:851).

    Scale shape: two user-keyed min-aggregates and one user-keyed join
    collapse the log to O(#converted) rows; the rank pass is
    bucketed_global_rank (per-bucket counts + broadcast offsets +
    in-bucket windows — never one WindowExec partition); the final
    summary is a single map-side-combinable aggregate."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    s1 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        e.join(s1, "user_id")
        .where((F.col("event_type") == "purchase") & (F.col("us") >= F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    d = s1.join(s2, "user_id").select(
        "user_id", (F.col("t2") - F.col("t1")).alias("delta_us")
    )
    # bucket by delta-hour band: monotone with the (delta_us, user_id)
    # sort order as required by the two-pass rank contract
    ranked = bucketed_global_rank(
        d,
        F.expr("delta_us div 3600000000"),
        [F.col("delta_us"), F.col("user_id")],
    )
    n, pos = F.col("n_total"), F.col("pos")
    med_pos = F.expr("(n_total + 1) div 2")
    p90_pos = F.expr("(9 * n_total + 9) div 10")
    return ranked.agg(
        F.max(n).cast("long").alias("n_converted"),
        F.min("delta_us").cast("long").alias("min_us"),
        F.max("delta_us").cast("long").alias("max_us"),
        F.min(F.when(pos == med_pos, F.col("delta_us"))).cast("long").alias("median_us"),
        F.min(F.when(pos == p90_pos, F.col("delta_us"))).cast("long").alias("p90_us"),
    )


@query(
    "mann_whitney_u",
    oracle="""
    WITH o AS (
      SELECT CASE WHEN ('0x' || substr(md5('mw' || CAST(o_orderkey AS VARCHAR)), 1, 1))::BIGINT < 8
                  THEN 1 ELSE 0 END AS a,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ),
    v AS (
      SELECT cents,
             CAST(SUM(a) AS BIGINT) AS cnt_a,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM o GROUP BY cents
    ),
    r AS (
      SELECT cents, cnt_a, cnt,
             CAST(SUM(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum
      FROM v
    ),
    m AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS n1,
             CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(CAST(cnt_a AS HUGEINT) * (2 * cum - cnt + 1))
                  AS HUGEINT) AS r2a,
             CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
                  AS HUGEINT) AS tie_t
      FROM r
    )
    SELECT n1 AS n_a,
           n - n1 AS n_b,
           CAST(r2a - n1 * (n1 + 1) AS BIGINT) AS u_a_x2,
           CAST(tie_t AS BIGINT) AS tie_cubes,
           CAST(ROUND(
             CAST(r2a - n1 * (n1 + 1) - n1 * (n - n1) AS DOUBLE)
             / (2 * sqrt(
                 CAST(CAST(n1 AS HUGEINT) * (n - n1)
                      * (CAST(n + 1 AS HUGEINT) * n * (n - 1) - tie_t)
                      AS DOUBLE)
                 / CAST(12 * CAST(n AS HUGEINT) * (n - 1) AS DOUBLE)))
             * 1e6) AS BIGINT) AS z_micros
    FROM m
    """,
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between the md5-assigned
    A/B arms ('mw'-salted first nibble < 8 -> A, the ab_test_zscore
    assignment pattern) on order value - the NONPARAMETRIC two-arm
    contrast a platform runs when the metric is heavy-tailed and the
    z-test's mean is the wrong summary. Midranks (tied values share the
    average rank) are kept exact by working with DOUBLED ranks:
    2*midrank(v) = 2*cum_before(v) + cnt(v) + 1 is always an integer, so
    the doubled rank-sum 2*R_A, the doubled statistic 2*U_A =
    2*R_A - n1(n1+1), and the tie-correction term T = sum(t^3 - t) are
    all exact DECIMAL(38,0)/HUGEINT sums. The normal-approximation z
    (with tie-corrected variance n1*n2*((n+1)n(n-1) - T)/(12n(n-1)))
    is ONE double ratio of those exact integers, int-micros quantized -
    the corr_pairs discipline.

    Scale shape (100 TB): one hash aggregate collapses the table to
    O(#distinct values); the exclusive prefix count uses
    bucketed_prefix_sums (per-bucket totals + broadcast offsets +
    in-bucket windows - never one WindowExec partition); one final
    map-side-combinable moment aggregate yields the single-row readout.
    No pairwise anything - the naive U definition is the quadratic
    comparison count; the rank identity makes it linear."""
    nib = md5_int("mw", F.col("o_orderkey"), digits=1)
    o = table(spark, sf_dir, "orders").select(
        F.when(nib < 8, 1).otherwise(0).alias("a"),
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
    )
    v = o.groupBy("cents").agg(
        F.sum("a").cast("long").alias("cnt_a"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    # exclusive-prefix rank base: inclusive cum over the value order,
    # bucketed by 1000-dollar bands (trunc-div is monotone, values > 0)
    r = bucketed_prefix_sums(
        v, F.expr("cents div 100000"), [F.col("cents")], {"cum": F.col("cnt")}
    )
    mid2 = 2 * F.col("cum") - F.col("cnt") + 1
    cntd = F.col("cnt").cast(_D38)
    m = r.agg(
        F.sum("cnt_a").cast("long").alias("n1"),
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("cnt_a").cast(_D38) * mid2).cast(_D38).alias("r2a"),
        F.sum(cntd * F.col("cnt") * F.col("cnt") - F.col("cnt")).cast(_D38).alias("tie_t"),
    )
    n1, n = F.col("n1").cast(_D38), F.col("n").cast(_D38)
    u2a = F.col("r2a") - n1 * (F.col("n1") + 1)
    var_num = (n1 * (F.col("n") - F.col("n1"))) * (
        (n + 1) * F.col("n") * (F.col("n") - 1) - F.col("tie_t")
    )
    var_den = (F.lit(12).cast(_D38) * n * (F.col("n") - 1)).cast("double")
    z = (u2a - n1 * (F.col("n") - F.col("n1"))).cast("double") / (
        2 * F.sqrt(var_num.cast("double") / var_den)
    )
    return m.select(
        F.col("n1").alias("n_a"),
        (F.col("n") - F.col("n1")).cast("long").alias("n_b"),
        u2a.cast("long").alias("u_a_x2"),
        F.col("tie_t").cast("long").alias("tie_cubes"),
        F.round(z * 1e6).cast("long").alias("z_micros"),
    )


# Poisson(1) inverse-CDF thresholds scaled to 2^60 (floor(cdf(k) * 2^60),
# computed once with 50-digit Decimal arithmetic): a 60-bit md5-derived
# uniform u gets bootstrap weight k = #thresholds below u (7 past the
# table, P ~ 8e-5). Integer compares, so both engines derive IDENTICAL
# weights from the same md5 - no float CDF parity exposure.
_POISSON1_T60 = (
    424136118829305329,   # k=0  cdf 0.36787944117144233
    848272237658610659,   # k=1  cdf 0.7357588823428847
    1060340297073263324,  # k=2  cdf 0.9196986029286058
    1131029650211480879,  # k=3  cdf 0.9810118431238462
    1148701988496035267,  # k=4  cdf 0.9963401531726563
    1152236456152946145,  # k=5  cdf 0.9994058151824183
    1152825534095764625,  # k=6  cdf 0.9999167588507119
)
_BOOT_B = 64


@query(
    "bootstrap_ci",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ),
    u AS (
      SELECT b.b, o.cents,
             ('0x' || substr(md5('boot' || CAST(o.k AS VARCHAR) || ':'
                                 || CAST(b.b AS VARCHAR)), 1, 15))::BIGINT AS u60
      FROM o CROSS JOIN generate_series(1, {_BOOT_B}) b(b)
    ),
    w AS (
      SELECT b, cents,
             ({" + ".join(f"CASE WHEN u60 >= {t} THEN 1 ELSE 0 END" for t in _POISSON1_T60)})
             AS wt
      FROM u
    ),
    rep AS (
      SELECT b,
             CAST((CAST(SUM(CAST(wt AS HUGEINT) * cents) AS HUGEINT) * 1000000)
                  // SUM(wt) AS BIGINT) AS mean_micros
      FROM w GROUP BY b
    ),
    ranked AS (
      SELECT mean_micros,
             row_number() OVER (ORDER BY mean_micros, b) AS pos
      FROM rep
    ),
    pt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST((CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) * 1000000)
                  // COUNT(*) AS BIGINT) AS mean_micros
      FROM o
    )
    SELECT pt.n_orders,
           CAST({_BOOT_B} AS BIGINT) AS b_reps,
           pt.mean_micros,
           CAST(MIN(CASE WHEN pos = 2 THEN ranked.mean_micros END) AS BIGINT)
             AS lo_micros,
           CAST(MIN(CASE WHEN pos = {_BOOT_B - 1} THEN ranked.mean_micros END)
                AS BIGINT) AS hi_micros
    FROM ranked, pt
    GROUP BY pt.n_orders, pt.mean_micros
    """,
)
def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for mean order value - THE
    distributed-bootstrap construction (each row draws an independent
    Poisson(1) replication count per replicate, so no resample ever
    needs a global n or a shared RNG stream; the standard trick for
    bootstrapping sharded data). Replicate weights are DETERMINISTIC:
    a 60-bit uniform from md5('boot'||key||':'||b) walks a hardcoded
    integer threshold ladder (floor(Poisson(1)-cdf * 2^60), computed at
    50-digit precision) - pure integer compares, so Spark and DuckDB
    derive identical weights. Replicate means are exact integer
    division ((sum(w*cents)*1e6) div sum(w), positive so trunc==floor);
    the CI is the 2.5%/97.5% EXACT-RANK order statistics (pos 2 and 63
    of B=64) over the replicate means - no interpolation.

    Scale shape (100 TB): explode x64 then ONE map-side-combinable hash
    aggregate into 64 groups (partial aggregation collapses each task's
    rows before the 64-row shuffle); the rank pass runs over the 64-row
    aggregate (bounded - the declared sweep-exempt shape). Linear in
    the data, constant in replicates' shuffle width."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
    )
    u60 = md5_int("boot", F.col("k"), ":", F.col("b"), digits=15)
    wt = F.lit(0)
    for t in _POISSON1_T60:
        wt = wt + F.when(F.col("u") >= t, 1).otherwise(0)
    rep = (
        o.withColumn("b", F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))))
        .withColumn("u", u60)
        .withColumn("wt", wt)
        .groupBy("b")
        .agg(
            F.sum(F.col("wt").cast(_D38) * F.col("cents")).cast(_D38).alias("swc"),
            F.sum("wt").cast("long").alias("sw"),
        )
        .select(
            "b",
            F.expr("(cast(swc as decimal(38,0)) * 1000000) div sw")
            .cast("long")
            .alias("mean_micros"),
        )
    )
    # 64-row post-aggregate input: a plain global window here is the
    # declared bounded sweep-exempt shape (kaplan_meier discipline)
    ranked = rep.withColumn(
        "pos", F.row_number().over(W.orderBy("mean_micros", "b")).cast("long")
    )
    pt = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.expr("(cast(sum(cast(cents as decimal(38,0))) as decimal(38,0)) * 1000000) div count(*)")
        .cast("long")
        .alias("mean_micros"),
    )
    return (
        ranked.crossJoin(F.broadcast(pt.withColumnRenamed("mean_micros", "pt_mean")))
        .agg(
            F.max("n_orders").alias("n_orders"),
            F.lit(_BOOT_B).cast("long").alias("b_reps"),
            F.max("pt_mean").alias("mean_micros"),
            F.min(F.when(F.col("pos") == 2, F.col("mean_micros")))
            .cast("long")
            .alias("lo_micros"),
            F.min(F.when(F.col("pos") == _BOOT_B - 1, F.col("mean_micros")))
            .cast("long")
            .alias("hi_micros"),
        )
    )


@query(
    "diff_in_diff",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS us,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  ELSE 0 END AS cents
      FROM events
    ),
    cut AS (SELECT (MIN(us) + MAX(us)) // 2 AS cutoff FROM e),
    u AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5('dd' || CAST(user_id AS VARCHAR)), 1, 1))::BIGINT < 8
                  THEN 1 ELSE 0 END AS treat,
             CAST(SUM(CASE WHEN us < cutoff THEN cents ELSE 0 END) AS BIGINT) AS pre,
             CAST(SUM(CASE WHEN us >= cutoff THEN cents ELSE 0 END) AS BIGINT) AS post
      FROM e, cut GROUP BY user_id
    ),
    m AS (
      SELECT treat,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pre) AS BIGINT) AS s_pre,
             CAST(SUM(post) AS BIGINT) AS s_post,
             (CAST(SUM(pre) AS HUGEINT) * 1000000000) // COUNT(*) AS m_pre,
             (CAST(SUM(post) AS HUGEINT) * 1000000000) // COUNT(*) AS m_post
      FROM u GROUP BY treat
    )
    SELECT t.n AS n_treat, c.n AS n_ctrl,
           CAST(t.m_pre AS BIGINT) AS m_treat_pre_nanos,
           CAST(t.m_post AS BIGINT) AS m_treat_post_nanos,
           CAST(c.m_pre AS BIGINT) AS m_ctrl_pre_nanos,
           CAST(c.m_post AS BIGINT) AS m_ctrl_post_nanos,
           CAST((t.m_post - t.m_pre) - (c.m_post - c.m_pre) AS BIGINT)
             AS did_nanos
    FROM (SELECT * FROM m WHERE treat = 1) t
    CROSS JOIN (SELECT * FROM m WHERE treat = 0) c
    """,
)
def diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES over the event panel — the workhorse
    quasi-experimental estimator next to the randomized readouts
    (ab_test_zscore, cuped_adjustment, mann_whitney_u): per-user
    purchase spend in the pre/post halves of the calendar (the CUPED
    data-derived midpoint), md5-salted treatment assignment, and
    DiD = (treat post-pre change) - (control post-pre change) on
    user-level means. Every cell mean is quantized ONCE by
    non-negative integer floor division (cents sums are >= 0) and the
    estimator is a pure integer subtraction of quantized means — no
    negative division ever happens, so the floor-vs-truncate question
    is moot. (Spark `div` and DuckDB `//` both truncate toward zero;
    the divergence that matters is Python's flooring `//` in replay
    tests, which only differs on negatives.)

    Scale shape: one user-keyed conditional aggregate (log ->
    O(#users)), one 2-row arm aggregate, one 1x1 cross join. The
    cutoff is a 1-row broadcast."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.when(
            F.col("event_type") == "purchase", (dec2("value") * 100).cast("long")
        )
        .otherwise(0)
        .alias("cents"),
    )
    cut = e.agg(F.expr("(min(us) + max(us)) div 2").cast("long").alias("cutoff"))
    treat = md5_int("dd", F.col("user_id"), digits=1) < 8
    u = (
        e.crossJoin(F.broadcast(cut))
        .groupBy("user_id")
        .agg(
            F.max(F.when(treat, 1).otherwise(0)).alias("treat"),
            F.sum(F.when(F.col("us") < F.col("cutoff"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("pre"),
            F.sum(F.when(F.col("us") >= F.col("cutoff"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("post"),
        )
    )
    m = u.groupBy("treat").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pre").cast("long").alias("s_pre"),
        F.sum("post").cast("long").alias("s_post"),
        F.expr("CAST(SUM(pre) AS DECIMAL(38,0)) * 1000000000 div COUNT(*)")
        .cast("long")
        .alias("m_pre"),
        F.expr("CAST(SUM(post) AS DECIMAL(38,0)) * 1000000000 div COUNT(*)")
        .cast("long")
        .alias("m_post"),
    )
    t = m.where(F.col("treat") == 1).select(
        F.col("n").alias("n_treat"),
        F.col("m_pre").alias("m_treat_pre_nanos"),
        F.col("m_post").alias("m_treat_post_nanos"),
    )
    c = m.where(F.col("treat") == 0).select(
        F.col("n").alias("n_ctrl"),
        F.col("m_pre").alias("m_ctrl_pre_nanos"),
        F.col("m_post").alias("m_ctrl_post_nanos"),
    )
    return t.crossJoin(F.broadcast(c)).select(
        "n_treat",
        "n_ctrl",
        "m_treat_pre_nanos",
        "m_treat_post_nanos",
        "m_ctrl_pre_nanos",
        "m_ctrl_post_nanos",
        (
            (F.col("m_treat_post_nanos") - F.col("m_treat_pre_nanos"))
            - (F.col("m_ctrl_post_nanos") - F.col("m_ctrl_pre_nanos"))
        )
        .cast("long")
        .alias("did_nanos"),
    )


# SPRT constants: H0 p=0.3 vs H1 p=0.5 conversion, alpha = beta = 0.05.
# Hardcoded int-nanos log-likelihood increments (computed once here and
# embedded in BOTH engines' arithmetic — the bootstrap_ci hardcoded-
# ladder discipline, so no engine ever evaluates ln()).
import math as _math  # noqa: E402

_SPRT_L1 = round(_math.log(0.5 / 0.3) * 1e9)  # x=1 increment
_SPRT_L0 = round(_math.log(0.5 / 0.7) * 1e9)  # x=0 increment (negative)
_SPRT_A = round(_math.log(0.95 / 0.05) * 1e9)  # accept-H1 boundary
_SPRT_B = -_SPRT_A  # accept-H0 boundary (symmetric alpha=beta)


@query(
    "sprt_sequential",
    oracle=f"""
    WITH e AS (
      SELECT epoch_ns(ts) // 1000 AS us, event_id,
             CASE WHEN event_type = 'purchase' THEN {_SPRT_L1}
                  ELSE {_SPRT_L0} END AS inc
      FROM events
    ),
    c AS (
      SELECT us, event_id,
             CAST(SUM(inc) OVER (ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS llr,
             CAST(ROW_NUMBER() OVER (ORDER BY us, event_id) AS BIGINT) AS pos
      FROM e
    ),
    x AS (
      SELECT pos, llr FROM c
      WHERE llr >= {_SPRT_A} OR llr <= {_SPRT_B}
      ORDER BY pos LIMIT 1
    ),
    f AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM(inc) AS BIGINT) AS llr_final_nanos
      FROM e
    )
    SELECT f.n_obs, f.llr_final_nanos,
           COALESCE(x.pos, 0) AS first_cross_pos,
           CASE WHEN x.pos IS NULL THEN 'continue'
                WHEN x.llr >= {_SPRT_A} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           COALESCE(x.llr, 0) AS llr_at_cross_nanos
    FROM f LEFT JOIN x ON TRUE
    """,
)
def sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SEQUENTIAL PROBABILITY RATIO TEST over the event stream —
    the early-stopping sibling of the fixed-horizon readouts
    (ab_test_zscore, mann_whitney_u): walk the log in time order,
    accumulate the Bernoulli log-likelihood ratio of 'this event
    converts' under H1 p=0.5 vs H0 p=0.3, and report the first
    boundary crossing (ln((1-b)/a) / its negation, alpha=beta=0.05).
    The per-observation increments and boundaries are HARDCODED
    int-nanos constants computed once at module load and embedded in
    both engines' arithmetic (the bootstrap_ci ladder discipline) —
    neither engine ever evaluates a logarithm, so the cumulative walk
    is exact integer addition and hashes bit-for-bit.

    Scale shape: the cumulative LLR and position ride ONE
    bucketed-prefix-sum + bucketed-rank pass (per-day bands, no
    unpartitioned window over the log); the first crossing is a 1-row
    TakeOrdered; totals are one aggregate. At 100 TB the decision is
    usually reached in the first band — the operator still scans once
    (batch semantics); the streaming twin would carry llr as
    applyInPandasWithState state."""
    e = table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit(_SPRT_L1))
        .otherwise(F.lit(_SPRT_L0))
        .cast("long")
        .alias("inc"),
    )
    day = F.expr("us div 86400000000")
    c = bucketed_prefix_sums(
        e, day, [F.col("us"), F.col("event_id")], {"llr": F.col("inc")}
    )
    c = bucketed_global_rank(c, day, [F.col("us"), F.col("event_id")])
    crossed = (
        c.where((F.col("llr") >= _SPRT_A) | (F.col("llr") <= _SPRT_B))
        .orderBy("pos")
        .limit(1)
        .select(F.col("pos").alias("first_cross_pos"), F.col("llr").alias("xllr"))
    )
    f = e.agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("inc").cast("long").alias("llr_final_nanos"),
    )
    return f.join(F.broadcast(crossed), F.lit(True), "left").select(
        "n_obs",
        "llr_final_nanos",
        F.coalesce(F.col("first_cross_pos"), F.lit(0)).cast("long").alias(
            "first_cross_pos"
        ),
        F.when(F.col("first_cross_pos").isNull(), F.lit("continue"))
        .when(F.col("xllr") >= _SPRT_A, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        F.coalesce(F.col("xllr"), F.lit(0)).cast("long").alias("llr_at_cross_nanos"),
    )


@query(
    "psm_att",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5('ps' || CAST(user_id AS VARCHAR)), 1, 1))::BIGINT < 8
                  THEN 1 ELSE 0 END AS treat,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    t AS (SELECT user_id AS tid, x AS tx, y AS ty, x // 4 AS band
          FROM u WHERE treat = 1),
    c AS (SELECT user_id AS cid, x AS cx, y AS cy, x // 4 AS band
          FROM u WHERE treat = 0),
    cand AS (
      SELECT t.tid, t.ty, c.cy,
             ROW_NUMBER() OVER (PARTITION BY t.tid
                                ORDER BY ABS(t.tx - c.cx), c.cid) AS rn
      FROM t JOIN c ON c.band = t.band
    ),
    m AS (SELECT tid, ty - cy AS diff FROM cand WHERE rn = 1),
    agg AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_treat,
             CAST(COUNT(*) AS BIGINT) AS n_matched,
             CAST(COALESCE(SUM(diff), 0) AS BIGINT) AS sum_diff_cents
      FROM m
    )
    SELECT n_treat, n_matched, sum_diff_cents,
           CASE WHEN n_matched = 0 THEN 0
                WHEN sum_diff_cents < 0
                THEN -CAST((CAST(-sum_diff_cents AS HUGEINT) * 1000000000)
                           // n_matched AS BIGINT)
                ELSE CAST((CAST(sum_diff_cents AS HUGEINT) * 1000000000)
                          // n_matched AS BIGINT) END AS att_nanos
    FROM agg
    """,
)
def psm_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROPENSITY-SCORE-MATCHED ATT (average treatment effect on the
    treated), 1:1 nearest-neighbor matching WITH REPLACEMENT — the
    observational-causal estimator next to diff_in_diff: per-user
    activity count is the matching covariate, each md5-treated user
    matches the closest control inside its activity band (band = the
    caliper: no in-band control -> unmatched, surfaced as n_treat vs
    n_matched), and ATT is the mean treated-minus-matched outcome
    difference in exact cents. With-replacement matching is the
    order-free variant — greedy without-replacement is inherently
    sequential and engine-divergent. The mean is quantized ONCE by
    sign-split truncating division (the sum can be negative; Spark
    `div` and DuckDB `//` agree — both truncate toward zero — but
    Python's `//` floors, so the sign-split keeps the replay-test
    arithmetic identical on negatives too).

    Scale shape: one user-keyed aggregate; candidates ONLY from the
    band equi-join (the record_linkage blocking discipline — never
    all treated x all controls); per-treated argmin is a
    WindowGroupLimit-shaped rank-1 cut partitioned by treated user."""
    treat = md5_int("ps", F.col("user_id"), digits=1) < 8
    u = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(F.when(treat, 1).otherwise(0)).alias("treat"),
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    (dec2("value") * 100).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    t = u.where(F.col("treat") == 1).select(
        F.col("user_id").alias("tid"),
        F.col("x").alias("tx"),
        F.col("y").alias("ty"),
        F.expr("x div 4").alias("band"),
    )
    c = u.where(F.col("treat") == 0).select(
        F.col("user_id").alias("cid"),
        F.col("x").alias("cx"),
        F.col("y").alias("cy"),
        F.expr("x div 4").alias("band"),
    )
    wmin = W.partitionBy("tid").orderBy(
        F.abs(F.col("tx") - F.col("cx")), F.col("cid")
    )
    m = (
        t.join(c, "band")
        .withColumn("rn", F.row_number().over(wmin))
        .where(F.col("rn") == 1)
        .select((F.col("ty") - F.col("cy")).alias("diff"))
    )
    nt = t.agg(F.count(F.lit(1)).cast("long").alias("n_treat"))
    agg = m.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.coalesce(F.sum("diff"), F.lit(0)).cast("long").alias("sum_diff_cents"),
    )
    return nt.crossJoin(F.broadcast(agg)).select(
        "n_treat",
        "n_matched",
        "sum_diff_cents",
        F.when(F.col("n_matched") == 0, F.lit(0))
        .otherwise(
            F.signum("sum_diff_cents").cast("long")
            * F.expr(
                "(CAST(ABS(sum_diff_cents) AS DECIMAL(38,0)) * 1000000000)"
                " div n_matched"
            )
        )
        .cast("long")
        .alias("att_nanos"),
    )


@query(
    "uplift_by_decile",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5('up' || CAST(user_id AS VARCHAR)), 1, 1))::BIGINT < 8
                  THEN 1 ELSE 0 END AS treat,
             ('0x' || substr(md5('us' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 1000 AS score,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    )
    SELECT score // 100 AS decile,
           CAST(SUM(treat) AS BIGINT) AS n_treat,
           CAST(SUM(1 - treat) AS BIGINT) AS n_ctrl,
           CAST(SUM(treat * conv) AS BIGINT) AS conv_treat,
           CAST(SUM((1 - treat) * conv) AS BIGINT) AS conv_ctrl,
           CAST(CASE WHEN SUM(treat) > 0 AND SUM(1 - treat) > 0
                THEN (CAST(SUM(treat * conv) AS HUGEINT) * 1000000000)
                       // SUM(treat)
                     - (CAST(SUM((1 - treat) * conv) AS HUGEINT) * 1000000000)
                       // SUM(1 - treat)
                END AS BIGINT) AS uplift_nanos
    FROM u GROUP BY 1
    """,
)
def uplift_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPLIFT (incremental-effect) table by model-score decile — the
    readout an uplift/persuasion model is evaluated with (the Qini
    curve's binned form): per decile of the portable md5 score, the
    treated conversion rate minus the control conversion rate.
    Per-arm rates are non-negative floor-quantized THEN subtracted
    (pure integer arithmetic, never a negative division). A decile
    with an empty arm surfaces a NULL uplift on BOTH engines (at tiny
    scale the 50/50 split can leave a decile one-armed; the readout
    says 'no estimate' rather than inventing one).

    Scale shape: one user-keyed aggregate (log -> O(#users)), one
    10-key map-side-combinable aggregate. Nothing else."""
    treat = md5_int("up", F.col("user_id"), digits=1) < 8
    score = md5_int("us", F.col("user_id")) % 1000
    u = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(F.when(treat, 1).otherwise(0)).alias("treat"),
            F.max(score).alias("score"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "conv"
            ),
        )
    )
    return (
        u.groupBy(F.expr("score div 100").alias("decile"))
        .agg(
            F.sum("treat").cast("long").alias("n_treat"),
            F.sum(1 - F.col("treat")).cast("long").alias("n_ctrl"),
            F.sum(F.col("treat") * F.col("conv")).cast("long").alias("conv_treat"),
            F.sum((1 - F.col("treat")) * F.col("conv"))
            .cast("long")
            .alias("conv_ctrl"),
        )
        .select(
            "decile",
            "n_treat",
            "n_ctrl",
            "conv_treat",
            "conv_ctrl",
            F.when(
                (F.col("n_treat") > 0) & (F.col("n_ctrl") > 0),
                F.expr(
                    "(CAST(conv_treat AS DECIMAL(38,0)) * 1000000000) div n_treat"
                )
                - F.expr(
                    "(CAST(conv_ctrl AS DECIMAL(38,0)) * 1000000000) div n_ctrl"
                ),
            )
            .cast("long")
            .alias("uplift_nanos"),
        )
    )


@query(
    "srm_check",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ),
    arms AS (
      SELECT CASE WHEN ('0x' || substr(md5('srm' || CAST(user_id AS VARCHAR)),
                        1, 1))::BIGINT < 8
                  THEN 1 ELSE 0 END AS a
      FROM u
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a) AS BIGINT) AS n_a
      FROM arms
    )
    SELECT n AS n_units, n_a, n - n_a AS n_b,
           CAST((CAST(2 * n_a - n AS HUGEINT) * (2 * n_a - n) * 1000000000)
                // n AS BIGINT) AS chi2_nanos,
           CAST(CASE WHEN (CAST(2 * n_a - n AS HUGEINT) * (2 * n_a - n)
                           * 1000000000) // n > 3841458820
                     THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM m
    """,
)
def srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE RATIO MISMATCH check — the first gate every experiment
    readout must pass: with a 50/50 intended split, does the observed
    arm allocation deviate more than chance allows? Units are the
    distinct event users, assigned by the md5 'srm'-salted first
    nibble (< 8 → A, the ab_test_zscore pattern). The 2-cell
    chi-square against expected n/2 collapses to (n_a - n_b)^2 / n —
    pure integer arithmetic, floored to int-nanos (the square runs in
    DECIMAL(38,0)/HUGEINT so a large-n fixture can't overflow). The
    flag compares against the hardcoded chi2(0.95, df=1) critical
    value 3.841458820694124 quantized to nanos (3841458820) — no
    engine evaluates a CDF (the stream_sprt hardcoded-constant
    discipline). Because the md5 split is genuinely content-random,
    the expected readout is flag=0 — the audit's null calibration.

    Scale shape: one distinct (map-side combinable), one 1-row
    aggregate. O(#users) total, no windows, no joins."""
    u = table(spark, sf_dir, "events").select("user_id").distinct()
    arm = md5_int("srm", F.col("user_id"), digits=1) < 8
    m = u.select(F.when(arm, 1).otherwise(0).alias("a")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("n_a"),
    )
    diff = (F.lit(2).cast(_D38) * F.col("n_a") - F.col("n")).cast(_D38)
    chi2 = F.expr(
        "CAST((CAST(2 * n_a - n AS decimal(38,0)) * (2 * n_a - n)"
        " * 1000000000) div n AS LONG)"
    )
    return m.select(
        F.col("n").alias("n_units"),
        "n_a",
        (F.col("n") - F.col("n_a")).cast("long").alias("n_b"),
        chi2.alias("chi2_nanos"),
        F.when(chi2 > 3841458820, 1).otherwise(0).cast("long").alias("srm_flag"),
    )


@query(
    "mde_power_analysis",
    oracle="""
    WITH pu AS (
      SELECT user_id,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sxx
      FROM pu
    )
    SELECT n AS n_units, n // 2 AS n_per_arm,
           CAST(sx AS BIGINT) AS sum_cents,
           CAST(ROUND(
             2.8015852181129683
             * sqrt(2.0 * (CAST(n * sxx - sx * sx AS DOUBLE)
                           / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                    / CAST(n // 2 AS DOUBLE))
             * 1e6) AS BIGINT) AS mde_cents_micros,
           CAST(ROUND(
             (2.8015852181129683
              * sqrt(2.0 * (CAST(n * sxx - sx * sx AS DOUBLE)
                            / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                     / CAST(n // 2 AS DOUBLE)))
             / (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             * 1e6) AS BIGINT) AS mde_rel_micros
    FROM m
    """,
)
def mde_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINIMUM DETECTABLE EFFECT power analysis — the pre-experiment
    sizing readout: given the user-level spend distribution the log
    actually shows, what absolute/relative lift could a 50/50 split of
    these users detect at alpha = 0.05 (two-sided) with power 0.8?
    MDE = (z_{0.975} + z_{0.80}) * sqrt(2 s^2 / n_arm) with the
    hardcoded constant z sum 1.959963984540054 + 0.8416212335729143 =
    2.8015852181129683 (no engine evaluates a normal quantile — the
    SPRT discipline). The sample variance's cancellation n*Sxx - Sx^2
    runs in exact DECIMAL(38,0)/HUGEINT (corr_pairs discipline); the
    variance, sqrt, and ratio are the only double steps, structured
    identically in both engines and micro-quantized once.

    Scale shape: one user-keyed aggregate (log -> O(#users)), one
    map-side-combinable moment aggregate -> 1 row. No windows."""
    pu = (
        table(spark, sf_dir, "events")
        .select("user_id", (dec2("value") * 100).cast("long").alias("cents"))
        .groupBy("user_id")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    xd = F.col("cents").cast(_D38)
    m = pu.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xd).cast(_D38).alias("sx"),
        F.sum(xd * F.col("cents")).cast(_D38).alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    var = (
        (n * sxx - sx * sx).cast("double")
        / n.cast("double")
        / (n - 1).cast("double")
    )
    n_arm = F.expr("n div 2")
    z = F.lit(2.8015852181129683)
    mde = z * F.sqrt(F.lit(2.0) * var / n_arm.cast("double"))
    return m.select(
        n.alias("n_units"),
        n_arm.cast("long").alias("n_per_arm"),
        sx.cast("long").alias("sum_cents"),
        F.round(mde * 1e6).cast("long").alias("mde_cents_micros"),
        F.round(mde / (sx.cast("double") / n.cast("double")) * 1e6)
        .cast("long")
        .alias("mde_rel_micros"),
    )


@query(
    "anova_oneway",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS grp,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100
               AS dollars
      FROM orders
    ),
    g AS (
      SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n_g,
             CAST(SUM(CAST(dollars AS HUGEINT)) AS HUGEINT) AS s_g,
             CAST(SUM(CAST(dollars AS HUGEINT) * dollars) AS HUGEINT) AS q_g
      FROM o GROUP BY grp
    ),
    t AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS k,
             CAST(SUM(n_g) AS HUGEINT) AS n,
             CAST(SUM(s_g) AS HUGEINT) AS s,
             CAST(SUM(q_g) AS HUGEINT) AS q,
             CAST(SUM((s_g * s_g) // n_g) AS HUGEINT) AS sb
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(n AS BIGINT) AS n,
           CAST(sb - (s * s) // n AS BIGINT) AS ssb_d2,
           CAST(q - sb AS BIGINT) AS ssw_d2,
           CAST((1000000 * (n - k) * (sb - (s * s) // n))
                // ((k - 1) * (q - sb)) AS BIGINT) AS f_micros
    FROM t
    """,
)
def anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA F statistic — does mean order value differ across
    the five order priorities? The k-group generalization of
    ab_test_zscore (two arms) and the parametric sibling of
    mann_whitney_u, completing the X19 test-statistic set.

    Exactness: values are whole dollars (cents div 100 — both engines
    truncate non-negative division identically), the per-group moment
    sums (n, S, Q) accumulate in DECIMAL(38,0)/HUGEINT, the
    between-group sum of squares uses the sum-form identity
    SSB = Sum S_g^2/n_g - S^2/N with ONE floor per term (every operand
    non-negative, so trunc = floor on both engines), and the F ratio is
    a single integer division quantized to micros — no doubles anywhere,
    so the row value-hashes bit-for-bit. Cauchy-Schwarz keeps the true
    SSB non-negative; the per-term floors can shave at most k-1 units
    of a dollar^2 off, identically on both engines.

    Scale shape (100 TB): ONE map-side-combinable three-sum aggregate
    per group (k = 5 rows out of the scan), then a k-row reduce to a
    single row — the whole test is one partial/final aggregate pass
    with no shuffle beyond the k-row exchange, the closed-form-moments
    plan ols_multi documents."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.expr(
            "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " div 100 AS BIGINT)"
        ).alias("dollars"),
    )
    xd = F.col("dollars").cast(_D38)
    g = o.groupBy("grp").agg(
        F.count(F.lit(1)).cast(_D38).alias("n_g"),
        F.sum(xd).cast(_D38).alias("s_g"),
        F.sum(xd * F.col("dollars")).cast(_D38).alias("q_g"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast(_D38).alias("k"),
        F.sum("n_g").cast(_D38).alias("n"),
        F.sum("s_g").cast(_D38).alias("s"),
        F.sum("q_g").cast(_D38).alias("q"),
        F.sum(F.expr("CAST((s_g * s_g) div n_g AS DECIMAL(38,0))"))
        .cast(_D38)
        .alias("sb"),
    )
    return t.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n").cast("long").alias("n"),
        F.expr("CAST(sb - (s * s) div n AS BIGINT)").alias("ssb_d2"),
        F.expr("CAST(q - sb AS BIGINT)").alias("ssw_d2"),
        F.expr(
            "CAST((1000000 * (n - k) * (sb - (s * s) div n))"
            " div ((k - 1) * (q - sb)) AS BIGINT)"
        ).alias("f_micros"),
    )


@query(
    "iv_2sls",
    oracle="""
    WITH li AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS z,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100
               AS y
      FROM lineitem
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
             CAST(SUM(CAST(z AS HUGEINT) * x) AS HUGEINT) AS szx,
             CAST(SUM(CAST(z AS HUGEINT) * y) AS HUGEINT) AS szy
      FROM li
    ),
    c AS (
      SELECT n,
             n * szx - sz * sx AS czx,
             n * szy - sz * sy AS czy,
             n * szz - sz * sz AS czz,
             n * sxx - sx * sx AS cxx
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(ROUND(CAST(czy AS DOUBLE) / CAST(czx AS DOUBLE) * 1e6)
                AS BIGINT) AS beta_iv_micros,
           CAST(((n - 2) * czx * czx)
                // (czz * cxx - czx * czx) AS BIGINT) AS first_stage_f_e0
    FROM c
    """,
)
def iv_2sls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSTRUMENTAL-VARIABLES (two-stage least squares, single
    instrument) — the fourth causal readout next to diff_in_diff,
    psm_att, and uplift_by_decile: the Wald/IV estimator
    beta_IV = Cov(z, y) / Cov(z, x) for extended price (whole dollars)
    on quantity, instrumented by the discount, plus the FIRST-STAGE F
    (instrument relevance — the weak-instrument diagnostic, F = the
    squared first-stage t: (n-2) Czx^2 / (Czz Cxx - Czx^2), reported
    floor-quantized; > 10 is the folk threshold). The estimand is the
    MECHANICS readout an experimentation platform exposes; whether the
    discount is a valid instrument is the analyst's assumption, not
    the engine's.

    Exactness: the eight moment sums accumulate in DECIMAL(38,0)/
    HUGEINT; centered moments clear denominators (Cab = n*Sab - Sa*Sb,
    the corr_pairs cancellation); beta is ONE double ratio of identical
    exact integers (round-quantized to micros); the F statistic never
    touches doubles at all.

    Scale shape (100 TB): ONE map-side-combinable eight-sum aggregate
    over the scan reduces everything to a single row — the ols_multi
    closed-form plan; adding instruments grows the moment matrix, not
    the shuffle count."""
    li = table(spark, sf_dir, "lineitem").select(
        dec2("l_quantity").cast("long").alias("x"),
        (dec2("l_discount") * 100).cast("long").alias("z"),
        F.expr(
            "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " div 100 AS BIGINT)"
        ).alias("y"),
    )
    xd, zd, yd = (F.col(k).cast(_D38) for k in ("x", "z", "y"))
    m = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xd).cast(_D38).alias("sx"),
        F.sum(zd).cast(_D38).alias("sz"),
        F.sum(yd).cast(_D38).alias("sy"),
        F.sum(xd * F.col("x")).cast(_D38).alias("sxx"),
        F.sum(zd * F.col("z")).cast(_D38).alias("szz"),
        F.sum(zd * F.col("x")).cast(_D38).alias("szx"),
        F.sum(zd * F.col("y")).cast(_D38).alias("szy"),
    )
    n = F.col("n")
    c = m.select(
        "n",
        (n * F.col("szx") - F.col("sz") * F.col("sx")).alias("czx"),
        (n * F.col("szy") - F.col("sz") * F.col("sy")).alias("czy"),
        (n * F.col("szz") - F.col("sz") * F.col("sz")).alias("czz"),
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).alias("cxx"),
    )
    return c.select(
        n.cast("long").alias("n"),
        F.round(
            F.col("czy").cast("double") / F.col("czx").cast("double") * 1e6
        )
        .cast("long")
        .alias("beta_iv_micros"),
        F.expr(
            "CAST(((n - 2) * czx * czx)"
            " div (czz * cxx - czx * czx) AS BIGINT)"
        ).alias("first_stage_f_e0"),
    )


@query(
    "cliffs_delta",
    oracle="""
    WITH o AS (
      SELECT CASE WHEN ('0x' || substr(md5('cd' || CAST(o_orderkey AS VARCHAR)), 1, 1))::BIGINT < 8
                  THEN 1 ELSE 0 END AS a,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ),
    v AS (
      SELECT cents,
             CAST(SUM(a) AS BIGINT) AS cnt_a,
             CAST(SUM(1 - a) AS BIGINT) AS cnt_b
      FROM o GROUP BY cents
    ),
    r AS (
      SELECT cents, cnt_a, cnt_b,
             CAST(SUM(cnt_b) OVER (ORDER BY cents) AS BIGINT) AS cum_b
      FROM v
    ),
    m AS (
      SELECT CAST(SUM(cnt_a) AS HUGEINT) AS n1,
             CAST(SUM(cnt_b) AS HUGEINT) AS n2,
             CAST(SUM(CAST(cnt_a AS HUGEINT) * (cum_b - cnt_b)) AS HUGEINT)
               AS gt_pairs,
             CAST(SUM(CAST(cnt_a AS HUGEINT) * cum_b) AS HUGEINT) AS s_cum,
             CAST(SUM(CAST(cnt_a AS HUGEINT) * cnt_b) AS HUGEINT) AS t_ab
      FROM r
    )
    SELECT CAST(n1 AS BIGINT) AS n_a,
           CAST(n2 AS BIGINT) AS n_b,
           CAST(gt_pairs AS BIGINT) AS gt_pairs,
           CAST(n1 * n2 - s_cum AS BIGINT) AS lt_pairs,
           CAST(t_ab AS BIGINT) AS tie_pairs,
           CAST((1000000 * (gt_pairs - (n1 * n2 - s_cum)))
                // (n1 * n2) AS BIGINT) AS delta_micros
    FROM m
    """,
)
def cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIFF'S DELTA — the ordinal effect size to pair with
    mann_whitney_u's significance readout (same md5-salted arm
    assignment, 'cd' salt): delta = (#{a>b} - #{a<b}) / (n_a n_b) in
    [-1, 1], the probability-of-superiority contrast that, unlike
    Cohen's d, needs no variance assumption. The naive definition is a
    quadratic pair comparison; the rank identity makes it linear:
    #{a>b} = Sum_v cnt_a(v) * cumB_before(v) over the distinct-value
    order, #{a<b} = n_a n_b - Sum_v cnt_a(v) * cumB_incl(v), and ties
    n_a n_b - gt - lt fall out for free (pinned in tests). Every term
    is an exact integer; delta is one trunc division to micros
    (negative-safe: Spark div and DuckDB // both truncate toward
    zero).

    Scale shape (100 TB): one hash aggregate collapses the table to
    O(#distinct values); the prefix count uses bucketed_prefix_sums
    (per-bucket totals + broadcast offsets + in-bucket windows — never
    one WindowExec partition); one final map-side-combinable aggregate
    yields the single-row readout — mann_whitney_u's exact plan."""
    nib = md5_int("cd", F.col("o_orderkey"), digits=1)
    o = table(spark, sf_dir, "orders").select(
        F.when(nib < 8, 1).otherwise(0).alias("a"),
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
    )
    v = o.groupBy("cents").agg(
        F.sum("a").cast("long").alias("cnt_a"),
        F.sum(1 - F.col("a")).cast("long").alias("cnt_b"),
    )
    r = bucketed_prefix_sums(
        v, F.expr("cents div 100000"), [F.col("cents")], {"cum_b": F.col("cnt_b")}
    )
    ad = F.col("cnt_a").cast(_D38)
    m = r.agg(
        F.sum("cnt_a").cast(_D38).alias("n1"),
        F.sum("cnt_b").cast(_D38).alias("n2"),
        F.sum(ad * (F.col("cum_b") - F.col("cnt_b"))).cast(_D38).alias("gt_pairs"),
        F.sum(ad * F.col("cum_b")).cast(_D38).alias("s_cum"),
        F.sum(ad * F.col("cnt_b")).cast(_D38).alias("t_ab"),
    )
    return m.select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        F.col("gt_pairs").cast("long").alias("gt_pairs"),
        F.expr("CAST(n1 * n2 - s_cum AS BIGINT)").alias("lt_pairs"),
        F.col("t_ab").cast("long").alias("tie_pairs"),
        F.expr(
            "CAST((1000000 * (gt_pairs - (n1 * n2 - s_cum)))"
            " div (n1 * n2) AS BIGINT)"
        ).alias("delta_micros"),
    )


@query(
    "sample_size_proportion",
    oracle="""
    WITH u AS (
      SELECT c.c_custkey,
             CAST(MAX(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(conv) AS BIGINT) AS pos
      FROM u
    )
    SELECT n AS n_users, pos AS n_converted,
           CAST((1000000 * pos) // n AS BIGINT) AS p_micros,
           CAST(CEIL(
             2.0 * 2.8015852181129683 * 2.8015852181129683
             * (CAST(pos AS DOUBLE) / n) * (1.0 - CAST(pos AS DOUBLE) / n)
             / ((0.02) * (0.02))) AS BIGINT) AS n_per_arm_abs2pp,
           CASE WHEN pos = 0 THEN NULL
                ELSE CAST(CEIL(
             2.0 * 2.8015852181129683 * 2.8015852181129683
             * (1.0 - CAST(pos AS DOUBLE) / n)
             / ((0.05) * (0.05) * (CAST(pos AS DOUBLE) / n)))
             AS BIGINT) END AS n_per_arm_rel5pct
    FROM m
    """,
)
def sample_size_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-SIZE CALCULATOR for a conversion-rate A/B test — the
    proportion counterpart of mde_power_analysis (which sizes a MEANS
    test from spend variance): from the base's own fulfilled-customer
    rate p (customers with at least one fulfilled order — the events
    fixture converts every user, so the customer base is the unit with
    an interior baseline), the per-arm n to detect (a) an absolute +2pp lift and (b)
    a relative +5% lift at alpha 0.05 / power 0.8, via
    n = 2 (z_a + z_b)^2 p(1-p) / delta^2 with the HARDCODED z-sum
    constant 2.8015852181129683 (no engine evaluates a normal CDF —
    the srm_check discipline). p itself is an exact integer ratio;
    the two sizing formulas are structurally identical double
    expressions of the same exact integers, CEIL-quantized (you can't
    recruit a fractional user, and both engines CEIL doubles
    identically).

    Scale shape: one customer-keyed LEFT join + aggregate reduces the
    base to O(#customers), one 1-row reduce — the mde_power_analysis
    plan."""
    u = (
        table(spark, sf_dir, "customer")
        .select("c_custkey")
        .join(
            table(spark, sf_dir, "orders").select(
                F.col("o_custkey").alias("c_custkey"), "o_orderstatus"
            ),
            "c_custkey",
            "left",
        )
        .groupBy("c_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("conv")
        )
    )
    m = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("pos"),
    )
    z2 = 2.8015852181129683 * 2.8015852181129683
    p = F.col("pos").cast("double") / F.col("n").cast("double")
    return m.select(
        F.col("n").alias("n_users"),
        F.col("pos").alias("n_converted"),
        F.expr("CAST((1000000 * pos) div n AS BIGINT)").alias("p_micros"),
        F.ceil(F.lit(2.0) * F.lit(z2) * p * (F.lit(1.0) - p) / F.lit(0.02 * 0.02))
        .cast("long")
        .alias("n_per_arm_abs2pp"),
        # pos = 0 guard: the relative-lift sizing divides by p; a
        # never-converting base would hit engine-divergent inf->BIGINT
        # behavior without it (ADVICE r12).
        F.when(F.col("pos") == 0, F.lit(None).cast("long"))
        .otherwise(
            F.ceil(
                F.lit(2.0)
                * F.lit(z2)
                * (F.lit(1.0) - p)
                / (F.lit(0.05 * 0.05) * p)
            ).cast("long")
        )
        .alias("n_per_arm_rel5pct"),
    )

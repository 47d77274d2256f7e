"""Event-log behavioral analytics (SURVEY §2.13 X9-adjacent, over the S3
process-log source family): ordered funnel conversion and weekly cohort
retention — the two classic event-analytics rollups, both value-hash
oracle-checked.

All timestamp math happens on unix-micro bigints (see catalog._events)
and week bucketing is pure integer division — no engine-specific
calendar semantics anywhere, so results are bit-identical across
Spark and DuckDB.

Scale notes (100 TB): every stage is keyed by user_id — one shuffle
partitioning serves the per-user mins, the ordered-step joins (each a
per-user aggregate joined back, never a cross join), and the cohort
assignment. The funnel's per-step frames are single-row aggregates
(map-side combinable counts), so the final union is driver-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

# the session gap IS sessionize_batch's (session_funnel's docstring
# promises its semantics) — the shared constant lives in catalog so a
# tuning there cannot silently desync either operator
from ..catalog import SESSION_GAP_US as _SF_GAP_US
from ..catalog import table
from ..exact import dec2, money_sum
from ..functions.ranking import bucketed_global_rank, bucketed_prefix_sum
from ..plans.iterate import local_checkpoint
from ..registry import query

_D38B = "decimal(38,0)"

_WEEK_US = 7 * 24 * 3600 * 1_000_000

# Ordered funnel over the fixture's browse→buy path. BOTH the Spark
# builder and the DuckDB oracle are generated from this one constant
# (round-2 ADVICE: hard-coded step labels on either side could silently
# desync from it).
_FUNNEL_STEPS = ("view", "click", "purchase")


def _funnel_oracle(steps: tuple[str, ...] = _FUNNEL_STEPS) -> str:
    ctes = [
        "e AS (\n"
        "      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events\n"
        "    )",
        "s1 AS (\n"
        "      SELECT user_id, MIN(us) AS t1 FROM e\n"
        f"      WHERE event_type = '{steps[0]}' GROUP BY user_id\n"
        "    )",
    ]
    for i in range(2, len(steps) + 1):
        ctes.append(
            f"s{i} AS (\n"
            f"      SELECT e.user_id, MIN(e.us) AS t{i}\n"
            f"      FROM e JOIN s{i - 1} USING (user_id)\n"
            f"      WHERE e.event_type = '{steps[i - 1]}' AND e.us >= s{i - 1}.t{i - 1}\n"
            "      GROUP BY e.user_id\n"
            "    )"
        )
    selects = [
        f"SELECT {i} AS step_idx, '{s}' AS step,\n"
        f"           (SELECT CAST(COUNT(*) AS BIGINT) FROM s{i}) AS n_users"
        if i == 1
        else f"SELECT {i}, '{s}', (SELECT CAST(COUNT(*) AS BIGINT) FROM s{i})"
        for i, s in enumerate(steps, 1)
    ]
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL\n    ".join(selects)


@query("funnel_conversion", oracle=_funnel_oracle())
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked at-or-after their
    first view, then purchased at-or-after that first qualifying click.

    Each step is `min-timestamp aggregate → join back → filtered min` —
    the per-user sequential-pattern shape (a bounded MATCH_RECOGNIZE).
    Step frames shrink monotonically, and every join is keyed on
    user_id; nothing is ever pairwise. Steps come from _FUNNEL_STEPS on
    both the Spark and oracle side.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )

    def first_at_or_after(prev: DataFrame, prev_t: str, step: str, out_t: str) -> DataFrame:
        return (
            e.join(prev, "user_id")
            .where((F.col("event_type") == step) & (F.col("us") >= F.col(prev_t)))
            .groupBy("user_id")
            .agg(F.min("us").alias(out_t))
        )

    def count_frame(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(idx).alias("step_idx"), F.lit(name).alias("step"), "n_users"
        )

    cur = (
        e.where(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    out = count_frame(cur, 1, _FUNNEL_STEPS[0])
    for i, step in enumerate(_FUNNEL_STEPS[1:], 2):
        cur = first_at_or_after(cur, f"t{i - 1}", step, f"t{i}")
        out = out.unionByName(count_frame(cur, i, step))
    return out


@query(
    "cohort_retention",
    oracle=f"""
    WITH e AS (
      SELECT user_id, (epoch_ns(ts) // 1000) // {_WEEK_US} AS w FROM events
    ),
    uw AS (SELECT DISTINCT user_id, w FROM e),
    c AS (SELECT user_id, MIN(w) AS cw FROM uw GROUP BY user_id)
    SELECT CAST(c.cw AS BIGINT) AS cohort_week,
           CAST(uw.w - c.cw AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM uw JOIN c USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by first-active
    week (epoch-week index — pure integer division, no calendar), counted
    in every subsequent week they were active.

    distinct(user, week) → per-user min week → join back → count per
    (cohort, offset). The distinct and the min reuse the same user_id
    hash partitioning; the join is keyed, the result is |weeks|² rows
    at most — tiny regardless of corpus size.
    """
    uw = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_WEEK_US}").alias("w"),
        )
        .distinct()
    )
    c = uw.groupBy("user_id").agg(F.min("w").alias("cw"))
    return (
        uw.join(c, "user_id")
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("w") - F.col("cw")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "event_transitions",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
      FROM events
    ),
    seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY us, event_id
             ) AS prev_type
      FROM e
    )
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (the Markov-chain view of
    the event log): count consecutive (prev → next) pairs in each
    user's timeline, plus how many distinct users made each transition.

    lag over (user, time) then one aggregate: the sequential-pattern
    primitive underneath funnel debugging ("where do users go after a
    click?"). One shuffle keyed on user_id serves the window; the
    transition matrix is |event_types|² rows — tiny at any corpus
    scale. Ordering ties broken by event_id (ts alone is not unique per
    user), same rule as sessionize_batch.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@query(
    "anomaly_daily_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS s,
             CAST(SUM(n * n) AS BIGINT) AS ss
      FROM daily GROUP BY 1
    )
    SELECT d.event_type, d.day, d.n,
           ROUND((d.n - CAST(s.s AS DOUBLE) / s.k)
                 / SQRT(CAST(s.ss AS DOUBLE) / s.k
                      - (CAST(s.s AS DOUBLE) / s.k) * (CAST(s.s AS DOUBLE) / s.k)),
                 6) AS zscore
    FROM daily d JOIN stats s USING (event_type)
    WHERE s.k >= 2 AND CAST(s.k AS DOUBLE) * s.ss > CAST(s.s AS DOUBLE) * s.s
    """,
)
def anomaly_daily_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring primitive: per-type daily event counts scored as
    z-scores against that type's own daily distribution — the
    volume-anomaly sweep a pipeline runs over its ingest logs.

    Counts and both moments (Σn, Σn²) accumulate as exact int64, so
    mean/variance/z are deterministic double expressions on identical
    operands (no float accumulation order anywhere); the
    positive-variance guard k·Σn² > (Σn)² compares the products as
    DOUBLE on both engines — identical operands give an identical IEEE
    result, and unlike int64 the products can't wrap (Spark wraps
    silently where DuckDB raises). Two keyed aggregates; the
    per-type stats join is |event types| rows, broadcast trivially.
    """
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("k")
    var = F.col("ss").cast("double") / F.col("k") - mean * mean
    return (
        daily.join(stats, "event_type")
        .where(
            # guard products as double: k·Σn² in int64 can wrap at large
            # per-day counts (Spark wraps silently, DuckDB raises — the
            # engines would diverge exactly at scale). Same operands on
            # both sides -> identical IEEE result, no wrap.
            (F.col("k") >= 2)
            & (
                F.col("k").cast("double") * F.col("ss")
                > F.col("s").cast("double") * F.col("s")
            )
        )
        .select(
            "event_type",
            "day",
            "n",
            F.round((F.col("n") - mean) / F.sqrt(var), 6).alias("zscore"),
        )
    )


# RFM segmentation: the standard behavioral customer triage
# (recency / frequency / monetary) with FIXED thresholds rather than
# rank quantiles — threshold segments are deterministic, growth-stable
# (a new cohort never re-labels old customers, the split_assign
# property) and avoid a global ranking pass entirely.
@query(
    "orders_rfm",
    oracle="""
    WITH ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
    per_cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(o_orderdate),
                            (SELECT ref_date FROM ref)) AS BIGINT)
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           CASE WHEN recency_days <= 90 AND frequency >= 10 THEN 'champion'
                WHEN recency_days <= 90 THEN 'recent'
                WHEN frequency >= 10 THEN 'loyal'
                ELSE 'dormant' END AS segment
    FROM per_cust
    """,
)
def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 extension: recency/frequency/monetary segmentation over the
    order log — one customer-keyed aggregate plus a 1-row broadcast of
    the reference date; segment labels come from fixed thresholds, so
    no global ranking/ntile pass and labels are stable as the customer
    base grows. Monetary uses the exact-decimal money path
    (`exact.money_sum` contract) so the double is bit-identical
    cross-engine."""
    orders = table(spark, sf_dir, "orders")
    ref = orders.agg(F.max("o_orderdate").alias("ref_date"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            money_sum("o_totalprice", "monetary"),
        )
        .join(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff(F.col("ref_date"), F.col("last_order"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    seg = (
        F.when(
            (F.col("recency_days") <= 90) & (F.col("frequency") >= 10), "champion"
        )
        .when(F.col("recency_days") <= 90, "recent")
        .when(F.col("frequency") >= 10, "loyal")
        .otherwise("dormant")
    )
    return per_cust.select(
        "o_custkey", "recency_days", "frequency", "monetary", seg.alias("segment")
    )


def _session_funnel_oracle(steps: tuple[str, ...] = _FUNNEL_STEPS) -> str:
    body = f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events
    ),
    f AS (
      SELECT user_id, event_id, event_type, us,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > {_SF_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    s AS (
      SELECT user_id, event_type, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM f
    ),
    p1 AS (
      SELECT user_id, sess, event_type, us,
             MIN(CASE WHEN event_type = '{steps[0]}' THEN us END)
               OVER (PARTITION BY user_id, sess) AS t1
      FROM s
    ),
    p2 AS (
      SELECT user_id, sess, event_type, us, t1,
             MIN(CASE WHEN event_type = '{steps[1]}' AND us >= t1 THEN us END)
               OVER (PARTITION BY user_id, sess) AS t2
      FROM p1
    ),
    p3 AS (
      SELECT user_id, sess, t1, t2,
             MIN(CASE WHEN event_type = '{steps[2]}' AND us >= t2 THEN us END)
               OVER (PARTITION BY user_id, sess) AS t3
      FROM p2
    ),
    per_sess AS (
      SELECT user_id, sess,
             MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
      FROM p3 GROUP BY user_id, sess
    )
    SELECT 1 AS step_idx, '{steps[0]}' AS step,
           CAST(COUNT(t1) AS BIGINT) AS n_sessions FROM per_sess
    UNION ALL
    SELECT 2, '{steps[1]}', CAST(COUNT(t2) AS BIGINT) FROM per_sess
    UNION ALL
    SELECT 3, '{steps[2]}', CAST(COUNT(t3) AS BIGINT) FROM per_sess
    """
    return body


@query("session_funnel", oracle=_session_funnel_oracle())
def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped ordered funnel: within each 30-minute-gap session
    (sessionize_batch semantics, `>` boundary), how many sessions
    reached view, view→click (click at-or-after the session's first
    view), and view→click→purchase. The composite every product
    analytics stack runs — sessionization feeding an ordered-step
    chain — expressed as ONE keyed shuffle on user_id: the gap walk
    (two window passes), the three dependent per-session step minima
    (window passes over (user, sess) — each step's floor is the
    previous step's min, so they chain without joins), and the final
    per-session rollup all reuse the same partitioning. Counts come
    from one tiny aggregate; steps and oracle derive from
    _FUNNEL_STEPS (behavior.py discipline).

    At 100 TB: no joins at all — window passes over one partitioning,
    then a 3-row result. Compare funnel_conversion (global, per-user
    chains via joins); this is the session-granular form."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    worder = W.partitionBy("user_id").orderBy("us", "event_id")
    f = e.withColumn(
        "new_s",
        F.when(
            F.lag("us").over(worder).isNull()
            | ((F.col("us") - F.lag("us").over(worder)) > _SF_GAP_US),
            1,
        ).otherwise(0),
    )
    s = f.withColumn(
        "sess", F.sum("new_s").over(worder.rowsBetween(W.unboundedPreceding, 0))
    )
    ws = W.partitionBy("user_id", "sess")
    steps = _FUNNEL_STEPS
    p = s.withColumn(
        "t1", F.min(F.when(F.col("event_type") == steps[0], F.col("us"))).over(ws)
    )
    p = p.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == steps[1]) & (F.col("us") >= F.col("t1")),
                F.col("us"),
            )
        ).over(ws),
    )
    p = p.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == steps[2]) & (F.col("us") >= F.col("t2")),
                F.col("us"),
            )
        ).over(ws),
    )
    per_sess = p.groupBy("user_id", "sess").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    counts = per_sess.agg(
        F.count("t1").alias("c1"), F.count("t2").alias("c2"), F.count("t3").alias("c3")
    )
    # one explode over the 1-row aggregate — a 3-branch union would
    # carry three copies of the whole window subtree in the plan
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("step_idx"),
                F.lit(st).alias("step"),
                F.col(f"c{i}").cast("long").alias("n_sessions"),
            )
            for i, st in enumerate(steps, 1)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select(
        "r.step_idx", "r.step", "r.n_sessions"
    )


@query(
    "session_path_topk",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
      FROM events
    ),
    f AS (
      SELECT user_id, event_id, event_type, us,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > {_SF_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    s AS (
      SELECT user_id, event_id, event_type, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM f
    ),
    t AS (
      SELECT event_type AS t0,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2,
             sess,
             lead(sess, 2) OVER w AS sess2
      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    paths AS (
      SELECT t0 || '>' || t1 || '>' || t2 AS path, COUNT(*) AS n
      FROM t WHERE sess2 = sess
      GROUP BY t0 || '>' || t1 || '>' || t2
    )
    SELECT path, CAST(n AS BIGINT) AS n
    FROM paths ORDER BY n DESC, path LIMIT 20
    """,
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 event-type trigram PATHS within sessions — the
    path-mining rollup behind "what do users actually do" product
    analytics, one order up from event_transitions' Markov bigrams:
    sessionize_batch's gap logic (the shared catalog constant)
    assigns session indices, two leads over the SAME per-user window
    build trigrams, and lead(sess, 2) == sess drops any trigram that
    crosses a session boundary — the leakage that makes naive path
    mining wrong. Counting is over the path string; top-20 by
    (n DESC, path) compiles to TakeOrderedAndProject, never a global
    sort.

    Scale shape: one keyed shuffle on user_id serves the gap window,
    the running session sum, and both leads (same partitioning, same
    sort — Catalyst runs them in one WindowExec pass); the path count
    is map-side combinable over O(#type³) keys."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    lag_us = F.lag("us").over(w)
    sess = F.sum(
        F.when(lag_us.isNull() | (F.col("us") - lag_us > _SF_GAP_US), 1).otherwise(0)
    ).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    s = ev.withColumn("sess", sess)
    t = s.select(
        F.col("event_type").alias("t0"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        "sess",
        F.lead("sess", 2).over(w).alias("sess2"),
    )
    paths = (
        t.where(F.col("sess2") == F.col("sess"))
        .select(F.concat_ws(">", "t0", "t1", "t2").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return paths.orderBy(F.col("n").desc(), "path").limit(20)


_HOUR_US = 3600 * 1_000_000


@query(
    "concurrent_sessions_max",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events
    ),
    f AS (
      SELECT user_id, event_id, us,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > {_SF_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    s AS (
      SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM f
    ),
    sess AS (
      SELECT user_id, sess, MIN(us) AS s0, MAX(us) AS e0
      FROM s GROUP BY user_id, sess
    ),
    deltas AS (
      SELECT s0 AS us, 1 AS d FROM sess
      UNION ALL
      SELECT e0 + 1, -1 FROM sess
    ),
    dts AS (SELECT us, CAST(SUM(d) AS BIGINT) AS d FROM deltas GROUP BY us),
    c AS (
      SELECT us, SUM(d) OVER (ORDER BY us ROWS UNBOUNDED PRECEDING) AS conc
      FROM dts
    ),
    m AS (SELECT MAX(conc) AS mx FROM c)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sess) AS n_sessions,
           CAST(MAX(c.conc) AS BIGINT) AS max_concurrent,
           CAST(MIN(c.us) AS BIGINT) AS at_us
    FROM c, m WHERE c.conc = m.mx
    """,
)
def concurrent_sessions_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency of user sessions (the interval-sweep / max-
    overlap operator): sessionize (sessionize_batch's exact gap
    semantics), turn each session [start, end] into +1/-1 boundary
    deltas (the -1 lands at end+1us so a session is live through its
    last event's microsecond), net the deltas per distinct timestamp,
    and take the running sum's maximum plus the EARLIEST timestamp
    achieving it (unique argmin — deterministic under ties). The
    capacity-planning primitive behind "how many simultaneous
    users/connections at peak".

    Scale shape: the sweep's running sum is `functions/ranking.
    bucketed_prefix_sum` — per-hour delta totals, O(#hours) broadcast
    theta-join offsets, in-hour cumulative windows partitioned by the
    hour bucket — never an unpartitioned window over the boundary
    stream; the argmax is one broadcast of the 1-row max joined back.
    All int64, fully deterministic."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    new_s = F.when(
        F.lag("us").over(w).isNull() | (F.col("us") - F.lag("us").over(w) > _SF_GAP_US),
        1,
    ).otherwise(0)
    sess_idx = F.sum("new_s").over(
        W.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
            W.unboundedPreceding, 0
        )
    )
    sessions = (
        ev.withColumn("new_s", new_s)
        .withColumn("sess", sess_idx)
        .groupBy("user_id", "sess")
        .agg(F.min("us").alias("s0"), F.max("us").alias("e0"))
    )
    deltas = sessions.select(F.col("s0").alias("us"), F.lit(1).alias("d")).unionAll(
        sessions.select((F.col("e0") + 1).alias("us"), F.lit(-1).alias("d"))
    )
    dts = deltas.groupBy("us").agg(F.sum("d").cast("long").alias("d"))
    c = bucketed_prefix_sum(
        dts, F.expr(f"us div {_HOUR_US}"), [F.col("us")], F.col("d"), "conc"
    )
    m = c.agg(F.max("conc").alias("mx"))
    nsess = sessions.agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    return (
        c.crossJoin(F.broadcast(m))
        .where(F.col("conc") == F.col("mx"))
        .groupBy()
        .agg(
            F.max("conc").cast("long").alias("max_concurrent"),
            F.min("us").cast("long").alias("at_us"),
        )
        .crossJoin(F.broadcast(nsess))
        .select("n_sessions", "max_concurrent", "at_us")
    )


@query(
    "attribution_last_touch",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, value,
             epoch_ns(ts) // 1000 AS us
      FROM events
    ),
    t AS (
      SELECT user_id, event_id, event_type, value, us,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM e
    )
    SELECT COALESCE(last_touch, 'none') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM t WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent preceding touch event (click or view;
    'none' when the purchase is the user's first tracked action) —
    the standard single-touch attribution rollup. "Preceding" is
    strict in the unique (us, event_id) row order (frame ends at 1
    PRECEDING), so a touch sharing the purchase's microsecond but a
    later event_id never self-credits — both engines agree on the
    frame because ROWS frames are pinned to the same total order.
    Revenue sums ride exact decimals (exact.py).

    Scale shape: ONE keyed shuffle on user_id serves the ignore-nulls
    carry-forward window (gap_fill_locf's mechanism), then a map-side
    filter and an O(#channels) aggregate — no self-join of the event
    log against itself."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", F.unix_micros("ts").alias("us")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type").isin("click", "view"), F.col("event_type"))
    t = ev.withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
    return (
        t.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("last_touch"), F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_conversions"),
            F.sum(dec2("value")).cast("double").alias("revenue"),
        )
    )


_DAY_US = 24 * 3600 * 1_000_000


@query(
    "kaplan_meier",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events
    ),
    per_user AS (
      SELECT user_id,
             MIN(us) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN us END) AS tp,
             MAX(us) AS tl
      FROM e GROUP BY user_id
    ),
    durations AS (
      SELECT user_id,
             CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS observed,
             (COALESCE(tp, tl) - t0) // {_DAY_US} AS day
      FROM per_user
    ),
    per_day AS (
      SELECT day,
             CAST(SUM(observed) AS BIGINT) AS n_events,
             CAST(COUNT(*) - SUM(observed) AS BIGINT) AS n_censored
      FROM durations GROUP BY day
    ),
    risk AS (
      SELECT day, n_events, n_censored,
             (SELECT COUNT(*) FROM durations)
               - (SUM(n_events + n_censored) OVER (ORDER BY day
                    ROWS UNBOUNDED PRECEDING) - (n_events + n_censored))
               AS n_risk
      FROM per_day
    ),
    terms AS (
      SELECT day, n_events, n_censored, CAST(n_risk AS BIGINT) AS n_risk,
             CASE WHEN n_events < n_risk
                  THEN CAST(ROUND(ln(1.0 - CAST(n_events AS DOUBLE) / n_risk)
                                  * 1e9) AS BIGINT)
                  ELSE 0 END AS term_nanos
      FROM risk WHERE n_events > 0
    )
    SELECT day, n_risk, n_events, n_censored,
           CASE WHEN n_events = n_risk THEN NULL
                ELSE CAST(SUM(term_nanos) OVER (ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
           END AS ln_surv_nanos
    FROM terms
    """,
)
def kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of days-to-first-purchase per
    user (censored at the user's last tracked event) — the
    time-to-event / retention-curve estimator behind conversion-lag
    and churn reporting. Emits, at each event day, the risk set n_i,
    events d_i, censored count, and the LOG survival ln S(t) =
    Σ ln(1 - d_i/n_i) carried as a cumulative int64 of per-day
    int-nanos terms (the ln-parity precedent) — S itself is never
    exponentiated engine-side, so no exp() last-ulp parity exposure
    ever reaches the hash. Day-bucket convention: everyone with
    duration >= d (event or censor) is at risk at day d (censoring
    counts as at-risk through its own day).

    Scale shape: one user-keyed aggregate collapses the log to one row
    per user, a second to one row per DAY; the risk-set cumulative and
    the survival cumulative are windows over that bounded per-day
    table (the auc_exact shape). Nothing data-scale passes a window."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    per_user = e.groupBy("user_id").agg(
        F.min("us").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).alias("tp"),
        F.max("us").alias("tl"),
    )
    durations = per_user.select(
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("observed"),
        F.expr(f"(coalesce(tp, tl) - t0) div {_DAY_US}").alias("day"),
    )
    per_day = durations.groupBy("day").agg(
        F.sum("observed").cast("long").alias("n_events"),
        (F.count(F.lit(1)) - F.sum("observed")).cast("long").alias("n_censored"),
    )
    total = durations.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    wc = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    out = F.col("n_events") + F.col("n_censored")
    risk = per_day.crossJoin(F.broadcast(total)).select(
        "day",
        "n_events",
        "n_censored",
        (F.col("n_total") - (F.sum(out).over(wc) - out)).cast("long").alias("n_risk"),
    )
    # a saturated day (d == n) zeroes S(t): ln is -inf there, and it can
    # only be the LAST event day (the risk set empties after it), so the
    # cumulative ln over every earlier day is unaffected — surface NULL
    # for that day's ln_surv and a 0 placeholder term kept out of view
    terms = risk.where(F.col("n_events") > 0).select(
        "day",
        "n_risk",
        "n_events",
        "n_censored",
        F.when(
            F.col("n_events") < F.col("n_risk"),
            F.round(
                F.log(1.0 - F.col("n_events").cast("double") / F.col("n_risk"))
                * 1e9
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("term_nanos"),
    )
    return terms.select(
        "day",
        "n_risk",
        "n_events",
        "n_censored",
        F.when(F.col("n_events") == F.col("n_risk"), F.lit(None).cast("long"))
        .otherwise(F.sum("term_nanos").over(wc).cast("long"))
        .alias("ln_surv_nanos"),
    )


@query(
    "attribution_linear",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_ns(ts) // 1000 AS us,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    p AS (SELECT user_id, event_id AS pid, us AS pus, cents
          FROM e WHERE event_type = 'purchase'),
    t AS (SELECT user_id, event_id AS tid, event_type AS channel, us AS tus
          FROM e WHERE event_type IN ('click', 'view')),
    pairs AS (
      SELECT p.pid, p.cents, t.channel, t.tus, t.tid
      FROM p JOIN t ON t.user_id = p.user_id
       AND t.tus < p.pus AND t.tus >= p.pus - 7 * {_DAY_US}
    ),
    credited AS (
      SELECT channel, cents,
             CAST(COUNT(*) OVER (PARTITION BY pid) AS BIGINT) AS n,
             row_number() OVER (PARTITION BY pid ORDER BY tus, tid) AS rk
      FROM pairs
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(cents // n + CASE WHEN rk = 1 THEN cents % n ELSE 0 END)
                AS BIGINT) AS credited_cents
    FROM credited GROUP BY channel
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution (the fractional sibling of
    `attribution_last_touch`): each purchase's revenue splits equally
    across ALL its touches (clicks/views) in the preceding 7 days.
    Equal division of integer cents cannot be exact, so instead of
    rationals-through-floats the credit is allocated as EXACT integer
    division with the remainder assigned to the EARLIEST touch
    (deterministic: cents div n everywhere, + cents mod n at rank 1)
    — every credited cent exists exactly once, the per-channel sums
    are pure int64, and both engines replay the identical allocation
    (the cleared-denominator discipline applied to money splitting).

    Scale shape: the purchase-touch pairing is a user-keyed equi-join
    with a 7-day band predicate (the join_range shape — never an
    unkeyed interval join), and per-purchase n/rank come from windows
    partitioned by purchase id; cents are non-negative (fixture
    money), so truncating div == floor div on both engines."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("us").alias("pus"),
        "cents",
    )
    t = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
        F.col("us").alias("tus"),
    )
    pairs = p.join(
        t,
        (p.user_id == t.user_id)
        & (t.tus < p.pus)
        & (t.tus >= p.pus - 7 * _DAY_US),
    ).select("pid", "cents", "channel", "tus", "tid")
    wp = W.partitionBy("pid")
    credited = pairs.select(
        "channel",
        "cents",
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
        F.row_number().over(wp.orderBy("tus", "tid")).alias("rk"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum(
            F.expr("cents div n")
            + F.when(F.col("rk") == 1, F.col("cents") % F.col("n")).otherwise(0)
        )
        .cast("long")
        .alias("credited_cents"),
    )


_MARKOV_ROUNDS = 24


def _markov_oracle(rounds: int = _MARKOV_ROUNDS) -> str:
    """Unrolled Markov-absorption oracle (per-round MATERIALIZED CTEs —
    DuckDB inlines chained round expressions exponentially otherwise,
    the embedding_pca_power lesson)."""
    blocks = []
    prev = "p0"
    for r in range(1, rounds + 1):
        blocks.append(
            f"""    u{r} AS MATERIALIZED (
      SELECT e.rm, e.src,
             SUM(CAST(e.cnt AS HUGEINT)
                 * CASE e.dst WHEN 'CONV' THEN 1000000000
                              WHEN 'NULL' THEN 0
                              ELSE COALESCE(p.p, 0) END) // MAX(o.o) AS p
      FROM edges e
      JOIN outs o ON o.src = e.src
      LEFT JOIN {prev} p ON p.rm = e.rm AND p.state = e.dst
      GROUP BY e.rm, e.src
    ),
    p{r} AS MATERIALIZED (
      SELECT s.rm, s.state, COALESCE(u.p, 0) AS p
      FROM states_v s
      LEFT JOIN u{r} u ON u.rm = s.rm AND u.src = s.state
    )"""
        )
        prev = f"p{r}"
    body = ",\n".join(blocks)
    return f"""
    WITH e0 AS (
      SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
      FROM events
    ),
    pu AS (
      SELECT user_id, MIN(us) AS pu FROM e0
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    t AS (
      SELECT e0.user_id, e0.event_type AS ch, e0.us, e0.event_id,
             CASE WHEN pu.user_id IS NOT NULL THEN 1 ELSE 0 END AS conv
      FROM e0 LEFT JOIN pu ON pu.user_id = e0.user_id
      WHERE e0.event_type <> 'purchase'
        AND (pu.pu IS NULL OR e0.us < pu.pu)
    ),
    seq AS (
      SELECT user_id, ch, conv,
             LAG(ch) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY us DESC, event_id DESC) AS rdesc
      FROM t
    ),
    trans AS MATERIALIZED (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT COALESCE(prev, 'START') AS src, ch AS dst FROM seq
        UNION ALL
        SELECT ch AS src,
               CASE WHEN conv = 1 THEN 'CONV' ELSE 'NULL' END AS dst
        FROM seq WHERE rdesc = 1
        UNION ALL
        SELECT 'START' AS src, 'CONV' AS dst
        FROM pu LEFT JOIN (SELECT DISTINCT user_id FROM t) tt
          ON tt.user_id = pu.user_id
        WHERE tt.user_id IS NULL
      ) GROUP BY src, dst
    ),
    outs AS (SELECT src, SUM(cnt) AS o FROM trans GROUP BY src),
    channels AS (SELECT DISTINCT src AS ch FROM trans WHERE src <> 'START'),
    variants AS (SELECT ch AS rm FROM channels UNION ALL SELECT 'none'),
    states AS (SELECT DISTINCT src AS state FROM trans),
    states_v AS (SELECT v.rm, s.state FROM variants v CROSS JOIN states s),
    edges AS MATERIALIZED (
      SELECT v.rm, t.src, t.dst, t.cnt
      FROM variants v CROSS JOIN trans t
      WHERE t.dst <> v.rm
    ),
    p0 AS (SELECT rm, state, CAST(0 AS HUGEINT) AS p FROM states_v),
{body},
    full_p AS (
      SELECT p AS p_full FROM p{rounds}
      WHERE rm = 'none' AND state = 'START'
    ),
    rem AS (
      SELECT rm AS channel, p AS p_removed FROM p{rounds}
      WHERE rm <> 'none' AND state = 'START'
    ),
    eff AS (
      SELECT channel, p_full, p_removed, p_full - p_removed AS effect
      FROM rem CROSS JOIN full_p
    ),
    tot AS (SELECT SUM(effect) AS te FROM eff)
    SELECT channel,
           CAST(p_full AS BIGINT) AS p_full_nanos,
           CAST(p_removed AS BIGINT) AS p_removed_nanos,
           CAST(effect AS BIGINT) AS removal_effect_nanos,
           CAST(CASE WHEN tot.te > 0
                     THEN (effect * 1000000000) // tot.te
                     ELSE 0 END AS BIGINT) AS share_nanos
    FROM eff CROSS JOIN tot
    """


@query("attribution_markov", oracle=_markov_oracle())
def attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV-CHAIN (removal-effect) attribution — the data-driven
    multi-touch model next to the positional ones
    (`attribution_last_touch`, `attribution_linear`): build the
    first-order channel-transition matrix from user journeys, compute
    the absorption probability of conversion from START, and credit
    each channel by its REMOVAL EFFECT — how much the conversion
    probability drops when journeys can no longer pass through it
    (transitions INTO the removed channel are redirected to NULL;
    denominators stay, so remaining probability mass is NOT
    renormalized — the standard removal-effect convention). Shares
    are effects normalized over channels.

    Journeys: per user, the touch sequence (every non-purchase event
    type is a channel) strictly BEFORE the first purchase, ending in
    CONV (converted) or NULL; a user whose first tracked action is
    the purchase contributes START->CONV. Absorption probabilities by
    24 fixed rounds of p <- T.p with p(CONV)=1e9, p(NULL)=0 in
    integer nanos (floor division by the out-degree, non-negative
    everywhere) — both engines run identical integer arithmetic, so
    the result value-hashes even where iteration hasn't fully
    converged; convergence vs an exact linear solve is pinned in
    tests.

    Scale shape (100 TB): ONE user-keyed shuffle builds the ordered
    journeys (lag + last-row windows share the partition pass) and one
    hash aggregate reduces them to the transition matrix — the only
    data-sized work. The matrix is O(#channels^2) rows BY CONSTRUCTION
    (channels = event types, a domain constant — it cannot grow with
    the data), so the 24-round absorption iteration runs DRIVER-SIDE
    on the collected matrix in exact Python integers (bit-identical
    floor/div arithmetic to the unrolled SQL oracle): the r11 form ran
    the same tiny iteration as 24 rounds of broadcast joins and spent
    ~6s of pure job-scheduling overhead at sf0.1 (8.0s -> ~2s). This
    is the documented bounded-state collect (the
    graph/components.py:103 convention): the collect is O(#channels^2)
    at ANY data scale, never O(data)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    pu = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("us").alias("pu"))
    )
    t = (
        ev.where(F.col("event_type") != "purchase")
        .join(pu.withColumnRenamed("user_id", "pu_uid"),
              F.col("user_id") == F.col("pu_uid"), "left")
        .where(F.col("pu").isNull() | (F.col("us") < F.col("pu")))
        .select(
            "user_id",
            F.col("event_type").alias("ch"),
            "us",
            "event_id",
            F.when(F.col("pu_uid").isNotNull(), 1).otherwise(0).alias("conv"),
        )
    )
    wseq = W.partitionBy("user_id").orderBy("us", "event_id")
    wdesc = W.partitionBy("user_id").orderBy(F.desc("us"), F.desc("event_id"))
    seq = t.select(
        "ch",
        "conv",
        F.lag("ch").over(wseq).alias("prev"),
        F.row_number().over(wdesc).alias("rdesc"),
    )
    mid = seq.select(
        F.coalesce(F.col("prev"), F.lit("START")).alias("src"),
        F.col("ch").alias("dst"),
    )
    end = seq.where(F.col("rdesc") == 1).select(
        F.col("ch").alias("src"),
        F.when(F.col("conv") == 1, F.lit("CONV")).otherwise(F.lit("NULL")).alias("dst"),
    )
    start_conv = (
        pu.join(t.select("user_id").distinct(), "user_id", "left_anti")
        .select(F.lit("START").alias("src"), F.lit("CONV").alias("dst"))
    )
    trans = local_checkpoint(
        mid.unionAll(end)
        .unionAll(start_conv)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # Bounded-state collect: O(#channels^2) rows at ANY data scale.
    t_rows = [(r["src"], r["dst"], r["cnt"]) for r in trans.collect()]
    schema = (
        "channel string, p_full_nanos long, p_removed_nanos long,"
        " removal_effect_nanos long, share_nanos long"
    )
    from ..plans.localrel import local_rows_df

    if not t_rows:
        return local_rows_df(spark, [], schema)
    outs: dict = {}
    for s, _d, c in t_rows:
        outs[s] = outs.get(s, 0) + c
    states = sorted(outs)
    channels = [s for s in states if s != "START"]
    variants = channels + ["none"]

    def absorb(rm: str) -> int:
        """24 rounds of p <- T.p in exact integer nanos — the same
        floor-div recurrence the SQL oracle unrolls (all values are
        non-negative, so Python's // is the engines' trunc div)."""
        p = {s: 0 for s in states}
        for _ in range(_MARKOV_ROUNDS):
            nxt = {}
            for s in states:
                num = 0
                for src, dst, cnt in t_rows:
                    if src != s or dst == rm:
                        continue
                    if dst == "CONV":
                        val = 1_000_000_000
                    elif dst == "NULL":
                        val = 0
                    else:
                        val = p.get(dst, 0)
                    num += cnt * val
                nxt[s] = num // outs[s]
            p = nxt
        return p["START"]

    p_full = absorb("none")
    rem = [(ch, absorb(ch)) for ch in channels]
    effects = [(ch, p_full - pr, pr) for ch, pr in rem]
    te = sum(e for _, e, _ in effects)
    # sign-split trunc division: the oracle's `div` truncates toward
    # zero, Python's // floors — they differ on a (theoretical)
    # negative effect
    def tdiv(a: int, b: int) -> int:
        return -((-a) // b) if a < 0 else a // b

    out_rows = [
        (
            ch,
            p_full,
            pr,
            eff,
            tdiv(eff * 1_000_000_000, te) if te > 0 else 0,
        )
        for ch, eff, pr in effects
    ]
    # Arrow local relation, not a pickled RDD (plans/localrel.py)
    return local_rows_df(spark, out_rows, schema)


@query(
    "cohort_ltv",
    oracle=f"""
    WITH e AS (
      SELECT user_id, (epoch_ns(ts) // 1000) // {_WEEK_US} AS w,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  ELSE 0 END AS cents
      FROM events
    ),
    c AS (SELECT user_id, MIN(w) AS cw FROM e GROUP BY user_id),
    sz AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS cohort_users FROM c GROUP BY cw),
    wk AS (
      SELECT c.cw, e.w - c.cw AS age, CAST(SUM(e.cents) AS BIGINT) AS cents
      FROM e JOIN c USING (user_id) GROUP BY 1, 2
    ),
    cum AS (
      SELECT cw, age, cents,
             CAST(SUM(cents) OVER (PARTITION BY cw ORDER BY age
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS cum_cents
      FROM wk
    )
    SELECT CAST(cum.cw AS BIGINT) AS cohort_week,
           CAST(cum.age AS BIGINT) AS week_offset,
           cum.cents AS cents_in_week,
           cum.cum_cents,
           sz.cohort_users,
           CAST((CAST(cum.cum_cents AS HUGEINT) * 1000000000)
                // sz.cohort_users AS BIGINT) AS ltv_per_user_nanos
    FROM cum JOIN sz USING (cw)
    """,
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LIFETIME VALUE triangle — the revenue companion of
    `cohort_retention`: users grouped by first-active epoch-week,
    purchase cents summed per (cohort, age-week), cumulated along the
    age axis, and normalized per cohort member (the LTV curve a
    payback-period model reads off). Cents are exact integers; the
    per-user LTV is one cleared-denominator floor division — the
    cohort size is the FULL cohort (not just buyers), the standard
    LTV convention, so curves are comparable across cohorts.

    Scale shape: one user-keyed aggregate derives cohorts, one keyed
    join + aggregate collapses the log to the |weeks|^2 triangle, and
    the cumulative window runs OVER that bounded triangle partitioned
    by cohort (the sweep-exempt shape). Nothing scales with the data
    but the two keyed passes."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(ts) div {_WEEK_US}").alias("w"),
        F.when(
            F.col("event_type") == "purchase", (dec2("value") * 100).cast("long")
        )
        .otherwise(0)
        .alias("cents"),
    )
    c = e.groupBy("user_id").agg(F.min("w").alias("cw"))
    sz = c.groupBy("cw").agg(F.count(F.lit(1)).cast("long").alias("cohort_users"))
    wk = (
        e.join(c, "user_id")
        .groupBy("cw", (F.col("w") - F.col("cw")).alias("age"))
        .agg(F.sum("cents").cast("long").alias("cents_in_week"))
    )
    wcum = (
        W.partitionBy("cw").orderBy("age").rowsBetween(W.unboundedPreceding, 0)
    )
    cum = wk.withColumn(
        "cum_cents", F.sum("cents_in_week").over(wcum).cast("long")
    )
    return cum.join(F.broadcast(sz), "cw").select(
        F.col("cw").cast("long").alias("cohort_week"),
        F.col("age").cast("long").alias("week_offset"),
        "cents_in_week",
        "cum_cents",
        "cohort_users",
        F.expr("(CAST(cum_cents AS DECIMAL(38,0)) * 1000000000) div cohort_users")
        .cast("long")
        .alias("ltv_per_user_nanos"),
    )


@query(
    "nelson_aalen",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events
    ),
    per_user AS (
      SELECT user_id,
             MIN(us) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN us END) AS tp,
             MAX(us) AS tl
      FROM e GROUP BY user_id
    ),
    durations AS (
      SELECT user_id,
             CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS observed,
             (COALESCE(tp, tl) - t0) // {_DAY_US} AS day
      FROM per_user
    ),
    per_day AS (
      SELECT day,
             CAST(SUM(observed) AS BIGINT) AS n_events,
             CAST(COUNT(*) - SUM(observed) AS BIGINT) AS n_censored
      FROM durations GROUP BY day
    ),
    risk AS (
      SELECT day, n_events, n_censored,
             (SELECT COUNT(*) FROM durations)
               - (SUM(n_events + n_censored) OVER (ORDER BY day
                    ROWS UNBOUNDED PRECEDING) - (n_events + n_censored))
               AS n_risk
      FROM per_day
    ),
    terms AS (
      SELECT day, n_events, n_censored, CAST(n_risk AS BIGINT) AS n_risk,
             CAST((CAST(n_events AS HUGEINT) * 1000000000) // n_risk
                  AS BIGINT) AS term_nanos
      FROM risk WHERE n_events > 0
    )
    SELECT day, n_risk, n_events, n_censored,
           CAST(SUM(term_nanos) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_hazard_nanos
    FROM terms
    """,
)
def nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative hazard H(t) = Σ d_i/n_i over the same
    days-to-first-purchase durations as `kaplan_meier` — the hazard-
    scale companion every survival readout pairs with the KM curve
    (H is additive, so it aggregates and compares across cohorts
    where S multiplies; and exp(-H) is the Fleming-Harrington
    survival estimate). Unlike KM's ln terms, every hazard increment
    d_i/n_i is a pure exact-integer floor division — no transcendental
    enters the pipeline at all, so the whole curve is int64 arithmetic
    end to end (stronger than the ln-parity KM relies on).

    Scale shape: identical to kaplan_meier — one user-keyed reduction
    to durations, one per-day aggregate, cumulative windows OVER that
    bounded per-day table."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    per_user = e.groupBy("user_id").agg(
        F.min("us").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).alias("tp"),
        F.max("us").alias("tl"),
    )
    durations = per_user.select(
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("observed"),
        F.expr(f"(COALESCE(tp, tl) - t0) div {_DAY_US}").alias("day"),
    )
    per_day = durations.groupBy("day").agg(
        F.sum("observed").cast("long").alias("n_events"),
        (F.count(F.lit(1)) - F.sum("observed")).cast("long").alias("n_censored"),
    )
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    wall = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    risk = per_day.select(
        "day",
        "n_events",
        "n_censored",
        (
            F.sum(F.col("n_events") + F.col("n_censored")).over(wall)
            - F.sum(F.col("n_events") + F.col("n_censored")).over(wcum)
            + (F.col("n_events") + F.col("n_censored"))
        )
        .cast("long")
        .alias("n_risk"),
    )
    terms = risk.where(F.col("n_events") > 0).select(
        "day",
        "n_risk",
        "n_events",
        "n_censored",
        F.expr("(CAST(n_events AS DECIMAL(38,0)) * 1000000000) div n_risk")
        .cast("long")
        .alias("term_nanos"),
    )
    return terms.select(
        "day",
        "n_risk",
        "n_events",
        "n_censored",
        F.sum("term_nanos").over(W.orderBy("day").rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_hazard_nanos"),
    )


@query(
    "herfindahl_concentration",
    oracle="""
    WITH cc AS (
      SELECT c.c_nationkey AS nk,
             o.o_custkey AS cust,
             CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ),
    agg AS (
      SELECT nk,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS t,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sq
      FROM cc GROUP BY nk
    )
    SELECT n.n_name AS nation, a.n_customers,
           CAST(a.t AS BIGINT) AS total_cents,
           CAST((a.sq * 1000000000) // (a.t * a.t) AS BIGINT) AS hhi_nanos,
           CAST((a.t * a.t * 1000000) // a.sq AS BIGINT)
             AS effective_n_micros
    FROM agg a JOIN nation n ON n.n_nationkey = a.nk
    ORDER BY nation
    """,
)
def herfindahl_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL–HIRSCHMAN concentration index of customer revenue per
    nation — the market-concentration diagnostic next to
    `gini_concentration`: HHI = Σ_c (share_c)² over each nation's
    customers (1e9 = monopoly, 1/n = perfectly even), plus the
    effective customer count 1/HHI (the "numbers equivalent"). Both
    are a SINGLE integer division of exact moment sums: HHI·1e9 =
    floor(Σ cents² · 1e9 / T²), effective·1e6 = floor(T²·1e6 / Σ
    cents²) — squares and products run in DECIMAL(38,0)/HUGEINT (the
    corr_pairs discipline), no per-customer share is ever a float.

    Scale shape: one customer-keyed aggregate (orders → O(#customers)),
    one nation-keyed moment aggregate (→ O(#nations)), one broadcast
    dim join. No windows, nothing pairwise."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", (dec2("o_totalprice") * 100).cast("long").alias("cents")
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cc = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    cd = F.col("cents").cast(_D38B)
    agg = cc.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(cd).cast(_D38B).alias("t"),
        F.sum(cd * F.col("cents")).cast(_D38B).alias("sq"),
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        agg.join(F.broadcast(n), agg["c_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            "n_customers",
            F.col("t").cast("long").alias("total_cents"),
            F.expr("CAST((sq * 1000000000) div (t * t) AS LONG)").alias(
                "hhi_nanos"
            ),
            F.expr("CAST((t * t * 1000000) div sq AS LONG)").alias(
                "effective_n_micros"
            ),
        )
        .orderBy("nation")
    )


@query(
    "lorenz_curve_deciles",
    oracle="""
    WITH cc AS (
      SELECT o_custkey,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS pos,
             COUNT(*) OVER () AS n
      FROM cc
    ),
    dec AS (
      SELECT ((pos - 1) * 10) // n AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS cents_sum
      FROM ranked GROUP BY ((pos - 1) * 10) // n
    ),
    tot AS (SELECT SUM(cents_sum) AS t FROM dec)
    SELECT CAST(d.decile AS BIGINT) AS decile,
           d.n_customers,
           CAST(d.cents_sum AS BIGINT) AS cents_sum,
           CAST((SUM(d.cents_sum) OVER (ORDER BY d.decile
                 ROWS UNBOUNDED PRECEDING) * 1000000000) // tot.t
                AS BIGINT) AS cum_share_nanos
    FROM dec AS d, tot
    ORDER BY decile
    """,
)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ CURVE of customer spend by decile — the distributional
    readout behind `gini_concentration`: customers ranked poorest
    first (total order: (cents, custkey)), split into 10 rank deciles
    ((pos−1)·10 div n), each reporting its population, spend, and the
    CUMULATIVE spend share in int-nanos (floor((Σ_{d'<=d} cents)·1e9 /
    T) — one division per decile over exact HUGEINT/DECIMAL(38,0)
    sums). A perfectly equal book shows cum shares 1e8, 2e8, …; the
    sag below that diagonal is the inequality Gini integrates.

    Scale shape: one customer-keyed aggregate (orders →
    O(#customers)); the global rank is `bucketed_global_rank` (cents
    div 1e4 buckets ascend with the sort order — per-bucket counts +
    broadcast offsets + in-bucket windows, never one WindowExec
    partition); the decile fold is a 10-row aggregate and the
    cumulative window runs over those 10 rows."""
    cc = (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey", (dec2("o_totalprice") * 100).cast("long").alias("cents")
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    ranked = bucketed_global_rank(
        cc,
        F.expr("cents div 10000"),
        [F.col("cents"), F.col("o_custkey")],
    )
    dec = (
        ranked.select(
            F.expr("((pos - 1) * 10) div n_total").alias("decile"),
            "cents",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.col("cents").cast(_D38B)).cast(_D38B).alias("cents_sum"),
        )
    )
    tot = dec.agg(F.sum("cents_sum").cast(_D38B).alias("t"))
    wcum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        dec.crossJoin(F.broadcast(tot))
        .withColumn("cum", F.sum("cents_sum").over(wcum).cast(_D38B))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_customers",
            F.col("cents_sum").cast("long").alias("cents_sum"),
            F.expr("CAST((cum * 1000000000) div t AS LONG)").alias(
                "cum_share_nanos"
            ),
        )
        .orderBy("decile")
    )


@query(
    "item_cf_recommend",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    ),
    co AS (
      SELECT a.p AS q, b.p AS p, CAST(COUNT(*) AS BIGINT) AS w
      FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p
      GROUP BY a.p, b.p
    ),
    owned AS (
      SELECT DISTINCT o.o_custkey AS c, li.p
      FROM orders o JOIN li ON li.ok = o.o_orderkey
      WHERE o.o_custkey % 50 = 0
    ),
    score AS (
      SELECT ow.c, co.p, CAST(SUM(co.w) AS BIGINT) AS score
      FROM owned ow JOIN co ON co.q = ow.p
      GROUP BY ow.c, co.p
    ),
    fresh AS (
      SELECT s.c, s.p, s.score
      FROM score s
      WHERE NOT EXISTS (SELECT 1 FROM owned o WHERE o.c = s.c AND o.p = s.p)
    ),
    ranked AS (
      SELECT c, p, score,
             ROW_NUMBER() OVER (PARTITION BY c ORDER BY score DESC, p) AS rnk
      FROM fresh
    )
    SELECT CAST(c AS BIGINT) AS c_custkey,
           CAST(rnk AS BIGINT) AS rnk,
           CAST(p AS BIGINT) AS rec_partkey,
           score
    FROM ranked WHERE rnk <= 3
    """,
)
def item_cf_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITEM-ITEM COLLABORATIVE FILTERING top-3 recommendations — the
    classic Amazon-style recommender readout over the co-purchase
    signal the G-family mines structurally (triangle_count,
    copurchase_weights): score(part p for customer c) = sum over the
    customer's owned parts q of the co-occurrence weight w(q, p) =
    #orders containing both, excluding parts already owned, ranked
    (score DESC, part) per customer. Audited customer set =
    c_custkey % 50 == 0 (deterministic 2% sample — recommendation
    serving is per-request; the sampled readout is the batch-eval
    shape, label_noise_knn's argument).

    Exactness: weights and scores are pure counts — no floats anywhere.

    Scale shape (100 TB): the item-item weight matrix is ONE self-join
    of the distinct (order, part) projection keyed by order (orders
    bound the fan-out: weights rows = Sum_orders k_o^2, the
    copurchase_weights bound) followed by a hash aggregate; the sampled
    owned set is tiny and BROADCAST into the weight join; scoring is
    one keyed aggregate on (customer, candidate); top-3 per customer
    compiles to WindowGroupLimit (rank pushdown — hubs never
    materialize full candidate lists). Nothing is ever
    all-pairs-of-parts: only parts that actually co-occur in an order
    produce weight rows."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    co = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.p") != F.col("b.p")))
        .groupBy(F.col("a.p").alias("q"), F.col("b.p").alias("p"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    owned = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 50 == 0)
        .select(F.col("o_custkey").alias("c"), F.col("o_orderkey").alias("ok"))
        .join(li, "ok")
        .select("c", "p")
        .distinct()
    )
    score = (
        co.join(
            F.broadcast(owned.select("c", F.col("p").alias("q"))), "q"
        )
        .groupBy("c", "p")
        .agg(F.sum("w").cast("long").alias("score"))
    )
    fresh = score.join(F.broadcast(owned), ["c", "p"], "left_anti")
    wr = W.partitionBy("c").orderBy(F.desc("score"), "p")
    return (
        fresh.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= 3)
        .select(
            F.col("c").cast("long").alias("c_custkey"),
            F.col("rnk").cast("long").alias("rnk"),
            F.col("p").cast("long").alias("rec_partkey"),
            "score",
        )
    )


@query(
    "attribution_shapley",
    oracle="""
    WITH ch AS MATERIALIZED (
      SELECT event_type AS ch,
             CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS BIGINT) AS i
      FROM (SELECT DISTINCT event_type FROM events
            WHERE event_type <> 'purchase')
    ),
    kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM ch),
    pu AS (
      SELECT user_id, MIN(epoch_ns(ts) // 1000) AS pu
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    tm AS (
      SELECT p.user_id,
             COALESCE(BIT_OR(1 << CAST(c.i AS INT)), 0) AS mask
      FROM pu p
      LEFT JOIN events e ON e.user_id = p.user_id
        AND e.event_type <> 'purchase' AND epoch_ns(e.ts) // 1000 < p.pu
      LEFT JOIN ch c ON c.ch = e.event_type
      GROUP BY p.user_id
    ),
    mc AS MATERIALIZED (
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS m FROM tm GROUP BY mask
    ),
    ss AS MATERIALIZED (
      SELECT CAST(r.range AS BIGINT) AS s FROM range(65536) r, kk
      WHERE r.range < (1 << CAST(k AS INT))
    ),
    v AS MATERIALIZED (
      SELECT ss.s, CAST(COALESCE(SUM(mc.m), 0) AS BIGINT) AS v
      FROM ss LEFT JOIN mc ON (mc.mask & ss.s) = mc.mask
      GROUP BY ss.s
    ),
    contrib AS MATERIALIZED (
      SELECT c.ch,
             CAST(SUM(factorial(bit_count(ss.s))
                      * factorial(CAST(kk.k - 1 - bit_count(ss.s) AS INT))
                      * (vw.v - vo.v)) AS BIGINT) AS phi_scaled
      FROM ch c, kk, ss
      JOIN v vo ON vo.s = ss.s
      JOIN v vw ON vw.s = (ss.s | (1 << CAST(c.i AS INT)))
      WHERE (ss.s & (1 << CAST(c.i AS INT))) = 0
      GROUP BY c.ch
    )
    SELECT ch AS channel, phi_scaled,
           CAST((phi_scaled * 1000000)
                // (SELECT SUM(phi_scaled) FROM contrib) AS BIGINT)
             AS share_micros
    FROM contrib
    """,
)
def attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAPLEY-VALUE attribution — the game-theoretic multi-touch model
    completing the attribution family (last-touch, linear, Markov
    removal-effect): each channel's credit is its average marginal
    contribution over all orderings of the channel coalition. The
    characteristic function is data-derived: v(S) = number of
    CONVERTING users whose pre-conversion touchset is contained in S
    (same journey definition as attribution_markov — touches strictly
    before the first purchase). phi_scaled = k! * phi (exact integer:
    Sum over S not containing c of |S|!(k-1-|S|)! [v(S+c) - v(S)]);
    shares are one floor division at the end. By efficiency,
    Sum phi = v(all) - v(empty) — pinned in tests.

    Exactness: pure integer counts, factorials, and bit arithmetic —
    both engines evaluate the identical closed form; nothing touches
    doubles.

    Scale shape (100 TB): the data-sized work is ONE user-keyed
    aggregate (first-purchase min + bitmask OR share the partition
    pass via one join) reducing the log to a <=2^k-row mask census —
    k = #channels is a DOMAIN CONSTANT (the attribution_markov
    bounded-state argument), so the subset lattice (2^k rows), the
    zeta transform v(S), and the Shapley sum are all constant-size
    joins; the lattice is generated distributively (range filtered by
    a broadcast 1-row k) — no driver-side k, no collect anywhere."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    ch = (
        ev.where(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("ch"))
        .distinct()
        .withColumn(
            "i",
            (F.row_number().over(W.orderBy("ch")) - 1).cast("long"),
        )
    )
    kk = ch.agg(F.count(F.lit(1)).cast("long").alias("k"))
    pu = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("us").alias("pu"))
    )
    touches = (
        pu.join(
            ev.where(F.col("event_type") != "purchase").select(
                F.col("user_id").alias("t_uid"),
                F.col("event_type").alias("t_ch"),
                F.col("us").alias("t_us"),
            ),
            (F.col("user_id") == F.col("t_uid")) & (F.col("t_us") < F.col("pu")),
            "left",
        )
        .join(F.broadcast(ch), F.col("ch") == F.col("t_ch"), "left")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.expr("bit_or(shiftleft(1, CAST(i AS INT)))"), F.lit(0)
            )
            .cast("long")
            .alias("mask")
        )
    )
    mc = touches.groupBy("mask").agg(F.count(F.lit(1)).cast("long").alias("m"))
    ss = (
        spark.range(65536)
        .select(F.col("id").cast("long").alias("s"))
        .crossJoin(F.broadcast(kk))
        .where(F.col("s") < F.expr("shiftleft(1, CAST(k AS INT))"))
        .select("s", "k")
    )
    v = (
        ss.join(F.broadcast(mc), F.expr("(mask & s) = mask"), "left")
        .groupBy("s", "k")
        .agg(F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("v"))
    )
    vo = v.select("s", "k", "v")
    vw = v.select(F.col("s").alias("sw"), F.col("v").alias("v_with"))
    contrib = (
        F.broadcast(ch)
        .join(vo, F.expr("(s & shiftleft(1, CAST(i AS INT))) = 0"))
        .join(
            F.broadcast(vw),
            F.expr("sw = (s | shiftleft(1, CAST(i AS INT)))"),
        )
        .groupBy("ch")
        .agg(
            F.sum(
                F.expr(
                    "factorial(bit_count(s))"
                    " * factorial(CAST(k - 1 - bit_count(s) AS INT))"
                    " * (v_with - v)"
                )
            )
            .cast("long")
            .alias("phi_scaled")
        )
    )
    tot = contrib.agg(F.sum("phi_scaled").cast("long").alias("tot"))
    return contrib.crossJoin(F.broadcast(tot)).select(
        F.col("ch").alias("channel"),
        "phi_scaled",
        F.expr("CAST((phi_scaled * 1000000) div tot AS BIGINT)").alias(
            "share_micros"
        ),
    )


@query(
    "cold_start_census",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ),
    cut AS MATERIALIZED (SELECT (MIN(d) + MAX(d)) // 2 AS cut FROM o),
    oc AS MATERIALIZED (SELECT o.*, cut.cut FROM o, cut),
    tr_u AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS c FROM oc WHERE d < cut
    ),
    te AS MATERIALIZED (SELECT * FROM oc WHERE d >= cut),
    te_u AS MATERIALIZED (
      SELECT te.o_custkey AS c, SUM(te.cents) AS cents,
             CASE WHEN MIN(tr_u.c) IS NULL THEN 1 ELSE 0 END AS is_new
      FROM te LEFT JOIN tr_u ON tr_u.c = te.o_custkey
      GROUP BY te.o_custkey
    ),
    li AS MATERIALIZED (
      SELECT oc.d, oc.cut, l.l_partkey AS p
      FROM lineitem l JOIN oc ON oc.o_orderkey = l.l_orderkey
    ),
    tr_p AS MATERIALIZED (SELECT DISTINCT p FROM li WHERE d < cut),
    te_p_base AS MATERIALIZED (SELECT DISTINCT p FROM li WHERE d >= cut),
    te_p AS MATERIALIZED (
      SELECT b.p, CASE WHEN t.p IS NULL THEN 1 ELSE 0 END AS is_new
      FROM te_p_base b LEFT JOIN tr_p t ON t.p = b.p
    )
    SELECT (SELECT CAST(cut AS BIGINT) FROM cut) AS cut_day,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM te_u) AS n_test_users,
           (SELECT CAST(SUM(is_new) AS BIGINT) FROM te_u) AS n_new_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM te_p) AS n_test_parts,
           (SELECT CAST(SUM(is_new) AS BIGINT) FROM te_p) AS n_new_parts,
           (SELECT CAST((1000000 * CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) AS HUGEINT))
                        // CAST(SUM(cents) AS HUGEINT) AS BIGINT)
            FROM te_u) AS new_user_revenue_micros
    """,
)
def cold_start_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLD-START CENSUS — the recommender-eval readout
    item_cf_recommend's offline evaluation needs first: split orders
    at the calendar midpoint (epoch-day integer arithmetic, no
    engine calendar semantics) and count how many TEST-period
    customers and parts were never seen in training, plus the revenue
    share those cold-start customers carry. High cold-start share
    means the CF model's co-occurrence signal covers little of the
    traffic and a content/popularity fallback matters — the number a
    recsys go/no-go review asks for.

    Scale shape: two distinct-projections and two LEFT anti-probes
    (user- and part-keyed equi-joins, broadcast when the train side
    fits), one revenue aggregate — every stage is keyed, nothing is
    pairwise, and the date cut is a 1-row broadcast."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cut = o.agg(
        F.expr("CAST((MIN(d) + MAX(d)) div 2 AS BIGINT)").alias("cut")
    )
    oc = o.crossJoin(F.broadcast(cut))
    tr_u = oc.where(F.col("d") < F.col("cut")).select(
        F.col("o_custkey").alias("c")
    ).distinct()
    te = oc.where(F.col("d") >= F.col("cut"))
    te_u = (
        te.join(tr_u.withColumn("seen", F.lit(1)), te["o_custkey"] == tr_u["c"], "left")
        .groupBy("o_custkey")
        .agg(
            F.sum("cents").cast("decimal(38,0)").alias("cents"),
            F.when(F.max("seen").isNull(), 1).otherwise(0).alias("is_new"),
        )
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .join(oc.select(F.col("o_orderkey").alias("ok"), "d", "cut"), "ok")
    )
    tr_p = li.where(F.col("d") < F.col("cut")).select("p").distinct()
    te_p = (
        li.where(F.col("d") >= F.col("cut"))
        .select("p")
        .distinct()
        .join(tr_p.withColumn("seen", F.lit(1)).withColumnRenamed("p", "tp"),
              F.col("p") == F.col("tp"), "left")
        .select(F.when(F.col("seen").isNull(), 1).otherwise(0).alias("is_new"))
    )
    u_stats = te_u.agg(
        F.count(F.lit(1)).cast("long").alias("n_test_users"),
        F.sum("is_new").cast("long").alias("n_new_users"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN is_new = 1 THEN cents ELSE CAST(0 AS DECIMAL(38,0)) END))"
            " div SUM(cents) AS BIGINT)"
        ).alias("new_user_revenue_micros"),
    )
    p_stats = te_p.agg(
        F.count(F.lit(1)).cast("long").alias("n_test_parts"),
        F.sum("is_new").cast("long").alias("n_new_parts"),
    )
    return (
        cut.select(F.col("cut").alias("cut_day"))
        .crossJoin(F.broadcast(u_stats))
        .crossJoin(F.broadcast(p_stats))
        .select(
            "cut_day",
            "n_test_users",
            "n_new_users",
            "n_test_parts",
            "n_new_parts",
            "new_user_revenue_micros",
        )
    )


@query(
    "fulfillment_latency_sla",
    oracle="""
    WITH li AS (
      SELECT o.o_orderpriority AS grp,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lat,
             CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                 CAST(l.l_shipdate AS DATE)) > 60
                  THEN 1 ELSE 0 END AS late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    cells AS (
      SELECT grp, lat, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(late) AS BIGINT) AS n_late
      FROM li GROUP BY grp, lat
    ),
    r AS (
      SELECT grp, lat, c,
             CAST(SUM(c) OVER (PARTITION BY grp ORDER BY lat) AS BIGINT)
               AS cum,
             CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n_g
      FROM cells
    )
    SELECT c.grp,
           CAST(SUM(c.c) AS BIGINT) AS n,
           CAST((1000000 * CAST(SUM(c.lat * CAST(c.c AS HUGEINT)) AS HUGEINT))
                // CAST(SUM(c.c) AS HUGEINT) AS BIGINT)
             AS mean_latency_micros,
           CAST(MIN(p90.lat) AS BIGINT) AS p90_days,
           CAST((1000000 * SUM(c.n_late)) // SUM(c.c) AS BIGINT)
             AS late_micros
    FROM cells c
    JOIN (
      SELECT grp, MIN(lat) AS lat FROM r
      WHERE cum >= (90 * n_g + 99) // 100 GROUP BY grp
    ) p90 ON p90.grp = c.grp
    GROUP BY c.grp ORDER BY c.grp
    """,
)
def fulfillment_latency_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULFILLMENT-LATENCY SLA readout per order priority — mean and
    exact-p90 order-to-ship latency in days plus the SLA-breach
    rate (ship latency past the 60-day bar — the fixture lineitem
    carries no commit/receipt dates, the documented tpch_q12_shape
    limitation, so the SLA is a latency threshold) — the
    operational dashboard line next to the behavioral funnels: does
    priority actually buy faster fulfillment? Latency lives on a
    BOUNDED day domain (at most the fixture's date span in days —
    O(1000) distinct values, never data-sized),
    so the per-group p90 is an exact nearest-rank cut over the
    (priority, latency) histogram — group-partitioned cumulative
    windows over domain-sized rows, never a rank over the fact table.
    Day arithmetic is epoch-day integer subtraction on both engines.

    Scale shape: one fact join (orders side broadcast or shuffled by
    Catalyst), ONE (group, latency) hash aggregate collapsing the
    join, then constant-size windows and one group reduce."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderdate").alias("odate"),
    )
    l = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), "l_shipdate"
    )
    j = (
        l.join(o, "ok")
        .select(
            "grp",
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("odate").cast("date")
            )
            .cast("long")
            .alias("lat"),
        )
        .select(
            "grp",
            "lat",
            F.when(F.col("lat") > 60, 1).otherwise(0).alias("late"),
        )
    )
    cells = j.groupBy("grp", "lat").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("late").cast("long").alias("n_late"),
    )
    wg = W.partitionBy("grp").orderBy("lat")
    r = cells.select(
        "grp",
        "lat",
        "c",
        F.sum("c").over(wg).cast("long").alias("cum"),
        F.sum("c").over(W.partitionBy("grp")).cast("long").alias("n_g"),
    )
    p90 = (
        r.where(F.col("cum") >= F.expr("(90 * n_g + 99) div 100"))
        .groupBy("grp")
        .agg(F.min("lat").cast("long").alias("p90_days"))
    )
    return (
        cells.groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.expr(
                "CAST((1000000 * SUM(lat * CAST(c AS DECIMAL(38,0))))"
                " div SUM(CAST(c AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("mean_latency_micros"),
            F.expr(
                "CAST((1000000 * SUM(n_late)) div SUM(c) AS BIGINT)"
            ).alias("late_micros"),
        )
        .join(F.broadcast(p90), "grp")
        .select("grp", "n", "mean_latency_micros", "p90_days", "late_micros")
        .orderBy("grp")
    )

"""Time-series operators over the S3 process-log event table (SURVEY.md
§2.13 extension surface): hierarchical time-bucket rollups and
gap-filled last-observation-carried-forward resampling — the
"hypertable" pair every metrics/feature-store pipeline runs before
training-data extraction.

All bucket math is integer division on unix-micro bigints (catalog
normalization), so results are bit-identical across Spark and DuckDB
regardless of the fixture's timestamp encoding.

Truncation-vs-floor invariant (ADVICE r8/r9): Spark `div` and DuckDB
`//` BOTH truncate toward zero, so cross-engine parity of `us div
BUCKET` is unconditional — including for pre-epoch (negative-micros)
timestamps, where both engines produce the same (toward-zero) bucket.
What IS conditional on ts >= epoch is the CALENDAR reading of
`bucket_start_us` as the bucket's left edge: for negative micros the
truncated multiple is the bucket's right edge instead. The event
fixture (and any post-1970 log) satisfies ts >= epoch; a deployment
ingesting pre-epoch timestamps should switch the bucket expression to
the exact integer floor `us - pmod(us, BUCKET)` on the Spark side and
`us - ((us % BUCKET) + BUCKET) % BUCKET` in the oracle (kept
truncating here so the shipped plans stay byte-stable).

Scale notes (100 TB):
  * `hypertable_rollup` computes the fine grain (hour) from raw once,
    then derives the coarse grain (day) by RE-AGGREGATING THE HOUR
    PARTIALS — counts sum, decimal sums sum, mins/maxes min/max — so
    the day pass reads the (tiny) hourly aggregate, never the raw
    table twice. That is the continuous-aggregate/materialized-rollup
    shape: at 100 TB the raw scan happens exactly once per grain
    hierarchy, and every aggregate is map-side combinable.
  * `gap_fill_locf` is keyed by user_id end-to-end: per-(user, bucket)
    last-event selection is one partitioned window, the dense bucket
    grid is a per-user `sequence()` explode (bounded by the time span,
    independent of event count), and the carry-forward is an
    unbounded-preceding `last(ignorenulls)` window over buckets —
    partition-local, never a global sort. One shuffle partitioning
    (by user_id) serves all three stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..exact import dec2, hex_int
from ..functions.ranking import bucketed_global_rank
from ..registry import query

_D38 = "decimal(38,0)"

_HOUR_US = 3_600 * 1_000_000
_DAY_US = 24 * _HOUR_US


@query(
    "hypertable_rollup",
    oracle=f"""
    WITH e AS (
      SELECT event_type, epoch_ns(ts) // 1000 AS us, value FROM events
    ),
    hour AS (
      SELECT event_type,
             (us // {_HOUR_US}) * {_HOUR_US} AS bucket_start_us,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,2))) AS dsum,
             MIN(value) AS min_value,
             MAX(value) AS max_value
      FROM e GROUP BY event_type, us // {_HOUR_US}
    ),
    day AS (
      SELECT event_type,
             (bucket_start_us // {_DAY_US}) * {_DAY_US} AS bucket_start_us,
             SUM(n) AS n,
             SUM(dsum) AS dsum,
             MIN(min_value) AS min_value,
             MAX(max_value) AS max_value
      FROM hour GROUP BY event_type, bucket_start_us // {_DAY_US}
    )
    SELECT 'hour' AS grain, event_type,
           CAST(bucket_start_us AS BIGINT) AS bucket_start_us,
           CAST(n AS BIGINT) AS n,
           CAST(dsum AS DOUBLE) AS sum_value, min_value, max_value
    FROM hour
    UNION ALL
    SELECT 'day', event_type, CAST(bucket_start_us AS BIGINT),
           CAST(n AS BIGINT), CAST(dsum AS DOUBLE), min_value, max_value
    FROM day
    """,
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-grain time-bucket rollup (hour + day) with the day grain
    derived from the hour partials, not the raw table — the
    continuous-aggregate pattern (count/sum/min/max are all
    re-aggregable). Money-style sums go through DECIMAL(18,2)
    (exact.py) so the double surfaced at the end is bit-identical
    across engines; min/max of doubles are input values, hash-safe
    as-is."""
    e = table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us"), "value"
    )
    hour = e.groupBy(
        "event_type",
        (F.expr(f"us div {_HOUR_US}") * _HOUR_US).alias("bucket_start_us"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec2("value")).alias("dsum"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    # materialize the hour grain once: without this the union's two
    # branches each re-derive it from raw (two FileScans in the static
    # plan — verified with .explain); the hourly aggregate is
    # cardinality |event_type| x |hours|, i.e. tiny relative to raw,
    # which is exactly the continuous-aggregate contract
    hour = hour.localCheckpoint(eager=True)
    day = hour.groupBy(
        "event_type",
        (F.expr(f"bucket_start_us div {_DAY_US}") * _DAY_US).alias("bucket_start_us"),
    ).agg(
        F.sum("n").alias("n"),
        F.sum("dsum").alias("dsum"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )

    def finish(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "event_type",
            "bucket_start_us",
            "n",
            F.col("dsum").cast("double").alias("sum_value"),
            "min_value",
            "max_value",
        )

    return finish(hour, "hour").unionAll(finish(day, "day"))


@query(
    "gap_fill_locf",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, value FROM events
    ),
    ranked AS (
      SELECT user_id, us // {_HOUR_US} AS bkt, value,
             row_number() OVER (PARTITION BY user_id, us // {_HOUR_US}
                                ORDER BY us DESC, event_id DESC) AS rn
      FROM e
    ),
    obs AS (SELECT user_id, bkt, value FROM ranked WHERE rn = 1),
    span AS (
      SELECT user_id, MIN(bkt) AS lo, MAX(bkt) AS hi FROM obs GROUP BY user_id
    ),
    grid AS (
      SELECT s.user_id, s.lo + t.i AS bkt
      FROM span s, UNNEST(range(s.hi - s.lo + 1)) AS t(i)
    ),
    joined AS (
      SELECT g.user_id, g.bkt, o.value
      FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.bkt = g.bkt
    )
    SELECT user_id,
           CAST(bkt * {_HOUR_US} AS BIGINT) AS bucket_start_us,
           last_value(value IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY bkt
                   ROWS UNBOUNDED PRECEDING) AS value_filled,
           CAST(value IS NULL AS BOOLEAN) AS was_gap
    FROM joined
    """,
)
def gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample per user with last-observation-carried-
    forward fill — the time-series feature-extraction primitive
    (TimescaleDB `time_bucket_gapfill` + `locf`). Per-bucket value =
    the latest event's value (ties broken by event_id, so the choice
    is deterministic); missing buckets inside each user's observed
    span are materialized via `sequence()` and filled by an
    unbounded-preceding `last(ignorenulls)` window. The first bucket
    of every span is observed by construction, so the fill is total.
    Values pass through unaggregated (exact 2-decimal doubles) —
    nothing reorders float arithmetic on either engine."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"), "value"
    )
    e = e.withColumn("bkt", F.expr(f"us div {_HOUR_US}"))
    pick = W.partitionBy("user_id", "bkt").orderBy(F.desc("us"), F.desc("event_id"))
    obs = (
        e.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select("user_id", "bkt", "value")
    )
    span = obs.groupBy("user_id").agg(F.min("bkt").alias("lo"), F.max("bkt").alias("hi"))
    grid = span.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("bkt")
    )
    joined = grid.join(obs, ["user_id", "bkt"], "left")
    carry = W.partitionBy("user_id").orderBy("bkt").rowsBetween(W.unboundedPreceding, 0)
    return joined.select(
        "user_id",
        (F.col("bkt") * _HOUR_US).alias("bucket_start_us"),
        F.last("value", ignorenulls=True).over(carry).alias("value_filled"),
        F.col("value").isNull().alias("was_gap"),
    )


@query(
    "rolling_dau",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT (epoch_ns(ts) // 1000) // {_DAY_US} AS day, user_id
      FROM events
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
    spread AS (
      SELECT du.day + t.i AS day, du.user_id
      FROM du, UNNEST(range(7)) AS t(i)
    ),
    wau AS (
      SELECT day, COUNT(DISTINCT user_id) AS wau_trailing FROM spread GROUP BY day
    )
    SELECT CAST(d.day * {_DAY_US} AS BIGINT) AS day_start_us,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau_trailing AS BIGINT) AS wau_trailing
    FROM dau d JOIN wau w ON w.day = d.day
    """,
)
def rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + trailing-7-day active users per observed day
    — the engagement rollup every product pipeline computes. The
    trailing-window DISTINCT is NOT a windowed count-distinct (Spark
    has none, and a range-join would rescan 7× per day): each (day,
    user) pair is EXPANDED to the 7 future days it keeps the user
    "active" for (a map-side `sequence` explode, the gap_fill grid
    technique), and one count-distinct per target day finishes it.
    7× row expansion of the DEDUPLICATED (day, user) table — tiny next
    to raw events — against zero repeated scans; at 100 TB the
    expansion shuffles once on day. Days outside the observed set are
    dropped by the final join (dau's day set)."""
    du = (
        table(spark, sf_dir, "events")
        .select(F.unix_micros("ts").alias("us"), "user_id")
        .select(F.expr(f"us div {_DAY_US}").alias("day"), "user_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    spread = du.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"), "user_id"
    )
    wau = spread.groupBy("day").agg(F.countDistinct("user_id").alias("wau_trailing"))
    return dau.join(wau, "day").select(
        (F.col("day") * _DAY_US).alias("day_start_us"),
        F.col("dau").cast("long").alias("dau"),
        F.col("wau_trailing").cast("long").alias("wau_trailing"),
    )


# shared daily-count derivation for seasonality_profile / cusum_drift:
# ONE definition of the epoch-day bucket convention on each side so the
# two operators can never diverge in day math (review r8)
_DAILY_CTES = f"""d AS (
      SELECT event_type, (epoch_ns(ts) // 1000) // {_DAY_US} AS day FROM events
    ),
    daily AS (
      SELECT event_type, day, COUNT(*) AS n FROM d GROUP BY event_type, day
    )"""


def _daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, n) — epoch-day bucketed counts, eagerly
    checkpointed because every consumer reads it at least twice (the
    hypertable_rollup single-scan discipline)."""
    d = table(spark, sf_dir, "events").select(
        "event_type", F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day")
    )
    return (
        d.groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )



@query(
    "seasonality_profile",
    oracle=f"""
    WITH {_DAILY_CTES},
    dow AS (
      SELECT event_type, day % 7 AS dow, SUM(n) AS n_events, COUNT(*) AS n_days
      FROM daily GROUP BY event_type, day % 7
    ),
    tot AS (
      SELECT event_type, SUM(n) AS total, COUNT(*) AS total_days
      FROM daily GROUP BY event_type
    )
    SELECT w.event_type, CAST(w.dow AS BIGINT) AS dow,
           CAST(w.n_days AS BIGINT) AS n_days,
           CAST(w.n_events AS BIGINT) AS n_events,
           CAST(ROUND(CAST(w.n_events * t.total_days AS DOUBLE)
                      / CAST(w.n_days * t.total AS DOUBLE) * 1e9) AS BIGINT)
             AS seasonal_nanos
    FROM dow w JOIN tot t ON t.event_type = w.event_type
    """,
)
def seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index per event type: mean daily volume
    on each weekday slot divided by the type's overall mean daily
    volume — the profile a forecasting/capacity pipeline extracts
    before detrending. Weekday slot = epoch-day % 7 (pure integer; the
    fixture's calendar alignment is irrelevant to the seasonality
    MATH, and no engine-specific calendar function can drift). The
    index is a ratio of two exact-integer rationals evaluated in one
    double division and quantized to int nanos.

    Scale shape: two stacked map-side-combinable aggregates (daily,
    then weekday-slot) + an O(#types) totals join — the daily table is
    |types| x |days| rows, everything downstream is tiny."""
    daily = _daily_counts(spark, sf_dir)
    dow = daily.groupBy("event_type", (F.col("day") % 7).alias("dow")).agg(
        F.sum("n").alias("n_events"), F.count(F.lit(1)).alias("n_days")
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("total_days")
    )
    idx = (
        (F.col("n_events") * F.col("total_days")).cast("double")
        / (F.col("n_days") * F.col("total")).cast("double")
        * 1e9
    )
    return (
        dow.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.col("dow").cast("long").alias("dow"),
            F.col("n_days").cast("long").alias("n_days"),
            F.col("n_events").cast("long").alias("n_events"),
            F.round(idx).cast("long").alias("seasonal_nanos"),
        )
    )


@query(
    "cusum_drift",
    oracle=f"""
    WITH {_DAILY_CTES},
    tot AS (
      SELECT event_type, SUM(n) AS total, COUNT(*) AS n_days
      FROM daily GROUP BY event_type
    ),
    walk AS (
      SELECT d.event_type, d.day, d.n,
             SUM(d.n * t.n_days - t.total)
               OVER (PARTITION BY d.event_type ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING) AS s,
             t.total, t.n_days
      FROM daily d JOIN tot t ON t.event_type = d.event_type
    )
    SELECT event_type,
           CAST(day * {_DAY_US} AS BIGINT) AS day_start_us,
           CAST(n AS BIGINT) AS daily_n,
           CAST(s AS BIGINT) AS cusum_scaled,
           CAST(abs(s) * 4 > total * n_days AS BOOLEAN) AS drifted
    FROM walk
    """,
)
def cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection per event type: the running sum of
    (daily count − type mean), the classic changepoint statistic — a
    sustained rate shift accumulates linearly where noise cancels.
    Kept EXACT by scaling: S_k = Σ (n_i·D − total) with D = day count
    (S_k = D · classic-CUSUM, same sign/crossings, zero floats);
    `drifted` flags days where |S| exceeds 25 % of the type's total
    volume (|S|·4 > total·D — integer cross-multiplication, the
    similarity_range boundary technique).

    Scale shape: one daily aggregate (map-side combinable), an
    O(#types) totals broadcast, and a PARTITIONED running-sum window
    over the tiny |types| × |days| table — never an unpartitioned
    window over raw events."""
    daily = _daily_counts(spark, sf_dir)
    tot = daily.groupBy("event_type").agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    walk = daily.join(F.broadcast(tot), "event_type").withColumn(
        "s", F.sum(F.col("n") * F.col("n_days") - F.col("total")).over(w)
    )
    return walk.select(
        "event_type",
        (F.col("day") * _DAY_US).cast("long").alias("day_start_us"),
        F.col("n").cast("long").alias("daily_n"),
        F.col("s").cast("long").alias("cusum_scaled"),
        (F.abs(F.col("s")) * 4 > F.col("total") * F.col("n_days")).alias("drifted"),
    )


_WEEK_US = 7 * _DAY_US


@query(
    "week_over_week",
    oracle=f"""
    WITH w AS (
      SELECT event_type, (epoch_ns(ts) // 1000) // {_WEEK_US} AS wk, COUNT(*) AS n
      FROM events GROUP BY event_type, (epoch_ns(ts) // 1000) // {_WEEK_US}
    )
    SELECT event_type,
           CAST(wk * {_WEEK_US} AS BIGINT) AS week_start_us,
           CAST(n AS BIGINT) AS n,
           CAST(lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS BIGINT)
             AS prev_n,
           CAST(CASE WHEN lag(n) OVER (PARTITION BY event_type ORDER BY wk)
                          IS NOT NULL
                THEN ROUND((CAST(n AS DOUBLE)
                            / lag(n) OVER (PARTITION BY event_type ORDER BY wk)
                            - 1.0) * 1e9)
                END AS BIGINT) AS wow_change_nanos
    FROM w
    """,
)
def week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type — the reporting staple
    behind every growth dashboard: epoch-week volume, the prior week's
    volume via a partitioned lag window, and the relative change
    (n/prev − 1) quantized to int nanos (one double division of exact
    ints; NULL for each type's first week rather than a fake 0).
    Consecutive epoch weeks need no gap handling on this fixture; a
    production variant would gap-fill first (gap_fill_locf's grid).

    Scale shape: one map-side-combinable weekly aggregate, then a lag
    window over the tiny |types| × |weeks| table — partitioned, never
    over raw events."""
    w = (
        table(spark, sf_dir, "events")
        .select("event_type", F.expr(f"unix_micros(ts) div {_WEEK_US}").alias("wk"))
        .groupBy("event_type", "wk")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    lag_w = W.partitionBy("event_type").orderBy("wk")
    prev = F.lag("n").over(lag_w)
    return w.select(
        "event_type",
        (F.col("wk") * _WEEK_US).cast("long").alias("week_start_us"),
        F.col("n").cast("long").alias("n"),
        prev.cast("long").alias("prev_n"),
        F.when(
            prev.isNotNull(),
            F.round((F.col("n").cast("double") / prev - 1.0) * 1e9).cast("long"),
        ).alias("wow_change_nanos"),
    )


@query(
    "resample_ohlc",
    oracle=f"""
    WITH e AS (
      SELECT event_type, event_id, epoch_ns(ts) // 1000 AS us, value FROM events
    ),
    ranked AS (
      SELECT event_type, us // {_HOUR_US} AS bkt, value,
             row_number() OVER (PARTITION BY event_type, us // {_HOUR_US}
                                ORDER BY us, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type, us // {_HOUR_US}) AS cnt
      FROM e
    )
    SELECT event_type,
           CAST(bkt * {_HOUR_US} AS BIGINT) AS bucket_start_us,
           CAST(MAX(cnt) AS BIGINT) AS n,
           MAX(CASE WHEN rn = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn = cnt THEN value END) AS close,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
    FROM ranked GROUP BY event_type, bkt
    """,
)
def resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open/high/low/close candle resampling per (event_type, hour) —
    the financial/metrics downsampling primitive (TimescaleDB
    `candlestick_agg`, kdb bar builders). Open/close are the first and
    last events within the bucket under the deterministic
    (us, event_id) order (gap_fill_locf's pick discipline: never trust
    arrival order for a window pick); high/low are plain min/max;
    volume sums through DECIMAL(18,2) (exact.py).

    Scale shape: one (event_type, bucket)-partitioned window supplies
    both endpoints from a single sort (rn ascending + the partition
    count — no second reverse-ordered window), then one
    map-side-combinable aggregate per bucket. One shuffle keyed by the
    bucket, reused by both stages; never a global sort."""
    e = table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.unix_micros("ts").alias("us"), "value"
    )
    e = e.withColumn("bkt", F.expr(f"us div {_HOUR_US}"))
    part = W.partitionBy("event_type", "bkt")
    ranked = e.select(
        "event_type",
        "bkt",
        "value",
        F.row_number().over(part.orderBy("us", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(part).alias("cnt"),
    )
    return ranked.groupBy("event_type", "bkt").agg(
        F.max("cnt").cast("long").alias("n"),
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn") == F.col("cnt"), F.col("value"))).alias("close"),
        F.sum(dec2("value")).cast("double").alias("volume"),
    ).select(
        "event_type",
        (F.col("bkt") * _HOUR_US).cast("long").alias("bucket_start_us"),
        "n",
        "open",
        "high",
        "low",
        "close",
        "volume",
    )


# trailing-EWMA geometry: alpha = 1/2 over the last _EWMA_K events, so
# every weight is a power of two and the weighted sum is EXACT integer
# arithmetic (centi-value x 2^(K-1-j)); den telescopes to 2^K - 2^(K-m)
# for m available terms but is computed as the same per-term sum
_EWMA_K = 8


def _ewma_terms_sql() -> tuple[str, str]:
    num = " + ".join(
        f"COALESCE(lag(cv, {j}) OVER w * {1 << (_EWMA_K - 1 - j)}, 0)"
        for j in range(_EWMA_K)
    )
    den = " + ".join(
        f"CASE WHEN lag(cv, {j}) OVER w IS NOT NULL"
        f" THEN {1 << (_EWMA_K - 1 - j)} ELSE 0 END"
        for j in range(_EWMA_K)
    )
    return num, den


@query(
    "ewma_trailing",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
             CAST(ROUND(value * 100) AS BIGINT) AS cv
      FROM events
    )
    SELECT user_id, event_id, CAST(us AS BIGINT) AS us,
           CAST(cv AS BIGINT) AS cv,
           CAST({_ewma_terms_sql()[0]} AS BIGINT) AS num,
           CAST({_ewma_terms_sql()[1]} AS BIGINT) AS den,
           CAST(ROUND(CAST(({_ewma_terms_sql()[0]}) * 10000 AS DOUBLE)
                      / ({_ewma_terms_sql()[1]})) AS BIGINT) AS ewma_micros
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    """,
)
def ewma_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exponentially-weighted moving average of event values
    per user (alpha = 1/2 over the last {K} events) — the smoothing
    pass behind rate limiting, fraud scores, and feature freshness.
    Decay 1/2 makes every weight a power of two, so the weighted sum
    is exact integer arithmetic over centi-values: num = SUM cv_j *
    2^(K-1-j), den = the same sum of weights over the PRESENT terms
    (short histories at each user's head renormalize automatically).
    The surfaced EWMA is one double division of those exact integers,
    rounded to integer micros (the int-nanos family technique).

    Scale shape: one user-partitioned window sort serving all K lag
    taps — partition-local, never a global sort; the K=8 taps are a
    fixed column-count cost, not a self-join. Overflow headroom: cv <
    2^26 here, num < 2^34, num*10000 < 2^48."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cv"),
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    num = sum(
        (
            F.coalesce(F.lag("cv", j).over(w) * (1 << (_EWMA_K - 1 - j)), F.lit(0))
            for j in range(_EWMA_K)
        ),
        start=F.lit(0),
    )
    den = sum(
        (
            F.when(
                F.lag("cv", j).over(w).isNotNull(), F.lit(1 << (_EWMA_K - 1 - j))
            ).otherwise(F.lit(0))
            for j in range(_EWMA_K)
        ),
        start=F.lit(0),
    )
    return e.select(
        "user_id",
        "event_id",
        F.col("us").cast("long").alias("us"),
        F.col("cv").cast("long").alias("cv"),
        num.cast("long").alias("num"),
        den.cast("long").alias("den"),
        F.round((num * 10000).cast("double") / den).cast("long").alias("ewma_micros"),
    )


ewma_trailing.__doc__ = ewma_trailing.__doc__.format(K=_EWMA_K)


@query(
    "acf_lags",
    oracle=f"""
    WITH d AS (
      SELECT (epoch_ns(ts) // 1000) // {_DAY_US} AS day FROM events
    ),
    daily AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS x FROM d GROUP BY day),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
      FROM daily
    ),
    dev AS (SELECT day, n * x - s AS dev FROM daily, st),
    den AS (SELECT CAST(SUM(dev * dev) AS BIGINT) AS den FROM dev),
    num AS (
      SELECT t.i + 1 AS lag, CAST(SUM(a.dev * b.dev) AS BIGINT) AS num
      FROM dev a
      CROSS JOIN UNNEST(range(7)) AS t(i)
      JOIN dev b ON b.day = a.day + t.i + 1
      GROUP BY t.i + 1
    )
    SELECT CAST(lag AS BIGINT) AS lag, st.n AS n_days, num, den,
           CAST(ROUND(CAST(num AS DOUBLE) / den * 1e9) AS BIGINT) AS acf_nanos
    FROM num, den, st
    """,
)
def acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1..7 —
    the seasonality/burstiness fingerprint (is the weekly cycle real?)
    feeding forecasting and anomaly baselines. Exactness: with mean
    mu = S/n the centered products are scaled by n^2 — dev_t =
    n*x_t - S is an exact int64, so r_k = sum(dev_t * dev_{t+k}) /
    sum(dev_t^2) is a ratio of exact integers and the ONLY float op
    is the final division, int-nanos quantized. Gap days pair by
    CALENDAR distance (a self-join on day + k), not row adjacency —
    a lead(k) over a gappy series would silently compare wrong days.

    Scale shape: one map-side daily count collapses 100 TB to
    O(#days) rows; everything after (stats, deviations, the 7-lag
    self-join) is broadcast arithmetic over that tiny table — no
    window over data, no shuffle beyond the day aggregate."""
    # re-aggregate the checkpointed (event_type, day, n) table — the
    # raw scan happens once even though four consumers read `daily`
    daily = (
        _daily_counts(spark, sf_dir)
        .groupBy("day")
        .agg(F.sum("n").cast("long").alias("x"))
    )
    st = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dev = daily.crossJoin(F.broadcast(st)).select(
        "day", "n", (F.col("n") * F.col("x") - F.col("s")).alias("dev")
    )
    den = dev.agg(F.sum(F.col("dev") * F.col("dev")).cast("long").alias("den"))
    lagged = dev.select(
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("lag"),
        (F.col("day")).alias("a_day"),
        F.col("dev").alias("a_dev"),
    )
    num = (
        lagged.join(
            F.broadcast(dev.select(F.col("day").alias("b_day"), F.col("dev").alias("b_dev"))),
            F.col("b_day") == F.col("a_day") + F.col("lag"),
        )
        .groupBy("lag")
        .agg(F.sum(F.col("a_dev") * F.col("b_dev")).cast("long").alias("num"))
    )
    return (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(st.select(F.col("n").alias("n_days"))))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_days",
            "num",
            "den",
            F.round(F.col("num").cast("double") / F.col("den") * 1e9)
            .cast("long")
            .alias("acf_nanos"),
        )
    )


@query(
    "trend_ols",
    oracle=f"""
    WITH {_DAILY_CTES},
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(day) AS BIGINT) AS sx,
             CAST(SUM(n) AS BIGINT) AS sy,
             CAST(SUM(day * day) AS BIGINT) AS sxx,
             CAST(SUM(day * n) AS BIGINT) AS sxy
      FROM daily GROUP BY event_type
    )
    SELECT event_type, cnt AS n_days,
           CAST(ROUND(CAST(cnt * sxy - sx * sy AS DOUBLE)
                      / (cnt * sxx - sx * sx) * 1e9) AS BIGINT)
             AS slope_nanos,
           CAST(ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
                      / (cnt * sxx - sx * sx) * 1e9) AS BIGINT)
             AS intercept_nanos
    FROM s
    """,
)
def trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of daily volume over epoch-day index —
    the drift detector's parametric sibling (cusum_drift flags a level
    shift; this measures the slope). The five moment sums are exact
    int64 aggregates of the tiny daily table, and both normal-equation
    numerators and the shared denominator n*Sxx - Sx^2 are formed in
    EXACT integer arithmetic (the corr_pairs anti-cancellation
    discipline — the textbook formula's catastrophic cancellation
    never reaches floating point); one double division each, int-nanos
    quantized. Intercept is at epoch day 0 by construction (documented
    — consumers difference it with slope*day, never read it alone).

    Scale shape: raw events collapse to O(#types x #days) in one
    map-side-combinable count (the shared _daily_counts checkpoint);
    the moment aggregate and the arithmetic run over that tiny
    table."""
    daily = _daily_counts(spark, sf_dir)
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("day").cast("long").alias("sx"),
        F.sum("n").cast("long").alias("sy"),
        F.sum(F.col("day") * F.col("day")).cast("long").alias("sxx"),
        F.sum(F.col("day") * F.col("n")).cast("long").alias("sxy"),
    )
    cnt, sx, sy = F.col("cnt"), F.col("sx"), F.col("sy")
    den = cnt * F.col("sxx") - sx * sx
    return s.select(
        "event_type",
        cnt.alias("n_days"),
        F.round((cnt * F.col("sxy") - sx * sy).cast("double") / den * 1e9)
        .cast("long")
        .alias("slope_nanos"),
        F.round((sy * F.col("sxx") - sx * F.col("sxy")).cast("double") / den * 1e9)
        .cast("long")
        .alias("intercept_nanos"),
    )


@query(
    "time_weighted_avg",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    d AS (
      SELECT user_id, us // {_DAY_US} AS day, us, cents,
             lead(us) OVER (PARTITION BY user_id, us // {_DAY_US}
                            ORDER BY us, event_id) AS next_us
      FROM e
    ),
    w AS (
      SELECT user_id, day, cents,
             COALESCE(next_us, (day + 1) * {_DAY_US}) - us AS dur_us
      FROM d
    )
    SELECT user_id, day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(dur_us) AS BIGINT) AS covered_us,
           CAST(ROUND(CAST(CAST(SUM(CAST(cents AS HUGEINT) * dur_us)
                                AS HUGEINT) AS DOUBLE)
                      / CAST(SUM(dur_us) AS DOUBLE) * 1e4)
                AS BIGINT) AS twap_micros
    FROM w GROUP BY user_id, day
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWAP: per-(user, day) time-weighted average event value, each
    observation weighted by its holding duration — the time until the
    user's next same-day event, the last one carried to midnight (the
    price-feed averaging semantics; a plain AVG over-weights bursts).
    Durations are integer micros from lead() over the unique
    (us, event_id) order WITHIN a (user, day) partition — a dense
    partition-local frame, not the gappy-calendar lead acf_lags must
    avoid; cents x duration products accumulate exactly
    (DECIMAL(38,0) / HUGEINT, ~1e15 per term); the single final
    division is double-over-exact-integers, int-micros quantized.

    Scale shape: one shuffle keyed (user_id, day) serves both the
    window and the aggregate (partition-local window, map-side
    combinable sums); output is O(users x days). The
    gap_fill_locf partitioning discipline."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        (dec2("value") * 100).cast("long").alias("cents"),
    )
    d = e.withColumn("day", F.expr(f"us div {_DAY_US}"))
    wl = W.partitionBy("user_id", "day").orderBy("us", "event_id")
    w = d.withColumn(
        "dur_us",
        F.coalesce(F.lead("us").over(wl), (F.col("day") + 1) * F.lit(_DAY_US))
        - F.col("us"),
    )
    return w.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("dur_us").cast("long").alias("covered_us"),
        F.round(
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("dur_us")).cast("double")
            / F.sum("dur_us").cast("double")
            * 1e4
        )
        .cast("long")
        .alias("twap_micros"),
    )


@query(
    "gap_detect",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, (epoch_ns(ts) // 1000) // {_DAY_US} AS day
      FROM events
    ),
    lagged AS (
      SELECT user_id, day,
             lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
      FROM ud
    )
    SELECT user_id,
           CAST(prev + 1 AS BIGINT) AS gap_start_day,
           CAST(day - 1 AS BIGINT) AS gap_end_day,
           CAST(day - prev - 1 AS BIGINT) AS gap_days
    FROM lagged WHERE prev IS NOT NULL AND day - prev >= 2
    """,
)
def gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETECTION side of gap handling (gap_fill_locf is the repair
    side): per USER, every run of missing days between two active
    days — the dormancy/churn-risk intervals a lifecycle pipeline
    alerts on (the per-type series has no gaps in this corpus: types
    are active daily; users are not). One lag window OVER the distinct
    (user, day) table — the window input is the deduplicated activity
    calendar, never the raw log — partitioned by user; pure integer
    epoch-day arithmetic on both engines."""
    ud = (
        table(spark, sf_dir, "events")
        .select(
            "user_id", F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day")
        )
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("day")
    lagged = ud.select("user_id", "day", F.lag("day").over(w).alias("prev"))
    return lagged.where(
        F.col("prev").isNotNull() & (F.col("day") - F.col("prev") >= 2)
    ).select(
        "user_id",
        (F.col("prev") + 1).cast("long").alias("gap_start_day"),
        (F.col("day") - 1).cast("long").alias("gap_end_day"),
        (F.col("day") - F.col("prev") - 1).cast("long").alias("gap_days"),
    )


@query(
    "stickiness_dau_mau",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, (epoch_ns(ts) // 1000) // {_DAY_US} AS day
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    mau AS (
      SELECT d.day, COUNT(DISTINCT u.user_id) AS mau
      FROM days d JOIN ud u ON u.day BETWEEN d.day - 27 AND d.day
      GROUP BY d.day
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day)
    SELECT CAST(dau.day AS BIGINT) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(mau.mau AS BIGINT) AS mau,
           CAST(ROUND(CAST(dau.dau AS DOUBLE) / mau.mau * 1e9) AS BIGINT)
             AS stickiness_nanos
    FROM dau JOIN mau ON mau.day = dau.day
    """,
)
def stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the product-health ratio every
    growth dashboard leads with. MAU(d) = distinct users active in
    [d-27, d], computed WITHOUT a windowed count-distinct (which Spark
    cannot partial-aggregate): each distinct (day, user) pair expands
    map-side to the <= 28 future days it keeps alive (the rolling_dau
    expansion trick), and one count-distinct aggregate per target day
    finishes it — shuffle volume is 28x the DEDUPLICATED activity
    calendar, independent of raw event volume. The ratio is one double
    division, int-nanos quantized; everything before it is exact."""
    ud = (
        table(spark, sf_dir, "events")
        .select("user_id", F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    days = ud.select("day").distinct()
    contrib = ud.select(
        "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 27)).alias("mday")
    )
    mau = (
        contrib.join(days.select(F.col("day").alias("mday")), "mday", "left_semi")
        .groupBy("mday")
        .agg(F.count_distinct("user_id").alias("mau"))
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return dau.join(mau, dau.day == mau.mday).select(
        F.col("day").cast("long").alias("day"),
        F.col("dau").cast("long").alias("dau"),
        F.col("mau").cast("long").alias("mau"),
        F.round(F.col("dau").cast("double") / F.col("mau") * 1e9)
        .cast("long")
        .alias("stickiness_nanos"),
    )


@query(
    "inventory_clamped_balance",
    oracle="""
    WITH net AS (
      SELECT l_partkey AS part,
             (CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS day,
             CAST(SUM(CASE WHEN l_orderkey % 2 = 0
                           THEN CAST(l_quantity AS BIGINT)
                           ELSE -CAST(l_quantity AS BIGINT) END)
                  AS BIGINT) AS x
      FROM lineitem GROUP BY 1, 2
    ),
    cumwalk AS (
      SELECT part, day,
             SUM(x) OVER (PARTITION BY part ORDER BY day) AS cum
      FROM net
    ),
    walk AS (
      SELECT part, day, cum,
             MIN(cum) OVER (PARTITION BY part ORDER BY day) AS minpref
      FROM cumwalk
    ),
    clamped AS (
      SELECT part, day,
             cum - LEAST(minpref, 0) AS bal
      FROM walk
    )
    SELECT part,
           CAST(MAX(CASE WHEN rn = 1 THEN bal END) AS BIGINT) AS final_bal,
           CAST(MAX(bal) AS BIGINT) AS peak_bal,
           CAST(SUM(CASE WHEN bal = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS days_at_zero
    FROM (
      SELECT *, row_number() OVER (PARTITION BY part ORDER BY day DESC) AS rn
      FROM clamped
    ) GROUP BY part
    """,
)
def inventory_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running inventory — the classic NON-ASSOCIATIVE
    fold b_t = max(0, b_{t-1} + x_t) that looks like it needs a
    per-row loop (or applyInPandas), expressed EXACTLY with two
    windows via the Skorokhod reflection identity:
    b_t = cum_t - min(0, min_{s<=t} cum_s). Per part, daily net
    quantity (even orderkeys receive, odd ship) aggregates FIRST (so
    the windows run over the per-(part, day) table with a unique
    order), then one cumulative sum and one running-min of that sum
    produce the clamped walk; final/peak/zero-day stats are one
    aggregate on top. All int64 quantities — the identity is pure
    integer arithmetic, so both engines replay it bit-for-bit. At
    100 TB both windows are partitioned by part (no global ordering),
    and the amplification-free pre-aggregation bounds the window input
    by #(part, day), not by raw lineitem volume."""
    li = table(spark, sf_dir, "lineitem")
    day = F.datediff(
        F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    signed = F.when(
        F.col("l_orderkey") % 2 == 0, F.col("l_quantity").cast("long")
    ).otherwise(-F.col("l_quantity").cast("long"))
    net = (
        li.select(F.col("l_partkey").alias("part"), day.alias("day"), signed.alias("q"))
        .groupBy("part", "day")
        .agg(F.sum("q").cast("long").alias("x"))
    )
    w = W.partitionBy("part").orderBy("day")
    walk = net.select(
        "part", "day", F.sum("x").over(w).alias("cum")
    ).select(
        "part",
        "day",
        "cum",
        F.min("cum").over(w).alias("minpref"),
    )
    clamped = walk.select(
        "part",
        "day",
        (F.col("cum") - F.least(F.col("minpref"), F.lit(0))).alias("bal"),
        F.row_number()
        .over(W.partitionBy("part").orderBy(F.desc("day")))
        .alias("rn"),
    )
    return clamped.groupBy("part").agg(
        F.max(F.when(F.col("rn") == 1, F.col("bal"))).cast("long").alias("final_bal"),
        F.max("bal").cast("long").alias("peak_bal"),
        F.sum(F.when(F.col("bal") == 0, 1).otherwise(0))
        .cast("long")
        .alias("days_at_zero"),
    )


@query(
    "theil_sen_slope",
    oracle=f"""
    WITH d AS (
      SELECT CAST(epoch_ns(o_orderdate) // 1000 // {_DAY_US} AS BIGINT) AS day,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT a.day AS d1, b.day AS d2,
             CAST(CAST(b.cents - a.cents AS HUGEINT) * 1000000
                  // (b.day - a.day) AS BIGINT) AS slope_micros
      FROM d a JOIN d b ON b.day > a.day
    ),
    r AS (
      SELECT slope_micros,
             row_number() OVER (ORDER BY slope_micros, d1, d2) AS pos,
             COUNT(*) OVER () AS n
      FROM p
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_days,
           CAST(MAX(n) AS BIGINT) AS n_pairs,
           CAST(MIN(CASE WHEN pos = (n + 3) // 4 THEN slope_micros END)
                AS BIGINT) AS slope_p25_micros,
           CAST(MIN(CASE WHEN pos = (n + 1) // 2 THEN slope_micros END)
                AS BIGINT) AS slope_med_micros,
           CAST(MIN(CASE WHEN pos = (3 * n + 3) // 4 THEN slope_micros END)
                AS BIGINT) AS slope_p75_micros
    FROM r
    """,
)
def theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily order revenue: the median (and
    quartiles, a Theil-Sen confidence band) of ALL pairwise slopes
    (cents_j - cents_i)/(day_j - day_i) over the daily aggregate - the
    estimator that shrugs off the outlier days that wreck `trend_ols`.
    Slopes are quantized ONCE at formation - trunc((dc * 1e6) div dd)
    (micros, not nanos: at the sf1 decade a one-day cents delta times
    1e9 overflowed int64 - measured, SLOPE_r15.md; micros leave 1000x
    headroom while staying far below estimator noise),
    Spark `div` and DuckDB `//` both truncate toward zero (module
    invariant above) so negative slopes agree - and the median/quartiles
    are VALUES AT EXACT RANKS (ceil(n/4), (n+1) div 2, ceil(3n/4) over
    the unique (slope, d1, d2) order), no interpolation.

    Scale shape (100 TB): the raw table collapses to O(#days) in one
    hash aggregate; the pairwise stage runs over that CALENDAR-BOUNDED
    aggregate (days^2 / 2 pairs - ~3M for a 7-year calendar, CONSTANT
    in data size; the kaplan_meier bounded-post-aggregate exemption),
    and the rank pass is the bucketed two-pass form, so even the pair
    table never funnels through one WindowExec partition."""
    d = (
        table(spark, sf_dir, "orders")
        .select(
            F.expr(f"unix_micros(cast(o_orderdate as timestamp)) div {_DAY_US}").alias("day"),
            (dec2("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    a = d.select(F.col("day").alias("d1"), F.col("cents").alias("c1"))
    b = d.select(F.col("day").alias("d2"), F.col("cents").alias("c2"))
    # greatest(..., 1) guards the ANSI div: inside the fused
    # BNLJ/cartesian codegen stage Catalyst evaluates this projection
    # for candidate pairs BEFORE the d2 > d1 condition discards them
    # (expressions are assumed pure and reorder freely), so a d2 == d1
    # pair would hard-fail DIVIDE_BY_ZERO — and a nullif guard would
    # instead trip the bucketed-rank NULL-bucket raise on those same
    # doomed rows. Clamping the divisor makes the doomed evaluation a
    # harmless garbage value the join condition then drops; surviving
    # pairs always have d2 - d1 >= 1, where the clamp is the identity.
    p = a.join(b, F.col("d2") > F.col("d1")).select(
        "d1",
        "d2",
        F.expr(
            "(cast(c2 - c1 as decimal(38,0)) * 1000000) div greatest(d2 - d1, 1)"
        )
        .cast("long")
        .alias("slope_micros"),
    )
    # materialize the pair table once: bucketed_global_rank reads its
    # input three times (per-bucket counts, offsets, in-bucket ranks)
    # and without a barrier each pass re-runs the cartesian (~75s at
    # any sf; 14 BNLJ nodes in the unchecked plan). Eager per the
    # checkpoint-lifecycle rule (STATUS round 8).
    p = p.localCheckpoint(eager=True)
    # signed log2 band: monotone in slope_micros (abs shrinks toward
    # zero from the left, grows to the right; the sign flips the band
    # order back to ascending), ~60 buckets total — a fixed-width band
    # would mint one bucket per pair here (slopes span ~15 orders of
    # magnitude) and turn the offsets theta-join quadratic
    ranked = bucketed_global_rank(
        p,
        F.expr(
            "cast(sign(slope_micros) as bigint)"
            " * (length(bin(abs(slope_micros) div 1000 + 1)) - 1)"
        ),
        [F.col("slope_micros"), F.col("d1"), F.col("d2")],
    )
    n, pos = F.col("n_total"), F.col("pos")
    n_days = d.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        ranked.crossJoin(F.broadcast(n_days))
        .agg(
            F.max("n_days").alias("n_days"),
            F.max(n).cast("long").alias("n_pairs"),
            F.min(F.when(pos == F.expr("(n_total + 3) div 4"), F.col("slope_micros")))
            .cast("long")
            .alias("slope_p25_micros"),
            F.min(F.when(pos == F.expr("(n_total + 1) div 2"), F.col("slope_micros")))
            .cast("long")
            .alias("slope_med_micros"),
            F.min(F.when(pos == F.expr("(3 * n_total + 3) div 4"), F.col("slope_micros")))
            .cast("long")
            .alias("slope_p75_micros"),
        )
    )


@query(
    "bollinger_bands",
    oracle=f"""
    WITH rev AS (
      SELECT (epoch_ns(ts) // 1000) // {_DAY_US} AS day,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    w AS (
      SELECT day, cents,
             CAST(COUNT(*) OVER f AS BIGINT) AS n7,
             CAST(SUM(cents) OVER f AS HUGEINT) AS s7,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) OVER f AS HUGEINT) AS q7
      FROM rev
      WINDOW f AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, cents, n7,
           CAST((s7 * 1000000000) // n7 AS BIGINT) AS mean_nanos,
           CAST(ROUND(SQRT(CAST((n7 * q7 - s7 * s7) // (n7 * n7) AS DOUBLE))
                      * 1e9) AS BIGINT) AS sd_nanos
    FROM w
    """,
)
def bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOLLINGER BANDS over daily purchase revenue — the trailing
    7-day mean +- volatility envelope (the rolling z-score's chartable
    form, next to ewma_trailing / anomaly_daily_zscore). The trailing
    frame's count/sum/sum-of-squares are exact integers; the mean is
    one floor division quantized to nanos, and the population sd reduces the
    cleared-denominator identity to an EXACT floored integer variance
    (n*q - s^2) div n^2 BEFORE the one IEEE sqrt — the raw moment
    difference can exceed 2^53, where int->double conversion rounding
    is engine-divergent (the neyman_allocation 1-ulp lesson). Bands are mean +- 2 sd, left to
    the consumer as exact columns rather than pre-added (no double
    addition enters the hash).

    Scale shape: ONE map-side-combinable daily aggregate; the rolling
    window runs OVER that bounded per-day table (the sweep-exempt
    auc_exact shape). Hash-partition by series key when charting many
    series."""
    rev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"))
        .agg(F.sum((dec2("value") * 100).cast("long")).cast("long").alias("cents"))
    )
    f = W.orderBy("day").rowsBetween(-6, 0)
    w = rev.select(
        "day",
        "cents",
        F.count(F.lit(1)).over(f).cast("long").alias("n7"),
        F.sum(F.col("cents").cast("decimal(38,0)")).over(f).alias("s7"),
        F.sum((F.col("cents").cast("decimal(38,0)") * F.col("cents"))).over(f).alias(
            "q7"
        ),
    )
    return w.select(
        "day",
        "cents",
        "n7",
        F.expr("(s7 * 1000000000) div n7").cast("long").alias("mean_nanos"),
        # exact-integer variance FIRST: the raw n*q - s^2 can exceed
        # 2^53, where int->double conversion rounding is engine-
        # divergent (the neyman_allocation 1-ulp lesson); the floored
        # variance is ~sd^2 in cents^2 and converts exactly
        F.expr("ROUND(SQRT(CAST((n7 * q7 - s7 * s7) div (n7 * n7) AS DOUBLE)) * 1e9)")
        .cast("long")
        .alias("sd_nanos"),
    )


@query(
    "forecast_baseline_error",
    oracle=f"""
    WITH {_DAILY_CTES},
    l AS (
      SELECT event_type, day, n,
             LAG(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev1,
             LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS prev7
      FROM daily
    )
    SELECT event_type,
           CAST(COUNT(prev1) AS BIGINT) AS n_scored_naive,
           CAST((CAST(SUM(ABS(n - prev1)) AS HUGEINT) * 1000000000)
                // COUNT(prev1) AS BIGINT) AS mae_naive_nanos,
           CAST(COUNT(prev7) AS BIGINT) AS n_scored_seasonal,
           CAST((CAST(SUM(ABS(n - prev7)) AS HUGEINT) * 1000000000)
                // COUNT(prev7) AS BIGINT) AS mae_seasonal_nanos
    FROM l GROUP BY event_type
    """,
)
def forecast_baseline_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST BASELINE benchmarking — the MAE of the naive (carry
    yesterday) and seasonal-naive (carry last week's same slot)
    forecasters over the per-type daily series: the floor every real
    forecasting model must beat, and the first number a demand-
    forecast evaluation reports (MASE's denominator). Lags are row
    lags over the OBSERVED day sequence (documented: a gap day
    shortens the horizon rather than scoring an imputed zero —
    gap_fill_locf is the imputation path). Absolute errors are exact
    integers; each MAE is one cleared-denominator floor division.

    Scale shape: one map-side-combinable daily aggregate, lag windows
    partitioned by series key over the bounded per-day table, one
    O(#types) reduction."""
    daily = _daily_counts(spark, sf_dir)
    wl = W.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "n",
        F.lag("n", 1).over(wl).alias("prev1"),
        F.lag("n", 7).over(wl).alias("prev7"),
    )
    return lagged.groupBy("event_type").agg(
        F.count("prev1").cast("long").alias("n_scored_naive"),
        F.expr(
            "(CAST(SUM(ABS(n - prev1)) AS DECIMAL(38,0)) * 1000000000)"
            " div COUNT(prev1)"
        )
        .cast("long")
        .alias("mae_naive_nanos"),
        F.count("prev7").cast("long").alias("n_scored_seasonal"),
        F.expr(
            "(CAST(SUM(ABS(n - prev7)) AS DECIMAL(38,0)) * 1000000000)"
            " div COUNT(prev7)"
        )
        .cast("long")
        .alias("mae_seasonal_nanos"),
    )


@query(
    "page_hinkley_drift",
    oracle=f"""
    WITH {_DAILY_CTES},
    walk AS (
      SELECT event_type, day, n,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             SUM(n) OVER (PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS s
      FROM daily
    ),
    terms AS (
      SELECT event_type, day, n, i,
             n * 1000000 - (s * 1000000) // i AS term
      FROM walk
    ),
    m AS (
      SELECT event_type, day,
             SUM(term) OVER (PARTITION BY event_type ORDER BY day
                             ROWS UNBOUNDED PRECEDING) AS mt
      FROM terms
    ),
    ph AS (
      SELECT event_type, day,
             mt - MIN(mt) OVER (PARTITION BY event_type ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS ph
      FROM m
    ),
    best AS (
      SELECT event_type, MAX(ph) AS ph_max FROM ph GROUP BY event_type
    ),
    tot AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type
    )
    SELECT b.event_type,
           t.n_days,
           CAST(b.ph_max AS BIGINT) AS ph_max_micros,
           CAST(MIN(p.day) * {_DAY_US} AS BIGINT) AS peak_day_start_us,
           CAST(b.ph_max * t.n_days > t.total * 1000000 AS BOOLEAN) AS drifted
    FROM best b
    JOIN tot t ON t.event_type = b.event_type
    JOIN ph p ON p.event_type = b.event_type AND p.ph = b.ph_max
    GROUP BY b.event_type, t.n_days, b.ph_max, t.total
    ORDER BY b.event_type
    """,
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE–HINKLEY drift detection per event type — the ONLINE
    changepoint sibling of `cusum_drift`: where CUSUM compares each
    day against the GLOBAL mean (needs the whole series up front), PH
    accumulates deviations from the RUNNING mean, m_t = Σ_{{s<=t}}
    (x_s − x̄_{{1..s}}), and alarms when m_t rises PH = m_t − min_{{s<=t}}
    m_s above a threshold — the standard streaming-drift statistic
    (Page 1954; the detector inside river/MOA). Kept exact by
    micro-scaling the running mean: term_s = x_s·1e6 − floor(S_s·1e6/s)
    (non-negative prefix sums, so floor == trunc on both engines); the
    report is each type's peak PH, the day it peaks (ties to the
    EARLIEST day — a MIN over the argmax set, not a nondeterministic
    max_by), and a drift flag by integer cross-multiplication
    (PH·n_days > total·1e6, i.e. the peak exceeds one mean day of
    volume — the cusum_drift boundary technique).

    Scale shape: one daily aggregate (map-side combinable) reduces the
    log to the |types| × |days| table; every window is PARTITIONED by
    event_type over that bounded table; the argmax is an O(#types)
    join, never a global sort."""
    daily = _daily_counts(spark, sf_dir)
    wday = W.partitionBy("event_type").orderBy("day")
    wrun = wday.rowsBetween(W.unboundedPreceding, 0)
    walk = daily.select(
        "event_type",
        "day",
        "n",
        F.row_number().over(wday).alias("i"),
        F.sum("n").over(wrun).alias("s"),
    ).withColumn(
        "term", F.col("n") * 1000000 - F.expr("(s * 1000000) div i")
    )
    m = walk.withColumn("mt", F.sum("term").over(wrun))
    ph = m.withColumn("ph", F.col("mt") - F.min("mt").over(wrun))
    best = ph.groupBy("event_type").agg(F.max("ph").alias("ph_max"))
    tot = daily.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    phj = ph.select(
        F.col("event_type").alias("et_j"), F.col("ph").alias("ph_j"), "day"
    )
    return (
        best.join(F.broadcast(tot), "event_type")
        .join(
            phj,
            (F.col("event_type") == F.col("et_j"))
            & (F.col("ph_j") == F.col("ph_max")),
        )
        .groupBy("event_type", "n_days", "ph_max", "total")
        .agg(F.min("day").alias("peak_day"))
        .select(
            "event_type",
            "n_days",
            F.col("ph_max").cast("long").alias("ph_max_micros"),
            (F.col("peak_day") * _DAY_US).cast("long").alias("peak_day_start_us"),
            (F.col("ph_max") * F.col("n_days") > F.col("total") * 1000000).alias(
                "drifted"
            ),
        )
    )


@query(
    "holt_linear_forecast",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT event_type, (epoch_ns(ts) // 1000) // {_DAY_US} AS day FROM events
    ),
    daily AS (
      SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS x
      FROM d GROUP BY event_type, day
    ),
    walk AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM daily
    ),
    rec AS (
      SELECT event_type, CAST(1 AS BIGINT) AS i,
             x * 1000000 AS lvl, CAST(0 AS BIGINT) AS trd
      FROM walk WHERE i = 1
      UNION ALL
      SELECT r.event_type, r.i + 1,
             (w.x * 1000000 + r.lvl + r.trd) // 2,
             (r.trd + (w.x * 1000000 + r.lvl + r.trd) // 2 - r.lvl) // 2
      FROM rec r JOIN walk w ON w.event_type = r.event_type AND w.i = r.i + 1
    ),
    errs AS (
      SELECT r.event_type, abs(w.x * 1000000 - (r.lvl + r.trd)) AS e
      FROM rec r JOIN walk w ON w.event_type = r.event_type AND w.i = r.i + 1
    ),
    fin AS (
      SELECT event_type, CAST(MAX(i) AS BIGINT) AS n_days,
             CAST(arg_max(lvl, i) AS BIGINT) AS lvl,
             CAST(arg_max(trd, i) AS BIGINT) AS trd
      FROM rec GROUP BY event_type
    )
    SELECT f.event_type, f.n_days,
           f.lvl AS level_micros, f.trd AS trend_micros,
           f.lvl + f.trd AS forecast_next_micros,
           CAST(CASE WHEN f.n_days > 1
                THEN (SELECT SUM(e) FROM errs e2
                      WHERE e2.event_type = f.event_type) // (f.n_days - 1)
                END AS BIGINT) AS mae_one_step_micros
    FROM fin f ORDER BY event_type
    """,
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT LINEAR (double-exponential) smoothing of the per-type daily
    volume series — the level+trend forecaster between the naive
    baselines (`forecast_baseline_error`) and a real model: with
    alpha = beta = 1/2 every weight is dyadic, so the recursion
    level_t = (x_t·1e6 + level + trend) div 2,
    trend_t = (trend + level_t − level_{{t-1}}) div 2 is pure integer
    arithmetic (div = TRUNCATING division on both engines — the trend
    can be negative, so the Python replay uses sign-split trunc, never
    bare floor //). Reports the final state, the next-day forecast
    level+trend, and the one-step-ahead MAE over the whole history
    (the in-sample fit the baseline MAE is judged against).

    The recursion is inherently sequential; the series is the
    |types| × |days| CALENDAR-BOUNDED table (it grows with time, not
    with data volume), so the fold runs DRIVER-SIDE on the collected
    series — the attribution_markov bounded-state convention — while
    the oracle replays it as a recursive CTE. One daily aggregate is
    the only data-sized work."""
    daily = _daily_counts(spark, sf_dir)
    rows = sorted(
        ((r["event_type"], r["day"], r["n"]) for r in daily.collect()),
        key=lambda r: (r[0], r[1]),
    )

    def tdiv(a: int, b: int) -> int:
        return -((-a) // b) if a < 0 else a // b

    out = []
    i = 0
    while i < len(rows):
        et = rows[i][0]
        xs = []
        while i < len(rows) and rows[i][0] == et:
            xs.append(int(rows[i][2]))
            i += 1
        lvl, trd = xs[0] * 1000000, 0
        abs_err = 0
        for x in xs[1:]:
            abs_err += abs(x * 1000000 - (lvl + trd))
            new_lvl = tdiv(x * 1000000 + lvl + trd, 2)
            trd = tdiv(trd + new_lvl - lvl, 2)
            lvl = new_lvl
        n = len(xs)
        out.append(
            (
                et,
                n,
                lvl,
                trd,
                lvl + trd,
                tdiv(abs_err, n - 1) if n > 1 else None,
            )
        )
    # Arrow local relation, not a pickled RDD (plans/localrel.py)
    from ..plans.localrel import local_rows_df

    return local_rows_df(
        spark,
        out,
        "event_type string, n_days long, level_micros long, trend_micros long,"
        " forecast_next_micros long, mae_one_step_micros long",
    )


@query(
    "watermark_lateness_census",
    oracle="""
    WITH e AS (
      SELECT event_id, md5(CAST(event_id AS VARCHAR)) AS arr,
             epoch_ns(ts) // 1000 AS us
      FROM events
    ),
    w AS (
      SELECT event_id, us,
             MAX(us) OVER (ORDER BY arr, event_id
                           ROWS UNBOUNDED PRECEDING) AS high
      FROM e
    ),
    lat AS (SELECT high - us AS late_us FROM w)
    SELECT CASE WHEN late_us = 0 THEN 'in-order'
                WHEN late_us <= 60000000 THEN '<=1m'
                WHEN late_us <= 600000000 THEN '<=10m'
                WHEN late_us <= 3600000000 THEN '<=1h'
                ELSE '>1h' END AS lateness_band,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us
    FROM lat GROUP BY 1 ORDER BY 1
    """,
)
def watermark_lateness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK-SIZING census — the batch audit behind every
    `withWatermark` delay choice: replaying the log in a DETERMINISTIC
    ARRIVAL shuffle (md5(event_id) — the fixture's event_ids are
    time-ordered, so the content-hash order stands in for network
    ingest disorder, the random_walk_sample determinism idiom), how
    far behind the
    running event-time high-water mark does each event arrive? The
    per-band counts are exactly the rows a given watermark delay would
    drop (`stream_late_data`'s tunable), so the delay is chosen from
    measured disorder instead of folklore.

    Scale shape: the global running max is the bucketed TWO-PASS form
    (the bucketed_prefix_sum discipline, with MAX as the combiner):
    per-bucket maxima → a broadcast theta-join prefix-max over the
    O(#buckets) table → in-bucket running max PARTITIONED by bucket —
    never one WindowExec partition over the log; then one O(5)
    aggregate."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        F.md5(F.col("event_id").cast("string")).alias("arr"),
        F.unix_micros("ts").alias("us"),
    )
    # bucket = first 2 hex chars of the arrival key: ascends with the
    # (arr, event_id) sort order, 256 buckets
    d = e.withColumn("_b", hex_int("arr", digits=2))
    bmax = d.groupBy("_b").agg(F.max("us").alias("_m"))
    earlier = bmax.select(F.col("_b").alias("_b2"), F.col("_m").alias("_m2"))
    prefix = (
        bmax.join(F.broadcast(earlier), F.col("_b2") < F.col("_b"), "left")
        .groupBy("_b")
        .agg(F.max("_m2").alias("_pre"))
    )
    win = (
        W.partitionBy("_b")
        .orderBy("arr", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    lat = (
        d.join(F.broadcast(prefix), "_b")
        .withColumn("_inb", F.max("us").over(win))
        .select(
            (
                F.greatest(F.coalesce(F.col("_pre"), F.lit(0)), F.col("_inb"))
                - F.col("us")
            ).alias("late_us")
        )
    )
    band = (
        F.when(F.col("late_us") == 0, "in-order")
        .when(F.col("late_us") <= 60_000_000, "<=1m")
        .when(F.col("late_us") <= 600_000_000, "<=10m")
        .when(F.col("late_us") <= 3_600_000_000, "<=1h")
        .otherwise(">1h")
    )
    return (
        lat.groupBy(band.alias("lateness_band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("late_us").cast("long").alias("max_late_us"),
        )
        .orderBy("lateness_band")
    )


@query(
    "rsi_cutler",
    oracle=f"""
    WITH rev AS (
      SELECT epoch_ns(ts) // 1000 // {86400000000} AS day,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    d AS (
      SELECT day, cents - LAG(cents) OVER (ORDER BY day) AS delta FROM rev
    ),
    gl AS (
      SELECT day,
             GREATEST(delta, 0) AS gain,
             GREATEST(-delta, 0) AS loss
      FROM d WHERE delta IS NOT NULL
    ),
    r AS (
      SELECT day,
             COUNT(*) OVER w AS n14,
             CAST(SUM(CAST(gain AS HUGEINT)) OVER w AS HUGEINT) AS g,
             CAST(SUM(CAST(loss AS HUGEINT)) OVER w AS HUGEINT) AS l
      FROM gl
      WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(g AS BIGINT) AS gain14_cents,
           CAST(l AS BIGINT) AS loss14_cents,
           CAST(CASE WHEN g + l = 0 THEN 50000000
                     ELSE (100000000 * g) // (g + l) END AS BIGINT) AS rsi_micros
    FROM r WHERE n14 = 14
    """,
)
def rsi_cutler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI (Cutler's SMA form) over daily purchase revenue — the
    momentum oscillator next to bollinger_bands/ewma_trailing:
    RSI = 100 * gain14 / (gain14 + loss14) over the trailing 14 full
    daily deltas (emitted only once the window is full — partial
    windows are the classic off-by-warmup bug). Cutler's simple-MA
    variant rather than Wilder's EMA deliberately: the EMA recurrence
    compounds a rational alpha into unbounded denominators, while the
    SMA form is a pure integer window sum, so RSI quantizes to ONE
    exact floor division (flat 14-day stretches read neutral 50 by
    convention, not NaN).

    Scale shape: ONE map-side-combinable daily aggregate reduces the
    log to the bounded calendar-day table; the lag and the 14-row
    frame run over that bounded table (the bollinger_bands
    sweep-exempt shape). Partition by instrument key when scoring many
    series."""
    rev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"))
        .agg(F.sum((dec2("value") * 100).cast("long")).cast("long").alias("cents"))
    )
    wd = W.orderBy("day")
    d = rev.select(
        "day", (F.col("cents") - F.lag("cents").over(wd)).alias("delta")
    ).where(F.col("delta").isNotNull())
    gl = d.select(
        "day",
        F.greatest(F.col("delta"), F.lit(0)).cast("decimal(38,0)").alias("gain"),
        F.greatest(-F.col("delta"), F.lit(0)).cast("decimal(38,0)").alias("loss"),
    )
    f = W.orderBy("day").rowsBetween(-13, 0)
    r = gl.select(
        "day",
        F.count(F.lit(1)).over(f).alias("n14"),
        F.sum("gain").over(f).alias("g"),
        F.sum("loss").over(f).alias("l"),
    ).where(F.col("n14") == 14)
    return r.select(
        F.col("day").cast("long").alias("day"),
        F.col("g").cast("long").alias("gain14_cents"),
        F.col("l").cast("long").alias("loss14_cents"),
        F.when(F.col("g") + F.col("l") == 0, F.lit(50000000))
        .otherwise(F.expr("(100000000 * g) div (g + l)"))
        .cast("long")
        .alias("rsi_micros"),
    )


_LB_LAGS = 5


def _ljung_box_oracle(m: int = _LB_LAGS) -> str:
    return f"""
    WITH d AS (
      SELECT (epoch_ns(ts) // 1000) // {_DAY_US} AS day FROM events
    ),
    daily AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS x FROM d GROUP BY day),
    st AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS s
      FROM daily
    ),
    dev AS (SELECT day, n * x - s AS dev FROM daily, st),
    den AS (SELECT CAST(SUM(dev * dev) AS HUGEINT) AS den FROM dev),
    num AS (
      SELECT t.i + 1 AS lag, CAST(SUM(a.dev * b.dev) AS HUGEINT) AS num
      FROM dev a
      CROSS JOIN UNNEST(range({m})) AS t(i)
      JOIN dev b ON b.day = a.day + t.i + 1
      GROUP BY t.i + 1
    ),
    terms AS (
      SELECT (1000000 * st.n * (st.n + 2) * num.num * num.num)
             // (den.den * den.den * (st.n - num.lag)) AS term
      FROM num, den, st
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM st) AS n_days,
           CAST({m} AS BIGINT) AS m_lags,
           CAST(SUM(term) AS BIGINT) AS q_micros
    FROM terms
    """


@query("ljung_box_q", oracle=_ljung_box_oracle())
def ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX Q portmanteau statistic over the daily event-count
    series (lags 1..5) — 'is this series white noise?', the
    autocorrelation DIAGNOSTIC that turns acf_lags' per-lag readout
    into one testable number: Q = n(n+2) sum_k r_k^2/(n-k), compared
    to chi-square(m) by the analyst. Exactness: r_k = num_k/den from
    acf_lags' n^2-scaled integer deviations, so each term is ONE floor
    division of exact integers (1e6 n (n+2) num_k^2) / (den^2 (n-k))
    — floor-per-term (documented semantics, identical on both
    engines), summed exactly; nothing touches doubles at all.

    Scale shape: identical to acf_lags — one map-side daily count
    collapses the log to O(#days); deviations, the m-lag calendar
    self-join, and the term algebra are broadcast arithmetic over that
    bounded table."""
    daily = (
        _daily_counts(spark, sf_dir)
        .groupBy("day")
        .agg(F.sum("n").cast("long").alias("x"))
    )
    st = daily.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("x").cast(_D38).alias("s"),
    )
    dev = daily.crossJoin(F.broadcast(st)).select(
        "day", (F.col("n") * F.col("x") - F.col("s")).cast(_D38).alias("dev"), "n"
    )
    den = dev.agg(F.sum(F.col("dev") * F.col("dev")).cast(_D38).alias("den"))
    a = dev.select(F.col("day").alias("da"), F.col("dev").alias("deva"))
    lags = spark.range(1, _LB_LAGS + 1).select(F.col("id").cast("long").alias("lag"))
    b = dev.select(F.col("day").alias("db"), F.col("dev").alias("devb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(F.col("deva") * F.col("devb")).cast(_D38).alias("num"))
    )
    terms = (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(st))
        .select(
            F.expr(
                "(1000000 * n * (n + 2) * num * num)"
                " div (den * den * (n - lag))"
            ).alias("term"),
            "n",
        )
    )
    return terms.groupBy("n").agg(
        F.lit(_LB_LAGS).cast("long").alias("m_lags"),
        F.sum("term").cast("long").alias("q_micros"),
    ).select(
        F.col("n").cast("long").alias("n_days"), "m_lags", "q_micros"
    )


@query(
    "rolling_origin_backtest",
    oracle=f"""
    WITH d AS (
      SELECT event_type, (epoch_ns(ts) // 1000) // {86400000000} AS day
      FROM events
    ),
    daily AS (
      SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS x
      FROM d GROUP BY event_type, day
    ),
    idx AS (
      SELECT event_type, day, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS nd,
             LAG(x) OVER (PARTITION BY event_type ORDER BY day) AS prev,
             SUM(x) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS s_before
      FROM daily
    ),
    o AS (
      SELECT event_type,
             ABS(x - prev) * 1000000 AS err_naive,
             ABS(x * 1000000
                 - CAST((s_before * 1000000) // (i - 1) AS BIGINT))
               AS err_mean
      FROM idx WHERE i > nd - 8 AND i > 1
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_origins,
           CAST(SUM(err_naive) // COUNT(*) AS BIGINT) AS mae_naive_micros,
           CAST(SUM(err_mean) // COUNT(*) AS BIGINT) AS mae_expmean_micros
    FROM o GROUP BY event_type ORDER BY event_type
    """,
)
def rolling_origin_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING-ORIGIN (expanding-window) BACKTEST — the time-series
    cross-validation forecast_baseline_error's single split cannot
    give: for each of the last 8 observed days per event type (the
    origins), forecast that day with (a) the naive carry-forward and
    (b) the EXPANDING MEAN of all prior observed days, and report each
    model's MAE. Being strictly one-step-ahead on the observed
    sequence makes it leakage-free by construction (the PIT-join
    discipline of feature_pit_join applied to forecasting eval).
    Exactness: the expanding mean is floor((prefix_sum * 1e6)/(i-1))
    micros; errors are exact integer micros; each MAE is one floor
    division. Origins with no prior history (i = 1, reachable when a
    type has <= 8 observed days) are excluded from BOTH models' MAE
    numerator AND denominator, so short series don't dilute the mean
    (ADVICE r12).

    Scale shape: one map-side daily aggregate collapses the log to the
    bounded (type, day) table; the row-index, lag, and prefix-sum
    windows are partitioned by event_type over that bounded table; one
    O(#types) reduction ends it."""
    daily = _daily_counts(spark, sf_dir).select("event_type", "day", F.col("n").alias("x"))
    wl = W.partitionBy("event_type").orderBy("day")
    wp = wl.rowsBetween(W.unboundedPreceding, -1)
    idx = daily.select(
        "event_type",
        "x",
        F.row_number().over(wl).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("nd"),
        F.lag("x").over(wl).alias("prev"),
        F.sum("x").over(wp).alias("s_before"),
    )
    o = idx.where((F.col("i") > F.col("nd") - 8) & (F.col("i") > 1)).select(
        "event_type",
        (F.abs(F.col("x") - F.col("prev")) * 1000000).alias("err_naive"),
        F.abs(
            F.col("x") * 1000000
            - F.expr("CAST((s_before * 1000000) div (i - 1) AS BIGINT)")
        ).alias("err_mean"),
    )
    return (
        o.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_origins"),
            F.expr("CAST(SUM(err_naive) div COUNT(*) AS BIGINT)").alias(
                "mae_naive_micros"
            ),
            F.expr("CAST(SUM(err_mean) div COUNT(*) AS BIGINT)").alias(
                "mae_expmean_micros"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "segmented_trend_break",
    oracle=f"""
    WITH d AS (
      SELECT (epoch_ns(ts) // 1000) // {86400000000} AS day FROM events
    ),
    daily AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS y FROM d GROUP BY day),
    idx AS (
      SELECT day, y,
             CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT) AS i
      FROM daily
    ),
    pre AS (
      SELECT day, i,
             SUM(i) OVER w AS sx, SUM(CAST(y AS HUGEINT)) OVER w AS sy,
             SUM(i * i) OVER w AS sxx,
             SUM(i * CAST(y AS HUGEINT)) OVER w AS sxy,
             SUM(CAST(y AS HUGEINT) * y) OVER w AS syy
      FROM idx
      WINDOW w AS (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    tot AS (
      SELECT MAX(i) AS n, MAX(sx) AS tx, MAX(sy) AS ty, MAX(sxx) AS txx,
             MAX(sxy) AS txy, MAX(syy) AS tyy
      FROM pre
    ),
    cand AS (
      SELECT p.day, p.i AS b, t.n - p.i AS nr,
             p.i * p.sxx - p.sx * p.sx AS cxxl,
             p.i * p.sxy - p.sx * p.sy AS cxyl,
             p.i * p.syy - p.sy * p.sy AS cyyl,
             (t.n - p.i) * (t.txx - p.sxx) - (t.tx - p.sx) * (t.tx - p.sx)
               AS cxxr,
             (t.n - p.i) * (t.txy - p.sxy) - (t.tx - p.sx) * (t.ty - p.sy)
               AS cxyr,
             (t.n - p.i) * (t.tyy - p.syy) - (t.ty - p.sy) * (t.ty - p.sy)
               AS cyyr
      FROM pre p, tot t
      WHERE p.i >= 2 AND p.i <= t.n - 2
    ),
    scored AS (
      SELECT day, b, nr,
             ((cyyl * cxxl - cxyl * cxyl) * 1000000) // (cxxl * b)
             + ((cyyr * cxxr - cxyr * cxyr) * 1000000) // (cxxr * nr)
               AS sse_micros,
             (cxyl * 1000000) // cxxl AS slope_l,
             (cxyr * 1000000) // cxxr AS slope_r
      FROM cand
    )
    SELECT CAST(day AS BIGINT) AS break_day,
           CAST(b AS BIGINT) AS n_left,
           CAST(nr AS BIGINT) AS n_right,
           CAST(slope_l AS BIGINT) AS slope_left_micros,
           CAST(slope_r AS BIGINT) AS slope_right_micros,
           CAST(sse_micros AS BIGINT) AS sse_total_micros
    FROM scored ORDER BY sse_micros, b LIMIT 1
    """,
)
def segmented_trend_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENTED-REGRESSION BREAKPOINT — the TREND changepoint beside
    the mean-shift detectors (cusum_drift, page_hinkley_drift): fit
    two independent OLS lines to the daily event-count series split at
    every candidate index (>= 2 points per side, regressor = observed-
    sequence index), and pick the split minimizing total SSE. Each
    side's SSE uses the cleared-denominator identity
    (Cyy Cxx - Cxy^2)/(Cxx n) with ONE floor division per side
    (trunc = floor here: Cauchy-Schwarz keeps the numerator
    non-negative); slopes are one trunc division each (negative-safe:
    both engines truncate). Argmin ties break on the earlier split.

    Scale shape: one map-side daily aggregate collapses the log to the
    bounded calendar table; the candidate sweep is prefix-sum windows
    over that bounded table plus a TakeOrdered(1) — the classic
    O(#days) offline-changepoint plan, never a per-candidate rescan."""
    daily = (
        _daily_counts(spark, sf_dir)
        .groupBy("day")
        .agg(F.sum("n").cast("long").alias("y"))
    )
    wl = W.orderBy("day")
    idx = daily.select(
        "day", "y", F.row_number().over(wl).cast("long").alias("i")
    )
    wp = W.orderBy("i").rowsBetween(W.unboundedPreceding, W.currentRow)
    ix, yx = F.col("i").cast(_D38), F.col("y").cast(_D38)
    pre = idx.select(
        "day",
        "i",
        F.sum(ix).over(wp).alias("sx"),
        F.sum(yx).over(wp).alias("sy"),
        F.sum(ix * F.col("i")).over(wp).alias("sxx"),
        F.sum(ix * F.col("y")).over(wp).alias("sxy"),
        F.sum(yx * F.col("y")).over(wp).alias("syy"),
    )
    tot = pre.agg(
        F.max("i").cast(_D38).alias("n"),
        F.max("sx").alias("tx"),
        F.max("sy").alias("ty"),
        F.max("sxx").alias("txx"),
        F.max("sxy").alias("txy"),
        F.max("syy").alias("tyy"),
    )
    cand = (
        pre.crossJoin(F.broadcast(tot))
        .where((F.col("i") >= 2) & (F.col("i") <= F.expr("n - 2")))
        .select(
            "day",
            F.col("i").alias("b"),
            F.expr("n - i").alias("nr"),
            F.expr("i * sxx - sx * sx").alias("cxxl"),
            F.expr("i * sxy - sx * sy").alias("cxyl"),
            F.expr("i * syy - sy * sy").alias("cyyl"),
            F.expr("(n - i) * (txx - sxx) - (tx - sx) * (tx - sx)").alias("cxxr"),
            F.expr("(n - i) * (txy - sxy) - (tx - sx) * (ty - sy)").alias("cxyr"),
            F.expr("(n - i) * (tyy - syy) - (ty - sy) * (ty - sy)").alias("cyyr"),
        )
    )
    scored = cand.select(
        "day",
        "b",
        "nr",
        F.expr(
            "((cyyl * cxxl - cxyl * cxyl) * 1000000) div (cxxl * b)"
            " + ((cyyr * cxxr - cxyr * cxyr) * 1000000) div (cxxr * nr)"
        ).alias("sse_micros"),
        F.expr("(cxyl * 1000000) div cxxl").alias("slope_l"),
        F.expr("(cxyr * 1000000) div cxxr").alias("slope_r"),
    )
    return (
        scored.orderBy("sse_micros", "b")
        .limit(1)
        .select(
            F.col("day").cast("long").alias("break_day"),
            F.col("b").cast("long").alias("n_left"),
            F.col("nr").cast("long").alias("n_right"),
            F.col("slope_l").cast("long").alias("slope_left_micros"),
            F.col("slope_r").cast("long").alias("slope_right_micros"),
            F.col("sse_micros").cast("long").alias("sse_total_micros"),
        )
    )


@query(
    "mann_kendall_trend",
    oracle=f"""
    WITH d AS (
      SELECT (epoch_ns(ts) // 1000) // {86400000000} AS day FROM events
    ),
    daily AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS x FROM d GROUP BY day),
    s AS (
      SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
      FROM daily a JOIN daily b ON b.day > a.day
    ),
    nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM daily),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS HUGEINT) AS tt
      FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS t FROM daily GROUP BY x)
      WHERE t > 1
    )
    SELECT CAST(nn.n AS BIGINT) AS n_days,
           s.s AS s_stat,
           CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tt AS BIGINT)
             AS var18,
           CASE WHEN nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tt = 0
                THEN CAST(0 AS BIGINT)
                ELSE CAST(ROUND(
             CAST(CASE WHEN s.s > 0 THEN s.s - 1
                       WHEN s.s < 0 THEN s.s + 1 ELSE 0 END AS DOUBLE)
             * SQRT(18.0)
             / SQRT(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tt
                         AS DOUBLE))
             * 1e6) AS BIGINT) END AS z_micros
    FROM s, nn, ties
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL TREND TEST over the daily event-count series — 'is
    there a monotone trend at all?', the nonparametric gate one runs
    BEFORE fitting trend_ols/theil_sen's slope (it is Kendall's tau of
    value against time, kendall_tau's temporal sibling): S = sum of
    sign(x_j - x_i) over ordered day pairs, tie-corrected variance
    18*Var(S) = n(n-1)(2n+5) - sum t(t-1)(2t+5) kept as ONE exact
    integer (the /18 never happens — z multiplies by sqrt(18)
    instead), continuity-corrected z as a structurally identical
    double expression.

    Scale shape: the pair sweep runs over the CALENDAR-BOUNDED daily
    aggregate (the theil_sen argument — pairs are constant in data
    size), after one map-side daily count collapses the log; ties come
    from a value-grouped aggregate of the same bounded table."""
    daily = (
        _daily_counts(spark, sf_dir)
        .groupBy("day")
        .agg(F.sum("n").cast("long").alias("x"))
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(F.broadcast(b), F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast(_D38).alias("n"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).cast(_D38).alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)")),
                F.lit(0).cast(_D38),
            )
            .cast(_D38)
            .alias("tt")
        )
    )
    return (
        s.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.col("s").alias("s_stat"),
            F.expr(
                "CAST(n * (n - 1) * (2 * n + 5) - tt AS BIGINT)"
            ).alias("var18"),
            # var18 = 0 (fully-tied series) guard: without it Spark's
            # non-ANSI Infinity->long saturates while DuckDB raises —
            # an engine-divergent latent break (ADVICE r12).
            F.when(
                F.expr("n * (n - 1) * (2 * n + 5) - tt = 0"),
                F.lit(0).cast("long"),
            )
            .otherwise(
                F.round(
                    F.expr(
                        "CAST(CASE WHEN s > 0 THEN s - 1"
                        " WHEN s < 0 THEN s + 1 ELSE 0 END AS DOUBLE)"
                    )
                    * F.sqrt(F.lit(18.0))
                    / F.sqrt(
                        F.expr(
                            "CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE)"
                        )
                    )
                    * 1e6
                ).cast("long")
            )
            .alias("z_micros"),
        )
    )


_HURST_SIZES = (4, 8, 16)


def _hurst_oracle() -> str:
    per_size = []
    for m in _HURST_SIZES:
        per_size.append(f"""
    blk{m} AS (
      SELECT (i - 1) // {m} AS blk, i, y,
             COUNT(*) OVER (PARTITION BY (i - 1) // {m}) AS bn
      FROM idx
    ),
    pre{m} AS (
      SELECT blk, i, y,
             SUM(CAST(y AS HUGEINT)) OVER w AS cum,
             ROW_NUMBER() OVER w AS j,
             SUM(CAST(y AS HUGEINT)) OVER (PARTITION BY blk) AS s,
             SUM(CAST(y AS HUGEINT) * y) OVER (PARTITION BY blk) AS q
      FROM blk{m} WHERE bn = {m}
      WINDOW w AS (PARTITION BY blk ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    z{m} AS (
      SELECT blk,
             MAX({m} * cum - j * s) - MIN({m} * cum - j * s) AS range_m,
             MIN({m} * q - s * s) AS var_m2
      FROM pre{m} GROUP BY blk
    ),
    rs{m} AS (
      SELECT CAST(SUM(CAST(ROUND(
               CASE WHEN var_m2 = 0 THEN 0.0
                    ELSE CAST(range_m AS DOUBLE)
                         / SQRT(CAST(var_m2 AS DOUBLE)) END * 1e9)
             AS BIGINT)) // COUNT(*) AS BIGINT) AS rs_nanos,
             CAST(COUNT(*) AS BIGINT) AS n_blk
      FROM z{m}
    )""")
    body = "," + ",".join(per_size)
    return f"""
    WITH d AS (
      SELECT (epoch_ns(ts) // 1000) // {86400000000} AS day,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    daily AS (SELECT day, CAST(SUM(cents) AS BIGINT) AS y FROM d GROUP BY day),
    idx AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, y
      FROM daily
    ){body}
    SELECT rs4.rs_nanos AS rs4_nanos, rs4.n_blk AS n_blk4,
           rs8.rs_nanos AS rs8_nanos, rs8.n_blk AS n_blk8,
           rs16.rs_nanos AS rs16_nanos, rs16.n_blk AS n_blk16,
           CAST(ROUND(
             (ln(CAST(rs16.rs_nanos AS DOUBLE)) - ln(CAST(rs4.rs_nanos AS DOUBLE)))
             / (ln(16.0) - ln(4.0)) * 1e6) AS BIGINT) AS hurst_micros
    FROM rs4, rs8, rs16
    """


@query("hurst_rs", oracle=_hurst_oracle())
def hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HURST EXPONENT by rescaled-range (R/S) analysis of daily
    purchase revenue — the long-memory diagnostic (H > 0.5 trending /
    persistent, < 0.5 mean-reverting) beside acf/ljung_box's
    short-lag view: for block sizes m = 4/8/16 over the observed-day
    index, each full block's R = max-min of cumulative mean deviations
    and S = population sd combine into R/S = (max mZ - min mZ) /
    sqrt(m q - s^2) — both sides EXACT INTEGERS with denominators
    cleared (mZ_j = m cum_j - j s), so the only doubles are one ratio
    + sqrt per block, ROUND-quantized to int nanos per block BEFORE
    the per-size mean (the order-independent-integer discipline —
    averaging raw doubles across blocks would be aggregation-order
    sensitive). H = the two-point ln slope between m=4 and m=16 of
    the mean R/S (endpoint estimator; ln-parity precedent).

    Scale shape: one map-side daily aggregate collapses the log; every
    window is partitioned by block over the CALENDAR-BOUNDED day
    table; per-size reductions are O(#blocks). Scoring many series
    adds a partition key, not a plan change."""
    rev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"))
        .agg(F.sum((dec2("value") * 100).cast("long")).cast("long").alias("y"))
    )
    idx = rev.select(
        F.row_number().over(W.orderBy("day")).cast("long").alias("i"), "y"
    )
    stats = {}
    for m in _HURST_SIZES:
        blk = idx.withColumn("blk", F.expr(f"(i - 1) div {m}")).withColumn(
            "bn", F.count(F.lit(1)).over(W.partitionBy("blk"))
        ).where(F.col("bn") == m)
        wb = W.partitionBy("blk").orderBy("i")
        wcum = wb.rowsBetween(W.unboundedPreceding, W.currentRow)
        yd = F.col("y").cast(_D38)
        pre = blk.select(
            "blk",
            F.sum(yd).over(wcum).alias("cum"),
            F.row_number().over(wb).cast("long").alias("j"),
            F.sum(yd).over(W.partitionBy("blk")).alias("s"),
            F.sum(yd * F.col("y")).over(W.partitionBy("blk")).alias("q"),
        )
        mz = F.expr(f"{m} * cum - j * s")
        z = pre.groupBy("blk").agg(
            (F.max(mz) - F.min(mz)).alias("range_m"),
            F.min(F.expr(f"{m} * q - s * s")).alias("var_m2"),
        )
        rs = z.select(
            F.round(
                F.when(F.col("var_m2") == 0, F.lit(0.0)).otherwise(
                    F.col("range_m").cast("double")
                    / F.sqrt(F.col("var_m2").cast("double"))
                )
                * 1e9
            )
            .cast("long")
            .alias("rs_nanos")
        ).agg(
            F.expr("CAST(SUM(rs_nanos) div COUNT(*) AS BIGINT)").alias(
                f"rs{m}_nanos"
            ),
            F.count(F.lit(1)).cast("long").alias(f"n_blk{m}"),
        )
        stats[m] = rs
    out = (
        stats[4]
        .crossJoin(F.broadcast(stats[8]))
        .crossJoin(F.broadcast(stats[16]))
    )
    return out.select(
        "rs4_nanos",
        "n_blk4",
        "rs8_nanos",
        "n_blk8",
        "rs16_nanos",
        "n_blk16",
        F.round(
            (
                F.log(F.col("rs16_nanos").cast("double"))
                - F.log(F.col("rs4_nanos").cast("double"))
            )
            / (F.log(F.lit(16.0)) - F.log(F.lit(4.0)))
            * 1e6
        )
        .cast("long")
        .alias("hurst_micros"),
    )

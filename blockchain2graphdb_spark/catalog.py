"""Fixture-table catalog: loaders for the driver-generated parquet tables
(TESTDATA.md) plus session normalization applied before every query.

At 100 TB these reads would be partitioned-table scans; everything here is
a plain `spark.read.parquet` so Catalyst's Parquet source handles predicate
pushdown / column pruning / partition pruning unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.memo import SessionMemo, _fixture_identity, session_token  # noqa: F401

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# 30-minute session gap, in microseconds (ts handled as unix micros on
# both engines — see _events / STATUS cross-engine rules). Shared by
# sessionize_batch, session_funnel, and the streaming session query so a
# tuning in one place cannot silently desync the others; lives here (not
# in an operator module) to keep operator imports acyclic.
SESSION_GAP_US = 1_800 * 1_000_000


def prep(spark: SparkSession) -> SparkSession:
    """Pin runtime confs the correctness gate depends on.

    Idempotent; `registry.query`'s wrapper calls it before every
    registered builder (and `__spark_entry__.entry` calls it directly)
    because the driver owns the SparkSession and we must not depend on
    its defaults. UTC makes timestamp collection match DuckDB's naive
    timestamps.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Arrow driver transfers (guide §6): off by default in Spark; needed
    # so plans/localrel.py's small driver-computed result tables convert
    # through Arrow into a LocalTableScan instead of a pickled RDD whose
    # every action launches Python workers. Affects only conversion
    # speed, never values (localrel pins the schema explicitly).
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # Size shuffle partitions to the session's actual parallelism, not
    # the 200-partition default and not a hard-coded local[32] constant
    # (r16: the driver also benches at lower core counts, and a pinned
    # 32 over-partitions those runs; a cluster's defaultParallelism is
    # its total cores, the same 1x-cores policy as before — deployments
    # wanting cores x 2-3 override upstream). AQE coalesces further.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(4, spark.sparkContext.defaultParallelism)),
    )
    return spark


# Session-scoped PLAN memo for `table` (r16 optimization round; guide
# §5 "the driver should do almost no data work" + §6's per-session
# file-listing cache). Every `spark.read.parquet` on the same path
# costs ~75-120 ms of driver-side py4j + footer/schema resolution, and
# the query builders re-read the same 10 fixture paths on every
# invocation — measured 0.8-1.4 s per TPC-H bench entry just
# re-deriving identical unexecuted plans (register_views = 10 tables).
# The memo stores the CONSTRUCTED DataFrame (a lazy plan handle, zero
# executor state, zero materialized rows): every action on it still
# scans the parquet from disk, so no result or intermediate is ever
# reused — this is the DataFrame-level analogue of Spark's own
# session-scoped InMemoryFileIndex cache. Key safety (session, chaos
# spec, recursive fixture identity) is plans/memo.py's.
_PLANS = SessionMemo(64)  # plans are tiny; the bound caps handle count
_PLAN_SERIAL = 0


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; have {TABLES}")
    key = _PLANS.key(spark, sf_dir, (name,))
    hit = _PLANS.get(key)
    if hit is not None:
        return hit
    if name == "events":
        df = _events(spark, sf_dir)  # chaos seam inside normalize_events_ts
    else:
        df = _chaos_wrap(
            _dates_to_timestamps(spark.read.parquet(f"{sf_dir}/{name}.parquet")),
            name,
        )
    # monotone serial: a never-reused identity for "this exact plan"
    # (object ids recycle after GC; consumers like register_views key
    # skip-decisions on this instead)
    global _PLAN_SERIAL
    _PLAN_SERIAL += 1
    df._b2g_plan_serial = _PLAN_SERIAL
    return _PLANS.put(key, df)


def parquet_num_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet FOOTER metadata only — no Spark scan job.

    The metadata-only seam behind broadcast gates (e.g. bfs_distance's
    frontier hint): checkpointed plans lose size statistics, so gates
    read exact row counts from footers instead of running count() jobs.
    Tolerates both layouts the catalog can see: a single `name.parquet`
    file (the driver fixtures) and a directory dataset (what Spark's own
    writer and the synthetic-sf_dir tests produce) — for directories the
    fragment footers are enumerated and summed (ADVICE r6)."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    ds = pq.ParquetDataset(path)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in ds.files)


def _dates_to_timestamps(df: DataFrame) -> DataFrame:
    """Round-proofing twin of `normalize_events_ts`: the driver has
    already re-encoded one temporal column between rounds (events.ts,
    round 3); if a date column (o_orderdate, l_shipdate) ships as
    parquet DATE instead of TIMESTAMP, every oracle that returns it
    would hash-mismatch (date.isoformat() != timestamp.isoformat())
    and every timestamp-literal comparison would change type context.
    Normalize any DateType column to TimestampType at the catalog seam
    — a zero-cost projection when nothing drifted (no date columns
    today), midnight-exact when something does. DuckDB's side needs no
    change: its comparisons and epoch math are encoding-agnostic."""
    from pyspark.sql.types import DateType

    date_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, DateType)]
    for c in date_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize `events.ts` to TimestampType regardless of how the fixture
    was encoded. The driver has regenerated the parquet with different
    physical encodings across rounds, so both readers (batch and streaming)
    must branch on what they actually got:

      * INT64 TIMESTAMP(NANOS) — read as bigint under
        `spark.sql.legacy.parquet.nanosAsLong`; floor-divide to micros.
        Spark's TimestampType caps at microseconds (DuckDB twin for raw-ts
        outputs: epoch_ns(ts) // 1000; sub-microsecond truncation only
        matters when a predicate boundary falls inside the truncated nanos,
        which the oracle queries avoid).
      * TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark reads
        TIMESTAMP_NTZ; cast to TimestampType. `prep` pins the session TZ
        to UTC, so the NTZ wall-clock maps 1:1 to the oracle's naive
        timestamps.
      * TIMESTAMP(MICROS, UTC) — already TimestampType; pass through.

    Invariant downstream code relies on: events.ts >= 1970-01-01, i.e.
    unix micros are NON-NEGATIVE. All bucket math (hour/day/week grains
    in timeseries.py, rolling_dau day indices, spatial grid cells) uses
    Spark `div` / DuckDB `//`. Both TRUNCATE toward zero (verified:
    DuckDB -7//2 = -3), so CROSS-ENGINE parity holds on any sign — but
    truncation makes the buckets themselves wrong pre-epoch: micros in
    (-H, H) all land in bucket 0, a double-width cell straddling the
    epoch. The fixture generator only emits post-epoch timestamps; a
    pre-epoch source would need F.floor(col / const)-style flooring
    (and FLOOR(us / const) in the oracle) at each bucket site.
    Works on batch and streaming DataFrames alike (pure projection).
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    # chaos seam HERE (not in table()) so batch AND streaming events
    # reads share one injection point — both route through this helper
    return _chaos_wrap(df, "events")


# Count of tasks that produced output on a retried attempt under
# SPARK_GRAFT_CHAOS (a Spark accumulator, created lazily on first
# wrap). The retry witness asserts this is > 0 so the determinism
# check can never pass vacuously with the injection not firing.
_CHAOS_RETRIES = None


def chaos_retry_count() -> int:
    return int(_CHAOS_RETRIES.value) if _CHAOS_RETRIES is not None else 0


def _chaos_wrap(df: DataFrame, name: str) -> DataFrame:
    """Task-retry fault injection (VERDICT r14 #2). When
    `SPARK_GRAFT_CHAOS` names this table (or is `*`), wrap the read in
    an identity mapInPandas whose tasks RAISE on their first attempt
    (TaskContext.attemptNumber() == 0) and pass the batches through
    unchanged on retry. With `spark.task.maxFailures` >= 2 (master
    `local[N,2]`, see session.get_spark) every task re-executes once,
    so a run under chaos witnesses that re-executed tasks reproduce
    bit-identical results — the property the engine's whole
    content-hash determinism story rests on at 100x scale, where task
    retries and speculative duplicates are routine, not exceptional.

    Off (the default) this is a zero-cost no-op returning `df`
    untouched — scans keep pushdown/pruning; only the retry witness
    sets the env var. An accumulator counts attempt>0 executions so
    the witness can assert the injection actually fired.

    PLAN-TIME BINDING (ADVICE r15): the env var is read when the
    DataFrame is CONSTRUCTED, not when it executes — a plan built (or
    memoized/cached anywhere session-scoped) before SPARK_GRAFT_CHAOS
    is set silently skips injection. tools/retry_witness.py compensates
    by calling reset_session_reuse() before each chaos run AND asserts
    retried_tasks > 0 per key (non-vacuity guard); any NEW
    session-scoped memo added to this package must be registered with
    reset_session_reuse or the witness reopens the vacuity gap."""
    import os

    spec = os.environ.get("SPARK_GRAFT_CHAOS", "")
    if spec != "*" and spec != name:
        return df
    global _CHAOS_RETRIES
    if _CHAOS_RETRIES is None:
        _CHAOS_RETRIES = df.sparkSession.sparkContext.accumulator(0)
    acc = _CHAOS_RETRIES

    def gen(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx is not None and ctx.attemptNumber() == 0:
            raise RuntimeError(
                f"SPARK_GRAFT_CHAOS: injected first-attempt failure"
                f" (table={name}, partition={ctx.partitionId()})"
            )
        if ctx is not None and ctx.attemptNumber() > 0:
            acc.add(1)
        yield from batches

    return df.mapInPandas(gen, df.schema)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def events_raw_schema(spark: SparkSession, sf_dir: str):
    """Raw file schema (ts exactly as encoded on disk) for the streaming
    file source; pair with `normalize_events_ts` after the readStream."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema

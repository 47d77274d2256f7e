"""Structured Streaming surface (SURVEY.md §2.10).

The reference's streaming story is a hand-rolled single-threaded loop:
spawn bitcoind, tail its stdout (B:124–139), regex-extract events
(B:143–156), mutate the graph per event, and handle disorder with a
fixed 1126-block buffer (B:34–35) — a count-based stand-in for a
watermark. Here each capability is the idiomatic Structured Streaming
equivalent over the `events` fixture replayed as a file source.

Driver contract: `queries()` entries must return a *batch* DataFrame, so
every builder runs its stream to completion with Trigger.AvailableNow
into an in-memory sink and returns the materialized table (rows-only
correctness check — DuckDB does not stream).

At scale: the file source is the S2 tail-scan (new files only, offset
tracking via checkpoint), watermarks bound state, and foreachBatch MERGE
(maintenance.upsert_merge pattern) gives idempotent sink writes.
"""

from __future__ import annotations

import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import events_raw_schema, normalize_events_ts, table
from ..exact import md5_int
from ..registry import query


def _events_stream(
    spark: SparkSession, sf_dir: str, path: str | None = None, **options
) -> DataFrame:
    schema = events_raw_schema(spark, sf_dir)
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    # the file source needs a directory, not a single parquet file
    s = reader.parquet(path or _single_replay(sf_dir))
    # same encoding-robust ts normalization as the batch catalog reader —
    # one shared helper so a fixture re-encode can't break only one side
    return normalize_events_ts(s)


# Progress of the most recent _run query (one entry per micro-batch),
# refreshed on every call. Tests use it to ASSERT the bounded-state
# claims the stateful keys' docstrings make (state-store numRowsTotal
# <= the documented domain bound) instead of trusting the prose.
_LAST_QUERY_PROGRESS: list = []


def _run(spark: SparkSession, sdf: DataFrame, output_mode: str = "append") -> DataFrame:
    from ..plans.confs import scoped_confs

    name = "s" + uuid.uuid4().hex[:12]
    # Stateful micro-batches pay a per-partition state-store
    # instantiation cost EVERY batch, so the partition count should be
    # sized to the stream's data like any other shuffle (at 100 TB you
    # size it to the cluster). Re-measured on a 4-core host, where
    # `prep` already sets 4, so the pin does not change the count:
    # without it the 31 stream keys still read slower at sf0.01 (sum of
    # warm medians 45.7 s -> 49.2 s, 27 of 31 keys slower; two
    # sessions per side) and flat at sf0.1 (49.8 s -> 48.9 s), so it
    # stays until a many-core host re-measures it. Scoped-and-restored
    # around query start (the streaming plan binds the conf at start;
    # each run uses a fresh in-memory sink + checkpoint, so no cross-run
    # state layout is pinned).
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    try:
        _LAST_QUERY_PROGRESS[:] = list(q.recentProgress)
    except Exception:  # noqa: BLE001 — telemetry only, never fail the query
        _LAST_QUERY_PROGRESS[:] = []
    return spark.table(name)


@query(
    "stream_events",
    oracle="""
    SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'
    """,
)
def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: unbounded source → filter/project (B:138–139 stdout tail).

    File-source replay of `events`; the same plan runs unmodified on a
    Kafka/socket source. Oracle-checked: an append-mode stateless
    filter emits each input row exactly once regardless of trigger
    boundaries, so the materialized result equals the batch query.
    """
    s = _events_stream(spark, sf_dir)
    out = s.where(F.col("event_type") == "purchase").select("event_id", "user_id", "value")
    return _run(spark, out)


@query(
    "stream_parse",
    oracle="""
    SELECT event_id,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INTEGER) AS k
    FROM events
    """,
)
def stream_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 streaming: regexp event extraction (B:143–156 `UpdateTip: new
    best=`). Oracle-checked — stateless projection, trigger-invariant."""
    s = _events_stream(spark, sf_dir)
    out = s.select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("k"),
    )
    return _run(spark, out)


@query(
    "stream_tumbling",
    oracle="""
    SELECT make_timestamp(((epoch_ns(ts) // 1000) // 21600000000) * 21600000000)
             AS win_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate (absent from the reference).
    Oracle-checked: complete-mode output is the full aggregate over all
    input regardless of batching; Spark's epoch-aligned 6h windows are
    integer floor-division in SQL."""
    s = _events_stream(spark, sf_dir)
    out = (
        s.groupBy(F.window("ts", "6 hours"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n",
        )
    )
    return _run(spark, out, output_mode="complete")


@query(
    "stream_sliding",
    oracle="""
    WITH e AS (SELECT epoch_ns(ts) // 1000 AS us FROM events),
    w AS (
      SELECT (us // 21600000000) * 21600000000 AS s FROM e
      UNION ALL
      SELECT (us // 21600000000) * 21600000000 - 21600000000 AS s FROM e
    )
    SELECT make_timestamp(s) AS win_start, CAST(COUNT(*) AS BIGINT) AS n
    FROM w GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (12h window, 6h slide). Oracle-checked: every
    event lands in exactly two epoch-aligned 12h/6h windows (its 6h
    bucket's window and the previous one), so SQL reproduces the
    expansion with a two-branch union."""
    s = _events_stream(spark, sf_dir)
    out = (
        s.groupBy(F.window("ts", "12 hours", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win_start"), "n")
    )
    return _run(spark, out, output_mode="complete")


@query("stream_session")
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user."""
    s = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    out = (
        s.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("sess_start"),
            "user_id",
            "n_events",
        )
    )
    return _run(spark, out)


@query(
    "stream_session_exact",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events
    ),
    f AS (
      SELECT user_id, event_id, us,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    s AS (
      SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM f
    )
    SELECT user_id,
           CAST(MIN(us) AS BIGINT) AS start_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sess
    """,
)
def stream_session_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked twin of `stream_session` (the r6 technique that
    closed stream_dedup_exact): complete-mode session windows hold every
    session in state and merge across micro-batches, so the final batch
    output equals the batch gap-sessionization regardless of file/batch
    arrival order. The DuckDB oracle is the lag→flag→running-sum gap
    walk on unix micros; the boundary condition is `diff >= gap` (Spark
    sessions are [start, last+gap), so an event exactly `gap` after its
    predecessor opens a NEW session — unlike sessionize_batch's `>`
    oracle, which defines its own key). Session start = min event ts,
    emitted as unix micros so no timestamp-encoding skew can enter the
    hash."""
    s = _events_stream(spark, sf_dir)
    out = (
        s.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("start_us"),
            "n_events",
        )
    )
    return _run(spark, out, output_mode="complete")


@query("stream_watermark")
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order tolerance via watermark (replaces the reference's
    1126-block reorder buffer, B:34–35/B:387–425): 1-hour lateness bound
    on a tumbling count."""
    s = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    out = (
        s.groupBy(F.window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win_start"), "n")
    )
    return _run(spark, out)


@query("stream_dedup")
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 under streaming: watermark-bounded dropDuplicates — exactly the
    reference's insert-if-absent guard (M1) with state expiry instead of
    an ever-growing seen-set."""
    s = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    out = s.dropDuplicates(["user_id", "event_type"]).select(
        "event_id", "user_id", "event_type"
    )
    return _run(spark, out)


@query(
    "stream_dedup_exact",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_unique
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked twin of `stream_dedup`: at-least-once delivery is
    simulated by cloning every input row 3× map-side (explode), then
    watermark-bounded dropDuplicates on the UNIQUE key (event_id)
    collapses the copies and a complete-mode per-type count lands on
    exactly the batch distinct counts — arrival-order independent
    because the dedup key is unique and the output aggregates, unlike
    the rows-only key whose surviving row depends on delivery order.

    At scale this is the idempotent-ingest front half of every
    exactly-once pipeline: the downstream agg sees each logical event
    once. State boundedness: plain dropDuplicates only evicts when the
    event-time column is part of the dedup subset, so keying on
    event_id alone would keep state forever despite the watermark;
    dropDuplicatesWithinWatermark (Spark 3.5+) evicts each key once the
    watermark passes its event time + delay — genuinely bounded state
    (ADVICE r6).
    """
    s = _events_stream(spark, sf_dir)
    cloned = s.select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("copy"), "*"
    ).drop("copy")
    dedup = cloned.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = dedup.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_unique")
    )
    return _run(spark, out, output_mode="complete")


@query("stream_stateful_agg")
def stream_stateful_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 streaming form: arbitrary stateful fold per key via
    applyInPandasWithState — the running address-stats maintenance
    (B:837–947 read-modify-write) as managed state."""
    s = _events_stream(spark, sf_dir)
    return _run(spark, _user_value_fold(s), output_mode="update")


def _user_value_fold(s: DataFrame) -> DataFrame:
    """The per-user running (n_events, total_value_centi) fold of
    `stream_stateful_agg` and its oracle-checked twin: one update-mode
    row per user per micro-batch, state (n, total) carried across
    batches by applyInPandasWithState."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # centi-units as int: exact, order-independent
            total += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value_centi": [total]}
        )

    return s.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id long, n_events long, total_value_centi long",
        stateStructType="n long, total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_file_tail",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def stream_file_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: incremental tail-file scan (B:105, B:1097–1107 rescan only the
    tail blk*.dat). maxFilesPerTrigger=1 over a 2-file replay of `events`
    → two micro-batches, exactly the new-files-only pickup the reference
    hand-rolls with currentFileCount. Oracle-checked: the complete-mode
    per-day count after the final batch equals the batch aggregate, so
    the two-batch pickup must lose and duplicate nothing."""
    d = _two_file_replay(sf_dir)
    s = _events_stream(spark, sf_dir, path=d, maxFilesPerTrigger="1")
    out = s.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return _run(spark, out, output_mode="complete")


@query("stream_late_data")
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 analog: late-data handling under a watermark. File 0 carries
    the newest 80% of events, file 1 replays the oldest 20% (the "late
    branch") in a second micro-batch. The watermark bounds state and
    emission: each window is emitted exactly once, only once finalized
    (end <= watermark), and windows above the watermark are held back —
    the bounded-lateness contract that replaces the reference's unbounded
    reorg-rollback as its late-data story. (Input-side drops lag the
    watermark by one batch in Spark's microbatch model; rows later than
    a window's emission are discarded. Invariants pinned in
    tests/test_streaming_semantics.py.)"""
    d = _late_replay(sf_dir)
    s = _events_stream(spark, sf_dir, path=d, maxFilesPerTrigger="1").withWatermark(
        "ts", "1 hour"
    )
    out = (
        s.groupBy(F.window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win_start"), "n")
    )
    return _run(spark, out)


# --- replay-directory builders (deterministic, derived from the fixture) ---

from ..paths import derived_dir, tmp_root as _tmp_root_fn


def _write_replay(
    sf_dir: str, name: str, splitter, source: str = "events", columns=None
) -> str:
    """Materialize fixture table `source` (its `columns`) as the ordered
    replay files `splitter` cuts it into, one derived dir per fixture
    identity.

    Uses pyarrow directly so file names/ordering are deterministic
    (file-source processes by modification time, ties by path).
    """
    import time

    import pyarrow.parquet as pq

    def build(stage: str) -> None:
        tbl = pq.read_table(f"{sf_dir}/{source}.parquet", columns=columns)
        for i, part in enumerate(splitter(tbl)):
            pq.write_table(part, f"{stage}/part-{i:02d}.parquet")
            time.sleep(0.05)  # distinct mtimes => deterministic pickup order

    return derived_dir(name, sf_dir, (source,), build)


def _single_replay(sf_dir: str) -> str:
    return _write_replay(sf_dir, "single", lambda tbl: [tbl])


def _two_file_replay(sf_dir: str) -> str:
    def split(tbl):
        import pyarrow.compute as pc

        idx = pc.sort_indices(tbl, sort_keys=[("event_id", "ascending")])
        tbl = tbl.take(idx)
        mid = tbl.num_rows // 2
        return [tbl.slice(0, mid), tbl.slice(mid)]

    return _write_replay(sf_dir, "tail", split)


def _late_replay(sf_dir: str) -> str:
    def split(tbl):
        import pyarrow.compute as pc

        idx = pc.sort_indices(tbl, sort_keys=[("ts", "ascending"), ("event_id", "ascending")])
        tbl = tbl.take(idx)
        cut = tbl.num_rows // 5
        old, new = tbl.slice(0, cut), tbl.slice(cut)
        return [new, old]  # newest first; the old 20% arrives late

    return _write_replay(sf_dir, "late", split)


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(trunc(e.value * 100) AS BIGINT)) AS BIGINT) AS value_centi
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (absent from the reference, which
    re-fetches vertices per event, B:91–113): the events stream joined
    to the static customer dimension. The static side is planned per
    micro-batch — unhinted: the static side is a parquet scan with
    stats, so Catalyst broadcasts it while it fits and a huge static
    side falls back to a shuffle (or gets pre-bucketed on the join
    key) instead of OOMing a forced broadcast."""
    s = _events_stream(spark, sf_dir)
    dim = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    out = (
        s.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("value") * 100).cast("long")).alias("value_centi"),
        )
    )
    return _run(spark, out, output_mode="complete")


@query(
    "stream_stream_join",
    oracle="""
    SELECT e.user_id AS e_user, e.event_id AS e_id, p.event_id AS p_id,
           e.ts AS e_ts, p.ts AS p_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = e.user_id
     AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 6 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each error event matched to the same
    user's purchases within the following 6 hours. Both sides carry
    watermarks and the join condition bounds event-time distance, so
    Spark can expire buffered state — the property that keeps the join's
    state finite on an unbounded stream (vs the reference's full-graph
    lookups per event)."""
    errors = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("e_id"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    out = errors.join(
        purchases,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts"))
        & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 6 HOURS")),
    ).select("e_user", "e_id", "p_id", "e_ts", "p_ts")
    return _run(spark, out)


@query(
    "stream_merge_sink",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_centi
    FROM events GROUP BY user_id
    """,
)
def stream_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 + M2 under streaming: idempotent MERGE sink via foreachBatch —
    the first streaming key with a full value-hash oracle (the memory
    -sink keys are rows-only because their row set depends on trigger
    boundaries; a merge sink's FINAL STATE does not).

    Each micro-batch folds to a per-user partial (count, centi-value
    sum) and lands under batch=<id>, overwritten on replay — batch id
    keyed writes are the exactly-once recipe for object-store sinks
    (the reference instead re-reads and mutates one vertex per event,
    B:91–113). The final state folds the partials; counts and integer
    sums are associative, so the result is independent of how the
    availableNow trigger batched the two replay files. Floor-of-centi
    keeps the money math in exact integers on both engines.
    """
    import os
    import shutil

    d = _two_file_replay(sf_dir)
    out = f"{_tmp_root_fn()}/mergesink_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(f"{out}.ckpt", ignore_errors=True)
    s = _events_stream(spark, sf_dir, path=d, maxFilesPerTrigger="1")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_centi"),
        )
        part.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    q = (
        s.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", f"{out}.ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        # the batch=<id> dirs are partitions of `out`
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("value_centi").cast("long").alias("value_centi"),
        )
    )


@query(
    "stream_rate_source",
    oracle="""
    SELECT CAST(b AS BIGINT) AS batch_id,
           CAST(50 AS BIGINT) AS n_rows,
           CAST(2500 * b + 1225 AS BIGINT) AS sum_value,
           CAST(50 * b AS BIGINT) AS min_value,
           CAST(50 * b + 49 AS BIGINT) AS max_value
    FROM (SELECT range AS b FROM range(3))
    """,
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 live-source demo: a genuinely UNBOUNDED generator source
    (`rate-micro-batch`), not a file replay — the closest in-process
    stand-in for the reference's bitcoind-stdout tail (B:124–139),
    where the source never ends and the reader decides when to detach.

    rate-micro-batch emits a deterministic `value` sequence (50 rows
    per micro-batch, batch b = [50b, 50b+50)), so unlike a wall-clock
    `rate` source the capture is value-checkable: we detach once three
    full batches have landed and keep exactly values < 150 — whatever
    extra batches raced in while stopping are filtered out, making the
    result independent of stop timing. The oracle is the closed form of
    those three batches (constants, like blockfile_ingest's
    decode-seam oracle — it verifies the unbounded-source seam, not
    fixture data). The same plan runs on Kafka with the detach point
    replaced by offset bounds.
    """
    import time

    sdf = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 50)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    name = "s" + uuid.uuid4().hex[:12]
    q = (
        sdf.select("value")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(name).count() >= 150:
                break
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination()
    base = spark.table(name).where(F.col("value") < 150)
    return (
        base.groupBy(F.floor(F.col("value") / 50).cast("long").alias("batch_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("value").cast("long").alias("sum_value"),
            F.min("value").cast("long").alias("min_value"),
            F.max("value").cast("long").alias("max_value"),
        )
    )


@query(
    "stream_stateful_agg_exact",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS total_value_centi
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_agg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked twin of `stream_stateful_agg` (the r6/r7
    exact-twin technique): the same applyInPandasWithState fold over a
    TWO-file replay (so state genuinely persists across micro-batches),
    but only each key's FINAL state row is kept — n_events strictly
    increases every batch that touches a key, so the max-n row per key
    is unique and arrival-order-free, and must equal the batch
    aggregate (count, exact centi-unit sum). Update-mode intermediates
    are what make the base key rows-only; the final-state projection is
    deterministic. Value centi-units go through DECIMAL(18,2)*100 on
    the oracle side — exact integers, matching the fold's rounded
    int64 accumulation (fixture values are 2-decimal, so no rounding
    boundary exists)."""
    d = _two_file_replay(sf_dir)
    s = _events_stream(spark, sf_dir, path=d, maxFilesPerTrigger="1")
    updates = _run(spark, _user_value_fold(s), output_mode="update")
    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value_centi")
    )


@query(
    "stream_hypertable_rollup",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_ns(ts) // 1000 AS us, value FROM events
    )
    SELECT event_type,
           CAST((us // 3600000000) * 3600000000 AS BIGINT) AS bucket_start_us,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM e GROUP BY event_type, us // 3600000000
    """,
)
def stream_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming form of the continuous aggregate
    (operators/timeseries.py::hypertable_rollup's hour grain): a
    complete-mode hourly rollup over a two-file replay — each
    micro-batch folds its rows into the standing per-bucket state,
    which is exactly how TimescaleDB-style continuous aggregates
    maintain themselves. Complete-mode output after the final batch is
    batching-invariant, so the same DuckDB oracle as the batch hour
    grain checks it: the incremental fold must lose and double-count
    nothing across batch boundaries. Decimal sums / min / max are all
    mergeable, which is WHY the incremental maintenance is exact."""
    d = _two_file_replay(sf_dir)
    s = _events_stream(spark, sf_dir, path=d, maxFilesPerTrigger="1")
    out = (
        s.groupBy(
            "event_type",
            F.window("ts", "1 hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("dsum"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "event_type",
            F.unix_micros(F.col("window.start")).alias("bucket_start_us"),
            "n",
            F.col("dsum").cast("double").alias("sum_value"),
            "min_value",
            "max_value",
        )
    )
    return _run(spark, out, output_mode="complete")


def _cdc_feed_replay(sf_dir: str) -> str:
    """Three-file CDC feed derived from orders (the cdc_apply feed,
    one file per seq wave: inserts, updates, deletes)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def waves(t):
        k = pc.cast(t.column("o_orderkey"), pa.int64())
        cents = pc.cast(
            pc.round(pc.multiply(pc.cast(t.column("o_totalprice"), pa.float64()), 100.0)),
            pa.int64(),
        )
        def wave(mask, seq, op, c):
            kk = pc.filter(k, mask) if mask is not None else k
            cc = pc.filter(c, mask) if (mask is not None and c is not None) else c
            n = len(kk)
            return pa.table(
                {
                    "k": kk,
                    "seq": pa.array([seq] * n, pa.int32()),
                    "op": pa.array([op] * n, pa.string()),
                    "cents": cc if cc is not None else pa.nulls(n, pa.int64()),
                }
            )

        kn = k.to_numpy(zero_copy_only=False)
        m_u = pa.array(kn % 3 == 0)
        m_d = pa.array(kn % 5 == 0)
        return [
            wave(None, 1, "I", cents),
            wave(m_u, 2, "U", pc.add(cents, 500)),
            wave(m_d, 3, "D", None),
        ]

    return _write_replay(
        sf_dir, "cdcfeed", waves, "orders", ["o_orderkey", "o_totalprice"]
    )


@query(
    "stream_cdc_apply",
    oracle="""
    WITH ops AS (
      SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
      UNION ALL
      SELECT o_orderkey, 2, 'U',
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) + 500
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 3, 'D', NULL
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    latest AS (
      SELECT k, op, cents,
             row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      FROM ops
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
           CAST(SUM(cents) AS BIGINT) AS cents_sum,
           CAST(SUM(CASE WHEN cents % 1000 = 500 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated_tail
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 x M8: the STREAMING CDC apply — the cdc_apply feed
    replayed as a file stream (one micro-batch per wave), folded into
    a maintained current-state table by a foreachBatch MERGE that
    keeps the max-seq row per key. State is VERSIONED (each batch
    writes state v<batch_id> from v<batch_id - 1>), so a replayed
    micro-batch overwrites its own version instead of double-applying
    — the object-store exactly-once recipe, and the streaming twin of
    the batch operator: same oracle, because last-writer-wins is
    arrival-order-independent (max seq commutes), so however
    availableNow batches the three files, the final state is
    identical. Money stays integer cents end-to-end."""
    import glob as _glob
    import os
    import shutil

    d = _cdc_feed_replay(sf_dir)
    out = f"{_tmp_root_fn()}/cdcstate_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(f"{out}.ckpt", ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    s = (
        spark.readStream.schema("k long, seq int, op string, cents long")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        versions = sorted(
            int(os.path.basename(v)[1:])
            for v in _glob.glob(f"{out}/v*")
            if int(os.path.basename(v)[1:]) < batch_id + 1
        )
        prev = (
            sess.read.parquet(f"{out}/v{versions[-1]}")
            if versions
            else sess.createDataFrame([], "k long, seq int, op string, cents long")
        )
        merged = (
            prev.unionByName(batch_df)
            .withColumn(
                "rn",
                F.row_number().over(W.partitionBy("k").orderBy(F.desc("seq"))),
            )
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        merged.write.mode("overwrite").parquet(f"{out}/v{batch_id + 1}")

    q = (
        s.writeStream.foreachBatch(fold)
        .option("checkpointLocation", f"{out}.ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    latest = max(int(os.path.basename(v)[1:]) for v in _glob.glob(f"{out}/v*"))
    state = spark.read.parquet(f"{out}/v{latest}")
    return state.where(F.col("op") != "D").agg(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.sum(F.when(F.col("cents") % 1000 == 500, 1).otherwise(0))
        .cast("long")
        .alias("n_updated_tail"),
    )


def _time_replay(sf_dir: str) -> str:
    """Two-file replay in TIME order ((ts, event_id) ascending, split at
    the midpoint) — for stateful operators whose fold is order-
    sensitive (SPRT's first crossing), unlike `_two_file_replay`'s
    event_id split (commutative folds only)."""

    def split(tbl):
        import pyarrow.compute as pc

        idx = pc.sort_indices(
            tbl, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
        tbl = tbl.take(idx)
        mid = tbl.num_rows // 2
        return [tbl.slice(0, mid), tbl.slice(mid)]

    return _write_replay(sf_dir, "timeorder", split)


from ..operators.experiments import (  # noqa: E402  (shared constants)
    _SPRT_A,
    _SPRT_B,
    _SPRT_L0,
    _SPRT_L1,
)


@query(
    "stream_sprt",
    oracle=f"""
    WITH e AS (
      SELECT epoch_ns(ts) // 1000 AS us, event_id,
             CASE WHEN ('0x' || substr(md5('sp' || CAST(user_id AS VARCHAR)), 1, 1))::BIGINT < 8
                  THEN 1 ELSE 0 END AS arm,
             CASE WHEN event_type = 'purchase' THEN {_SPRT_L1}
                  ELSE {_SPRT_L0} END AS inc
      FROM events
    ),
    c AS (
      SELECT arm, us, event_id,
             CAST(SUM(inc) OVER (PARTITION BY arm ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS llr,
             CAST(ROW_NUMBER() OVER (PARTITION BY arm
                                     ORDER BY us, event_id) AS BIGINT) AS pos
      FROM e
    ),
    x AS (
      SELECT arm, pos, llr,
             ROW_NUMBER() OVER (PARTITION BY arm ORDER BY pos) AS rn
      FROM c WHERE llr >= {_SPRT_A} OR llr <= {_SPRT_B}
    ),
    f AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM(inc) AS BIGINT) AS llr_final_nanos
      FROM e GROUP BY arm
    )
    SELECT f.arm, f.n_obs, f.llr_final_nanos,
           COALESCE(x.pos, 0) AS first_cross_pos,
           CASE WHEN x.pos IS NULL THEN 'continue'
                WHEN x.llr >= {_SPRT_A} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           COALESCE(x.llr, 0) AS llr_at_cross_nanos
    FROM f LEFT JOIN (SELECT * FROM x WHERE rn = 1) x ON x.arm = f.arm
    """,
)
def stream_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sequential test: the applyInPandasWithState twin of
    `sprt_sequential`, one SPRT walk per md5 arm — the always-on
    experiment monitor that stops the test the moment a boundary is
    crossed, instead of re-scanning the log. State per arm is four
    integers (n, llr, first-cross pos, llr at cross); increments and
    boundaries are the SAME hardcoded int-nanos constants as the batch
    twin (imported, not recomputed), so the final state row equals the
    batch walk exactly and the key is oracle-checked, not rows-only.

    Order discipline: the replay is TIME-split (`_time_replay` — file
    1 is strictly earlier than file 2) and each micro-batch's rows are
    sorted (us, event_id) inside the fold, so the walk sees the global
    time order across batches; update-mode emits one row per arm per
    batch and the final-state projection keeps the max-n row (n
    strictly increases — the stream_stateful_agg_exact technique).

    Scale shape: state is O(#arms x 4 ints); per-arm sequential
    consumption is inherent to sequential testing (the walk is not
    associative), so throughput is bounded by per-arm event rate —
    the honest contract of ANY sequential monitor; the batch twin is
    the backfill/audit path."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    d = _time_replay(sf_dir)
    arm = md5_int("sp", F.col("user_id"), digits=1) < 8
    s = _events_stream(spark, sf_dir, path=d, maxFilesPerTrigger="1").select(
        F.when(arm, 1).otherwise(0).cast("long").alias("arm"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit(_SPRT_L1))
        .otherwise(F.lit(_SPRT_L0))
        .cast("long")
        .alias("inc"),
    )

    def fold(key, pdfs, state: GroupState):
        n, llr, cpos, cllr = state.get if state.exists else (0, 0, 0, 0)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["us", "event_id"])
        for inc in pdf["inc"].astype("int64"):
            n += 1
            llr += int(inc)
            if cpos == 0 and (llr >= _SPRT_A or llr <= _SPRT_B):
                cpos, cllr = n, llr
        state.update((n, llr, cpos, cllr))
        decision = (
            "continue"
            if cpos == 0
            else ("accept_h1" if cllr >= _SPRT_A else "accept_h0")
        )
        yield pd.DataFrame(
            {
                "arm": [key[0]],
                "n_obs": [n],
                "llr_final_nanos": [llr],
                "first_cross_pos": [cpos],
                "decision": [decision],
                "llr_at_cross_nanos": [cllr],
            }
        )

    out = s.groupBy("arm").applyInPandasWithState(
        fold,
        outputStructType=(
            "arm long, n_obs long, llr_final_nanos long,"
            " first_cross_pos long, decision string, llr_at_cross_nanos long"
        ),
        stateStructType="n long, llr long, cpos long, cllr long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    updates = _run(spark, out, output_mode="update")
    w = W.partitionBy("arm").orderBy(F.desc("n_obs"))
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "arm",
            "n_obs",
            "llr_final_nanos",
            "first_cross_pos",
            "decision",
            "llr_at_cross_nanos",
        )
    )


def _orders_wave_replay(sf_dir: str) -> str:
    """Three-file orders ingest feed (k, cust, cents), one wave per
    o_orderkey % 3 residue. Exact DECIMAL(18,2) cents (never float
    money)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def waves(t):
        k = pc.cast(t.column("o_orderkey"), pa.int64())
        cust = pc.cast(t.column("o_custkey"), pa.int64())
        cents = pc.cast(
            pc.multiply(
                pc.cast(t.column("o_totalprice"), pa.decimal128(18, 2)),
                pa.scalar(100, pa.int32()),
            ),
            pa.int64(),
        )
        tbl = pa.table({"k": k, "cust": cust, "cents": cents})
        kn = k.to_numpy(zero_copy_only=False)
        return [tbl.filter(pa.array(kn % 3 == i)) for i in range(3)]

    return _write_replay(
        sf_dir, "mtfeed", waves, "orders", ["o_orderkey", "o_custkey", "o_totalprice"]
    )


def _multi_table_group_root(sf_dir: str) -> str:
    """TableGroup root of stream_multi_table_ingest, keyed to the same
    orders identity as its feed: re-runs against the same fixture find
    every op tag applied and no-op (idempotent); a new fixture gets a
    fresh, empty root. The stream checkpoint is its `.ckpt` sibling."""
    return derived_dir("mtgroup", sf_dir, ("orders",), lambda stage: None)


def _group_applied_ops(groot: str) -> set:
    """Ops already group-committed under `groot` — the replay-safety
    probe (a replayed micro-batch's op tag is already present, so the
    fold skips it instead of double-appending)."""
    import glob as _glob
    import json as _json
    import os

    ops = set()
    for p in _glob.glob(f"{groot}/_commits/g*.json"):
        try:
            with open(p) as f:
                ops.add(_json.load(f).get("op"))
        except (OSError, ValueError):
            pass
    return ops


@query(
    "stream_multi_table_ingest",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS cust,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS cents_sum
      FROM orders GROUP BY o_custkey
    )
    SELECT cust, n_orders, cents_sum,
           n_orders AS n_orders_p, cents_sum AS cents_sum_p
    FROM per ORDER BY cents_sum DESC, cust LIMIT 10
    """,
)
def stream_multi_table_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 × TableGroup (VERDICT r11 #8): STREAMING multi-table
    ingest — each micro-batch appends to TWO tables (raw `ord` rows
    and a per-customer `cust` partial aggregate) under ONE TableGroup
    group commit, so readers never observe one table's batch without
    the other (the reference's two-table block/tx ingest is
    non-atomic; B:38–120 writes vertices then edges in separate
    transactions).

    Replay safety rides the group log itself: every batch commits with
    op tag `b<batch_id>`, and the fold SKIPS a tag already present —
    a replayed micro-batch (restart, checkpoint loss) re-offers the
    same rows under the same tag and is a no-op instead of a
    double-append (the stream_cdc_apply versioned-sink discipline,
    lifted to the catalog level; the crash-between-tables atomicity
    test lives in tests/test_round12_ops.py). Because the fold is
    append + dedupe-by-tag, the final state is identical however
    availableNow batches the three files — hence the full value-hash
    oracle.

    The readout JOINS the two tables' latest snapshot: per-customer
    (n_orders, cents_sum) recomputed from `ord` vs summed `cust`
    partials — the oracle emits both from the same source, so the
    hash match PROVES cross-table consistency, not just per-table
    correctness. Money is exact DECIMAL→int cents end-to-end.

    Scale shape (100 TB): each batch's commit is O(files touched) in
    the manifest log; `cust` partials are map-side-combinable
    mergeable state (sum/count), so the per-batch aggregate is one
    keyed shuffle of batch-sized input, never a re-aggregation of
    the table."""
    from ..sources.snapshots import TableGroup

    d = _orders_wave_replay(sf_dir)
    groot = _multi_table_group_root(sf_dir)
    ckpt = f"{groot}.ckpt"
    group = TableGroup(groot)

    from ..catalog import _chaos_wrap

    s = (
        spark.readStream.schema("k long, cust long, cents long")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    # retry-witness seam (inert no-op unless SPARK_GRAFT_CHAOS is set):
    # this source bypasses the catalog readers, so the group-commit
    # path needs its own injection point for the task-retry
    # determinism witness (tools/retry_witness.py)
    s = _chaos_wrap(s, "orders")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        tag = f"b{batch_id}"
        if tag in _group_applied_ops(groot):
            return  # replayed batch — already atomically committed
        ord_rows = batch_df.select("k", "cust", "cents")
        cust_rows = batch_df.groupBy("cust").agg(
            F.count(F.lit(1)).cast("long").alias("n_part"),
            F.sum("cents").cast("long").alias("cents_part"),
        )
        group.commit({"ord": ord_rows, "cust": cust_rows}, op=tag)

    q = (
        s.writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    ord_t = group.read(spark, "ord")
    cust_t = group.read(spark, "cust")
    from_ord = ord_t.groupBy("cust").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )
    from_cust = cust_t.groupBy("cust").agg(
        F.sum("n_part").cast("long").alias("n_orders_p"),
        F.sum("cents_part").cast("long").alias("cents_sum_p"),
    )
    return (
        from_ord.join(from_cust, "cust")
        .orderBy(F.desc("cents_sum"), "cust")
        .limit(10)
        .select("cust", "n_orders", "cents_sum", "n_orders_p", "cents_sum_p")
    )


@query(
    "stream_page_hinkley",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_ns(ts) // 1000 AS us, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    walk AS (
      SELECT event_type, us, event_id, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY us, event_id) AS i,
             CAST(SUM(cents) OVER (PARTITION BY event_type
                                   ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
      FROM e
    ),
    terms AS (
      SELECT event_type, us, event_id, i,
             cents * 1000000 - (s * 1000000) // i AS term
      FROM walk
    ),
    m AS (
      SELECT event_type, i,
             CAST(SUM(term) OVER (PARTITION BY event_type
                                  ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mt
      FROM terms
    ),
    ph AS (
      SELECT event_type, i, mt,
             mt - MIN(mt) OVER (PARTITION BY event_type ORDER BY i
                                ROWS UNBOUNDED PRECEDING) AS ph
      FROM m
    ),
    best AS (
      SELECT event_type, CAST(MAX(ph) AS BIGINT) AS ph_max
      FROM ph GROUP BY event_type
    ),
    fin AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(arg_max(mt, i) AS BIGINT) AS m_final
      FROM ph GROUP BY event_type
    )
    SELECT b.event_type, f.n_obs, b.ph_max AS ph_max_micros,
           CAST(MIN(p.i) AS BIGINT) AS peak_pos,
           f.m_final AS m_final_micros
    FROM best b
    JOIN fin f ON f.event_type = b.event_type
    JOIN ph p ON p.event_type = b.event_type AND p.ph = b.ph_max
    GROUP BY b.event_type, f.n_obs, b.ph_max, f.m_final
    """,
)
def stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Page–Hinkley drift monitor — the applyInPandasWithState
    twin of `page_hinkley_drift`, one PH walk per event type over the
    per-event VALUE series (the batch twin watches daily volume; this
    one watches the metric itself, the always-on form that alarms
    mid-stream instead of re-scanning the log). State per type is six
    integers (n, running sum, m_t, min m, peak PH, peak position);
    each observation updates term = cents·1e6 − floor(S·1e6/n) — the
    batch operator's exact micro-scaled running-mean deviation, so the
    final state row is bit-identical to the SQL window walk and the
    key is fully ORACLE-CHECKED, not rows-only.

    Order discipline: TIME-split replay (`_time_replay`) + per-batch
    (us, event_id) sort inside the fold — the `stream_sprt` contract
    for non-associative folds; update-mode emits one row per type per
    batch and the final-state projection keeps the max-n row.

    Scale shape: state is O(#types × 6 ints); per-type sequential
    consumption is inherent (the running mean makes the fold
    non-associative) — the honest contract of any online detector;
    the batch twin is the backfill/audit path."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    d = _time_replay(sf_dir)
    s = _events_stream(spark, sf_dir, path=d, maxFilesPerTrigger="1").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )

    def fold(key, pdfs, state: GroupState):
        n, sm, m, mn, phmax, ppos = (
            state.get if state.exists else (0, 0, 0, 0, 0, 0)
        )
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["us", "event_id"])
        for cents in pdf["cents"].astype("int64"):
            n += 1
            sm += int(cents)
            term = int(cents) * 1000000 - (sm * 1000000) // n
            m += term
            if m < mn:
                mn = m
            ph = m - mn
            if ph > phmax:
                phmax, ppos = ph, n
        state.update((n, sm, m, mn, phmax, ppos))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_obs": [n],
                "ph_max_micros": [phmax],
                "peak_pos": [ppos],
                "m_final_micros": [m],
            }
        )

    out = s.groupBy("event_type").applyInPandasWithState(
        fold,
        outputStructType=(
            "event_type string, n_obs long, ph_max_micros long,"
            " peak_pos long, m_final_micros long"
        ),
        stateStructType=(
            "n long, sm long, m long, mn long, phmax long, ppos long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    updates = _run(spark, out, output_mode="update")
    w = W.partitionBy("event_type").orderBy(F.desc("n_obs"))
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type", "n_obs", "ph_max_micros", "peak_pos", "m_final_micros"
        )
    )


@query(
    "stream_scd2_enrich",
    oracle="""
    WITH st AS (
      SELECT user_id, event_type AS status, epoch_ns(ts) // 1000 AS us,
             event_id
      FROM events WHERE event_type <> 'purchase'
    ),
    iv AS (
      SELECT user_id, status, us AS from_us,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
               AS to_us
      FROM st
    ),
    pu AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS us,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    enriched AS (
      SELECT COALESCE(iv.status, 'none') AS status, pu.cents
      FROM pu
      LEFT JOIN iv ON iv.user_id = pu.user_id
                  AND iv.from_us <= pu.us
                  AND (iv.to_us IS NULL OR pu.us < iv.to_us)
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS cents_sum
    FROM enriched GROUP BY status ORDER BY status
    """,
)
def stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD2 POINT-IN-TIME enrichment — the production join a
    naive stream-static equi-join gets WRONG: the dimension is
    VERSIONED (the scd2_history per-user status timeline — each
    non-purchase event opens a validity interval [from, next-change)),
    and each streaming purchase must join the version valid AT ITS OWN
    EVENT TIME, never the latest one (the feature_pit_join leakage
    rule, applied to a streaming fact). The static side is the
    interval table (one lead() window over the dim build); the stream
    joins on user + from_us <= t < to_us — a per-user interval probe
    the SCD2 partition makes unique by construction (consecutive
    intervals tile [first_status, ∞), so exactly one matches; two
    status changes in the same microsecond leave the earlier an empty
    [t, t) interval — the later deterministically wins). Purchases
    before any status read 'none' via the left join.

    The enriched rows are appended per micro-batch (the join is
    stateless given the static dim) and the final readout aggregates
    them — trigger-boundary-invariant, hence the full value-hash
    oracle.

    Scale shape: dim build = one user-partitioned window; per batch
    ONE join against the (broadcastable, Catalyst-decided) interval
    table; final aggregate O(#statuses)."""
    ev = table(spark, sf_dir, "events")
    st = ev.where(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_type").alias("status"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    iv = st.select(
        F.col("user_id").alias("d_user"),
        "status",
        F.col("us").alias("from_us"),
        F.lead("us")
        .over(W.partitionBy("user_id").orderBy("us", "event_id"))
        .alias("to_us"),
    )
    s = _events_stream(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    enriched = s.join(
        iv,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("from_us") <= F.col("us"))
        & (F.col("to_us").isNull() | (F.col("us") < F.col("to_us"))),
        "left",
    ).select(F.coalesce("status", F.lit("none")).alias("status"), "cents")
    rows = _run(spark, enriched)
    return (
        rows.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .orderBy("status")
    )


def _docs_wave_replay(sf_dir: str) -> str:
    """Three-file documents feed (doc_id ASCENDING thirds — a TIME-like
    total order for order-sensitive folds)."""
    import pyarrow.compute as pc

    def thirds(t):
        t = t.take(pc.sort_indices(t, sort_keys=[("doc_id", "ascending")]))
        third = (t.num_rows + 2) // 3
        return [t.slice(i * third, third) for i in range(3)]

    return _write_replay(sf_dir, "docfeed", thirds, "documents", ["doc_id", "lang"])


@query(
    "stream_mixture_admission",
    oracle="""
    WITH w(lang, permille) AS (
      VALUES ('en', 500), ('fr', 150), ('de', 150), ('es', 100), ('zh', 100)
    ),
    tgt AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS n_target FROM documents),
    quota AS (
      SELECT w.lang, CAST((w.permille * tgt.n_target) // 1000 AS BIGINT)
               AS quota
      FROM w, tgt
    ),
    ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk
      FROM documents
    ),
    adm AS (
      SELECT r.lang, q.quota,
             CAST(COUNT(CASE WHEN r.rk <= q.quota THEN 1 END) AS BIGINT)
               AS n_admitted,
             CAST(COUNT(CASE WHEN r.rk > q.quota THEN 1 END) AS BIGINT)
               AS n_rejected,
             CAST(COALESCE(SUM(CASE WHEN r.rk <= q.quota THEN r.doc_id END), 0)
                  AS BIGINT) AS admitted_docid_sum
      FROM ranked r JOIN quota q ON q.lang = r.lang
      GROUP BY r.lang, q.quota
    )
    SELECT lang, quota, n_admitted, n_rejected, admitted_docid_sum
    FROM adm ORDER BY lang
    """,
)
def stream_mixture_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE MIXTURE ADMISSION — the streaming gate in front of
    `dataset_mixture_manifest`'s retrospective selection: documents
    arrive in doc_id order and each language ADMITS first-come until
    its permille quota fills, then rejects — the ingestion-time
    composition control a training pipeline runs when it cannot see
    the whole corpus first. State per language is three integers
    (admitted, rejected, admitted-id checksum); the admitted SET
    depends on arrival order, so the fold follows the stream_sprt
    order discipline (doc_id-split three-file replay + in-batch
    doc_id sort) and the final state is exactly "first `quota` docs
    per language in doc_id order" — fully ORACLE-CHECKED, the third
    non-commutative stateful key (sprt, page_hinkley, this).

    Scale shape: state O(#langs × 3 ints); the quota table is a
    broadcast join onto the stream; per-language sequential admission
    is the honest contract of any online gate."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    docs = table(spark, sf_dir, "documents")
    n_target = docs.count() // 2
    weights = {"en": 500, "fr": 150, "de": 150, "es": 100, "zh": 100}
    quotas = {k: (v * n_target) // 1000 for k, v in weights.items()}

    d = _docs_wave_replay(sf_dir)
    s = (
        spark.readStream.schema("doc_id long, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .where(F.col("lang").isin(*weights))
    )

    def fold(key, pdfs, state: GroupState):
        adm, rej, chk = state.get if state.exists else (0, 0, 0)
        quota = quotas.get(key[0], 0)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values("doc_id")
        for doc_id in pdf["doc_id"].astype("int64"):
            if adm < quota:
                adm += 1
                chk += int(doc_id)
            else:
                rej += 1
        state.update((adm, rej, chk))
        yield pd.DataFrame(
            {
                "lang": [key[0]],
                "quota": [quota],
                "n_admitted": [adm],
                "n_rejected": [rej],
                "admitted_docid_sum": [chk],
            }
        )

    out = s.groupBy("lang").applyInPandasWithState(
        fold,
        outputStructType=(
            "lang string, quota long, n_admitted long, n_rejected long,"
            " admitted_docid_sum long"
        ),
        stateStructType="adm long, rej long, chk long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    updates = _run(spark, out, output_mode="update")
    w = W.partitionBy("lang").orderBy(
        F.desc(F.col("n_admitted") + F.col("n_rejected"))
    )
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("lang", "quota", "n_admitted", "n_rejected", "admitted_docid_sum")
        .orderBy("lang")
    )


@query(
    "stream_topk_per_window",
    oracle="""
    WITH e AS (
      SELECT (epoch_ns(ts) // 1000 // 21600000000) * 21600000000 AS s,
             event_type
      FROM events
    ),
    c AS (
      SELECT s, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY s, event_type
    ),
    r AS (
      SELECT s, event_type, n,
             CAST(ROW_NUMBER() OVER (PARTITION BY s
                                     ORDER BY n DESC, event_type) AS BIGINT)
               AS rnk
      FROM c
    )
    SELECT make_timestamp(s) AS win_start, event_type, n, rnk
    FROM r WHERE rnk <= 2
    """,
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRENDING-NOW: top-2 event types per tumbling 6h window — the
    windowed-leaderboard shape (trending hashtags / hot keys) a
    monitoring surface serves off a streaming aggregate. Structured
    Streaming cannot rank ON TOP of a streaming aggregate (no window
    functions over an unfinalized agg), so the production shape is
    exactly this two-layer split: the STREAM maintains the per-(window,
    key) counts (complete mode here; update mode + an upsert sink in
    production — stream_merge_sink's discipline), and the SERVING
    layer applies the rank over the maintained state — a per-window
    WindowGroupLimit over #windows x #event-types rows, never over the
    event log. Oracle-checked end to end: counts are batch-replayable
    (commutative), the rank is deterministic with the (n DESC, key)
    tie-break.

    Scale shape (100 TB/day): the streaming agg is one keyed shuffle
    with partial aggregation; the serving rank runs over the
    state-store-sized result (windows x domain-constant key set), so
    the leaderboard never touches the log. Watermarking bounds state
    in production; the replay fixture is bounded by construction."""
    s = _events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "6 hours"), F.col("event_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n")
    )
    state = _run(spark, agg, output_mode="complete")
    wr = W.partitionBy("win_start").orderBy(F.desc("n"), "event_type")
    return (
        state.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .where(F.col("rnk") <= 2)
        .select("win_start", "event_type", "n", "rnk")
    )


@query(
    "stream_dq_quarantine",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (
             WHERE CAST(value AS DECIMAL(18,2)) > 400) AS BIGINT)
             AS n_value_gt_400,
           CAST(COUNT(*) FILTER (
             WHERE props IS NULL OR props = '') AS BIGINT) AS n_missing_props,
           CAST(COUNT(*) FILTER (
             WHERE event_type NOT IN
               ('click', 'error', 'purchase', 'signup', 'view')) AS BIGINT)
             AS n_unknown_type
    FROM events
    """,
)
def stream_dq_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DATA-QUALITY GATE — dq_expectations' rule sweep as a
    continuously-maintained census (the intake monitor a streaming
    pipeline puts in front of its bronze table): per rule, the running
    count of rows the quarantine route would divert — an out-of-range
    value (> 400.00, the fixture's high-value quarantine band), a
    missing props payload, an event type outside the known domain (a
    canary that stays 0 until a producer deploys something new).
    Indicator sums are commutative, so complete-mode replay equals the
    batch SQL regardless of batching — the stream_tumbling oracle
    argument; the rule constants are shared with the oracle by the
    one-constant discipline.

    Scale shape (100 TB/day): ONE streaming aggregate of indicator
    sums (map-side partials, single-row state); the quarantined rows
    themselves would fork off the same scan via foreachBatch
    (stream_merge_sink's discipline) — the census here is the part
    whose exactness can be gate-checked."""
    s = _events_stream(spark, sf_dir)
    known = ("click", "error", "purchase", "signup", "view")
    out = s.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.when(F.col("value").cast("decimal(18,2)") > 400, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_value_gt_400"),
        F.sum(
            F.when(
                F.col("props").isNull() | (F.col("props") == ""), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_missing_props"),
        F.sum(F.when(~F.col("event_type").isin(*known), 1).otherwise(0))
        .cast("long")
        .alias("n_unknown_type"),
    )
    return _run(spark, out, output_mode="complete")


@query(
    "stream_anomaly_zscore",
    oracle="""
    WITH w AS (
      SELECT (epoch_ns(ts) // 1000 // 21600000000) * 21600000000 AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS k,
             CAST(SUM(CAST(n AS HUGEINT)) AS HUGEINT) AS sn,
             CAST(SUM(CAST(n AS HUGEINT) * n) AS HUGEINT) AS qn
      FROM w
    )
    SELECT make_timestamp(w.s) AS win_start, w.n,
           CAST(ROUND(CAST(m.k * w.n - m.sn AS DOUBLE)
                      / (CAST(m.k AS DOUBLE)
                         * SQRT(CAST((m.k * m.qn - m.sn * m.sn)
                                     // (m.k * m.k) AS DOUBLE)))
                      * 1e6) AS BIGINT) AS z_micros
    FROM w, m
    """,
)
def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING VOLUME-ANOMALY SCORE — anomaly_daily_zscore's readout
    maintained by a stream: the per-6h-window event counts come from
    the streaming aggregate (complete-mode replay = batch, the
    stream_tumbling argument); the serving layer studentizes each
    window against the all-window mean/sd (exact integer moments,
    variance floor-reduced below 2^53 before the one IEEE sqrt — the
    bollinger rule) and reports z in micros. The batch post-step over
    the state-sized result is the stream_topk_per_window two-layer
    discipline — Structured Streaming cannot window over its own
    unfinalized aggregate.

    Scale shape (100 TB/day): one keyed streaming aggregate with
    map-side partials; the scoring pass touches only
    #windows rows. In production the baseline window set is a
    bounded retention horizon (watermark + state TTL)."""
    s = _events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("window.start").alias("win_start"), "n")
    )
    state = _run(spark, agg, output_mode="complete")
    d38 = "decimal(38,0)"
    nn = F.col("n").cast(d38)
    m = state.agg(
        F.count(F.lit(1)).cast(d38).alias("k"),
        F.sum(nn).cast(d38).alias("sn"),
        F.sum(nn * F.col("n")).cast(d38).alias("qn"),
    )
    return state.crossJoin(F.broadcast(m)).select(
        "win_start",
        "n",
        F.round(
            F.expr("CAST(k * n - sn AS DOUBLE)")
            / (
                F.col("k").cast("double")
                * F.sqrt(
                    F.expr("CAST((k * qn - sn * sn) div (k * k) AS DOUBLE)")
                )
            )
            * 1e6
        )
        .cast("long")
        .alias("z_micros"),
    )


def _emb_wave_replay(sf_dir: str) -> str:
    """Three-file embeddings feed: the NEW-vector batch of
    `ivf_index_incremental` (vec_id % 10 == 0, non-empty) in vec_id
    thirds — arrivals to a live vector store."""
    import pyarrow.compute as pc

    def thirds(t):
        # vec_id % 10 == 0 via truncating integer divide (ids are
        # non-negative; pyarrow.compute has no modulo kernel)
        keep = pc.and_(
            pc.equal(
                pc.subtract(
                    t["vec_id"],
                    pc.multiply(pc.divide(t["vec_id"], 10), 10),
                ),
                0,
            ),
            pc.greater(pc.list_value_length(t["embedding"]), 0),
        )
        t = t.filter(keep)
        t = t.take(pc.sort_indices(t, sort_keys=[("vec_id", "ascending")]))
        third = (t.num_rows + 2) // 3
        return [t.slice(i * third, third) for i in range(3)]

    return _write_replay(
        sf_dir, "embfeed", thirds, "embeddings", ["vec_id", "embedding"]
    )


@query(
    "stream_ivf_assign",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings WHERE len(embedding) > 0
    ),
    cents AS (
      SELECT vec_id AS cell, qv AS cvec FROM q
      WHERE vec_id % 10 <> 0 AND vec_id % 31 = 0
      ORDER BY vec_id LIMIT 16
    ),
    batch AS (SELECT vec_id, qv FROM q WHERE vec_id % 10 = 0),
    d AS (
      SELECT b.vec_id, c.cell,
             CAST(SUM((b.qv[CAST(t.i AS INT) + 1] - c.cvec[CAST(t.i AS INT) + 1])
                      * (b.qv[CAST(t.i AS INT) + 1] - c.cvec[CAST(t.i AS INT) + 1]))
                  AS BIGINT) AS d2
      FROM batch b
      CROSS JOIN cents c
      CROSS JOIN UNNEST(range(len(b.qv))) AS t(i)
      GROUP BY b.vec_id, c.cell
    ),
    best AS (
      SELECT vec_id, cell, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      FROM d
    )
    SELECT cell,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(SUM(vec_id) AS BIGINT) AS vecid_sum,
           CAST(SUM(d2) AS BIGINT) AS d2_sum
    FROM best WHERE rn = 1
    GROUP BY cell ORDER BY cell
    """,
)
def stream_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING IVF INDEX MAINTENANCE — `ivf_index_incremental`'s
    streaming twin (VERDICT r12 #6's named north-star example): new
    vectors ARRIVE as a stream and are assigned to the same FROZEN
    coarse quantizer micro-batch by micro-batch; the maintained view
    is the per-cell inverted-list census (size, vec-id checksum,
    distance-mass) an index server watches to decide when lists need
    re-clustering. Assignment is STATELESS per vector (the frozen
    k=16 centroid table is collected once — bounded-state by
    construction, the attribution_markov convention — and folded into
    a literal array; argmin = array_min over (d2, cell) structs, ties
    to the smaller cell exactly like the batch key's window), so the
    streaming result is trigger-boundary-independent and the per-cell
    running census is a commutative streaming aggregate in update
    mode — fully ORACLE-CHECKED against the batch assignment grouped
    by cell.

    Scale shape: the stream side is one map (no join, no shuffle
    before the k-bounded aggregate); state is O(k cells x 3 ints). At
    100 TB the centroid table stays a k-row broadcast/literal and
    arrivals absorb at O(|batch| x k) — the same freshness contract
    as the batch key, now with no re-scan of the base."""
    from ..functions.vectors import quantize, sq_dist

    emb = table(spark, sf_dir, "embeddings").where(F.size("embedding") > 0)
    q = emb.select("vec_id", quantize("embedding").alias("qv"))
    cent_rows = (  # k = 16 rows — bounded-state collect by construction
        q.where((F.col("vec_id") % 10 != 0) & (F.col("vec_id") % 31 == 0))
        .orderBy("vec_id")
        .limit(16)
        .select(F.col("vec_id").alias("cell"), F.col("qv").alias("cvec"))
        .collect()
    )
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(int(r["cell"])).cast("long").alias("cell"),
                F.array(
                    *[F.lit(int(x)).cast("long") for x in r["cvec"]]
                ).alias("cvec"),
            )
            for r in cent_rows
        ]
    )

    d = _emb_wave_replay(sf_dir)
    s = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .select("vec_id", quantize("embedding").alias("qv"))
    )
    scored = s.select(
        "vec_id",
        F.array_min(
            F.transform(
                cent_arr,
                lambda c: F.struct(
                    sq_dist("qv", c["cvec"]).alias("d2"),
                    c["cell"].alias("cell"),
                ),
            )
        ).alias("best"),
    ).select("vec_id", F.col("best.cell").alias("cell"), F.col("best.d2").alias("d2"))
    census = scored.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        F.sum("vec_id").cast("long").alias("vecid_sum"),
        F.sum("d2").cast("long").alias("d2_sum"),
    )
    updates = _run(spark, census, output_mode="update")
    w = W.partitionBy("cell").orderBy(F.desc("n_assigned"))
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cell", "n_assigned", "vecid_sum", "d2_sum")
        .orderBy("cell")
    )


@query(
    "stream_stream_left_outer",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'
    ),
    p AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT LEAST((SELECT MAX(ts) FROM e), (SELECT MAX(ts) FROM p))
             - INTERVAL 1 HOUR AS w
    ),
    matched AS (
      SELECT e.user_id AS e_user, e.event_id AS e_id, p.event_id AS p_id,
             e.ts AS e_ts, p.ts AS p_ts
      FROM e JOIN p
        ON p.user_id = e.user_id
       AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 6 HOUR
    )
    SELECT e_user, e_id, p_id, e_ts, p_ts FROM matched
    UNION ALL
    SELECT e.user_id, e.event_id, NULL, e.ts, NULL
    FROM e, wm
    WHERE NOT EXISTS (
      SELECT 1 FROM p
      WHERE p.user_id = e.user_id
        AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 6 HOUR
    )
    AND e.ts + INTERVAL 6 HOUR < wm.w
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the null-emission side
    of `stream_stream_join`'s state story: matches emit the moment
    they arrive (same rows as the inner join), but an UNMATCHED error
    can only emit its null row once the watermark PROVES no purchase
    can still match (p_ts <= e_ts + 6h is unsatisfiable below the
    right-side state watermark) — the mechanism that keeps outer-join
    state finite on an unbounded stream instead of holding every
    unmatched row forever. Under availableNow + the final no-data
    batch, the terminal watermark is LEAST(max error ts, max purchase
    ts) - 1h (min-policy across the two stream watermarks), so the
    emitted null set is exactly the unmatched errors with
    e_ts + 6h < that watermark — errors newer than the horizon stay
    buffered and do NOT appear, and the ORACLE states that gate
    explicitly (the one place batch LEFT JOIN and streaming left-outer
    legitimately differ).

    Scale shape: identical to the inner key — state bounded by the
    6h + 1h event-time horizon on both sides, keyed by user."""
    errors = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("e_id"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    out = errors.join(
        purchases,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts"))
        & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 6 HOURS")),
        "left_outer",
    ).select("e_user", "e_id", "p_id", "e_ts", "p_ts")
    return _run(spark, out)


@query(
    "stream_stream_full_outer",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'
    ),
    p AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT LEAST((SELECT MAX(ts) FROM e), (SELECT MAX(ts) FROM p))
             - INTERVAL 1 HOUR AS w
    ),
    matched AS (
      SELECT e.user_id AS e_user, e.event_id AS e_id, p.event_id AS p_id,
             e.ts AS e_ts, p.ts AS p_ts
      FROM e JOIN p
        ON p.user_id = e.user_id
       AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 6 HOUR
    )
    SELECT e_user, e_id, p_id, e_ts, p_ts FROM matched
    UNION ALL
    SELECT e.user_id, e.event_id, NULL, e.ts, NULL
    FROM e, wm
    WHERE NOT EXISTS (
      SELECT 1 FROM p
      WHERE p.user_id = e.user_id
        AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 6 HOUR
    )
    AND e.ts + INTERVAL 6 HOUR < wm.w
    UNION ALL
    SELECT NULL, NULL, p.event_id, NULL, p.ts
    FROM p, wm
    WHERE NOT EXISTS (
      SELECT 1 FROM e
      WHERE e.user_id = p.user_id
        AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 6 HOUR
    )
    AND p.ts < wm.w
    """,
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the outer
    family (inner r6, left r13; VERDICT r13 #6 named this the natural
    next key). Both null-emission gates are now active at once, and
    they are ASYMMETRIC because the interval condition is: an unmatched
    ERROR's null row needs the watermark past e_ts + 6h (a purchase up
    to 6h later could still match), while an unmatched PURCHASE's null
    row needs it only past p_ts (any future error has e_ts above the
    watermark, and the join requires e_ts <= p_ts — so p is provably
    unmatchable the moment the watermark passes its own timestamp).
    Under availableNow + the final no-data batch the terminal watermark
    is LEAST(max error ts, max purchase ts) - 1h (min-policy across the
    two stream watermarks), and the ORACLE states both gates explicitly
    — rows newer than their gate stay buffered and do NOT appear, the
    one place batch FULL JOIN and streaming full-outer legitimately
    differ.

    Scale shape: identical to the inner key — state bounded by the
    6h + 1h event-time horizon on both sides, keyed by user; the outer
    modes add no state, only eviction-time null emission."""
    errors = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("e_id"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    out = errors.join(
        purchases,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts"))
        & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 6 HOURS")),
        "full_outer",
    ).select("e_user", "e_id", "p_id", "e_ts", "p_ts")
    return _run(spark, out)


@query(
    "stream_watermark_idle_audit",
    oracle="""
    WITH b AS (
      SELECT make_timestamp(((epoch_ns(ts) // 1000) // 21600000000)
                            * 21600000000) AS win_start,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT b.win_start, b.n,
           (b.win_start + INTERVAL 6 HOUR <= wm.w) AS emitted
    FROM b, wm
    """,
)
def stream_watermark_idle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-advance audit under an IDLE source (VERDICT r13 #6's
    other named candidate) — the no-data-progress case every production
    pipeline hits: when a source stops producing, the watermark FREEZES
    at max-seen-event-time minus the delay (Spark has no idle-timeout
    advance), so every append-mode window past that horizon is held
    hostage — finished in the data, invisible downstream — until new
    data arrives. This key is the freshness monitor for that state:
    run the append-mode 6h windowed count to completion (availableNow's
    final no-data batch flushes everything the terminal watermark
    allows), then report EVERY window with its count and whether the
    stream actually delivered it. The oracle states the freeze rule
    explicitly: emitted iff win_end <= max(ts) - 1h — the trailing
    windows are exactly the audit's catch (emitted=false rows), and at
    fixture scale that is a nonempty set by construction since the
    watermark can never pass the newest event.

    Scale shape: one windowed aggregate (watermark-bounded state) plus
    a broadcast-sized join of window starts against the batch census —
    the audit output is O(#windows), grain-bounded, not O(rows)."""
    s = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    emitted = _run(
        spark,
        s.groupBy(F.window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n_stream"))
        .select(F.col("window.start").alias("win_start")),
    )
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("window.start").alias("win_start"), "n")
    )
    flags = emitted.select("win_start", F.lit(True).alias("emitted"))
    return batch.join(F.broadcast(flags), "win_start", "left").select(
        "win_start", "n", F.coalesce("emitted", F.lit(False)).alias("emitted")
    )

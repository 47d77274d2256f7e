"""Streaming-vs-batch equivalence (SURVEY.md §5.2-5): the driver's check
for stream_* queries is rows-only, so these tests pin the semantics —
each streaming pipeline must equal its batch twin on the replayed
fixture, and late-data handling must actually drop the late branch.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from blockchain2graphdb_spark import registry
from blockchain2graphdb_spark.catalog import table
from conftest import SF_DIR

SPECS = registry.load_all()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_stream_tumbling_equals_batch_window(spark):
    got = SPECS["stream_tumbling"].builder(spark, SF_DIR)
    ev = table(spark, SF_DIR, "events")
    exp = (
        ev.groupBy(F.window("ts", "6 hours"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n")
    )
    assert _rows(got) == _rows(exp)


def test_stream_stateful_agg_final_state_equals_batch(spark):
    got = SPECS["stream_stateful_agg"].builder(spark, SF_DIR)
    # single micro-batch => one update row per user = the final state
    ev = table(spark, SF_DIR, "events")
    exp = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_value_centi"),
    )
    assert _rows(got) == _rows(exp)


def test_stream_dedup_equals_batch_distinct_keys(spark):
    got = SPECS["stream_dedup"].builder(spark, SF_DIR)
    ev = table(spark, SF_DIR, "events")
    n_keys = ev.select("user_id", "event_type").distinct().count()
    assert got.count() == n_keys
    # one representative per key, keys unique
    assert got.select("user_id", "event_type").distinct().count() == n_keys


def test_stream_file_tail_sees_both_batches(spark):
    """maxFilesPerTrigger=1 over 2 files: complete-mode day counts must
    cover the whole fixture (the incremental pickup loses nothing)."""
    got = SPECS["stream_file_tail"].builder(spark, SF_DIR)
    total = got.agg(F.sum("n")).collect()[0][0]
    assert total == table(spark, SF_DIR, "events").count()


def test_stream_late_data_append_mode_invariants(spark):
    """File 0 = newest 80%, file 1 = oldest 20% arriving late, 1h
    watermark. Pin the append-mode contract (Spark's input-side watermark
    filter lags one batch, so rows later than the watermark can still
    merge into windows that have not yet been emitted — what must NEVER
    happen is a window emitted twice or an unfinalized window emitted):

      1. every window is emitted at most once;
      2. the emitted set is exactly the batch aggregation restricted to
         windows finalized under the final watermark (end <= max_ts - 1h);
      3. windows newer than the watermark are held back.
    """
    got = SPECS["stream_late_data"].builder(spark, SF_DIR)
    assert got.count() == got.select("win_start").distinct().count()  # (1)

    ev = table(spark, SF_DIR, "events")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("wm")).collect()[0]["wm"]
    batch = (
        ev.groupBy(F.window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win_start"), F.col("window.end").alias("win_end"), "n")
    )
    finalized = batch.where(F.col("win_end") <= F.lit(wm)).select("win_start", "n")
    assert _rows(got) == _rows(finalized)  # (2)
    assert got.count() < batch.count()  # (3): newest window(s) held back


def test_stream_static_join_equals_batch_join(spark):
    got = SPECS["stream_static_join"].builder(spark, SF_DIR)
    ev = table(spark, SF_DIR, "events")
    dim = table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    exp = (
        ev.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("value") * 100).cast("long")).alias("value_centi"),
        )
    )
    assert _rows(got) == _rows(exp)


def test_stream_stream_join_equals_batch_interval_join(spark):
    got = SPECS["stream_stream_join"].builder(spark, SF_DIR)
    ev = table(spark, SF_DIR, "events")
    err = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        F.col("event_id").alias("e_id"),
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    exp = err.join(
        pur,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts"))
        & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 6 HOURS")),
    ).select("e_user", "e_id", "p_id", "e_ts", "p_ts")
    # single-batch replay: nothing is watermark-dropped, so stream == batch
    assert _rows(got) == _rows(exp)


# ------------------------------------------------------ stream_merge_sink


def test_merge_sink_state_equals_batch_fold(spark, sf_dir):
    """The merge sink's final state must equal the one-shot batch
    aggregate over the same events — micro-batch boundaries must not
    show — and re-running must be idempotent."""
    from blockchain2graphdb_spark import registry
    from blockchain2graphdb_spark.catalog import table
    import pyspark.sql.functions as F

    spec = registry.load_all()["stream_merge_sink"]
    got = {
        r["user_id"]: (r["n_events"], r["value_centi"])
        for r in spec.builder(spark, sf_dir).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["value_centi"])
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_centi"),
        )
        .collect()
    }
    assert got == want and got
    rerun = {
        r["user_id"]: (r["n_events"], r["value_centi"])
        for r in spec.builder(spark, sf_dir).collect()
    }
    assert rerun == got


@pytest.mark.slow  # >9s measured r14; full lane still runs it
def test_stream_ivf_assign_equals_batch_census(spark):
    """The streaming IVF census must equal the batch assignment
    (ivf_index_incremental) grouped by cell — micro-batch boundaries
    must not show (assignment is stateless, the census commutative) —
    and re-running must be idempotent."""
    got = {
        r["cell"]: (r["n_assigned"], r["vecid_sum"], r["d2_sum"])
        for r in SPECS["stream_ivf_assign"].builder(spark, SF_DIR).collect()
    }
    want = {
        r["cell"]: (r["n"], r["vs"], r["ds"])
        for r in SPECS["ivf_index_incremental"]
        .builder(spark, SF_DIR)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("vec_id").cast("long").alias("vs"),
            F.sum("d2").cast("long").alias("ds"),
        )
        .collect()
    }
    assert got == want and got
    rerun = {
        r["cell"]: (r["n_assigned"], r["vecid_sum"], r["d2_sum"])
        for r in SPECS["stream_ivf_assign"].builder(spark, SF_DIR).collect()
    }
    assert rerun == got


@pytest.mark.slow  # ~12s (4-file replay, 5 micro-batches); full lane runs it
def test_stream_stream_join_state_evicts_with_watermark(spark, tmp_path):
    """The join keys' docstrings claim 'state bounded by the 6h + 1h
    event-time horizon' — measure it. Over a TIME-ORDERED 4-file
    replay (so the watermark genuinely advances between micro-batches,
    unlike the registered single-batch keys), the interval join's
    state store must (1) evict continuously (numRowsRemoved > 0 as
    the horizon slides), (2) never hold more than a fraction of the
    rows streamed through it, and (3) drain in the terminal no-data
    batch down to the last horizon's residue. Probe reading at
    sf0.001: 403 relevant rows in, peak state 114, 394 evicted,
    final batch 9 — the shape that keeps an unbounded stream's join
    state finite at any scale."""
    import time as _time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from blockchain2graphdb_spark.catalog import events_raw_schema

    d = str(tmp_path / "evict")
    import os

    os.makedirs(d)
    tbl = pq.read_table(f"{SF_DIR}/events.parquet")
    tbl = tbl.take(
        pc.sort_indices(tbl, sort_keys=[("ts", "ascending"), ("event_id", "ascending")])
    )
    q4 = tbl.num_rows // 4
    for i in range(4):
        ln = q4 if i < 3 else tbl.num_rows - 3 * q4
        pq.write_table(tbl.slice(i * q4, ln), f"{d}/p{i}.parquet")
        _time.sleep(0.05)

    from blockchain2graphdb_spark.catalog import normalize_events_ts

    s = normalize_events_ts(
        spark.readStream.schema(events_raw_schema(spark, SF_DIR))
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    err = (
        s.where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("e_id"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    pur = (
        s.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    import uuid as _uuid

    name = "ev" + _uuid.uuid4().hex[:10]
    q = (
        err.join(
            pur,
            (F.col("e_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("e_ts"))
            & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 6 HOURS")),
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stats = [
        (int(so["numRowsTotal"]), int(so["numRowsRemoved"]))
        for p in q.recentProgress
        for so in (p["stateOperators"] or [])
    ]
    assert len(stats) >= 4, stats
    n_rel = (
        spark.read.schema(events_raw_schema(spark, SF_DIR))
        .parquet(d)
        .where(F.col("event_type").isin("error", "purchase"))
        .count()
    )
    peak = max(t for t, _ in stats)
    removed = sum(r for _, r in stats)
    final_total = stats[-1][0]
    assert removed > 0, stats  # (1) eviction actually happened
    assert peak < n_rel / 2, (peak, n_rel)  # (2) never holds the stream
    assert final_total < peak / 2, stats  # (3) terminal batch drains
    # conservation: everything streamed in was either evicted or remains
    assert removed + final_total == n_rel, (removed, final_total, n_rel)


def _max_state_rows():
    """Max state-store numRowsTotal across micro-batches of the most
    recent _run query — the measured counterpart of the docstrings'
    bounded-state claims."""
    from blockchain2graphdb_spark.streaming.queries import _LAST_QUERY_PROGRESS

    mx = 0
    for p in _LAST_QUERY_PROGRESS:
        for so in (p.get("stateOperators") or []):
            mx = max(mx, int(so.get("numRowsTotal") or 0))
    return mx


def test_stream_ivf_assign_state_is_k_bounded(spark):
    """The per-cell census keeps O(k) state: the state store must never
    hold more rows than the 16 frozen centroid cells."""
    SPECS["stream_ivf_assign"].builder(spark, SF_DIR).collect()
    mx = _max_state_rows()
    assert 0 < mx <= 16, mx


def test_stream_mixture_admission_state_is_lang_bounded(spark):
    """The admission fold keeps one state row per language (5 weighted
    langs), regardless of how many documents stream through."""
    SPECS["stream_mixture_admission"].builder(spark, SF_DIR).collect()
    mx = _max_state_rows()
    assert 0 < mx <= 5, mx


def test_stream_left_outer_is_inner_plus_watermark_gated_nulls(spark):
    """The left-outer stream-stream join must emit exactly the inner
    join's matches PLUS a null row per unmatched error that the
    terminal watermark has proven unmatchable — and no null row at or
    beyond the watermark horizon (those stay buffered)."""
    import datetime

    outer = SPECS["stream_stream_left_outer"].builder(spark, SF_DIR)
    matched = {
        (r["e_user"], r["e_id"], r["p_id"])
        for r in outer.where(F.col("p_id").isNotNull()).collect()
    }
    inner = {
        (r["e_user"], r["e_id"], r["p_id"])
        for r in SPECS["stream_stream_join"].builder(spark, SF_DIR).collect()
    }
    assert matched == inner and matched
    ev = table(spark, SF_DIR, "events")
    mx = (
        ev.groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .where(F.col("event_type").isin("error", "purchase"))
        .agg(F.min("m"))
        .collect()[0][0]
    )
    horizon = mx - datetime.timedelta(hours=7)  # 1h delay + 6h window
    nulls = outer.where(F.col("p_id").isNull()).collect()
    assert nulls, "expected some watermark-proven unmatched errors"
    assert all(r["p_ts"] is None for r in nulls)
    assert all(r["e_ts"] < horizon for r in nulls)


@pytest.mark.slow  # >5.5s in the r14 fast-lane durations; full lane still runs it
def test_stream_full_outer_is_left_outer_plus_right_nulls(spark):
    """The full-outer stream-stream join must emit exactly the
    left-outer result PLUS a null row per unmatched purchase the
    watermark has proven unmatchable — and the two null gates are
    ASYMMETRIC: an error's gate is e_ts + 6h < wm (a later purchase
    could still match), a purchase's gate is p_ts < wm (the join needs
    e_ts <= p_ts, and future errors arrive above the watermark)."""
    import datetime

    full = SPECS["stream_stream_full_outer"].builder(spark, SF_DIR)
    left = SPECS["stream_stream_left_outer"].builder(spark, SF_DIR)
    as_tuple = lambda r: (r["e_user"], r["e_id"], r["p_id"], r["e_ts"], r["p_ts"])  # noqa: E731
    full_rows = [as_tuple(r) for r in full.collect()]
    left_rows = {as_tuple(r) for r in left.collect()}
    left_part = {t for t in full_rows if t[1] is not None}
    assert left_part == left_rows and left_part
    right_nulls = [r for r in full.where(F.col("e_id").isNull()).collect()]
    assert right_nulls, "expected watermark-proven unmatched purchases"
    ev = table(spark, SF_DIR, "events")
    wm = (
        ev.groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .where(F.col("event_type").isin("error", "purchase"))
        .agg(F.min("m"))
        .collect()[0][0]
    ) - datetime.timedelta(hours=1)
    assert all(r["e_ts"] is None and r["e_user"] is None for r in right_nulls)
    assert all(r["p_ts"] < wm for r in right_nulls)
    # rerun idempotence (replay determinism) — a fresh builder call runs
    # the whole stream again; re-collecting `full` would only re-read
    # the already-materialized memory sink and could never fail
    rerun = [
        as_tuple(r)
        for r in SPECS["stream_stream_full_outer"].builder(spark, SF_DIR).collect()
    ]
    assert sorted(rerun, key=str) == sorted(full_rows, key=str)


def test_stream_watermark_idle_audit_freeze_rule(spark):
    """The idle-source audit's emitted flag must equal the freeze rule
    (win_end <= max_ts - 1h), the held set must be nonempty (the
    watermark can never pass the newest event), and counts must equal
    the batch census — so the audit is usable as a production
    freshness monitor, not just a demo."""
    import datetime

    rows = SPECS["stream_watermark_idle_audit"].builder(spark, SF_DIR).collect()
    ev = table(spark, SF_DIR, "events")
    wm = ev.agg(F.max("ts")).collect()[0][0] - datetime.timedelta(hours=1)
    census = {
        r["ws"]: r["n"]
        for r in ev.groupBy(F.window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
        .collect()
    }
    assert {r["win_start"]: r["n"] for r in rows} == census and rows
    held = [r for r in rows if not r["emitted"]]
    assert held, "the trailing windows must be held by the frozen watermark"
    for r in rows:
        should_emit = r["win_start"] + datetime.timedelta(hours=6) <= wm
        assert r["emitted"] == should_emit, (r, wm)


@pytest.mark.slow  # two availableNow streams over synthetic dirs: ~15s warm
def test_watermark_boundary_edges_synthetic(spark, tmp_path):
    """Pin the exact <=/< watermark-boundary gates the r14 oracles
    encode (ADVICE r14) with SYNTHETIC timestamps the fixture never
    lands on: a window whose end falls EXACTLY on the terminal
    watermark, an unmatched error with e_ts + 6h EXACTLY at wm, and an
    unmatched purchase with p_ts EXACTLY at wm. Measured against Spark
    4.1's actual eviction behavior (probe 2026-08-16):

      * windowed agg, append mode: window emitted iff win_end <= wm
        (INCLUSIVE — the ==wm window IS emitted);
      * full-outer interval join, error-side null: emitted iff
        e_ts + 6h < wm (STRICT — the ==wm error stays buffered);
      * purchase-side null: emitted iff p_ts < wm (STRICT — the ==wm
        purchase stays buffered).

    These are exactly the three gates stream_watermark_idle_audit and
    stream_stream_full_outer's oracles state; a Spark upgrade or
    fixture re-encode that flips an edge fails here first."""
    import datetime
    import uuid as _uuid

    T = datetime.datetime.fromisoformat
    schema = (
        "event_id string, user_id string, ts timestamp,"
        " event_type string, value double"
    )

    # --- gate 1: window [00:00, 06:00) with terminal wm == 06:00 ---
    d1 = str(tmp_path / "agg")
    spark.createDataFrame(
        [
            ("e1", "u1", T("2024-01-01 01:00:00"), "error", 1.0),
            ("mx", "u9", T("2024-01-01 07:00:00"), "view", 1.0),
        ],
        schema,
    ).coalesce(1).write.parquet(d1)
    s = spark.readStream.schema(schema).parquet(d1).withWatermark("ts", "1 hour")
    name = "wb" + _uuid.uuid4().hex[:10]
    q = (
        s.groupBy(F.window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = {r["ws"] for r in spark.table(name).collect()}
    # inclusive edge: win_end (06:00) == wm (06:00) -> emitted
    assert T("2024-01-01 00:00:00") in emitted
    # the window holding the max event can never be emitted
    assert T("2024-01-01 06:00:00") not in emitted

    # --- gates 2+3: full-outer join, wm = min(max e, max p) - 1h = 12:00 ---
    d2 = str(tmp_path / "join")
    spark.createDataFrame(
        [
            # unmatched error, e_ts+6h = 11:00 <  wm -> null row emitted
            ("eA", "ua", T("2024-01-01 05:00:00"), "error", 1.0),
            # unmatched error, e_ts+6h = 12:00 == wm -> held (strict <)
            ("eB", "ub", T("2024-01-01 06:00:00"), "error", 1.0),
            # unmatched purchase, p_ts = 11:00 <  wm -> null row emitted
            ("pA", "va", T("2024-01-01 11:00:00"), "purchase", 1.0),
            # unmatched purchase, p_ts = 12:00 == wm -> held (strict <)
            ("pB", "vb", T("2024-01-01 12:00:00"), "purchase", 1.0),
            # matched pair at 13:00 pins both stream maxima -> wm = 12:00
            ("eMax", "uz", T("2024-01-01 13:00:00"), "error", 1.0),
            ("pMax", "uz", T("2024-01-01 13:00:00"), "purchase", 1.0),
        ],
        schema,
    ).coalesce(1).write.parquet(d2)

    def _side(etype, user, ts, eid):
        return (
            spark.readStream.schema(schema)
            .parquet(d2)
            .where(F.col("event_type") == etype)
            .select(
                F.col("user_id").alias(user),
                F.col("ts").alias(ts),
                F.col("event_id").alias(eid),
            )
            .withWatermark(ts, "1 hour")
        )

    out = (
        _side("error", "e_user", "e_ts", "e_id")
        .join(
            _side("purchase", "p_user", "p_ts", "p_id"),
            (F.col("e_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("e_ts"))
            & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 6 HOURS")),
            "full_outer",
        )
        .select("e_user", "e_id", "p_id", "e_ts", "p_ts")
    )
    name2 = "wb" + _uuid.uuid4().hex[:10]
    q2 = (
        out.writeStream.format("memory")
        .queryName(name2)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    rows = spark.table(name2).collect()
    matched = {(r["e_id"], r["p_id"]) for r in rows if r["e_id"] and r["p_id"]}
    err_nulls = {r["e_id"] for r in rows if r["p_id"] is None}
    pur_nulls = {r["p_id"] for r in rows if r["e_id"] is None}
    assert matched == {("eMax", "pMax")}
    assert err_nulls == {"eA"}, "strict <: the e_ts+6h==wm error must be held"
    assert pur_nulls == {"pA"}, "strict <: the p_ts==wm purchase must be held"

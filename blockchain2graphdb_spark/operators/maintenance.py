"""Mutation / maintenance operators (SURVEY.md §2.9) — the reference's
core competency, inverted to Spark's model.

The reference mutates a property graph row-at-a-time (one Gremlin
transaction per vertex/edge write, B:186 etc.). Here every maintenance
semantic is a *declarative set operation over immutable snapshots*:
insert-if-absent is a left-anti union, merge is a full-outer fold,
cascade delete is a chain of anti-joins, reorg rollback is a partition
filter + downstream recompute. At 100 TB these run as keyed shuffles or
broadcast joins and are idempotent — re-running a micro-batch cannot
double-apply (the property the reference buys with per-row transactions).

Each query returns the post-maintenance state so the DuckDB oracle can
verify the *semantics*, not the mechanism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..exact import dec2
from ..paths import derived_dir
from ..registry import query


@query(
    "upsert_insert_if_absent",
    oracle="""
    WITH existing AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0),
         incoming AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000)
    SELECT o_orderkey, o_totalprice FROM existing
    UNION ALL
    SELECT o_orderkey, o_totalprice FROM incoming
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM existing)
    """,
)
def upsert_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: idempotent insert keyed on `name` (B:170–202 guard hasNext() then addV).

    The per-row existence probe becomes one left-anti join of the incoming
    batch against the existing keys, then an append — same dedup guarantee,
    one shuffle instead of N indexed probes.
    """
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    existing = orders.where(F.col("o_orderkey") % 7 != 0)
    incoming = orders.where(F.col("o_totalprice") > 100000)
    fresh = incoming.join(existing, "o_orderkey", "left_anti")
    return existing.unionByName(fresh)


@query(
    "upsert_merge",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
    FROM orders GROUP BY o_custkey
    """,
)
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: upsert-with-recompute (B:296–354 address merge, 12 stats).

    Splits orders at 1998-01-01 into an "existing" aggregate state and a
    "delta" batch, then MERGEs via full-outer join + coalesce-fold — the
    foreachBatch pattern for incremental maintenance. The oracle is the
    plain whole-table aggregate: merge(state, delta) must equal
    recompute(all), which is exactly the invariant the reference's
    read-modify-write code tries to maintain by hand.
    """
    orders = table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec2("o_totalprice")).alias("total_spent_dec"),
        )

    state = agg(orders.where(F.col("o_orderdate") < cut))
    delta = agg(orders.where(F.col("o_orderdate") >= cut))
    s = state.alias("s")
    d = delta.alias("d")
    merged = s.join(d, F.col("s.o_custkey") == F.col("d.o_custkey"), "full_outer")
    zero_l = F.lit(0).cast("long")
    zero_d = F.lit(0).cast("decimal(18,2)")
    return merged.select(
        F.coalesce(F.col("s.o_custkey"), F.col("d.o_custkey")).alias("o_custkey"),
        (
            F.coalesce(F.col("s.n_orders"), zero_l)
            + F.coalesce(F.col("d.n_orders"), zero_l)
        ).alias("n_orders"),
        (
            F.coalesce(F.col("s.total_spent_dec"), zero_d)
            + F.coalesce(F.col("d.total_spent_dec"), zero_d)
        )
        .cast("double")
        .alias("total_spent"),
    )


@query(
    "update_columns",
    oracle="""
    SELECT CASE WHEN o_totalprice > 400000 THEN 'X' ELSE o_orderstatus END AS status,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def update_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: point property update (B:247 OutputIsUsed flip, B:554 block stats).

    Batch form: a conditional column rewrite — `when(pred, new).otherwise(old)`.
    The incremental form joins a delta keyed by primary key and coalesces
    new over old; both are full-column-vector ops, no per-row seek.
    """
    status = F.when(F.col("o_totalprice") > 400000, "X").otherwise(
        F.col("o_orderstatus")
    )
    return (
        table(spark, sf_dir, "orders")
        .withColumn("status", status)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "cascade_delete",
    oracle="""
    WITH del_cust AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         del_orders AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM del_cust))
    SELECT l_returnflag, COUNT(*) AS n_surviving
    FROM lineitem
    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_orders)
    GROUP BY l_returnflag
    """,
)
def cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: cascading delete block→txs→outputs (B:759–777 → B:713–756 → B:632–710).

    The reference walks the containment edges and drops vertices one by
    one, hand-decrementing every derived stat. Here the cascade is a chain
    of anti-joins against the deleted key set, and downstream stats are
    *recomputed* from survivors — no decrement logic to get wrong.
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    del_cust = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    del_orders = orders.join(
        del_cust, orders.o_custkey == del_cust.c_custkey, "left_semi"
    ).select("o_orderkey")
    surviving = li.join(del_orders, li.l_orderkey == del_orders.o_orderkey, "left_anti")
    return surviving.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_surviving"))


@query(
    "reorg_rollback",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE ts <= (SELECT MAX(ts) - INTERVAL 3 DAY FROM events)
    GROUP BY event_type
    """,
)
def reorg_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: chain-reorg rollback (B:91–102: delete while height >= fork).

    Pop everything above the fork point and recompute downstream
    aggregates. Because aggregates are queries (not maintained state),
    rollback is a partition filter — `height < fork` — plus recompute of
    affected partitions; nothing to decrement. Streaming-side this is a
    foreachBatch overwrite of the affected height range.
    """
    ev = table(spark, sf_dir, "events")
    fork = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 3 DAY")).alias("fork_ts")
    )
    kept = ev.join(F.broadcast(fork)).where(F.col("ts") <= F.col("fork_ts"))
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec2("value")).cast("double").alias("total_value"),
    )


@query(
    "resume_anti_join",
    oracle="""
    SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day, COUNT(*) AS n_to_process
    FROM events
    WHERE event_id NOT IN (
      SELECT event_id FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
    )
    GROUP BY 1
    """,
)
def resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: resume from checkpoint (B:38–49 getBestAndHeight + B:444–457 skip).

    "Max persisted height + skip already-ingested" = anti-join the incoming
    batch against already-processed keys. In streaming this is free via
    checkpointLocation; the batch form is shown here.
    """
    ev = table(spark, sf_dir, "events")
    done = ev.where(
        F.col("ts") <= F.lit("2024-01-20 00:00:00").cast("timestamp")
    ).select("event_id")
    todo = ev.join(done, "event_id", "left_anti")
    return todo.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_to_process")
    )


# --- snapshot-store-backed maintenance (sources/snapshots.py) -----------


def _snapshot_store(sf_dir: str, name: str, build):
    """The snapshot store `build(store)` commits from orders, one
    `derived_dir` per orders identity (`snap_<name>_...`)."""
    from ..sources.snapshots import SnapshotStore

    return SnapshotStore(
        derived_dir(
            f"snap_{name}", sf_dir, ("orders",), lambda stage: build(SnapshotStore(stage))
        )
    )


@query(
    "snapshot_time_travel",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o_orderstatus
    """,
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5/M6 at the storage layer: Delta-style versioned snapshots.

    v1 = pre-1996 orders, v2 = all orders, v3 = RESTORE(v1) — a
    metadata-only rollback (new manifest, zero data movement; the
    scalable form of the reference's delete-walk B:91–102). Reading
    the *latest* version after the restore must equal reading v1 by
    time travel, and both must equal the oracle's filtered aggregate.
    """
    from ..sources.snapshots import SnapshotStore

    def build(store: SnapshotStore) -> None:
        orders = table(spark, sf_dir, "orders")
        early = orders.where(
            F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
        )
        store.write(early)
        store.append(orders.subtract(early))
        store.restore(1)

    store = _snapshot_store(sf_dir, "tt", build)
    pinned = store.read(spark, version=1)
    latest = store.read(spark)  # v3 == restore(v1)
    # intersect-of-aggregates: if restore diverged from time travel the
    # inner join drops rows and the row-count gate fails loudly
    agg = lambda df: df.groupBy("o_orderstatus").agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.sum(dec2("o_totalprice")).cast("double").alias("total"),
    )
    return agg(latest).join(agg(pinned), ["o_orderstatus", "n", "total"], "inner")


@query(
    "snapshot_reorg_overwrite",
    oracle="""
    WITH tagged AS (
      SELECT *, CAST(o_orderkey % 4 AS INTEGER) AS bucket FROM orders
    )
    SELECT bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM tagged
    WHERE bucket IN (0, 1) OR o_orderstatus <> 'F'
    GROUP BY bucket
    """,
)
def snapshot_reorg_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 reorg as partition overwrite (replaceWhere): fork away buckets
    2–3, re-commit them from the surviving branch only. The commit
    rewrites exactly the forked partitions — O(changed partitions), the
    property that makes reorg affordable when the table is 100 TB and
    the fork is 6 blocks deep."""
    from ..sources.snapshots import SnapshotStore

    def build(store: SnapshotStore) -> None:
        orders = table(spark, sf_dir, "orders").withColumn(
            "bucket", (F.col("o_orderkey") % 4).cast("int")
        )
        store.write(orders, partition_col="bucket")
        branch = orders.where(
            F.col("bucket").isin(2, 3) & (F.col("o_orderstatus") != "F")
        )
        store.overwrite_partitions(branch, values=[2, 3])

    return (
        _snapshot_store(sf_dir, "reorg", build)
        .read(spark)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("o_totalprice")).cast("double").alias("total"),
        )
    )


@query(
    "scd2_history",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type AS status, epoch_ns(ts) // 1000 AS us, event_id
      FROM events
    ),
    seq AS (
      SELECT *, lag(status) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
      FROM e
    )
    SELECT user_id, status,
           CAST(us AS BIGINT) AS valid_from_us,
           CAST(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT)
             AS valid_to_us,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT)
             AS version
    FROM seq WHERE prev IS NULL OR prev <> status
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 extended — slowly-changing-dimension type-2 history build: the
    per-user status timeline compressed to versioned validity intervals
    (status = event_type; a new version opens at every change point,
    valid_to = next change, NULL = current row). This is the temporal
    -versioning write path of a warehouse dimension, derived from the
    same event log the reference mutates row-at-a-time (B:837–947).

    lag → change-point filter → lead/row_number: all four windows and
    the filter share ONE hashpartitioning(user_id) exchange (the change
    -point filter runs between window passes without repartitioning, so
    the compressed interval table never reshuffles). Output is
    |change points| rows — a compression of the log, bounded by it.
    As-of lookups against the result are the join_asof operator.
    """
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("status"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    ch = e.withColumn("prev", F.lag("status").over(w)).where(
        F.col("prev").isNull() | (F.col("prev") != F.col("status"))
    )
    return ch.select(
        "user_id",
        "status",
        F.col("us").alias("valid_from_us"),
        F.lead("us").over(w).alias("valid_to_us"),
        F.row_number().over(w).cast("long").alias("version"),
    )


@query(
    "snapshot_cdc_diff",
    oracle="""
    WITH b1 AS (
      SELECT o_orderpriority, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 4 = 1
    ),
    del AS (
      SELECT 'delete' AS change_kind, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM b1 WHERE o_orderstatus = 'O' GROUP BY 2
    ),
    ins AS (
      SELECT 'insert' AS change_kind, '9-REPRICED' AS o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM b1 WHERE o_orderstatus = 'O'
    )
    SELECT * FROM del UNION ALL SELECT * FROM ins
    """,
)
def snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M-family change data feed: the row-level diff between two
    snapshot versions (SnapshotStore.diff — Delta CDF semantics,
    updates as delete+insert pairs), registered at the gate instead of
    tests-only (the VERDICT r6 #2 discipline for X7). v2 overwrites
    ONLY partition bucket 1, retagging its open ('O') orders with a
    new priority; the CDF must surface exactly those rows — originals
    as deletes, retagged copies as inserts — and NOTHING from the
    untouched buckets, because file-level pruning scans only the
    symmetric difference of the manifests' file lists before the
    row-level exceptAll resolves rewritten files' unchanged rows.

    Scale shape: a reorg that touched one partition reads one
    partition's worth of files, not the table (manifest set
    difference), and the exceptAll shuffles only those files' rows;
    the aggregate output is O(#priorities)."""
    from ..sources.snapshots import SnapshotStore

    def build(store: SnapshotStore) -> None:
        orders = table(spark, sf_dir, "orders").withColumn(
            "bucket", (F.col("o_orderkey") % 4).cast("int")
        )
        store.write(orders, partition_col="bucket")
        b1 = orders.where(F.col("bucket") == 1)
        retagged = b1.withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderstatus") == "O", F.lit("9-REPRICED")).otherwise(
                F.col("o_orderpriority")
            ),
        )
        store.overwrite_partitions(retagged, values=[1])

    cdf = _snapshot_store(sf_dir, "cdc", build).diff(spark, 1, 2)
    return (
        cdf.groupBy(
            F.col("_change").alias("change_kind"), "o_orderpriority"
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(dec2("o_totalprice")).cast("double").alias("total"),
        )
    )


@query(
    "ivm_join_delta",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS price_sum
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view (the M-family's
    missing classic): with base tables split into old + delta batches
    (A = A0 ∪ dA, B = B0 ∪ dB — here a deterministic key-mod split of
    orders/lineitem standing in for 'yesterday's data + today's
    micro-batch'), the view delta is computed by the textbook IVM
    formula d(A ⋈ B) = dA ⋈ B0  ∪  A0 ⋈ dB  ∪  dA ⋈ dB, so the builder
    NEVER re-joins A0 with B0 — at 100 TB that is the difference
    between touching |delta| x join-partners and recomputing the whole
    view (in production dA/dB ARE the micro-batch files and A0 ⋈ B0 is
    the stored view, so the old-x-old term never reads base data at
    all; the key-mod split here just derives all four pieces from one
    fixture). The three delta terms and the old view fold
    into one re-aggregation of partial (count, sum) states — exactly
    how a maintained materialized view refreshes. The oracle computes
    the full join from scratch, so what's checked is that the delta
    algebra reproduces the monolithic result bit-for-bit (money in
    exact DECIMAL until the final cast)."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_extendedprice").cast("decimal(18,2)").alias("p")
    )
    a0 = orders.where(F.col("o_orderkey") % 10 != 0)
    da = orders.where(F.col("o_orderkey") % 10 == 0)
    b0 = li.where(F.col("l_orderkey") % 7 != 0)
    db = li.where(F.col("l_orderkey") % 7 == 0)

    def agg(df: DataFrame) -> DataFrame:
        # partial (count, sum) state per group — map-side combinable,
        # and mergeable across the old view and the three delta terms
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("p").alias("s"),
        )

    old_view = agg(a0.join(b0, a0.o_orderkey == b0.l_orderkey))
    d1 = agg(da.join(b0, da.o_orderkey == b0.l_orderkey))
    d2 = agg(a0.join(db, a0.o_orderkey == db.l_orderkey))
    d3 = agg(da.join(db, da.o_orderkey == db.l_orderkey))
    return (
        old_view.unionAll(d1)
        .unionAll(d2)
        .unionAll(d3)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").cast("double").alias("price_sum"),
        )
    )


@query(
    "cdc_apply",
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
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-feed compaction (M-family, the ordered sibling of
    `upsert_merge`): an insert/update/delete change log — derived
    deterministically from orders so both engines replay the identical
    feed — is collapsed to current state by LAST-WRITER-WINS per key
    (row_number over seq DESC, keep rn=1, drop 'D'). This is the apply
    step every lakehouse ingest runs on a Debezium-style feed; ONE
    keyed shuffle for the per-key latest (the window compiles to a
    partial TopK under WindowGroupLimit since only rn=1 survives), no
    join against the existing table at all — at 100 TB the feed
    compaction cost is O(feed), independent of table size, and the
    compacted batch then MERGEs like `upsert_merge`. Money stays
    integer cents end-to-end."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    ops = (
        o.select("k", F.lit(1).alias("seq"), F.lit("I").alias("op"), "cents")
        .unionAll(
            o.where(F.col("k") % 3 == 0).select(
                "k",
                F.lit(2).alias("seq"),
                F.lit("U").alias("op"),
                (F.col("cents") + 500).alias("cents"),
            )
        )
        .unionAll(
            o.where(F.col("k") % 5 == 0).select(
                "k",
                F.lit(3).alias("seq"),
                F.lit("D").alias("op"),
                F.lit(None).cast("long").alias("cents"),
            )
        )
    )
    from pyspark.sql import Window as W

    latest = ops.withColumn(
        "rn", F.row_number().over(W.partitionBy("k").orderBy(F.desc("seq")))
    ).where((F.col("rn") == 1) & (F.col("op") != "D"))
    return latest.agg(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.sum(F.when(F.col("cents") % 1000 == 500, 1).otherwise(0))
        .cast("long")
        .alias("n_updated_tail"),
    )


@query(
    "ivm_agg_delta",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
           CAST((CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                      AS HUGEINT) * 1000000) // COUNT(*) AS BIGINT) AS avg_micros,
           MIN(o_orderkey) AS min_key
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def ivm_agg_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for an AGGREGATE view — the sibling
    of ivm_join_delta: the stored view holds MERGEABLE PARTIAL STATES
    (count, exact-decimal sum, integer-cents sum, min), never finished
    values, so a micro-batch refresh is  merge(view_partials,
    delta_partials)  followed by re-finishing — AVG is re-derived from
    the merged (sum, count), never averaged-of-averages, and MIN merges
    because min is idempotent-associative (deletions would need a
    2-level re-scan or a monoid with inverses; this view is
    insert-only, the Structured-Streaming 'update mode' contract). The
    deterministic key-mod split stands in for yesterday's view + one
    micro-batch; the oracle aggregates from scratch, so what's checked
    is that the partial-state merge algebra reproduces the monolithic
    result bit-for-bit.

    Scale shape (100 TB): the refresh touches O(|delta|) rows plus
    O(#groups) stored partials — never the base table; both aggregates
    are map-side combinable and the merge is a groupBy over
    2 x #groups partial rows."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base = orders.where(F.col("o_orderkey") % 10 != 0)
    delta = orders.where(F.col("o_orderkey") % 10 == 0)

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("p").cast("decimal(18,2)").alias("psum"),
            F.sum("cents").cast("long").alias("csum"),
            F.min("o_orderkey").alias("mk"),
        )

    merged = (
        partials(base)
        .unionByName(partials(delta))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("psum").cast("decimal(18,2)").alias("psum"),
            F.sum("csum").cast("long").alias("csum"),
            F.min("mk").alias("mk"),
        )
    )
    return merged.select(
        "o_orderpriority",
        "n",
        F.col("psum").cast("double").alias("price_sum"),
        F.expr("(cast(csum as decimal(38,0)) * 1000000) div n")
        .cast("long")
        .alias("avg_micros"),
        F.col("mk").alias("min_key"),
    )


@query(
    "snapshot_shallow_clone",
    oracle="""
    WITH a AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_src FROM orders GROUP BY 1
    ),
    b AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_appended FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00' GROUP BY 1
    )
    SELECT a.o_orderstatus,
           a.n_src,
           COALESCE(b.n_appended, 0) AS n_appended,
           a.n_src + COALESCE(b.n_appended, 0) AS n_clone
    FROM a LEFT JOIN b ON b.o_orderstatus = a.o_orderstatus
    """,
)
def snapshot_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M-family at the storage layer: Delta-style SHALLOW CLONE — a
    zero-copy dev/test branch of a versioned table. The source store
    holds all orders; the clone is one manifest commit referencing the
    source's files verbatim (no data movement), then the clone appends
    the post-1997-06 slice as its own files. The readout proves the
    branch semantics: the source still reads exactly its original
    rows (isolation — the clone's append never leaked back), and the
    clone reads source + appended. Clone commits ride the same CAS
    loop as every write; `SnapshotStore.clone_from` documents the two
    shallow-clone hazards (source vacuum, partitioned sources
    refused).

    Scale shape: the clone commit is O(#files) metadata; reads plan
    from explicit file lists so pushdown/pruning are unchanged."""
    from ..sources.snapshots import SnapshotStore

    cut = F.lit("1997-06-01").cast("timestamp")

    def build_src(store: SnapshotStore) -> None:
        store.write(table(spark, sf_dir, "orders"))

    src_store = _snapshot_store(sf_dir, "clone_src", build_src)

    def build_dst(store: SnapshotStore) -> None:
        store.clone_from(src_store)
        extra = table(spark, sf_dir, "orders").where(F.col("o_orderdate") >= cut)
        store.append(extra)

    src = src_store.read(spark)
    clone = _snapshot_store(sf_dir, "clone_dst", build_dst).read(spark)
    a = src.groupBy("o_orderstatus").agg(F.count(F.lit(1)).cast("long").alias("n_src"))
    b = clone.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_clone")
    )
    return a.join(b, "o_orderstatus").select(
        "o_orderstatus",
        "n_src",
        (F.col("n_clone") - F.col("n_src")).cast("long").alias("n_appended"),
        "n_clone",
    )

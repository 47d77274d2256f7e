"""GraphX-style Pregel on DataFrames (SURVEY.md §4.3.1; BASELINE.json
names GraphX as the batch-graph approach — PySpark has no GraphX
bindings, so this is the GraphFrames-pattern equivalent: the same
superstep semantics as `org.apache.spark.graphx.Pregel` expressed as
alternating joins, with lineage cut per superstep).

Superstep: active vertices send messages along edges (a join), messages
aggregate per destination (a groupBy), receiving vertices update state
(a join + expression). Vertices go inactive when their state stops
changing; termination when no messages flow. Everything is a keyed
shuffle — no driver-side vertex loop, no collect.

Used by `chain_heights` to assign block heights from chain linkage alone
(the reference's O(n²) buffer sort B:392–412 / O(n) chain walk B:43–46
as a message-passing fixpoint), and reusable for any
propagate-and-aggregate computation (components, reachability, SSSP).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.iterate import local_checkpoint, observed_checkpoint
from ..plans.sizing import broadcast_hint


def pregel(
    vertices: DataFrame,  # (id, attr)
    edges: DataFrame,  # (src, dst)
    send_msg: Callable[[Column, Column], Column],
    # send_msg(src_attr, dst_attr) -> message to dst (null = no message)
    agg_msg: Callable[[Column], Column],  # e.g. F.min / F.max / F.sum
    vprog: Callable[[Column, Column], Column],
    # vprog(attr, aggregated_msg) -> new attr
    max_iter: int = 50,
    broadcast_nodes: int | None = None,
    needs_dst_attr: bool = True,
    check_convergence: bool = True,
) -> DataFrame:
    """Returns (id, attr) at fixpoint (or after max_iter supersteps).

    Same stats-loss story as graph/components.py: the per-superstep
    vertex table comes out of a localCheckpoint with no size statistics,
    so the triplet build would shuffle the full edge list every round.
    While the vertex count (known after the first materialization) fits
    under broadcast_nodes, the vertex side is hinted broadcast and each
    superstep streams the edges map-side; larger graphs fall back to
    keyed shuffles with AQE skew handling.

    The convergence probe rides the per-superstep checkpoint job as an
    `observe()` metric (plans.iterate.observed_checkpoint), so checking
    every superstep costs zero extra jobs and the loop exits exactly at
    the fixpoint.
    """
    v = vertices.select("id", "attr")
    # eager checkpoint (accumulator-lifecycle rule) with the hint-sizing
    # count riding the materialization job as an observe() metric
    v, n_vertices = observed_checkpoint(v, F.count(F.lit(1)))
    # resolved once per loop from the session heap and the actual vertex
    # schema (plans/sizing.py)
    hint = broadcast_hint(vertices.sparkSession, n_vertices, v.schema, broadcast_nodes)

    for i in range(max_iter):
        src = v.select(F.col("id").alias("src"), F.col("attr").alias("src_attr"))
        dst = v.select(F.col("id").alias("dst"), F.col("attr").alias("dst_attr"))
        triplets = edges.join(hint(src), "src")
        if needs_dst_attr:
            triplets = triplets.join(hint(dst), "dst")
        # needs_dst_attr=False skips the second vertex join entirely
        # (algorithms like PageRank never read the receiver's state)
        msgs = (
            triplets.select(
                F.col("dst").alias("id"),
                send_msg(F.col("src_attr"), F.col("dst_attr")).alias("msg"),
            )
            .where(F.col("msg").isNotNull())
            .groupBy("id")
            .agg(agg_msg(F.col("msg")).alias("msg"))
        )
        # stats-reset checkpoint (plans/iterate.py): the superstep joins
        # square preserved size estimates every round otherwise. The
        # convergence probe rides the checkpoint job via observe() —
        # zero extra jobs per superstep (plans.iterate.observed_checkpoint)
        updated = v.join(hint(msgs), "id", "left").select(
            "id",
            "attr",
            F.when(F.col("msg").isNotNull(), vprog(F.col("attr"), F.col("msg")))
            .otherwise(F.col("attr"))
            .alias("new_attr"),
        )
        if check_convergence:
            stepped, changed = observed_checkpoint(
                updated,
                F.count(F.when(~F.col("new_attr").eqNullSafe(F.col("attr")), 1)),
            )
            v = stepped.select("id", F.col("new_attr").alias("attr"))
            if changed == 0:
                break
        else:
            # check_convergence=False runs exactly max_iter supersteps
            # (fixed-iteration algorithms) with no metric at all
            stepped = local_checkpoint(updated)
            v = stepped.select("id", F.col("new_attr").alias("attr"))
    return v


def chain_heights(blocks: DataFrame) -> DataFrame:
    """W2/O2 via Pregel: (hash, height) from (hash, prev_hash) linkage
    alone. Genesis starts at 0, every superstep extends the known
    frontier one hop (height = parent height + 1), propagating max.

    O(chain length) supersteps worst-case — fine for reorg-depth batches;
    for full-chain ranking use graph/components.list_rank (pointer
    jumping, O(log n)). Returns (hash, height).
    """
    vertices = blocks.select(
        F.col("hash").alias("id"),
        F.when(F.col("prev_hash").isNull(), F.lit(0)).otherwise(F.lit(None)).alias(
            "attr"
        ),
    )
    edges = blocks.where(F.col("prev_hash").isNotNull()).select(
        F.col("prev_hash").alias("src"), F.col("hash").alias("dst")
    )
    out = pregel(
        vertices,
        edges,
        send_msg=lambda src_attr, dst_attr: F.when(
            src_attr.isNotNull() & dst_attr.isNull(), src_attr + 1
        ),
        agg_msg=F.max,
        vprog=lambda attr, msg: F.coalesce(attr, msg),
        max_iter=64,
    )
    return out.select(F.col("id").alias("hash"), F.col("attr").alias("height"))

"""Incremental derived-statistics maintenance (SURVEY.md §2.9 M2, §4.3.2).

The reference maintains the 12 address statistics by read-modify-write
per output (B:837–947). The scalable inversion: keep a *mergeable
partial-aggregate state* per address and fold each micro-batch into it —
the foreachBatch MERGE pattern. Every maintained column is algebraic
(sum/count/min/max), so merge(state, delta) ≡ recompute(all) exactly
(tested in tests/test_pregel_incremental.py).

Non-algebraic statistics (distinct counterparties A8) are NOT maintained
incrementally — they are either recomputed over the affected partition
(exact) or maintained as HLL sketches (approx_count_distinct at 100 TB),
which merge; the exact/mergeable boundary is the design point, not an
implementation gap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .derive import spent_inputs

# the mergeable per-address state (algebraic aggregates only)
PARTIAL_COLS = [
    "received",
    "spent",
    "n_recv_outputs",
    "n_spent_outputs",
    "first_appear",
    "last_appear",
]


def address_partials(
    transactions: DataFrame, outputs: DataFrame, inputs: DataFrame
) -> DataFrame:
    """Per-address mergeable partial state from one batch of chain data."""
    tx_dates = transactions.select("tx_hash", "tx_date")
    recv = (
        outputs.join(tx_dates, "tx_hash")
        .groupBy("address")
        .agg(
            F.sum("value").alias("received"),
            F.count(F.lit(1)).alias("n_recv_outputs"),
            F.min("tx_date").alias("first_appear"),
            F.max("tx_date").alias("last_appear"),
        )
    )
    si = spent_inputs(inputs, outputs)
    spend = (
        si.join(tx_dates, si.spending_tx_hash == tx_dates.tx_hash)
        .groupBy("address")
        .agg(
            F.sum("value").alias("spent"),
            F.count(F.lit(1)).alias("n_spent_outputs"),
            F.max("tx_date").alias("last_spend"),
        )
    )
    return (
        recv.join(spend, "address", "full_outer")
        .select(
            "address",
            F.coalesce("received", F.lit(0)).alias("received"),
            F.coalesce("spent", F.lit(0)).alias("spent"),
            F.coalesce("n_recv_outputs", F.lit(0)).alias("n_recv_outputs"),
            F.coalesce("n_spent_outputs", F.lit(0)).alias("n_spent_outputs"),
            F.col("first_appear"),
            F.greatest(
                F.coalesce("last_appear", "last_spend"),
                F.coalesce("last_spend", "last_appear"),
            ).alias("last_appear"),
        )
    )


def merge_partials(state: DataFrame, delta: DataFrame) -> DataFrame:
    """MERGE: fold a batch's partials into the accumulated state.
    Commutative and associative — batch order cannot change the result."""
    s, d = state.alias("s"), delta.alias("d")
    joined = s.join(d, F.col("s.address") == F.col("d.address"), "full_outer")

    def add(col: str):
        return (
            F.coalesce(F.col(f"s.{col}"), F.lit(0))
            + F.coalesce(F.col(f"d.{col}"), F.lit(0))
        ).alias(col)

    return joined.select(
        F.coalesce(F.col("s.address"), F.col("d.address")).alias("address"),
        add("received"),
        add("spent"),
        add("n_recv_outputs"),
        add("n_spent_outputs"),
        # least/greatest are null-poisoning in ANSI SQL; coalesce-per-side
        F.when(F.col("s.first_appear").isNull(), F.col("d.first_appear"))
        .when(F.col("d.first_appear").isNull(), F.col("s.first_appear"))
        .otherwise(F.least(F.col("s.first_appear"), F.col("d.first_appear")))
        .alias("first_appear"),
        F.when(F.col("s.last_appear").isNull(), F.col("d.last_appear"))
        .when(F.col("d.last_appear").isNull(), F.col("s.last_appear"))
        .otherwise(F.greatest(F.col("s.last_appear"), F.col("d.last_appear")))
        .alias("last_appear"),
    )

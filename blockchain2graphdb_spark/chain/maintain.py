"""Maintenance semantics over the normalized chain tables (SURVEY.md
§2.9 M1–M6, §3.3): insert-if-absent, reorg rollback, resume/divergence
detection — each a set operation over immutable snapshots, replacing the
reference's per-vertex Gremlin mutations with idempotent,
partition-scoped recomputation.

The load-bearing property (tested in tests/test_chain_invariants.py):
    ingest(chain) then rollback(k)  ≡  ingest(chain[:-k])
The reference needs 150 lines of hand-written decrement logic for this
(deleteBlock→deleteTransaction→deleteOutput, B:632–777). Here every row
carries its block's height from the moment it is decoded, so a rollback
drops the rows at or above the fork height in each table with no join,
and every derived statistic is re-derived from survivors.

Why the filter drops exactly a block and its dependents: the held state
is one chain, so a height names one held block, and `insert_if_absent`
keeps the first-inserted row of a key — a tx re-sent in a later block
keeps the height (and `block_hash`) of its first block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schema import KEYS

Tables = dict[str, DataFrame]


def insert_if_absent(existing: DataFrame, incoming: DataFrame, keys: list[str]) -> DataFrame:
    """M1 (B:170–202): idempotent keyed insert as anti-join + append."""
    fresh = incoming.join(existing.select(*keys), keys, "left_anti")
    return existing.unionByName(fresh)


def reorg_rollback(tables: Tables, fork_height: int) -> Tables:
    """M5 (B:91–102, B:523–530): pop every block with height >= fork,
    with its transactions, outputs and inputs.

    Every row carries its block's height, so this is one `height < fork`
    filter per table — partition pruning at scale, where the tables are
    partitioned by height range. Un-spending the popped inputs (B:568–629
    updateOutput) is implicit: OutputIsUsed is derived from the inputs
    table, so removing the spending rows rolls the flag back.
    """
    return {name: df.where(F.col("height") < fork_height) for name, df in tables.items()}


def find_fork_height(stored_blocks: DataFrame, incoming_blocks: DataFrame) -> int | None:
    """M6 divergence detection (B:444–457, B:501–515): lowest height where
    the incoming chain's hash differs from the stored one. None = no
    divergence (incoming extends stored)."""
    s = stored_blocks.select(F.col("height"), F.col("hash").alias("stored_hash"))
    i = incoming_blocks.select(F.col("height"), F.col("hash").alias("incoming_hash"))
    div = (
        s.join(i, "height")
        .where(F.col("stored_hash") != F.col("incoming_hash"))
        .agg(F.min("height").alias("fork"))
        .collect()[0]["fork"]
    )
    return div


def resume(tables: Tables, incoming: Tables) -> Tables:
    """M5+M6 composed (the synchronizeDatabase path, B:91–113): detect
    divergence, roll back to the fork point, then idempotently append the
    new rows — the foreachBatch MERGE body for streaming ingestion."""
    fork = find_fork_height(tables["blocks"], incoming["blocks"])
    if fork is not None:
        tables = reorg_rollback(tables, fork)
    return {
        name: insert_if_absent(tables[name], incoming[name], keys)
        for name, keys in KEYS.items()
    }

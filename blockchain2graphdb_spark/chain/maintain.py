"""Maintenance semantics over the normalized chain tables (SURVEY.md
§2.9 M1–M6, §3.3): insert-if-absent, cascading delete, reorg rollback,
resume/divergence detection — each a set operation over immutable
snapshots, replacing the reference's per-vertex Gremlin mutations with
idempotent, partition-scoped recomputation.

The load-bearing property (tested in tests/test_chain_invariants.py):
    ingest(chain) then rollback(k)  ≡  ingest(chain[:-k])
The reference needs 150 lines of hand-written decrement logic for this
(deleteBlock→deleteTransaction→deleteOutput, B:632–777); here dependent
rows are filtered by anti-join and every derived statistic is re-derived
from survivors, so the invariant holds by construction.
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


def cascade_delete(tables: Tables, block_hashes: DataFrame) -> Tables:
    """M4 (B:759–777 → B:713–756 → B:632–710): drop blocks and all
    dependents. block_hashes: single-column 'hash' DataFrame.

    Un-spending the deleted branch's inputs (B:568–629 updateOutput) is
    implicit: OutputIsUsed is derived from the inputs table, so removing
    the spending rows rolls the flag back with zero code.
    """
    blocks = tables["blocks"].join(block_hashes, "hash", "left_anti").select(
        tables["blocks"].columns
    )
    txs = tables["transactions"].join(
        block_hashes.withColumnRenamed("hash", "block_hash"), "block_hash", "left_anti"
    ).select(tables["transactions"].columns)  # USING joins front the key; restore order
    surviving_tx = txs.select("tx_hash")
    outputs = tables["outputs"].join(surviving_tx, "tx_hash", "left_semi").select(
        tables["outputs"].columns
    )
    inputs = tables["inputs"].join(
        surviving_tx.withColumnRenamed("tx_hash", "spending_tx_hash"),
        "spending_tx_hash",
        "left_semi",
    ).select(tables["inputs"].columns)
    return {"blocks": blocks, "transactions": txs, "outputs": outputs, "inputs": inputs}


def reorg_rollback(tables: Tables, fork_height: int) -> Tables:
    """M5 (B:91–102, B:523–530): pop every block with height >= fork.

    At scale this is partition pruning — blocks are partitioned by height
    range, so the rollback touches only the affected partitions and the
    derived tables recompute from the survivors.
    """
    doomed = tables["blocks"].where(F.col("height") >= fork_height).select("hash")
    return cascade_delete(tables, doomed)


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

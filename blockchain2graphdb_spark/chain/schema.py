"""Explicit schemas for the normalized blockchain tables (SURVEY.md §1.6,
FIXTURES.md §B) and the derived-statistics tables (§1.4).

Money columns are satoshi LongType — exact, never Double (reference
stores Long, T:121–151; the one Integer/long mismatch there, BlockFee
T:123 vs B:172, is resolved to long as the code intends).

Edge tables of the reference collapse into FK columns (§1.6):
`chain` = blocks.prev_hash, `has` = transactions.block_hash,
`output` = outputs.tx_hash, `locked` = outputs.address,
`input` = inputs(spending_tx_hash, spent_output_id).

Every table carries its block's `height`, set once where the row is born
(`sources/blockfile.normalize`, `chain/fixtures.Chain.to_spark`), so a
reorg rollback is a `height < fork` filter on each table and no consumer
joins back to `blocks` for a height.
"""

from __future__ import annotations

from pyspark.sql import types as T

BLOCKS = T.StructType(
    [
        T.StructField("hash", T.StringType(), False),
        T.StructField("prev_hash", T.StringType(), True),  # null at genesis
        T.StructField("height", T.IntegerType(), False),
        T.StructField("block_date", T.TimestampType(), False),
        T.StructField("coinbase_balance", T.LongType(), False),  # inflation, B:541
    ]
)

TRANSACTIONS = T.StructType(
    [
        T.StructField("tx_hash", T.StringType(), False),
        T.StructField("block_hash", T.StringType(), False),
        T.StructField("tx_index", T.IntegerType(), False),  # position within block
        T.StructField("tx_date", T.TimestampType(), False),  # inherits block date B:1010
        T.StructField("is_coinbase", T.BooleanType(), False),  # B:786
        T.StructField("height", T.IntegerType(), False),  # its block's height
    ]
)

OUTPUTS = T.StructType(
    [
        T.StructField("tx_hash", T.StringType(), False),
        T.StructField("output_index", T.IntegerType(), False),  # OutputHeight T:150
        T.StructField("output_id", T.StringType(), False),  # tx_hash:index (B:988)
        T.StructField("value", T.LongType(), False),  # satoshis, OutputBalance T:151
        T.StructField("address", T.StringType(), False),  # locked edge T:111
        T.StructField("height", T.IntegerType(), False),  # its tx's block height
    ]
)

INPUTS = T.StructType(
    [
        T.StructField("spending_tx_hash", T.StringType(), False),
        T.StructField("spent_output_id", T.StringType(), False),  # input edge T:109
        T.StructField("height", T.IntegerType(), False),  # spending tx's block height
    ]
)

# Each table's row identity (all columns non-null): what a sync
# anti-joins incoming rows on so that replays append nothing.
KEYS = {
    "blocks": ["hash"],
    "transactions": ["tx_hash"],
    "outputs": ["output_id"],
    "inputs": ["spending_tx_hash", "spent_output_id"],
}

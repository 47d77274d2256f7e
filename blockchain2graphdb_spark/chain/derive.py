"""Derivation pipeline: every derived property of the reference's data
model (SURVEY.md §1.4) computed declaratively from the four normalized
tables — the replacement for the reference's addBlock/addTransaction/
addAddress/calculateAndUpdateAddress read-modify-write code
(B:533–547, B:780–834, B:837–947, B:950–983).

Design stance (§1.6): derived statistics are *aggregation queries*, not
maintained mutable state. Batch recompute is deterministic and
idempotent; incremental maintenance (maintain.py) re-runs these over
affected partitions instead of decrementing counters.

Scale notes: every aggregate below is a keyed groupBy (partial+final
hash agg); joins are FK equi-joins on tx_hash/output_id/address —
partitionable by key with no row-at-a-time access. At 100 TB the input
tables are partitioned by height range.

`address_stats` is one tx fold followed by one address fold: the
payee, funder and tx rows are exchanged once on `tx_hash` into one
partial per (tx, address), and one `groupBy("address")` computes all
12 statistics. It keeps the semantics of a chain of inner FK joins: an
input whose spent output is not held is dropped, and the values and
dates need the tx row while `transaction_count` and the counterparty
counts do not (details in its docstring).

Known reference bugs NOT replicated (SURVEY §7 watch-list): the
misspelled insert key `TransactionIsBetweenAddress` (B:226 vs T:147) —
we implement the declared property; the BlockFee Integer/long schema
mismatch (T:123 vs B:172) — fees are LongType; per-occurrence
double-counting of AddressTransactionCount when an address appears
twice in one tx — we count distinct incident transactions.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# building blocks


def spent_inputs(inputs: DataFrame, outputs: DataFrame) -> DataFrame:
    """input edge joined to its source output: (spending_tx_hash,
    spent_output_id, value, address) — the J4 owner lookup (B:578
    out("locked")) as one FK join."""
    return inputs.join(
        outputs.select(
            F.col("output_id").alias("spent_output_id"),
            F.col("value"),
            F.col("address"),
        ),
        "spent_output_id",
    )


def output_state(outputs: DataFrame, inputs: DataFrame) -> DataFrame:
    """Output vertex properties (T:150–152): OutputHeight = output_index,
    OutputBalance = value, OutputIsUsed = spent flag. The reference flips
    is_used per spend (B:247) and back on reorg (B:575); here it is a
    semi-join — rollback is automatic when input rows disappear."""
    spent = inputs.select(F.col("spent_output_id").alias("output_id")).distinct()
    return (
        outputs.join(
            spent.withColumn("is_used", F.lit(True)), "output_id", "left"
        )
        .withColumn("is_used", F.coalesce(F.col("is_used"), F.lit(False)))
        .select(
            "output_id",
            "tx_hash",
            F.col("output_index").alias("output_height"),
            F.col("value").alias("output_balance"),
            "address",
            "is_used",
        )
    )


def transaction_stats(
    transactions: DataFrame, outputs: DataFrame, inputs: DataFrame
) -> DataFrame:
    """Transaction vertex properties (T:140–147, computed B:780–834,
    B:1027–1031, B:1077–1088):

    input_count / output_count  — A2
    balance   = Σ input values, 0 for coinbase — A3 (B:784)
    fee       = balance − Σ output values, 0 for coinbase — A4 (B:788–793)
    is_between_one_address — exactly one distinct address across the tx's
        input-source and output addresses (declared semantics of T:147;
        B:873–882)
    new_address_count — # addresses whose first-ever receipt (ordered by
        height, tx_index, output_index) is in this tx — A9 (B:1077–1080)
    """
    si = spent_inputs(inputs, outputs)
    in_agg = si.groupBy(F.col("spending_tx_hash").alias("tx_hash")).agg(
        F.count(F.lit(1)).alias("input_count"),
        F.sum("value").alias("in_sum"),
        F.countDistinct("address").alias("n_in_addrs"),
    )
    out_agg = outputs.groupBy("tx_hash").agg(
        F.count(F.lit(1)).alias("output_count"),
        F.sum("value").alias("out_sum"),
        F.countDistinct("address").alias("n_out_addrs"),
    )
    # distinct address count across both sides (A11 HashSet union)
    both_addrs = (
        si.select(F.col("spending_tx_hash").alias("tx_hash"), "address")
        .union(outputs.select("tx_hash", "address"))
        .groupBy("tx_hash")
        .agg(F.countDistinct("address").alias("n_addrs"))
    )

    new_addr = _new_address_counts(transactions, outputs)

    zero = F.lit(0).cast("long")
    return (
        transactions.join(in_agg, "tx_hash", "left")
        .join(out_agg, "tx_hash", "left")
        .join(both_addrs, "tx_hash", "left")
        .join(new_addr, "tx_hash", "left")
        .select(
            "tx_hash",
            "block_hash",
            "tx_date",
            "is_coinbase",
            F.coalesce("input_count", F.lit(0)).cast("int").alias("input_count"),
            F.coalesce("output_count", F.lit(0)).cast("int").alias("output_count"),
            F.when(F.col("is_coinbase"), zero)
            .otherwise(F.coalesce("in_sum", zero))
            .alias("balance"),
            F.when(F.col("is_coinbase"), zero)
            .otherwise(F.coalesce("in_sum", zero) - F.coalesce("out_sum", zero))
            .alias("fee"),
            (F.coalesce("n_addrs", F.lit(0)) == 1).alias("is_between_one_address"),
            F.coalesce("new_address_count", F.lit(0)).cast("int").alias(
                "new_address_count"
            ),
        )
    )


def _new_address_counts(transactions: DataFrame, outputs: DataFrame) -> DataFrame:
    """Per tx: # addresses first seen in it (receive side defines
    appearance, as in the reference where addresses are inserted on
    output processing, B:328–340)."""
    placed = outputs.join(
        transactions.select(
            "tx_hash",
            "tx_index",
            F.col("block_hash").alias("_bh"),
        ),
        "tx_hash",
    )
    # order of appearance: (tx_date, tx_index, output_index) — tx_date is
    # the block date, so this is (height, position-in-block, position-in-tx)
    placed = placed.join(
        transactions.select("tx_hash", "tx_date"), "tx_hash"
    ).select("tx_hash", "address", "tx_date", "tx_index", "output_index")
    w = W.partitionBy("address")
    first = placed.withColumn(
        "first_key",
        F.min(F.struct("tx_date", "tx_index", "output_index", "tx_hash")).over(w),
    )
    first_tx = (
        first.where(
            (F.col("tx_date") == F.col("first_key.tx_date"))
            & (F.col("tx_index") == F.col("first_key.tx_index"))
            & (F.col("output_index") == F.col("first_key.output_index"))
            & (F.col("tx_hash") == F.col("first_key.tx_hash"))
        )
        .select("address", "tx_hash")
        .distinct()
    )
    return first_tx.groupBy("tx_hash").agg(
        F.count(F.lit(1)).alias("new_address_count")
    )


def block_stats(
    blocks: DataFrame, transactions: DataFrame, outputs: DataFrame, inputs: DataFrame
) -> DataFrame:
    """Block vertex properties (T:118–123, computed B:533–564, B:1007–1041):

    transaction_count — A1 (B:538–540)
    coinbase_balance  — inflation (B:541)
    balance = inflation + Σ non-coinbase input sums — A3 (B:1011, B:1037)
    fee     = Σ tx fees — A4 (B:1039–1041; long, not the schema's Integer)
    """
    tx = transaction_stats(transactions, outputs, inputs)
    per_block = tx.groupBy("block_hash").agg(
        F.count(F.lit(1)).alias("transaction_count"),
        F.sum(F.when(~F.col("is_coinbase"), F.col("balance")).otherwise(0)).alias(
            "tx_in_sum"
        ),
        F.sum("fee").alias("fee"),
    )
    return blocks.join(
        per_block, blocks.hash == per_block.block_hash, "left"
    ).select(
        "hash",
        "prev_hash",
        "height",
        "block_date",
        F.coalesce("transaction_count", F.lit(0)).cast("int").alias(
            "transaction_count"
        ),
        F.col("coinbase_balance"),
        (F.col("coinbase_balance") + F.coalesce("tx_in_sum", F.lit(0))).alias(
            "balance"
        ),
        F.coalesce("fee", F.lit(0)).alias("fee"),
    )


def address_stats(
    transactions: DataFrame, outputs: DataFrame, inputs: DataFrame
) -> DataFrame:
    """The 12 per-address statistics (T:126–137, maintained imperatively
    at B:837–947 and B:950–983):

    received / spent / balance        — A5 (B:856–862, B:912–919)
    first_appear / last_appear        — A6 (B:858–859, B:886–887, B:583–589)
    transaction_count, input_transaction_count, output_transaction_count
                                      — A7 (B:863–867, B:920–924; distinct txs)
    input_address_count / output_address_count — A8, the 3-hop
        counterparty count-distinct with self excluded (B:950–983)
    between_address_transaction_count — A10 (B:876–877)
    (wallet_id lives in wallets.py — the reference stubbed it, T:137)

    Plan: one tx fold, then one address fold.
    1. Payee rows (outputs), funder rows (`spent_inputs`) and tx rows
       (`transactions`, for tx_date) are unioned and exchanged once on
       `tx_hash`. A window on `tx_hash` gives every row its tx's date,
       whether the tx row is held, and the tx's funder and payee lists;
       a `groupBy(tx_hash, address)` on the same partitioning folds them
       into one partial per (tx, address).
    2. One `groupBy("address")` computes all 12 columns. A8 is a
       count-distinct over each partial's counterparty list exploded, so
       a row is bounded by its tx's size, not by how many counterparties
       the address has; sums take the first exploded row only.
    Each branch reaches the tx exchange once, and no joined sub-plan is
    read by two branches: one read twice with different column pruning
    would be computed twice.
    A traced chain_sync stats read runs 7 Spark jobs.

    Inner-join semantics, as a chain of FK joins would give them:
    - an input whose spent output is not held contributes nothing;
    - received, spent, first_appear, last_appear and the two directional
      tx counts count only txs whose transaction row is held, and an
      address appears only if it has such a tx;
    - transaction_count and the counterparty counts count every tx
      whose outputs or held inputs touch the address.
    Addresses are non-null (schema.OUTPUTS).
    """
    si = spent_inputs(inputs, outputs)
    no_date = F.lit(None).cast("timestamp")
    # kind: 0 = the tx row, 1 = payee (an output), 2 = funder (a held input)
    rows = (
        outputs.select(
            "tx_hash", "address", "value", F.lit(1).alias("kind"), no_date.alias("tx_date")
        )
        .unionByName(
            si.select(
                F.col("spending_tx_hash").alias("tx_hash"),
                "address",
                "value",
                F.lit(2).alias("kind"),
                no_date.alias("tx_date"),
            )
        )
        .unionByName(
            transactions.select(
                "tx_hash",
                F.lit(None).cast("string").alias("address"),
                F.lit(None).cast("long").alias("value"),
                F.lit(0).alias("kind"),
                "tx_date",
            )
        )
    )
    tx_row, payee, funder = (F.col("kind") == k for k in (0, 1, 2))
    by_tx = W.partitionBy("tx_hash")
    per_tx = rows.select(
        "tx_hash",
        "address",
        "value",
        "kind",
        F.max("tx_date").over(by_tx).alias("tx_date"),
        F.max(tx_row).over(by_tx).alias("held"),
        F.max(funder).over(by_tx).alias("has_input"),
        F.collect_set(F.when(funder, F.col("address"))).over(by_tx).alias("funders"),
        F.collect_set(F.when(payee, F.col("address"))).over(by_tx).alias("payees"),
    ).where(~tx_row)
    partials = per_tx.groupBy("tx_hash", "address").agg(
        F.sum(F.when(payee, F.col("value"))).alias("received"),
        F.sum(F.when(funder, F.col("value"))).alias("spent"),
        F.max(payee).alias("is_payee"),
        F.max(funder).alias("is_funder"),
        *[
            F.any_value(c).alias(c)
            for c in ("tx_date", "held", "has_input", "funders", "payees")
        ],
    )

    # counterparties: funders if the address was paid, then payees if it
    # paid; positions below n_funders are the inbound ones
    none = F.array().cast("array<string>")
    funders = F.when(F.col("is_payee"), F.col("funders")).otherwise(none)
    payees = F.when(F.col("is_funder"), F.col("payees")).otherwise(none)
    exploded = partials.select(
        "*",
        F.size(funders).alias("n_funders"),
        F.posexplode_outer(F.concat(funders, payees)).alias("pos", "cp"),
    )
    first = F.coalesce(F.col("pos"), F.lit(0)) == 0
    held = F.col("held")
    other = F.col("cp") != F.col("address")
    inbound = F.col("pos") < F.col("n_funders")
    # A10: the tx has inputs and exactly one distinct address on both sides
    self_transfer = F.col("has_input") & (F.size(F.array_union("funders", "payees")) == 1)
    one = F.lit(1)
    folded = (
        exploded.groupBy("address")
        .agg(
            F.max(held).alias("_held"),
            F.sum(F.when(first & held, F.col("received"))).alias("received"),
            F.sum(F.when(first & held, F.col("spent"))).alias("spent"),
            F.min(F.when(F.col("is_payee") & held, F.col("tx_date"))).alias("first_appear"),
            F.max(F.when(held, F.col("tx_date"))).alias("last_appear"),
            F.count(F.when(first, one)).alias("transaction_count"),
            F.count(F.when(first & F.col("is_payee") & held, one)).alias(
                "input_transaction_count"
            ),
            F.count(F.when(first & F.col("is_funder") & held, one)).alias(
                "output_transaction_count"
            ),
            F.countDistinct(F.when(inbound & other, F.col("cp"))).alias(
                "input_address_count"
            ),
            F.countDistinct(F.when(~inbound & other, F.col("cp"))).alias(
                "output_address_count"
            ),
            F.count(F.when(first & self_transfer, one)).alias(
                "between_address_transaction_count"
            ),
        )
        .where(F.col("_held"))
    )

    zero = F.lit(0).cast("long")
    return folded.select(
        "address",
        (F.coalesce("received", zero) - F.coalesce("spent", zero)).alias("balance"),
        F.coalesce("received", zero).alias("received"),
        F.coalesce("spent", zero).alias("spent"),
        "first_appear",
        "last_appear",
        *[
            F.col(c).cast("int").alias(c)
            for c in (
                "transaction_count",
                "input_transaction_count",
                "output_transaction_count",
                "input_address_count",
                "output_address_count",
                "between_address_transaction_count",
            )
        ],
    )


_BUILDERS = {
    "block_stats": lambda t: block_stats(
        t["blocks"], t["transactions"], t["outputs"], t["inputs"]
    ),
    "transaction_stats": lambda t: transaction_stats(
        t["transactions"], t["outputs"], t["inputs"]
    ),
    "output_state": lambda t: output_state(t["outputs"], t["inputs"]),
    "address_stats": lambda t: address_stats(
        t["transactions"], t["outputs"], t["inputs"]
    ),
}


class _Derived(Mapping):
    """Read-only view of the derived tables; each is built on first
    access, so a caller that reads one table pays for one."""

    def __init__(self, tables: Mapping[str, DataFrame]) -> None:
        self._tables = tables
        self._built: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._built:
            self._built[name] = _BUILDERS[name](self._tables)
        return self._built[name]

    def __iter__(self) -> Iterator[str]:
        return iter(_BUILDERS)

    def __len__(self) -> int:
        return len(_BUILDERS)


def derive_all(tables: Mapping[str, DataFrame]) -> Mapping[str, DataFrame]:
    """The four normalized tables → every §1.4 derived table (the
    declarative replacement for parseBlock, B:1007–1094), as a read-only
    mapping that builds each table on first access."""
    return _Derived(tables)

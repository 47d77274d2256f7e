"""`derive.address_stats` (one tx fold, then one address fold) against
the six-aggregation, five-join plan it replaced, kept here verbatim as
the reference: equal on all 12 columns over delivery / reorg / rollback
sequences and on hand-made edge rows. Plus the structural pins of the
chain_sync path: the stats read's Spark job count, the blk decode
running once per `read_blocks` call, and `derive_all` building only the
table that is read."""

from __future__ import annotations

import random
import time
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blockchain2graphdb_spark.chain import derive, fixtures, schema
from blockchain2graphdb_spark.chain.derive import address_stats, derive_all, spent_inputs
from blockchain2graphdb_spark.chain.maintain import reorg_rollback, resume
from blockchain2graphdb_spark.plans.inspect import plan_string
from blockchain2graphdb_spark.sources.blockfile import normalize, read_blocks, write_blk_files
from blockchain2graphdb_spark.streaming.ingest import empty_tables


def reference_address_stats(
    transactions: DataFrame, outputs: DataFrame, inputs: DataFrame
) -> DataFrame:
    """The previous `derive.address_stats`: one signed aggregation per
    side, the counterparty joins and the self-transfer join, joined back
    on `address` (6 aggregations, 5 joins)."""
    si = spent_inputs(inputs, outputs)
    tx_dates = transactions.select("tx_hash", "tx_date")

    recv = (
        outputs.join(tx_dates, "tx_hash")
        .groupBy("address")
        .agg(
            F.sum("value").alias("received"),
            F.countDistinct("tx_hash").alias("input_transaction_count"),
            F.min("tx_date").alias("first_appear"),
            F.max("tx_date").alias("last_recv"),
        )
    )
    spend = (
        si.join(tx_dates, si.spending_tx_hash == tx_dates.tx_hash)
        .groupBy("address")
        .agg(
            F.sum("value").alias("spent"),
            F.countDistinct("spending_tx_hash").alias("output_transaction_count"),
            F.max("tx_date").alias("last_spend"),
        )
    )
    n_tx = (
        outputs.select("address", "tx_hash")
        .union(si.select("address", F.col("spending_tx_hash")))
        .groupBy("address")
        .agg(F.countDistinct("tx_hash").alias("transaction_count"))
    )

    # A8: 3-hop counterparties. Funders of this address: source addresses
    # of the txs that paid it; payees: destination addresses of the txs it
    # funded. Self excluded on both sides (B:964, B:974).
    paid_by_tx = outputs.select("tx_hash", "address")  # tx -> payee
    funded_by = si.select(F.col("spending_tx_hash").alias("tx_hash"), F.col("address").alias("funder"))
    in_cp = (
        paid_by_tx.join(funded_by, "tx_hash")
        .where(F.col("address") != F.col("funder"))
        .groupBy("address")
        .agg(F.countDistinct("funder").alias("input_address_count"))
    )
    out_cp = (
        funded_by.withColumnRenamed("funder", "address_")
        .join(paid_by_tx.withColumnRenamed("address", "payee"), "tx_hash")
        .where(F.col("address_") != F.col("payee"))
        .groupBy(F.col("address_").alias("address"))
        .agg(F.countDistinct("payee").alias("output_address_count"))
    )

    # A10: txs where exactly one distinct address spans both sides
    tx_addr = (
        si.select(F.col("spending_tx_hash").alias("tx_hash"), "address")
        .union(outputs.select("tx_hash", "address"))
    )
    one_addr_tx = (
        tx_addr.groupBy("tx_hash")
        .agg(F.countDistinct("address").alias("n"), F.min("address").alias("addr"))
        .where(F.col("n") == 1)
    )
    # only count it when the address is on both sides (a real self-transfer)
    has_input = si.select(F.col("spending_tx_hash").alias("tx_hash")).distinct()
    self_tx = (
        one_addr_tx.join(has_input, "tx_hash", "left_semi")
        .groupBy(F.col("addr").alias("address"))
        .agg(F.count(F.lit(1)).alias("between_address_transaction_count"))
    )

    zero = F.lit(0).cast("long")
    return (
        recv.join(spend, "address", "full_outer")
        .join(n_tx, "address", "left")
        .join(in_cp, "address", "left")
        .join(out_cp, "address", "left")
        .join(self_tx, "address", "left")
        .select(
            "address",
            (F.coalesce("received", zero) - F.coalesce("spent", zero)).alias("balance"),
            F.coalesce("received", zero).alias("received"),
            F.coalesce("spent", zero).alias("spent"),
            F.col("first_appear"),
            F.greatest(
                F.coalesce("last_recv", F.col("first_appear")),
                F.coalesce("last_spend", F.col("first_appear")),
            ).alias("last_appear"),
            F.coalesce("transaction_count", F.lit(0)).cast("int").alias(
                "transaction_count"
            ),
            F.coalesce("input_transaction_count", F.lit(0)).cast("int").alias(
                "input_transaction_count"
            ),
            F.coalesce("output_transaction_count", F.lit(0)).cast("int").alias(
                "output_transaction_count"
            ),
            F.coalesce("input_address_count", F.lit(0)).cast("int").alias(
                "input_address_count"
            ),
            F.coalesce("output_address_count", F.lit(0)).cast("int").alias(
                "output_address_count"
            ),
            F.coalesce("between_address_transaction_count", F.lit(0))
            .cast("int")
            .alias("between_address_transaction_count"),
        )
    )


def _rows(df: DataFrame) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _assert_fold_matches_reference(tables) -> int:
    args = tables["transactions"], tables["outputs"], tables["inputs"]
    got, want = address_stats(*args), reference_address_stats(*args)
    assert got.columns == want.columns
    assert got.schema == want.schema
    rows = _rows(got)
    assert rows == _rows(want)
    return len(rows)


# ---------------------------------------------------------------------------
# delivery / reorg / rollback sequences


def _blocks(chain: fixtures.Chain, lo: int, hi: int) -> fixtures.Chain:
    """The fixture rows of the blocks at heights [lo, hi)."""
    blocks = [b for b in chain.blocks if lo <= b[2] < hi]
    hashes = {b[0] for b in blocks}
    txs = [t for t in chain.transactions if t[1] in hashes]
    tx_hashes = {t[0] for t in txs}
    return fixtures.Chain(
        blocks=blocks,
        transactions=txs,
        outputs=[o for o in chain.outputs if o[0] in tx_hashes],
        inputs=[i for i in chain.inputs if i[0] in tx_hashes],
    )


def _checkpoint(tables):
    return {n: df.localCheckpoint(eager=True) for n, df in tables.items()}


@pytest.mark.parametrize("seed", [3, 29, 112])
def test_fold_matches_reference_over_reorg_sequences(spark, seed):
    """A canonical prefix, an alternative tip on top of it, the delivery
    that rolls the tip back to the canonical chain, then a plain rollback
    to a random height: the fold equals the reference after each."""
    rng = random.Random(seed)
    n, k = rng.randint(14, 24), rng.randint(2, 5)
    canon = fixtures.generate(n_blocks=n, seed=seed)
    alt = fixtures.reorg_variant(n_blocks=n, seed=seed, k=k)
    cut = rng.randint(2, n - k)
    state = _checkpoint(resume(empty_tables(spark), _blocks(canon, 0, cut).to_spark(spark)))
    sizes = [_assert_fold_matches_reference(state)]
    for incoming in (_blocks(alt, cut, n), _blocks(canon, n - k, n)):
        state = _checkpoint(resume(state, incoming.to_spark(spark)))
        sizes.append(_assert_fold_matches_reference(state))
    state = _checkpoint(reorg_rollback(state, rng.randint(1, n - 1)))
    sizes.append(_assert_fold_matches_reference(state))
    assert all(sizes)


# ---------------------------------------------------------------------------
# hand-made edge rows

_T0 = datetime(2021, 1, 1, tzinfo=timezone.utc)


def _day(i: int) -> datetime:
    return _T0 + timedelta(days=i)


def test_fold_matches_reference_on_edge_rows(spark):
    """- `cb1`, `cb2`: coinbase-only txs (outputs, no inputs);
    - `self`: A spends to A alone, a self-transfer;
    - `mix`: A is payee and funder beside funder B and payee D, and one
      input spends `missing:0`, an output that is not held;
    - `ghost`: outputs whose tx row is absent (to E and to A);
    - `spendghost`: E spends its ghost output, so E is held only as a
      funder and has no first_appear;
    - `orphan`: its only input spends an output that is not held, and it
      pays F alone: not a self-transfer."""
    txs = [
        ("cb1", "b1", 0, _day(1), True, 1),
        ("cb2", "b1", 1, _day(1), True, 1),
        ("self", "b2", 0, _day(2), False, 2),
        ("mix", "b3", 0, _day(3), False, 3),
        ("spendghost", "b4", 0, _day(4), False, 4),
        ("orphan", "b4", 1, _day(4), False, 4),
    ]
    outs = [
        ("cb1", 0, "cb1:0", 100, "A", 1),
        ("cb1", 1, "cb1:1", 50, "B", 1),
        ("cb2", 0, "cb2:0", 70, "C", 1),
        ("self", 0, "self:0", 60, "A", 2),
        ("self", 1, "self:1", 40, "A", 2),
        ("mix", 0, "mix:0", 30, "A", 3),
        ("mix", 1, "mix:1", 80, "D", 3),
        ("ghost", 0, "ghost:0", 5, "E", 3),
        ("ghost", 1, "ghost:1", 7, "A", 3),
        ("spendghost", 0, "spendghost:0", 5, "C", 4),
        ("orphan", 0, "orphan:0", 1, "F", 4),
    ]
    ins = [
        ("self", "cb1:0", 2),
        ("mix", "cb1:1", 3),
        ("mix", "self:0", 3),
        ("mix", "missing:0", 3),
        ("spendghost", "ghost:0", 4),
        ("orphan", "missing:1", 4),
    ]
    tables = {
        "transactions": spark.createDataFrame(txs, schema.TRANSACTIONS),
        "outputs": spark.createDataFrame(outs, schema.OUTPUTS),
        "inputs": spark.createDataFrame(ins, schema.INPUTS),
    }
    _assert_fold_matches_reference(tables)
    got = {r["address"]: r for r in address_stats(**_args(tables)).collect()}
    assert sorted(got) == ["A", "B", "C", "D", "E", "F"]
    assert got["A"]["between_address_transaction_count"] == 1
    assert got["A"]["transaction_count"] == 4  # cb1, self, mix, ghost
    assert got["A"]["received"] == 100 + 60 + 40 + 30  # not ghost's 7
    assert got["E"]["first_appear"] is None and got["E"]["spent"] == 5
    assert got["F"]["between_address_transaction_count"] == 0


# ---------------------------------------------------------------------------
# structural pins of the chain_sync path


def _job_count(spark, action) -> int:
    sc = spark.sparkContext
    group = f"test-jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _args(tables):
    return {n: tables[n] for n in ("transactions", "outputs", "inputs")}


@pytest.fixture(scope="module")
def synced_state(spark, tmp_path_factory):
    """The chain_sync workload's path: 16-block deliveries written as blk
    files of 8 blocks, each decoded, normalized, resumed onto the held
    state and checkpointed; the third delivery is an alternative tip that
    the fourth rolls back."""
    canon = fixtures.generate(n_blocks=48, seed=7)
    alt = fixtures.reorg_variant(n_blocks=48, seed=7, k=16)
    root = tmp_path_factory.mktemp("sync")
    state = empty_tables(spark)
    for i, part in enumerate(
        [_blocks(canon, 0, 16), _blocks(canon, 16, 32), _blocks(alt, 32, 48), _blocks(canon, 32, 48)]
    ):
        write_blk_files(part, str(root / f"d{i}"), blocks_per_file=8)
        incoming = normalize(read_blocks(spark, str(root / f"d{i}" / "*.dat")))
        state = _checkpoint(resume(state, incoming))
    return state


def test_stats_read_runs_at_most_ten_jobs(spark, synced_state):
    """One fold over the tx exchange and the address exchanges: the six
    aggregations and five joins it replaced ran 35 jobs on this state."""
    jobs = _job_count(spark, lambda: address_stats(**_args(synced_state)).toPandas())
    assert jobs <= 10, jobs
    assert _assert_fold_matches_reference(synced_state) > 0


def test_read_blocks_decodes_once(spark, tmp_path):
    """The normalized tables read the materialized decode, never the
    files or the Python decoder again."""
    write_blk_files(fixtures.generate(n_blocks=12, seed=5), str(tmp_path), blocks_per_file=4)
    tables = normalize(read_blocks(spark, f"{tmp_path}/*.dat"))
    for name, df in tables.items():
        plan = plan_string(df)
        assert "MapInPandas" not in plan, (name, plan)
        assert "binaryfile" not in plan.lower(), (name, plan)


def test_derive_all_builds_only_what_is_read(spark, monkeypatch):
    """Reading `address_stats` builds none of the other derived tables."""
    tables = fixtures.generate(n_blocks=6, seed=1).to_spark(spark)

    def refuse(*_args, **_kwargs):
        raise AssertionError("built a table that was not read")

    for name in ("block_stats", "transaction_stats", "output_state"):
        monkeypatch.setattr(derive, name, refuse)
    derived = derive_all(tables)
    stats = derived["address_stats"]
    assert derived["address_stats"] is stats
    assert sorted(derived) == ["address_stats", "block_stats", "output_state", "transaction_stats"]
    with pytest.raises(AssertionError, match="not read"):
        derived["block_stats"]

"""Chain-module parity tests (SURVEY.md §5.2-2/3).

`imperative_stats` below re-derives every §1.4 statistic the way the
*reference* does — row-at-a-time dict mutation (addBlock/addTransaction/
addAddress, B:533–947) — and the tests assert our declarative Spark
derivation produces identical tables. This is the closest thing to
running the reference itself: same semantics, independent mechanism.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from blockchain2graphdb_spark.chain import fixtures
from blockchain2graphdb_spark.chain.derive import derive_all
from blockchain2graphdb_spark.chain.maintain import (
    find_fork_height,
    insert_if_absent,
    reorg_rollback,
    resume,
)
from blockchain2graphdb_spark.chain.wallets import wallet_ids


# ---------------------------------------------------------------------------
# imperative mini-oracle (reference-style read-modify-write, in Python)


def imperative_stats(chain: fixtures.Chain):
    out_by_id = {oid: (v, addr) for (_tx, _i, oid, v, addr) in chain.outputs}
    outs_by_tx: dict[str, list] = {}
    for tx_hash, oi, oid, v, addr in chain.outputs:
        outs_by_tx.setdefault(tx_hash, []).append((oi, oid, v, addr))
    ins_by_tx: dict[str, list] = {}
    for spending, oid in chain.inputs:
        v, addr = out_by_id[oid]
        ins_by_tx.setdefault(spending, []).append((oid, v, addr))
    spent_ids = {oid for (_s, oid) in chain.inputs}

    tx_meta = {t[0]: t for t in chain.transactions}
    # process txs in chain order (block date, then position in block)
    ordered_txs = sorted(chain.transactions, key=lambda t: (t[3], t[2]))

    tx_stats = {}
    seen_addrs: set[str] = set()
    addr = {}

    def A(a):
        return addr.setdefault(
            a,
            {
                "received": 0,
                "spent": 0,
                "first": None,
                "last": None,
                "recv_txs": set(),
                "spend_txs": set(),
                "txs": set(),
                "funders": set(),
                "payees": set(),
                "self_txs": 0,
            },
        )

    for tx_hash, block_hash, tx_index, tx_date, is_coinbase in ordered_txs:
        ins = ins_by_tx.get(tx_hash, [])
        outs = sorted(outs_by_tx.get(tx_hash, []))
        in_sum = sum(v for (_o, v, _a) in ins)
        out_sum = sum(v for (_i, _o, v, _a) in outs)
        new_count = 0
        for _i, _oid, _v, a in outs:
            if a not in seen_addrs:
                seen_addrs.add(a)
                new_count += 1
        all_addrs = {a for (_o, _v, a) in ins} | {a for (_i, _o, _v, a) in outs}
        tx_stats[tx_hash] = {
            "input_count": len(ins),
            "output_count": len(outs),
            "balance": 0 if is_coinbase else in_sum,
            "fee": 0 if is_coinbase else in_sum - out_sum,
            "is_between_one_address": len(all_addrs) == 1,
            "new_address_count": new_count,
        }
        in_addrs = {a for (_o, _v, a) in ins}
        out_addrs = {a for (_i, _o, _v, a) in outs}
        for _i, _oid, v, a in outs:
            st = A(a)
            st["received"] += v
            st["recv_txs"].add(tx_hash)
            st["txs"].add(tx_hash)
            st["first"] = min(st["first"] or tx_date, tx_date)
            st["last"] = max(st["last"] or tx_date, tx_date)
            st["funders"].update(x for x in in_addrs if x != a)
        for _oid, v, a in ins:
            st = A(a)
            st["spent"] += v
            st["spend_txs"].add(tx_hash)
            st["txs"].add(tx_hash)
            st["last"] = max(st["last"] or tx_date, tx_date)
            st["payees"].update(x for x in out_addrs if x != a)
        if len(all_addrs) == 1 and ins:
            A(next(iter(all_addrs)))["self_txs"] += 1

    block_stats = {}
    for bhash, prev, height, bdate, inflation in chain.blocks:
        btxs = [t for t in chain.transactions if t[1] == bhash]
        block_stats[bhash] = {
            "transaction_count": len(btxs),
            "coinbase_balance": inflation,
            "balance": inflation
            + sum(tx_stats[t[0]]["balance"] for t in btxs if not t[4]),
            "fee": sum(tx_stats[t[0]]["fee"] for t in btxs),
        }

    out_state = {
        oid: (oid in spent_ids) for (_t, _i, oid, _v, _a) in chain.outputs
    }
    return tx_stats, block_stats, addr, out_state


@pytest.fixture(scope="module")
def chain():
    return fixtures.generate(n_blocks=20, seed=42)


@pytest.fixture(scope="module")
def tables(chain, spark):
    return chain.to_spark(spark)


@pytest.fixture(scope="module")
def derived(tables):
    return derive_all(tables)


@pytest.fixture(scope="module")
def oracle(chain):
    return imperative_stats(chain)


def test_transaction_stats_parity(derived, oracle):
    tx_oracle = oracle[0]
    rows = {r["tx_hash"]: r for r in derived["transaction_stats"].collect()}
    assert set(rows) == set(tx_oracle)
    for h, exp in tx_oracle.items():
        got = rows[h]
        for k, v in exp.items():
            assert got[k] == v, f"tx {h} field {k}: got {got[k]} expected {v}"


def test_block_stats_parity(derived, oracle):
    blk_oracle = oracle[1]
    rows = {r["hash"]: r for r in derived["block_stats"].collect()}
    assert set(rows) == set(blk_oracle)
    for h, exp in blk_oracle.items():
        got = rows[h]
        for k, v in exp.items():
            assert got[k] == v, f"block {h} field {k}: got {got[k]} expected {v}"


def test_output_state_parity(derived, oracle):
    out_oracle = oracle[3]
    rows = {r["output_id"]: r["is_used"] for r in derived["output_state"].collect()}
    assert rows == out_oracle


def test_address_stats_parity(derived, oracle):
    addr_oracle = oracle[2]
    rows = {r["address"]: r for r in derived["address_stats"].collect()}
    assert set(rows) == set(addr_oracle)
    for a, exp in addr_oracle.items():
        got = rows[a]
        assert got["received"] == exp["received"], a
        assert got["spent"] == exp["spent"], a
        assert got["balance"] == exp["received"] - exp["spent"], a
        assert got["transaction_count"] == len(exp["txs"]), a
        assert got["input_transaction_count"] == len(exp["recv_txs"]), a
        assert got["output_transaction_count"] == len(exp["spend_txs"]), a
        assert got["input_address_count"] == len(exp["funders"]), a
        assert got["output_address_count"] == len(exp["payees"]), a
        assert got["between_address_transaction_count"] == exp["self_txs"], a
        assert got["first_appear"].replace(tzinfo=None) == exp["first"].replace(tzinfo=None), a
        assert got["last_appear"].replace(tzinfo=None) == exp["last"].replace(tzinfo=None), a


def test_wallets_cospend_clustering(tables, chain, spark):
    got = {
        r["address"]: r["wallet_id"]
        for r in wallet_ids(tables["inputs"], tables["outputs"]).collect()
    }
    # union-find oracle
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    out_by_id = {oid: addr for (_t, _i, oid, _v, addr) in chain.outputs}
    by_tx: dict[str, set] = {}
    for spending, oid in chain.inputs:
        by_tx.setdefault(spending, set()).add(out_by_id[oid])
    for addrs in by_tx.values():
        addrs = sorted(addrs)
        for other in addrs[1:]:
            union(addrs[0], other)
    all_addrs = {addr for (_t, _i, _oid, _v, addr) in chain.outputs}
    expected = {a: find(a) for a in all_addrs}
    # normalize both to min-label per component
    from collections import defaultdict

    def canon(m):
        groups = defaultdict(set)
        for a, c in m.items():
            groups[c].add(a)
        return {a: min(g) for g in groups.values() for a in g}

    assert canon(got) == canon(expected)


# ---------------------------------------------------------------------------
# maintenance invariants (M1/M5/M6)


def _table_sets(tables):
    return {
        name: frozenset(map(tuple, df.collect()))
        for name, df in tables.items()
    }


def test_reorg_rollback_equals_truncation(spark):
    """M5 round-trip: ingest(chain) + rollback(k) ≡ ingest(chain[:-k])."""
    full = fixtures.generate(n_blocks=15, seed=7).to_spark(spark)
    trunc = fixtures.truncated(n_blocks=15, seed=7, k=4).to_spark(spark)
    rolled = reorg_rollback(full, fork_height=11)
    assert _table_sets(rolled) == _table_sets(trunc)
    # and the derived stats agree too (the reference's decrement logic,
    # obtained for free)
    d_rolled = derive_all(rolled)["address_stats"].collect()
    d_trunc = derive_all(trunc)["address_stats"].collect()
    assert sorted(map(tuple, d_rolled)) == sorted(map(tuple, d_trunc))


def test_insert_if_absent_idempotent(tables):
    for name, keys in [
        ("blocks", ["hash"]),
        ("inputs", ["spending_tx_hash", "spent_output_id"]),
    ]:
        rows = tables[name]
        once = insert_if_absent(rows, rows, keys)
        assert once.count() == rows.count()


def test_resume_applies_reorg(spark):
    """M6+M5: stored=original chain, incoming=reorg variant → resume
    lands exactly on ingest(variant)."""
    stored = fixtures.generate(n_blocks=12, seed=3).to_spark(spark)
    variant_chain = fixtures.reorg_variant(n_blocks=12, seed=3, k=3)
    incoming = variant_chain.to_spark(spark)
    fork = find_fork_height(stored["blocks"], incoming["blocks"])
    assert fork == 9
    merged = resume(stored, incoming)
    assert _table_sets(merged) == _table_sets(incoming)


def test_incremental_wallet_ids_equals_full(spark):
    """Splitting the inputs into two batches and folding the second
    incrementally must equal full wallet clustering over everything."""
    from blockchain2graphdb_spark.chain import fixtures
    from blockchain2graphdb_spark.chain.wallets import (
        incremental_wallet_ids,
        wallet_ids,
    )
    from pyspark.sql import functions as F

    chain = fixtures.generate(n_blocks=18, seed=21)
    t = chain.to_spark(spark)
    inputs, outputs = t["inputs"], t["outputs"]
    # split spends by hash parity of the spending tx
    batch0 = inputs.where(F.crc32(F.col("spending_tx_hash")) % 2 == 0)
    batch1 = inputs.where(F.crc32(F.col("spending_tx_hash")) % 2 == 1)
    assert batch0.count() > 0 and batch1.count() > 0

    base = wallet_ids(batch0, outputs).localCheckpoint(eager=True)
    inc = incremental_wallet_ids(base, batch1, outputs)
    full = wallet_ids(inputs, outputs)
    got = {(r["address"], r["wallet_id"]) for r in inc.collect()}
    exp = {(r["address"], r["wallet_id"]) for r in full.collect()}
    assert got == exp

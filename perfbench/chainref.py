"""Pure-Python replay of the chain_sync workload's expected results.

The chain comes from `chain.fixtures` (a canonical chain plus, at fixed
intervals, an alternative tip that the next delivery replaces). This
module plans the deliveries and replays them on plain Python lists: the
held state after each delivery is a set of blocks, and the expected
`address_stats` rows and table sizes are computed from the fixture rows
of exactly those blocks. Nothing here touches Spark, so an alternative
tip that is not rolled back exactly shows up as a fingerprint mismatch.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass

from blockchain2graphdb_spark.chain import fixtures

import fingerprint

ADDRESS_STATS_COLUMNS = [
    "address", "balance", "received", "spent", "first_appear", "last_appear",
    "transaction_count", "input_transaction_count", "output_transaction_count",
    "input_address_count", "output_address_count",
    "between_address_transaction_count",
]


@dataclass
class Delivery:
    blocks: list  # fixture block rows written to this delivery's blk files
    state: list  # hashes of the blocks held after this delivery
    kind: str  # "batch", "alt_tip" or "rollback"


class BlockRows:
    """Fixture rows grouped by block hash, over any number of chains."""

    def __init__(self) -> None:
        self.block: dict[str, tuple] = {}
        self.txs: dict[str, list] = defaultdict(list)
        self.outputs: dict[str, list] = defaultdict(list)
        self.inputs: dict[str, list] = defaultdict(list)

    def add(self, chain: fixtures.Chain) -> None:
        new = {b[0]: b for b in chain.blocks if b[0] not in self.block}
        self.block.update(new)
        tx_block = {}
        for t in chain.transactions:
            if t[1] in new:
                self.txs[t[1]].append(t)
                tx_block[t[0]] = t[1]
        for o in chain.outputs:
            if o[0] in tx_block:
                self.outputs[tx_block[o[0]]].append(o)
        for i in chain.inputs:
            if i[0] in tx_block:
                self.inputs[tx_block[i[0]]].append(i)

    def subset(self, hashes: list) -> fixtures.Chain:
        sub = fixtures.Chain()
        for h in hashes:
            sub.blocks.append(self.block[h])
            sub.transactions.extend(self.txs[h])
            sub.outputs.extend(self.outputs[h])
            sub.inputs.extend(self.inputs[h])
        return sub


def plan(seed: int, n_batches: int, batch_blocks: int, reorg_every: int) -> tuple[BlockRows, list]:
    """Deliveries for `n_batches` canonical batches. After every
    `reorg_every`-th batch the next batch's heights first arrive from an
    alternative branch (an "alt_tip" delivery), and the delivery after it
    re-sends the canonical blocks of those heights together with the next
    batch, which forces a rollback of the alternative tip."""
    n_blocks = n_batches * batch_blocks
    canon = fixtures.generate(n_blocks, seed)
    rows = BlockRows()
    rows.add(canon)
    by_height = sorted(canon.blocks, key=lambda b: b[2])
    out: list[Delivery] = []
    held: list = []
    b = 0
    while b < n_batches:
        lo = b * batch_blocks
        if b > 0 and b % reorg_every == 0 and b + 1 < n_batches:
            alt = fixtures.reorg_variant(lo + batch_blocks, seed, k=batch_blocks)
            rows.add(alt)
            alt_blocks = sorted((x for x in alt.blocks if x[2] >= lo), key=lambda x: x[2])
            out.append(Delivery(alt_blocks, held + [x[0] for x in alt_blocks], "alt_tip"))
            new = by_height[lo : lo + 2 * batch_blocks]
            held = held + [x[0] for x in new]
            out.append(Delivery(new, list(held), "rollback"))
            b += 2
        else:
            new = by_height[lo : lo + batch_blocks]
            held = held + [x[0] for x in new]
            out.append(Delivery(new, list(held), "batch"))
            b += 1
    return rows, out


def table_sizes(chain: fixtures.Chain) -> dict[str, int]:
    return {
        "blocks": len(chain.blocks),
        "transactions": len(chain.transactions),
        "outputs": len(chain.outputs),
        "inputs": len(chain.inputs),
    }


def address_stats(chain: fixtures.Chain) -> list[tuple]:
    """`chain.derive.address_stats` over the normalized rows of `chain`,
    with timestamps as naive UTC (how Spark returns them in a UTC session)."""
    tx_date = {t[0]: t[3].replace(tzinfo=None) for t in chain.transactions}
    owner = {o[2]: (o[3], o[4]) for o in chain.outputs}
    si = [(sp, oid) + owner[oid] for sp, oid in chain.inputs if oid in owner]

    received: dict[str, int] = defaultdict(int)
    spent: dict[str, int] = defaultdict(int)
    in_txs, out_txs, all_txs = defaultdict(set), defaultdict(set), defaultdict(set)
    first, last_recv, last_spend = {}, {}, {}
    payees, funders = defaultdict(set), defaultdict(set)  # by tx
    for tx, _oi, _oid, value, addr in chain.outputs:
        all_txs[addr].add(tx)
        payees[tx].add(addr)
        if tx not in tx_date:
            continue
        d = tx_date[tx]
        received[addr] += value
        in_txs[addr].add(tx)
        first[addr] = min(first.get(addr, d), d)
        last_recv[addr] = max(last_recv.get(addr, d), d)
    for sp, _oid, value, addr in si:
        all_txs[addr].add(sp)
        funders[sp].add(addr)
        if sp not in tx_date:
            continue
        d = tx_date[sp]
        spent[addr] += value
        out_txs[addr].add(sp)
        last_spend[addr] = max(last_spend.get(addr, d), d)

    in_cp, out_cp = defaultdict(set), defaultdict(set)
    for tx, fs in funders.items():
        for payee in payees.get(tx, ()):
            in_cp[payee].update(f for f in fs if f != payee)
            for f in fs:
                if f != payee:
                    out_cp[f].add(payee)
    self_tx: dict[str, int] = defaultdict(int)
    for tx, fs in funders.items():
        addrs = fs | payees.get(tx, set())
        if len(addrs) == 1:
            self_tx[next(iter(addrs))] += 1

    out = []
    for addr in sorted(set(received) | set(spent)):
        f = first.get(addr)
        cands = [x for x in (last_recv.get(addr, f), last_spend.get(addr, f)) if x is not None]
        out.append((
            addr,
            received.get(addr, 0) - spent.get(addr, 0),
            received.get(addr, 0),
            spent.get(addr, 0),
            f,
            max(cands) if cands else None,
            len(all_txs[addr]),
            len(in_txs[addr]),
            len(out_txs[addr]),
            len(in_cp[addr]),
            len(out_cp[addr]),
            self_tx.get(addr, 0),
        ))
    return out


def expected(rows: BlockRows, delivery: Delivery) -> dict:
    held = rows.subset(delivery.state)
    return {
        "sizes": table_sizes(held),
        "address_stats": fingerprint.of_records(ADDRESS_STATS_COLUMNS, address_stats(held)),
    }

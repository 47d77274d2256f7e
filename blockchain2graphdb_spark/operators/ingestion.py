"""S1 binary block-file ingestion as a driver-checked query.

The reference's scan path is BlockFileLoader over binary blk%05d.dat
files (BlockchainToGraph.java B:361, enumeration B:80–88); the Spark
form is a `binaryFile` scan + Arrow-batched decode + columnar explode
(sources/blockfile.py). Round 1 left that seam driver-unverified; this
module registers `blockfile_ingest`, whose oracle is a table of
CONSTANTS computed in pure Python from the fixture chain's row lists —
never through the encoder or decoder — so the driver's value-hash gate
differentially checks the entire encode → binary scan → mapInPandas
decode → normalize pipeline (counts, value sums, and a per-row crc32
fingerprint for each of the four normalized tables).

The blk files are built once per scale-factor-independent fixture under
`.tmp/` by `paths.derived_dir`, like every derived fixture.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..chain import fixtures
from ..paths import derived_dir
from ..plans.iterate import observed_checkpoint
from ..plans.sizing import broadcast_hint
from ..registry import query
from ..sources.blockfile import normalize, read_blocks, write_blk_files

_N_BLOCKS = 64
_SEED = 11


def _chain():
    return fixtures.generate(n_blocks=_N_BLOCKS, seed=_SEED)


def _build_blk_files_once() -> str:
    """Serialize the fixture chain into blk files (pure Python, no
    Spark), once per (_N_BLOCKS, _SEED)."""
    return derived_dir(
        f"blkfix_n{_N_BLOCKS}_s{_SEED}",
        None,
        (),
        lambda stage: write_blk_files(_chain(), stage, blocks_per_file=8),
    )


def _crc(s: str) -> int:
    return zlib.crc32(s.encode())


def _expected_rows() -> list[tuple[str, int, int, int]]:
    """(tbl, n_rows, fp, val_sum) per normalized table, computed from the
    fixture's raw row lists — the decoder-independent ground truth."""
    c = _chain()
    blocks_fp = sum(
        _crc(f"{h}|{p or ''}|{ht}|{infl}") for h, p, ht, _d, infl in c.blocks
    )
    tx_fp = sum(
        _crc(f"{tx}|{bh}|{ti}|{int(cb)}") for tx, bh, ti, _d, cb in c.transactions
    )
    out_fp = sum(
        _crc(f"{tx}|{oi}|{oid}|{v}|{a}") for tx, oi, oid, v, a in c.outputs
    )
    in_fp = sum(_crc(f"{sp}|{oid}") for sp, oid in c.inputs)
    return [
        ("blocks", len(c.blocks), blocks_fp, sum(b[4] for b in c.blocks)),
        ("transactions", len(c.transactions), tx_fp,
         sum(t[2] for t in c.transactions)),
        ("outputs", len(c.outputs), out_fp, sum(o[3] for o in c.outputs)),
        ("inputs", len(c.inputs), in_fp, 0),
    ]


def _oracle() -> str:
    rows = ",\n      ".join(
        f"('{t}', CAST({n} AS BIGINT), CAST({fp} AS BIGINT), CAST({vs} AS BIGINT))"
        for t, n, fp, vs in _expected_rows()
    )
    return (
        "SELECT * FROM (VALUES\n      "
        + rows
        + "\n    ) AS t(tbl, n_rows, fp, val_sum)"
    )


_UTXO_HEIGHT = 40
_UTXO_TOPK = 10


def _expected_utxo_rows() -> list[tuple[str, int, int]]:
    """Top-k (address, balance, n_utxo) at height _UTXO_HEIGHT, replayed
    in pure Python from the fixture lists — the ground truth for the
    Spark-side set-algebra derivation over the decoded chain."""
    c = _chain()
    height_of_block = {b[0]: b[2] for b in c.blocks}
    height_of_tx = {t[0]: height_of_block[t[1]] for t in c.transactions}
    live: dict[str, tuple[int, str]] = {
        oid: (v, a)
        for tx, _oi, oid, v, a in c.outputs
        if height_of_tx[tx] <= _UTXO_HEIGHT
    }
    for sp, oid in c.inputs:
        if height_of_tx[sp] <= _UTXO_HEIGHT:
            live.pop(oid, None)
    agg: dict[str, list[int]] = {}
    for v, a in live.values():
        s = agg.setdefault(a, [0, 0])
        s[0] += v
        s[1] += 1
    ranked = sorted(agg.items(), key=lambda kv: (-kv[1][0], kv[0]))
    return [(a, s[0], s[1]) for a, s in ranked[:_UTXO_TOPK]]


def _utxo_oracle() -> str:
    rows = ",\n      ".join(
        f"('{a}', CAST({bal} AS BIGINT), CAST({n} AS BIGINT))"
        for a, bal, n in _expected_utxo_rows()
    )
    return (
        "SELECT * FROM (VALUES\n      "
        + rows
        + "\n    ) AS t(address, balance, n_utxo)"
    )


@query("utxo_balances", oracle=_utxo_oracle())
def utxo_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core balance derivation (TransactionBalance /
    address balance family, B:784, B:1011–1041) AT A PINNED HEIGHT,
    end-to-end through the binary decode: UTXO set at height H =
    outputs created at height ≤ H minus outputs spent by transactions
    at height ≤ H (one anti-join), then a per-address rollup and top-k.
    The oracle replays the same height-pinned UTXO set in pure Python
    from the fixture lists, independent of the decoder. At 100 TB the
    height filters prune block partitions before the anti-join, whose
    shuffle carries only (output_id) keys."""
    root = _build_blk_files_once()
    t = normalize(read_blocks(spark, f"{root}/blk*.dat"))
    created = (
        t["outputs"]
        .where(F.col("height") <= _UTXO_HEIGHT)
        .select("output_id", "value", "address")
    )
    spent = (
        t["inputs"]
        .where(F.col("height") <= _UTXO_HEIGHT)
        .select(F.col("spent_output_id").alias("output_id"))
    )
    live = created.join(spent, "output_id", "left_anti")
    return (
        live.groupBy("address")
        .agg(
            F.sum("value").cast("long").alias("balance"),
            F.count(F.lit(1)).cast("long").alias("n_utxo"),
        )
        .orderBy(F.col("balance").desc(), F.col("address"))
        .limit(_UTXO_TOPK)
    )


@query("taint_flow")  # rows-only: iterative float fixpoint (Pregel)
def taint_flow_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional-haircut taint from the genesis coinbase address over
    the decoded chain's spend graph (chain/taint.py): value fraction
    traceable to the seed within 8 spend-hops (the bounded-hop form
    analysts run; superstep count fixed so the shuffle count is known in
    advance), top-20 tainted outputs. Exact parity with a pure-Python
    replay of the same hop-bounded update is pinned in
    tests/test_taint.py."""
    from ..chain.taint import taint_flow

    c = _chain()
    genesis_hash = min(c.blocks, key=lambda b: b[2])[0]
    genesis_cb = next(t[0] for t in c.transactions if t[4] and t[1] == genesis_hash)
    seed_addr = next(o[4] for o in c.outputs if o[0] == genesis_cb)
    root = _build_blk_files_once()
    tables = normalize(read_blocks(spark, f"{root}/blk*.dat"))
    seeds = spark.createDataFrame([(seed_addr,)], "address string")
    out = taint_flow(tables, seeds, n_iter=8, check_convergence=False)
    return (
        out.where(F.col("taint") > 0)
        .select(
            "output_id", "address", "value", F.round("taint", 9).alias("taint")
        )
        .orderBy(F.col("taint").desc(), F.col("output_id"))
        .limit(20)
    )


@query("blockfile_ingest", oracle=_oracle())
def blockfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 end-to-end: binaryFile scan of blk files → Arrow-batched decode
    (mapInPandas over parse_block_payload) → columnar normalize → one
    summary row per table. Fixture-scaled (independent of sf_dir): the
    binary seam, not the data volume, is what this key verifies."""
    root = _build_blk_files_once()
    tables = normalize(read_blocks(spark, f"{root}/blk*.dat"))

    def summarize(name: str, df: DataFrame, fp_cols, val_col) -> DataFrame:
        fp = F.crc32(F.concat_ws("|", *fp_cols))
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(fp).cast("long").alias("fp"),
            val_col.cast("long").alias("val_sum"),
        ).select(F.lit(name).alias("tbl"), "n_rows", "fp", "val_sum")

    b = summarize(
        "blocks",
        tables["blocks"],
        [F.col("hash"), F.coalesce("prev_hash", F.lit("")),
         F.col("height"), F.col("coinbase_balance")],
        F.sum("coinbase_balance"),
    )
    t = summarize(
        "transactions",
        tables["transactions"],
        [F.col("tx_hash"), F.col("block_hash"), F.col("tx_index"),
         F.col("is_coinbase").cast("int")],
        F.sum("tx_index"),
    )
    o = summarize(
        "outputs",
        tables["outputs"],
        [F.col("tx_hash"), F.col("output_index"), F.col("output_id"),
         F.col("value"), F.col("address")],
        F.sum("value"),
    )
    i = summarize(
        "inputs",
        tables["inputs"],
        [F.col("spending_tx_hash"), F.col("spent_output_id")],
        F.sum(F.lit(0)),
    )
    return b.unionByName(t).unionByName(o).unionByName(i)


# Fixed-point taint (the oracle-checkable G5 twin, same recipe as
# pagerank_exact): taint in 1e-9 units, per-edge message
# (taint_src · value_src) div in_total — floor per term, so the sum is
# order-independent and any engine computes identical integers. The
# float taint_flow stays the analyst-facing path. Capacity: each term
# <= SCALE · max_output_value; int64 holds through ~9e9 satoshi
# outputs at this scale.
_TAINT_SCALE = 1_000_000_000
_TAINT_HOPS = 8
_TAINT_TOPK = 20


def _taint_fixture_parts():
    """(seed_addr, floor, edges, meta): the pure-Python view of the
    spend graph — floor[oid] = SCALE on seed-address outputs, edges =
    (src_oid, dst_oid, src_value, tx_in_total), meta[oid] =
    (address, value)."""
    c = _chain()
    genesis_hash = min(c.blocks, key=lambda b: b[2])[0]
    genesis_cb = next(t[0] for t in c.transactions if t[4] and t[1] == genesis_hash)
    seed_addr = next(o[4] for o in c.outputs if o[0] == genesis_cb)

    val = {oid: v for _tx, _oi, oid, v, _a in c.outputs}
    meta = {oid: (a, v) for _tx, _oi, oid, v, a in c.outputs}
    in_total: dict = {}
    for sp, oid in c.inputs:
        in_total[sp] = in_total.get(sp, 0) + val[oid]
    outs_of: dict = {}
    for tx, _oi, oid, _v, _a in c.outputs:
        outs_of.setdefault(tx, []).append(oid)
    edges = [
        (oid, dst, val[oid], in_total[sp])
        for sp, oid in c.inputs
        for dst in outs_of.get(sp, [])
    ]
    floor = {
        oid: (_TAINT_SCALE if a == seed_addr else 0) for oid, (a, _v) in meta.items()
    }
    return seed_addr, floor, edges, meta


def _expected_taint_rows() -> list[tuple[str, str, int, int]]:
    """Top-k tainted outputs replayed in pure Python with the exact
    integer update — the decoder- and engine-independent ground truth."""
    _seed, floor, edges, meta = _taint_fixture_parts()
    taint = dict(floor)
    for _ in range(_TAINT_HOPS):
        msgs: dict = {}
        for s, d, v, tot in edges:
            msgs[d] = msgs.get(d, 0) + (taint[s] * v) // tot
        taint = {oid: max(floor[oid], msgs.get(oid, 0)) for oid in taint}
    ranked = sorted(
        ((oid, t) for oid, t in taint.items() if t > 0),
        key=lambda kv: (-kv[1], kv[0]),
    )[:_TAINT_TOPK]
    return [(oid, meta[oid][0], meta[oid][1], t) for oid, t in ranked]


def _taint_oracle() -> str:
    rows = ",\n      ".join(
        f"('{oid}', '{a}', CAST({v} AS BIGINT), CAST({t} AS BIGINT))"
        for oid, a, v, t in _expected_taint_rows()
    )
    return (
        "SELECT * FROM (VALUES\n      "
        + rows
        + "\n    ) AS t(output_id, address, value, taint)"
    )


@query("taint_flow_exact", oracle=_taint_oracle())
def taint_flow_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 oracle-checked twin of taint_flow: proportional-haircut taint
    from the genesis coinbase address in integer fixed-point. Message =
    Σ_src (taint·value) div in_total with per-term floor, update =
    max(seed floor, message): every engine computes identical int64
    taints regardless of summation order, which the float haircut never
    guarantees. The oracle is a table of CONSTANTS replayed in pure
    Python from the fixture chain's row lists — the full differential
    covers encoder → binary scan → Arrow decode → normalize → the
    8-hop iteration.

    Scale shape is the float twin's: weights computed once (two joins +
    one aggregate), one keyed shuffle per hop, taint side
    broadcast-hinted under the vertex gate.
    """
    root = _build_blk_files_once()
    tables = normalize(read_blocks(spark, f"{root}/blk*.dat"))
    c = _chain()
    genesis_hash = min(c.blocks, key=lambda b: b[2])[0]
    genesis_cb = next(t[0] for t in c.transactions if t[4] and t[1] == genesis_hash)
    seed_addr = next(o[4] for o in c.outputs if o[0] == genesis_cb)

    outs, n_outs = observed_checkpoint(
        tables["outputs"].select(
            F.col("output_id").alias("id"),
            "address",
            "value",
            F.when(F.col("address") == seed_addr, F.lit(_TAINT_SCALE))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("floor"),
        ),
        F.count(F.lit(1)),
    )
    hint = broadcast_hint(spark, n_outs, outs.schema)

    spent = tables["inputs"].join(
        tables["outputs"].select(
            F.col("output_id").alias("spent_output_id"),
            F.col("value").alias("in_value"),
        ),
        "spent_output_id",
    )
    totals = spent.groupBy("spending_tx_hash").agg(
        F.sum("in_value").alias("in_total")
    )
    created = tables["outputs"].select(
        F.col("tx_hash").alias("spending_tx_hash"), F.col("output_id").alias("dst")
    )
    edges = (
        spent.join(totals, "spending_tx_hash")
        .join(created, "spending_tx_hash")
        .select(
            F.col("spent_output_id").alias("src"), "dst", "in_value", "in_total"
        )
        .localCheckpoint(eager=True)
    )

    taint = outs.select("id", F.col("floor").alias("taint"), "floor")
    for _ in range(_TAINT_HOPS):
        contrib = taint.select(F.col("id").alias("src"), "taint")
        msgs = (
            edges.join(hint(contrib), "src")
            .select("dst", F.expr("(taint * in_value) div in_total").alias("term"))
            .groupBy("dst")
            .agg(F.sum("term").alias("m"))
        )
        taint = (
            outs.join(msgs, outs["id"] == msgs["dst"], "left")
            .select(
                "id",
                F.greatest(
                    F.col("floor"), F.coalesce(F.col("m"), F.lit(0).cast("long"))
                ).alias("taint"),
                "floor",
            )
        )
    return (
        taint.where(F.col("taint") > 0)
        .join(hint(outs.select("id", "address", "value")), "id")
        .orderBy(F.col("taint").desc(), F.col("id"))
        .limit(_TAINT_TOPK)
        .select(F.col("id").alias("output_id"), "address", "value", "taint")
    )


_AGE_BANDS = ((0, 4), (5, 9), (10, 19), (20, None))  # blocks since creation


def _age_band_label(age: int) -> str:
    for lo, hi in _AGE_BANDS:
        if hi is None or age <= hi:
            if hi is None or age >= lo:
                return f"{lo}+" if hi is None else f"{lo}-{hi}"
    return "20+"


def _expected_utxo_age_rows() -> list[tuple[str, int, int]]:
    """Per-age-band (n_utxo, value_sum) of the live UTXO set at
    _UTXO_HEIGHT — the pure-Python ground truth, independent of the
    decoder and of Spark."""
    c = _chain()
    height_of_block = {b[0]: b[2] for b in c.blocks}
    height_of_tx = {t[0]: height_of_block[t[1]] for t in c.transactions}
    live: dict[str, tuple[int, int]] = {
        oid: (v, height_of_tx[tx])
        for tx, _oi, oid, v, _a in c.outputs
        if height_of_tx[tx] <= _UTXO_HEIGHT
    }
    for sp, oid in c.inputs:
        if height_of_tx[sp] <= _UTXO_HEIGHT:
            live.pop(oid, None)
    agg: dict[str, list[int]] = {}
    for v, h in live.values():
        band = _age_band_label(_UTXO_HEIGHT - h)
        s = agg.setdefault(band, [0, 0])
        s[0] += 1
        s[1] += v
    return sorted((b, s[0], s[1]) for b, s in agg.items())


def _utxo_age_oracle() -> str:
    rows = ",\n      ".join(
        f"('{b}', CAST({n} AS BIGINT), CAST({vs} AS BIGINT))"
        for b, n, vs in _expected_utxo_age_rows()
    )
    return (
        "SELECT * FROM (VALUES\n      "
        + rows
        + "\n    ) AS t(age_band, n_utxo, value_sum)"
    )


@query("utxo_age_distribution", oracle=_utxo_age_oracle())
def utxo_age_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTXO AGE DISTRIBUTION at the pinned height — the "HODL wave"
    metric every chain-analytics stack derives next to balances
    (B:784's balance family): live outputs at height H bucketed by
    coin age H − creation_height, per band count + value. Uses the
    same decode → height filter → anti-join UTXO set as
    `utxo_balances`; the extra work is ONE map-side CASE band and one
    O(#bands) aggregate, so the expensive part is shared and the
    derivation stays set algebra (the reference would hand-maintain
    age counters and pay the reorg-decrement tax this engine's
    recompute-from-snapshot model deletes). Oracle = pure-Python
    replay from the fixture lists (decoder-independent).

    At 100 TB: height filters prune block partitions before the
    anti-join; the band rollup is map-side combinable."""
    root = _build_blk_files_once()
    t = normalize(read_blocks(spark, f"{root}/blk*.dat"))
    created = (
        t["outputs"]
        .where(F.col("height") <= _UTXO_HEIGHT)
        .select("output_id", "value", "height")
    )
    spent = (
        t["inputs"]
        .where(F.col("height") <= _UTXO_HEIGHT)
        .select(F.col("spent_output_id").alias("output_id"))
    )
    live = created.join(spent, "output_id", "left_anti").withColumn(
        "age", F.lit(_UTXO_HEIGHT) - F.col("height")
    )
    band = (
        F.when(F.col("age") <= 4, "0-4")
        .when(F.col("age") <= 9, "5-9")
        .when(F.col("age") <= 19, "10-19")
        .otherwise("20+")
    )
    return (
        live.select(band.alias("age_band"), "value")
        .groupBy("age_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_utxo"),
            F.sum("value").cast("long").alias("value_sum"),
        )
        .orderBy("age_band")
    )

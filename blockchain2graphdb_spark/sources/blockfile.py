"""Binary block-file source (SURVEY.md §2.1 S1/S2).

The reference scans Bitcoin's binary `blk%05d.dat` files sequentially
through bitcoinj's BlockFileLoader (B:361, file enumeration B:80–88,
B:1097–1107) on a single thread. The Spark-native form:

    spark.read.format("binaryFile").load(".../blk*.dat")
      -> mapInPandas(decode)           # one Arrow batch per file split
      -> explode to normalized tables  # §1.6 model

Real bitcoin wire-format parsing needs bitcoinj/python-bitcoinlib (not
in this container), so the format here is a compact deterministic stand-
in (`BLK1` records with the same structure: magic, length-prefixed block
payload, nested tx/input/output records). The *decoder seam* is
`parse_block_payload` — swap it for a real wire parser and nothing else
changes. Script→address decoding errors map to the reference's fallback
sentinel (C11, B:1067–1074).

Scale: each blk file is one input split; decode is batch-at-a-time in
Arrow and runs once per `read_blocks` call (the decoded rows are
checkpointed); the explode to tables is columnar. 300 GB of blk files =
~2300 files → parallel decode across executors instead of the
reference's single-threaded loader.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAGIC = b"BLK1"
UNDECODABLE = "<undecodable>"  # C11 sentinel (B:1067-1074)


# ---------------------------------------------------------------------------
# writer (fixture side): serialize a mini-chain into blk%05d.dat files


def write_blk_files(chain, out_dir: str, blocks_per_file: int = 8) -> list[str]:
    """Serialize chain fixtures (chain/fixtures.py) into blk files."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    txs_by_block: dict[str, list] = {}
    for t in chain.transactions:
        txs_by_block.setdefault(t[1], []).append(t)
    outs_by_tx: dict[str, list] = {}
    for o in chain.outputs:
        outs_by_tx.setdefault(o[0], []).append(o)
    ins_by_tx: dict[str, list] = {}
    for i in chain.inputs:
        ins_by_tx.setdefault(i[0], []).append(i)

    paths = []
    blocks = sorted(chain.blocks, key=lambda b: b[2])
    for fi in range(0, len(blocks), blocks_per_file):
        path = f"{out_dir}/blk{fi // blocks_per_file:05d}.dat"
        with open(path, "wb") as f:
            for bhash, prev, height, bdate, inflation in blocks[fi : fi + blocks_per_file]:
                payload = _encode_block(
                    bhash, prev, height, bdate, inflation, txs_by_block.get(bhash, []),
                    outs_by_tx, ins_by_tx,
                )
                f.write(MAGIC + struct.pack("<I", len(payload)) + payload)
        paths.append(path)
    return paths


def _s(x: str | None) -> bytes:
    b = (x or "").encode()
    return struct.pack("<H", len(b)) + b


def _encode_block(bhash, prev, height, bdate, inflation, txs, outs_by_tx, ins_by_tx) -> bytes:
    out = bytearray()
    out += _s(bhash) + _s(prev)
    out += struct.pack("<Iqq", height, int(bdate.timestamp() * 1_000_000), inflation)
    out += struct.pack("<I", len(txs))
    for tx_hash, _bh, tx_index, _td, is_coinbase in sorted(txs, key=lambda t: t[2]):
        out += _s(tx_hash) + struct.pack("<IB", tx_index, int(is_coinbase))
        ins = ins_by_tx.get(tx_hash, [])
        out += struct.pack("<I", len(ins))
        for _sp, oid in ins:
            out += _s(oid)
        outs = sorted(outs_by_tx.get(tx_hash, []), key=lambda o: o[1])
        out += struct.pack("<I", len(outs))
        for _tx, oi, _oid, value, addr in outs:
            out += struct.pack("<Iq", oi, value) + _s(addr)
    return bytes(out)


# ---------------------------------------------------------------------------
# reader: binaryFile scan -> decode -> normalized tables


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("hash", T.StringType(), False),
        T.StructField("prev_hash", T.StringType(), True),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("block_date", T.TimestampType(), False),
        T.StructField("coinbase_balance", T.LongType(), False),
        T.StructField(
            "txs",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("tx_hash", T.StringType(), False),
                        T.StructField("tx_index", T.IntegerType(), False),
                        T.StructField("is_coinbase", T.BooleanType(), False),
                        T.StructField("spent_output_ids", T.ArrayType(T.StringType()), False),
                        T.StructField(
                            "outputs",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("output_index", T.IntegerType(), False),
                                        T.StructField("value", T.LongType(), False),
                                        T.StructField("address", T.StringType(), False),
                                    ]
                                )
                            ),
                            False,
                        ),
                    ]
                )
            ),
            False,
        ),
    ]
)


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def take(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def s(self) -> str:
        (n,) = struct.unpack("<H", self.take(2))
        return self.take(n).decode()

    def u32(self) -> int:
        return struct.unpack("<I", self.take(4))[0]

    def i64(self) -> int:
        return struct.unpack("<q", self.take(8))[0]

    def u8(self) -> int:
        return self.take(1)[0]


def parse_block_payload(payload: bytes) -> dict:
    """THE decoder seam. For real Bitcoin data, replace with a wire-format
    parser (bitcoinj equivalent); the surrounding plumbing is unchanged."""
    r = _Reader(payload)
    bhash, prev = r.s(), r.s()
    height, ts_us, inflation = struct.unpack("<Iqq", r.take(20))
    txs = []
    for _ in range(r.u32()):
        tx_hash = r.s()
        tx_index, is_cb = r.u32(), r.u8()
        ins = [r.s() for _ in range(r.u32())]
        outs = []
        for _ in range(r.u32()):
            oi, value = struct.unpack("<Iq", r.take(12))
            addr = r.s()
            outs.append({"output_index": oi, "value": value, "address": _decode_address(addr)})
        txs.append(
            {
                "tx_hash": tx_hash,
                "tx_index": tx_index,
                "is_coinbase": bool(is_cb),
                "spent_output_ids": ins,
                "outputs": outs,
            }
        )
    return {
        "hash": bhash,
        "prev_hash": prev or None,
        "height": height,
        "block_date": pd.Timestamp(ts_us, unit="us"),
        "coinbase_balance": inflation,
        "txs": txs,
    }


def _decode_address(script: str) -> str:
    """C11: script→address with error fallback (B:1067–1074). Our fixture
    scripts are the address itself; a real implementation decodes the
    locking script and returns the sentinel on ScriptException."""
    try:
        if not script:
            raise ValueError("empty script")
        return script
    except (ValueError, TypeError):
        return UNDECODABLE


def read_blocks(spark: SparkSession, glob: str) -> DataFrame:
    """S1: binaryFile scan + Arrow-batched decode → nested block rows.

    `glob` is `<directory>/<file-name pattern>`, e.g. `.../blk*.dat`;
    only the file name may hold wildcards.

    The decoded rows are materialized before return (one eager local
    checkpoint), so the Python decoder runs once per call: every job over
    the returned frame or its `normalize` tables reads the checkpointed
    blocks instead of re-scanning and re-decoding the files. The blocks
    live in executor memory until the frame is dropped; Spark's context
    cleaner frees them once the frame is garbage-collected. The original
    plan's size estimate is kept, so joins against the decoded tables
    still broadcast where they did before.
    """
    # the glob's directory plus a file-name filter: a glob handed to
    # `load` is probed as a streaming-sink metadata directory first,
    # which logs a FileNotFoundException stack trace on every call
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", os.path.basename(glob))
        .load(os.path.dirname(glob))
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                buf = bytes(content)
                pos = 0
                while pos + 8 <= len(buf):
                    assert buf[pos : pos + 4] == MAGIC, "bad magic"
                    (length,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
                    rows.append(parse_block_payload(buf[pos + 8 : pos + 8 + length]))
                    pos += 8 + length
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED_SCHEMA.fields])

    return raw.select("content").mapInPandas(decode, schema=DECODED_SCHEMA).localCheckpoint(
        eager=True
    )


def normalize(decoded: DataFrame) -> dict[str, DataFrame]:
    """Nested block rows → the four normalized tables (§1.6), columnar
    explodes only. Each tx, output and input row carries its block's
    `height` from the block row it is exploded out of."""
    blocks = decoded.select(
        "hash", "prev_hash", "height", "block_date", "coinbase_balance"
    )
    tx = decoded.select(
        F.col("hash").alias("block_hash"),
        F.col("block_date").alias("tx_date"),
        "height",
        F.explode("txs").alias("t"),
    )
    transactions = tx.select(
        F.col("t.tx_hash").alias("tx_hash"),
        "block_hash",
        F.col("t.tx_index").alias("tx_index"),
        "tx_date",
        F.col("t.is_coinbase").alias("is_coinbase"),
        "height",
    )
    outputs = tx.select(
        F.col("t.tx_hash").alias("tx_hash"), "height", F.explode("t.outputs").alias("o")
    ).select(
        "tx_hash",
        F.col("o.output_index").alias("output_index"),
        F.concat_ws(":", "tx_hash", "o.output_index").alias("output_id"),
        F.col("o.value").alias("value"),
        F.col("o.address").alias("address"),
        "height",
    )
    inputs = tx.select(
        F.col("t.tx_hash").alias("spending_tx_hash"),
        F.explode("t.spent_output_ids").alias("spent_output_id"),
        "height",
    )
    return {
        "blocks": blocks,
        "transactions": transactions,
        "outputs": outputs,
        "inputs": inputs,
    }

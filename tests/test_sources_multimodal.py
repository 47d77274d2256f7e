"""Tests for the binary block-file source (S1) and the multimodal
pipeline plumbing (X5)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from blockchain2graphdb_spark.chain import fixtures
from blockchain2graphdb_spark.functions import multimodal as mm
from blockchain2graphdb_spark.catalog import table
from blockchain2graphdb_spark.sources import blockfile


@pytest.fixture(scope="module")
def blk_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("blk"))
    blockfile.write_blk_files(fixtures.generate(n_blocks=20, seed=11), d, blocks_per_file=6)
    return d


@pytest.mark.parametrize("seed", [11, 77, 123])
def test_blockfile_roundtrip(spark, tmp_path, seed):
    """write mini-chain -> blk*.dat -> binaryFile scan -> decode ->
    normalize == original tables (S1 end-to-end), across seeds."""
    blk = str(tmp_path / f"blk{seed}")
    chain = fixtures.generate(n_blocks=20, seed=seed)
    paths = blockfile.write_blk_files(chain, blk, blocks_per_file=6)
    assert len(paths) == 4  # 20 blocks / 6 per file

    decoded = blockfile.read_blocks(spark, f"{blk}/blk*.dat")
    tables = blockfile.normalize(decoded)
    expected = chain.to_spark(spark)
    for name in ("blocks", "transactions", "outputs", "inputs"):
        got = sorted(map(tuple, tables[name].collect()))
        exp = sorted(map(tuple, expected[name].collect()))
        assert got == exp, f"table {name} differs after decode round-trip"


def test_blockfile_parallel_decode(spark, blk_dir):
    """each blk file is an independent split: decode parallelism equals
    the file count, not 1 (the reference is single-threaded, B:361)."""
    decoded = blockfile.read_blocks(spark, f"{blk_dir}/blk*.dat")
    assert decoded.rdd.getNumPartitions() >= 2


def test_read_blocks_reads_only_matching_files(spark, tmp_path):
    """Only files whose name matches the pattern are decoded: a foreign
    file beside the blk files (it would fail the magic check) is skipped."""
    blockfile.write_blk_files(fixtures.generate(n_blocks=6, seed=3), str(tmp_path), blocks_per_file=3)
    (tmp_path / "rev00000.dat").write_bytes(b"not a block file")
    assert blockfile.read_blocks(spark, f"{tmp_path}/blk*.dat").count() == 6


def test_decode_address_fallback():
    """C11: undecodable script -> sentinel, never an exception (B:1067-1074)."""
    assert blockfile._decode_address("addr001") == "addr001"
    assert blockfile._decode_address("") == blockfile.UNDECODABLE


def test_decode_real_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        mm.decode_real(b"\x00", "image")


def test_media_synthesis_schema_and_determinism(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(30)
    media = mm.synthesize_media(docs)
    assert media.schema == mm.MEDIA_SCHEMA
    a = sorted((r["media_id"], bytes(r["payload"])) for r in media.collect())
    b = sorted((r["media_id"], bytes(r["payload"])) for r in mm.synthesize_media(docs).collect())
    assert a == b  # deterministic fake payloads
    kinds = {r["kind"] for r in media.collect()}
    assert kinds <= {"image", "audio", "video"}


def test_resize_only_touches_images(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(30)
    media = mm.synthesize_media(docs)
    resized = mm.resize_images(media, max_side=16)
    assert resized.count() == media.count()  # pass-through preserved
    img = resized.where(F.col("kind") == "image")
    bad = img.where((F.col("meta.width") > 16) | (F.col("meta.height") > 16)).count()
    assert bad == 0
    # payload re-encoded to new dimensions
    sizes = img.select(
        (F.col("meta.width") * F.col("meta.height")).alias("wh"),
        F.length("payload").alias("n"),
    ).collect()
    assert all(r["wh"] == r["n"] for r in sizes)


def test_frame_sampling_expansion(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(30)
    media = mm.synthesize_media(docs)
    frames = mm.sample_frames(media, every_ms=1000)
    vids = media.where(F.col("kind") == "video").select(
        "media_id", F.col("meta.duration_ms").alias("dur")
    ).collect()
    expected = sum((r["dur"] + 999) // 1000 for r in vids)
    assert frames.count() == expected
    # frame payloads are real bytes with stable size
    one = frames.limit(1).collect()
    if one:
        assert len(bytes(one[0]["frame"])) == 64

"""Multimodal query surface (SURVEY.md §2.13 X5): the media pipeline
(synthesize → decode/featurize → resize → frame-sample) exposed as
registry queries over the documents fixture.

`multimodal_features` is oracle-checked: the fake decode is md5-based,
and md5 agrees across engines, so DuckDB can replay the feature
derivation in SQL while Spark runs the real mapInPandas pipeline —
verifying the plumbing end-to-end, not just the stub.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.multimodal import (
    patchify_images,
    decode_and_featurize,
    resize_images,
    sample_frames,
    synthesize_media,
    window_audio,
)
from ..registry import query


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           256 AS n_bytes,
           substr(md5(text), 1, 8) AS seed_sig
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: binary payload → feature extraction via mapInPandas.

    The comparable projection: payload bytes are md5(text)-seeded, so the
    first 8 hex chars of the seed digest reproduce in SQL; kind and size
    come out of the real pipeline.
    """
    docs = table(spark, sf_dir, "documents")
    media = synthesize_media(docs)
    feats = decode_and_featurize(media)
    # seed_sig: recompute from the doc text (join back) — proves media_id
    # lineage survived the two Python stages
    sig = docs.select(
        F.col("doc_id").alias("media_id"),
        F.substring(F.md5(F.col("text").cast("binary")), 1, 8).alias("seed_sig"),
    )
    return feats.join(sig, "media_id").select("media_id", "kind", "n_bytes", "seed_sig")


@query(
    "multimodal_audio_windows",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(dur AS BIGINT) AS duration_ms,
           CAST((dur - 500) // 250 + 1 AS BIGINT) AS n_windows,
           CAST(((dur - 500) // 250) * 250 AS BIGINT) AS last_start_ms
    FROM (
      SELECT doc_id,
             1000 + ((instr('0123456789abcdef', substr(md5(text), 5, 1)) - 1) * 16
                   + (instr('0123456789abcdef', substr(md5(text), 6, 1)) - 1)) * 100 AS dur
      FROM documents
      WHERE doc_id % 3 = 1
    )
    """,
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: audio windowing (500 ms windows, 250 ms hop) — the
    spectrogram/ASR-prep 1→N expansion, oracle-checked: the stub's
    duration is byte 2 of md5(text), which DuckDB replays with hex
    arithmetic, so SQL predicts the exact window count and last start
    the Python stage must emit. duration comes back through the
    pipeline's meta struct (lineage check), n_windows/last_start from
    the expanded rows themselves."""
    media = synthesize_media(table(spark, sf_dir, "documents"))
    wins = window_audio(media, window_ms=500, hop_ms=250)
    return wins.groupBy("media_id").agg(
        F.max("duration_ms").cast("long").alias("duration_ms"),
        F.count(F.lit(1)).alias("n_windows"),
        F.max("start_ms").cast("long").alias("last_start_ms"),
    )


@query(
    "multimodal_resize",
    oracle="""
    WITH geom AS (
      SELECT doc_id,
             16 + ((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) % 16 AS w,
             16 + ((instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1)) % 16 AS h
      FROM documents
    )
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CASE WHEN doc_id % 3 = 0 THEN CAST(
             CASE WHEN greatest(w, h) > 16 THEN (w * 16) // greatest(w, h) ELSE w END
             AS BIGINT) END AS width,
           CASE WHEN doc_id % 3 = 0 THEN CAST(
             CASE WHEN greatest(w, h) > 16 THEN (h * 16) // greatest(w, h) ELSE h END
             AS BIGINT) END AS height,
           CAST(CASE WHEN doc_id % 3 = 0
                THEN (CASE WHEN greatest(w, h) > 16 THEN (w * 16) // greatest(w, h) ELSE w END)
                   * (CASE WHEN greatest(w, h) > 16 THEN (h * 16) // greatest(w, h) ELSE h END)
                ELSE 256 END AS BIGINT) AS n_bytes
    FROM geom
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: image resize stage — metadata rewrite + re-encode, non-images
    pass through Spark-side (the Python stage only ever sees images).

    Oracle-checked (upgraded from rows-only): the stub's source geometry
    is bytes 0/1 of md5(text) and the downscale is pure integer math
    ((w*max)//mx), so DuckDB replays the exact output geometry AND the
    re-encoded payload size (nw*nh) for images, and the untouched
    256-byte pass-through for audio/video — verifying that the resize
    stage's 1:1 row contract, kind routing, metadata rewrite, and
    payload re-encode all survived the mapInPandas round trip.
    """
    media = synthesize_media(table(spark, sf_dir, "documents"))
    resized = resize_images(media, max_side=16)
    return resized.select(
        "media_id",
        "kind",
        F.col("meta.width").cast("long").alias("width"),
        F.col("meta.height").cast("long").alias("height"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           CAST((dur - 1) // 5000 + 1 AS BIGINT) AS n_frames,
           CAST(((dur - 1) // 5000) * 5000 AS BIGINT) AS last_frame_ms
    FROM (
      SELECT doc_id,
             1000 + ((instr('0123456789abcdef', substr(md5(text), 5, 1)) - 1) * 16
                   + (instr('0123456789abcdef', substr(md5(text), 6, 1)) - 1)) * 100 AS dur
      FROM documents WHERE doc_id % 3 = 2
    )
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: video frame sampling — UDTF-shaped 1→N expansion per video.

    Oracle-checked (upgraded from rows-only), same replay trick as
    multimodal_audio_windows: duration is byte 2 of md5(text), so SQL
    predicts the exact frame count ((dur-1)//5000 + 1 frames at 0,
    5000, …) and last frame timestamp the Python expansion must emit.
    """
    media = synthesize_media(table(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_ms=5000)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_ts_ms").cast("long").alias("last_frame_ms"),
    )


@query(
    "multimodal_patchify",
    oracle="""
    WITH geom AS (
      SELECT doc_id, md5(text) AS seed,
             16 + ((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) % 16 AS w,
             16 + ((instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1)) % 16 AS h
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT g.doc_id AS media_id,
           CAST(r.i AS INT) AS patch_row,
           CAST(c.i AS INT) AS patch_col,
           CAST(LEAST(8, g.w - c.i * 8) AS INT) AS patch_w,
           CAST(LEAST(8, g.h - r.i * 8) AS INT) AS patch_h,
           substr(md5(g.seed || ':' || CAST(r.i AS VARCHAR)
                             || ':' || CAST(c.i AS VARCHAR)), 1, 8) AS patch_sig
    FROM geom g,
         UNNEST(range((g.h + 7) // 8)) AS r(i),
         UNNEST(range((g.w + 7) // 8)) AS c(i)
    """,
)
def multimodal_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: ViT-style patch extraction — each image becomes its
    ceil(w/8) x ceil(h/8) patch grid with clipped edge geometry and a
    position-keyed patch signature, the 1->N expansion that precedes
    patch-embedding in any vision-training pipeline. Non-images are
    filtered Spark-side before the Arrow stage. Oracle-checked: the
    stub geometry is bytes 0/1 of md5(text) (the resize oracle's
    derivation) and the signature is md5 over the STRING seed + grid
    position, so DuckDB replays the full patch table — row counts,
    clipped sizes, and per-patch lineage — proving the mapInPandas
    expansion loses/duplicates nothing.

    Scale shape: pure map-side 1->N (no shuffle); patches inherit the
    image rows' partitioning, exactly what a downstream patch-batch
    embedder wants."""
    docs = table(spark, sf_dir, "documents")
    media = synthesize_media(docs)
    seeded = media.join(
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.md5(F.col("text").cast("binary")).alias("sig_seed"),
        ),
        "media_id",
    )
    return patchify_images(seeded, patch=8)

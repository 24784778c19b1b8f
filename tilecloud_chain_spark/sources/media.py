"""Audio/video multimodal columns — opaque ``binary`` payloads with typed
metadata, plus the distributed frame-sample / frame-dedup plumbing for
video.

No audio/video codec ships with the engine (no ffmpeg/soundfile/PyAV), so
frames come from a DETERMINISTIC FAKE decoder whose output is a pure
function of the payload bytes — which makes every downstream stage (frame
sampling, per-frame phash, cross-video frame dedup) REAL, tested Spark
plumbing with the exact schemas, partitioning and Arrow batch shapes a
real codec would see.

Schema (typed metadata struct, brief requirement):

    media_id string, kind string('audio'|'video'), bytes binary,
    meta struct<codec string, duration_ms int, sample_rate int,
                width int, height int, n_frames int, fps double>
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from tilecloud_chain_spark.functions import image as IMG

MEDIA_SCHEMA = (
    "media_id string, kind string, bytes binary, "
    "meta struct<codec string, duration_ms int, sample_rate int, "
    "width int, height int, n_frames int, fps double>"
)


# --------------------------------------------------------------------------
# synthesis (deterministic fixtures, like sources.images)
# --------------------------------------------------------------------------


def synth_media(
    spark: SparkSession, count: int, kind: str = "video",
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic media table: payload bytes and metadata derived from
    the id (same determinism contract as ``synth_images``)."""
    import pandas as pd

    assert kind in ("audio", "video")
    partitions = partitions or max(1, min(
        spark.sparkContext.defaultParallelism * 2, count // 64 + 1))

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in ("media_id", "kind", "bytes", "meta")}
            for i in pdf["id"]:
                i = int(i)
                seed = hashlib.md5(f"{kind}:{i}".encode()).digest()
                n_frames = 8 + seed[0] % 8 if kind == "video" else 0
                payload = b"SYNM" + seed * 8  # opaque container bytes
                rows["media_id"].append(f"{kind[0]}med{i:09d}")
                rows["kind"].append(kind)
                rows["bytes"].append(payload)
                rows["meta"].append({
                    "codec": "synth",
                    "duration_ms": 1000 + (seed[1] % 16) * 250,
                    "sample_rate": 16000 if kind == "audio" else 0,
                    "width": 32 if kind == "video" else 0,
                    "height": 32 if kind == "video" else 0,
                    "n_frames": n_frames,
                    "fps": 8.0 if kind == "video" else 0.0,
                })
            yield pd.DataFrame(rows)

    return spark.range(0, count, 1, partitions).mapInPandas(gen, MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# decode — deterministic fake
# --------------------------------------------------------------------------


def fake_decode_frame(payload: bytes, frame_idx: int, w: int, h: int) -> np.ndarray:
    """Deterministic per-frame pixels: the real synth-image kernel seeded by
    (payload digest, frame index) — same bytes in, same pixels out, on any
    executor. Consecutive frames of one video share the seed base, so
    per-frame phash behaves like real video (temporal near-duplicates)."""
    base = int.from_bytes(hashlib.md5(payload).digest()[:4], "big")
    # frame seed advances slowly -> adjacent frames are near-duplicates
    return IMG.synth_pixels(base + frame_idx // 4, h, w)


# --------------------------------------------------------------------------
# distributed stages
# --------------------------------------------------------------------------


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Video -> per-frame rows (media_id, frame_idx, phash, w, h): explode
    the frame indices from the TYPED METADATA (no decode needed to plan the
    fan-out — the same trick as metatile fan-out), then one Arrow batch
    stage decodes sampled frames and phashes them. Output is the input to
    cross-video frame dedup."""
    import pandas as pd

    idx = F.explode(
        F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(int(every_n)))
    ).alias("frame_idx")
    picked = media.filter(F.col("kind") == "video").select(
        "media_id", "bytes", F.col("meta.width").alias("w"),
        F.col("meta.height").alias("h"), idx,
    )

    def featurize(batches):
        for pdf in batches:
            phashes = []
            for payload, fi, w, h in zip(pdf["bytes"], pdf["frame_idx"], pdf["w"], pdf["h"]):
                px = fake_decode_frame(bytes(payload), int(fi), int(w), int(h))
                phashes.append(IMG.phash64(px))
            out = pdf[["media_id", "frame_idx", "w", "h"]].copy()
            out["phash"] = phashes
            yield out

    return picked.mapInPandas(
        featurize, "media_id string, frame_idx int, w int, h int, phash long"
    )


def frame_near_dup_pairs(frames: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Cross-video frame dedup: pigeonhole block join on the per-frame phash
    (same exact-recall blocking as operators.dedup.simhash_near_pairs).
    Output: (media_a, frame_a, media_b, frame_b, hamming).

    The frame table is materialized first: a self-join references it twice
    and an unmaterialized lineage would run the decode+phash Arrow stage
    once per side (plan-audited: 4 python evals -> 0)."""
    from tilecloud_chain_spark.operators.dedup import first_matching_block, hash_block

    frames = frames.localCheckpoint(eager=True)
    nb = int(max_hamming) + 1
    bounds = [(c * 64 // nb, (c + 1) * 64 // nb) for c in range(nb)]
    key_structs = F.array(*[
        F.struct(
            F.lit(c).alias("chunk"),
            hash_block(F.col("phash"), lo, hi).alias("key"),
        )
        for c, (lo, hi) in enumerate(bounds)
    ])
    keyed = frames.select(
        "media_id", "frame_idx", "phash", F.explode(key_structs).alias("b")
    ).select("media_id", "frame_idx", "phash",
             F.col("b.chunk").alias("chunk"), F.col("b.key").alias("key"))
    a = keyed.select(F.col("media_id").alias("media_a"), F.col("frame_idx").alias("frame_a"),
                     F.col("phash").alias("ph_a"), "chunk", "key")
    b = keyed.select(F.col("media_id").alias("media_b"), F.col("frame_idx").alias("frame_b"),
                     F.col("phash").alias("ph_b"), "chunk", "key")
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).alias("hamming")
    return (
        a.join(b, ["chunk", "key"])
        .filter((F.col("media_a") < F.col("media_b"))
                | ((F.col("media_a") == F.col("media_b"))
                   & (F.col("frame_a") < F.col("frame_b"))))
        .filter(F.col("chunk") == first_matching_block(F.col("ph_a"), F.col("ph_b"), bounds))
        .select("media_a", "frame_a", "media_b", "frame_b", ham)
        .filter(F.col("hamming") <= max_hamming)
    )

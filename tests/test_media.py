"""Audio/video multimodal plumbing: typed-metadata schema, distributed
frame sampling + per-frame phash, cross-video frame dedup — real Spark
plumbing over the deterministic fake frame decoder."""

from pyspark.sql import functions as F

from tilecloud_chain_spark.sources import media as M


def test_media_schema_and_determinism(spark):
    df = M.synth_media(spark, 20, kind="video")
    assert df.schema.simpleString() == (
        "struct<media_id:string,kind:string,bytes:binary,"
        "meta:struct<codec:string,duration_ms:int,sample_rate:int,"
        "width:int,height:int,n_frames:int,fps:double>>"
    )
    a = {r.media_id: (bytes(r.bytes), r.meta.n_frames) for r in df.collect()}
    b = {r.media_id: (bytes(r.bytes), r.meta.n_frames)
         for r in M.synth_media(spark, 20, kind="video").collect()}
    assert a == b and len(a) == 20
    assert all(8 <= nf <= 15 for _, nf in a.values())


def test_sample_frames_counts_and_phash(spark):
    media = M.synth_media(spark, 12, kind="video")
    frames = M.sample_frames(media, every_n=2)
    rows = frames.collect()
    meta = {r.media_id: r.meta.n_frames for r in media.collect()}
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    assert set(by_media) == set(meta)
    for mid, rs in by_media.items():
        # every_n=2 over n_frames indices
        assert len(rs) == (meta[mid] + 1) // 2
        assert all(r.frame_idx % 2 == 0 for r in rs)
        assert all(isinstance(r.phash, int) for r in rs)


def test_temporal_near_duplicate_frames_detected(spark):
    """Adjacent sampled frames of one video are near-duplicates by
    construction (slow seed advance) — the frame-dedup join must find
    within-video pairs at a small hamming radius."""
    media = M.synth_media(spark, 6, kind="video")
    frames = M.sample_frames(media, every_n=1)
    pairs = M.frame_near_dup_pairs(frames, max_hamming=4)
    within = pairs.filter(F.col("media_a") == F.col("media_b"))
    assert within.count() > 0
    # exactness: pair set == brute force popcount over all frame pairs
    all_f = [(r.media_id, r.frame_idx, r.phash) for r in frames.collect()]
    brute = set()
    for i in range(len(all_f)):
        for j in range(i + 1, len(all_f)):
            (ma, fa, pa), (mb, fb, pb) = sorted([all_f[i], all_f[j]])[0], sorted([all_f[i], all_f[j]])[1]
            h = bin((pa ^ pb) & ((1 << 64) - 1)).count("1")
            if h <= 4:
                brute.add((ma, fa, mb, fb, h))
    got = {(r.media_a, r.frame_a, r.media_b, r.frame_b, r.hamming) for r in pairs.collect()}
    assert got == brute

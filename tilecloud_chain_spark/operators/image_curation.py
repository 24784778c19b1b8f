"""Image-corpus curation operators over the north-rule table
(``image_id, bytes, w, h, fmt, caption, phash`` at 10^12 rows) — the
LAION/DataComp-style admission steps that sit BETWEEN ingest (decode +
phash, ``sources/images.py``) and dedup (``operators/image_dedup.py``):

- :func:`clip_filter` — caption<->image embedding alignment (CLIP-score)
  filtering: pure Column cosine over two ``array<float>`` columns, zero
  shuffle, codegen'd end to end;
- :func:`phash_decontaminate` — flag corpus images within a hamming
  radius of an EVAL-SET phash (the image twin of the text
  ``decontaminate`` operator, ``operators/dedup.py:838``): the eval side
  is broadcast as pigeonhole block keys, so the corpus pays one narrow
  explode and one broadcast join — corpus bytes/phashes never shuffle;
- :func:`aspect_bucket_pack` — SDXL-style aspect-ratio bucketing +
  fixed-size batch packing: nearest-bucket assignment is IEEE-exact
  Column arithmetic (division/subtraction/abs only — no libm, so DuckDB
  reproduces it bit-for-bit), and the per-bucket dense rank is the
  distributed prefix sum (``operators/prefix.py``) — never a window
  partitioned only by the handful of hot buckets;
- :func:`image_quality_metrics` — decoded-pixel quality signals
  (sharpness via Laplacian variance, histogram entropy, brightness,
  contrast) as ONE Arrow batch stage over real bytes.

No reference counterpart (the reference has no content curation); these
compose the engine's existing kernels (cosine ``operators/similarity.py``,
pigeonhole blocks ``operators/dedup.py:int64_near_pairs``, prefix sum
``operators/prefix.py``) over the image table.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tilecloud_chain_spark.operators.prefix import prefix_sum

from tilecloud_chain_spark.operators.dedup import (
    blocked_keys,
    gather_bits,
    interleaved_positions,
)
from tilecloud_chain_spark.operators.image_dedup import image_caption_dedup
from tilecloud_chain_spark.operators.similarity import _cosine
from tilecloud_chain_spark.plans.graph import Node, run


# ---------------------------------------------------------------------------
# CLIP-score (caption <-> image alignment) filtering


def clip_filter(
    pairs: DataFrame,
    threshold: float = 0.28,
    img_col: str = "img_vec",
    txt_col: str = "txt_vec",
    id_col: str = "image_id",
) -> DataFrame:
    """Caption-image alignment filter: per row, the cosine similarity of
    the image embedding and the caption embedding (the CLIP score), and
    ``keep`` when it reaches ``threshold`` (LAION used 0.28 for its
    English corpus).

    Scale shape: one row-local Column expression — zero shuffle, zero
    Python; 10^12 rows stream through whole-stage codegen. The score is
    rounded to 6dp so the filter boundary (and the oracle comparison) is
    deterministic across summation orders.
    """
    score = F.round(_cosine(F.col(img_col), F.col(txt_col)), 6)
    return pairs.select(
        F.col(id_col),
        score.alias("clip_score"),
        (score >= F.lit(float(threshold))).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination by perceptual hash


def phash_decontaminate(
    imgs: DataFrame,
    eval_df: DataFrame,
    max_hamming: int = 2,
    id_col: str = "image_id",
    phash_col: str = "phash",
    eval_phash_col: str = "phash",
) -> DataFrame:
    """Flag corpus images whose phash is within ``max_hamming`` of ANY
    eval-set phash — the image analog of benchmark decontamination
    (``operators/dedup.py:decontaminate``): a train image that is a
    near-duplicate of an eval image leaks the benchmark.

    Output: one row per input image — (id_col, contaminated bool).
    Precondition: ``id_col`` is unique in ``imgs`` (one row per id). The
    output keeps the input row count, so a duplicated id yields duplicated
    flag rows, which multiply any join on ``id_col`` downstream.

    Scale shape: the eval set is small (10^3-10^6 hashes) and the corpus
    is 10^12 rows, so the corpus side must never self-join or shuffle its
    payload — or, since r9, shuffle AT ALL. Pigeonhole blocking
    (``int64_near_pairs``'s argument): slice the 64 bits into
    ``max_hamming + 1`` interleaved blocks; a pair within the radius
    agrees exactly on at least one block. The eval side collapses to one
    (chunk, key) -> [phashes] row per block key and is BROADCAST; the
    corpus row joins each of its ``max_hamming + 1`` block keys against
    the matching chunk's broadcast table (1:<=1 equi-joins — row count
    never changes) and evaluates the popcount verify as an ``exists``
    over the matched array. ZERO corpus-side shuffle and no explode: the
    previous formulation exploded the corpus x(h+1) and re-collapsed it
    with a ``max(flag) GROUP BY id`` exchange — a full (id, bool)
    shuffle of the corpus that existed only to undo the explode.
    Nothing here depends on the contamination rate (a broadcast of the
    hit-id set would).
    """
    nb = int(max_hamming) + 1
    groups = interleaved_positions(nb)
    # ONE eval-side exchange: ``collect_set`` dedups duplicate
    # (chunk, key, _ep) rows inside the aggregate itself (set order is
    # irrelevant — the probe below is an order-insensitive ``exists``), so
    # the separate distinct exchange the r8 form paid is gone. The per-key
    # array aggregate is pinned eagerly: all nb broadcast builds below
    # read it (lazy, the concurrent stage materializations would race and
    # compute it twice).
    evg = (
        blocked_keys(
            eval_df.select(F.col(eval_phash_col).alias("_ep")),
            "_ep", max_hamming, hash_out="_ep",
        )
        .groupBy("chunk", "key")
        .agg(F.collect_set("_ep").alias("_eps"))
        .localCheckpoint(eager=True)
    )
    out = imgs.select(id_col, phash_col)
    flags = []
    for c, grp in enumerate(groups):
        evc = evg.filter(F.col("chunk") == c).select(
            F.col("key").alias(f"_k{c}"), F.col("_eps").alias(f"_eps{c}")
        )
        out = out.join(
            F.broadcast(evc),
            gather_bits(F.col(phash_col), grp) == F.col(f"_k{c}"),
            "left",
        ).drop(f"_k{c}")
        flags.append(F.coalesce(
            F.exists(
                F.col(f"_eps{c}"),
                lambda e: F.bit_count(F.col(phash_col).bitwiseXOR(e))
                <= max_hamming,
            ),
            F.lit(False),
        ))
    contaminated = flags[0]
    for fl in flags[1:]:
        contaminated = contaminated | fl
    return out.select(id_col, contaminated.alias("contaminated"))


# ---------------------------------------------------------------------------
# Aspect-ratio bucketing + fixed-size batch packing

# SDXL-ish default bucket set as exact rationals (w, h) — the RULE is
# "nearest aspect by |w/h - bw/bh| in IEEE doubles, ties to the lower
# bucket index", which both Spark and any SQL engine evaluate identically
# (division, subtraction, abs and compare are all exactly-rounded IEEE
# ops; no libm functions are involved).
DEFAULT_BUCKETS: tuple[tuple[int, int], ...] = (
    (1, 2), (9, 16), (3, 4), (1, 1), (4, 3), (16, 9), (2, 1),
)


def bucket_expr(
    w_col: str, h_col: str, buckets: Sequence[tuple[int, int]]
) -> F.Column:
    """Nearest-aspect bucket index as a pure codegen Column: argmin over
    ``abs(w/h - bw/bh)``, ties broken toward the LOWER bucket index (the
    sort key is the (distance, index) struct)."""
    aspect = F.col(w_col).cast("double") / F.col(h_col).cast("double")
    entries = [
        F.struct(
            F.abs(aspect - F.lit(bw / bh)).alias("d"),
            F.lit(i).alias("i"),
        )
        for i, (bw, bh) in enumerate(buckets)
    ]
    return F.array_min(F.array(*entries))["i"]


def aspect_bucket_pack(
    imgs: DataFrame,
    batch_size: int,
    buckets: Sequence[tuple[int, int]] = DEFAULT_BUCKETS,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Aspect-ratio bucketing + deterministic fixed-size batch packing —
    how image-generation training (SDXL et al.) consumes a corpus: every
    image joins its nearest-aspect bucket, each bucket's images are packed
    in ``id_col`` order into batches of exactly ``batch_size`` (the last
    batch per bucket may be short).

    Output: (id_col, bucket, batch_index, slot) — ``batch_index`` is the
    0-based batch within the bucket, ``slot`` the 0-based position inside
    the batch. (bucket, batch_index, slot) is a bijection onto the dense
    per-bucket rank, so downstream loaders can iterate batches directly.

    Scale shape: the naive form — ``row_number() OVER (PARTITION BY
    bucket ORDER BY id)`` — funnels a 10^12-row corpus through ~7 tasks
    (one per bucket). Instead the rank is the distributed prefix sum
    (``operators/prefix.py``): range-repartition by (bucket, id) so each
    partition holds a contiguous id-run of one-or-few buckets, COUNT per
    (partition, bucket) — O(partitions x buckets) driver data — turn the
    counts into per-(partition, bucket) base offsets, and add the
    partition-LOCAL rank. Every partition works independently; the only
    full-data movement is the single range repartition any global order
    costs."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    base, rank, _ = prefix_sum(
        imgs.select(
            F.col(id_col).alias("id"),
            bucket_expr(w_col, h_col, buckets).alias("bucket"),
        ),
        order_cols=["id"],
        group_cols=["bucket"],
    )
    b = F.lit(int(batch_size))
    return base.select(
        F.col("id").alias(id_col),
        "bucket",
        F.floor(rank / b).cast("long").alias("batch_index"),
        (rank % b).cast("long").alias("slot"),
    )


def epoch_schedule(
    batches: DataFrame,
    world_size: int,
    seed: str = "epoch0",
    bucket_col: str = "bucket",
    batch_col: str = "batch_index",
) -> DataFrame:
    """Deterministic training-epoch schedule over packed batches — the
    step AFTER :func:`aspect_bucket_pack`: the trainer's data-parallel
    ranks must consume the batches of one epoch in a seeded pseudo-random
    order that (a) every rank can recompute independently and (b) changes
    per epoch (vary ``seed``), without ever materializing a permutation
    on the driver.

    Output: one row per distinct (bucket_col, batch_col) —
    ``global_step`` (which optimizer step consumes the batch) and
    ``dp_rank`` (which data-parallel rank loads it). Position in the
    epoch is the rank of ``md5(seed:bucket:batch)`` (ties — impossible in
    practice — break on the key itself); step = position // world_size,
    rank = position % world_size, so each step consumes exactly
    ``world_size`` batches, one per rank, and a resumed run can skip to
    any step by filtering ``global_step >= resume_at``.

    Scale shape: the input collapses to batch KEYS first (batch_size x
    smaller than the corpus; image payload never enters — and the
    distinct's map-side partial aggregation dedups BEFORE its exchange,
    so only deduped keys ever shuffle). A naive ``row_number() OVER
    (ORDER BY md5)`` is a single-partition sort — ~10^10 batch keys at
    the 10^12-row target — so the position is the distributed prefix sum
    (``operators/prefix.py``): bucket by the hash key, per-bucket COUNT
    (O(buckets) driver data), base offsets + bucket-local rank. Unlike
    a range layout, the order key here is
    an md5 hex string — uniform BY CONSTRUCTION — so the bucket id is
    derived directly from the first 8 hex digits (integer-exact, and
    monotone in the string order because fixed-length lowercase-hex
    compares lexicographically as its numeric value): no
    ``repartitionByRange``, which meant no range-boundary SAMPLING pass
    (a whole extra evaluation of the deduped key set, plus a serial
    barrier before the exchange could start — guide §2: remove passes
    you can compute instead). Buckets outnumber partitions 8:1 so the
    hash exchange spreads evenly (guide §2.5)."""
    if world_size < 1:
        raise ValueError(f"world_size must be >= 1, got {world_size}")
    okey = F.md5(F.concat_ws(
        ":",
        F.lit(str(seed)),
        F.col(bucket_col).cast("string"),
        F.col(batch_col).cast("string"),
    ))
    nbuck = max(batches.sparkSession.sparkContext.defaultParallelism, 2) * 8
    # _ok is md5's fixed-width (32 digits) lowercase hex: its first 8
    # digits, read as an unsigned 32-bit int, are monotone in the string
    # order, so buckets ascend with _ok. Another key format (mixed case,
    # variable width) would break that and the core's contract with it.
    pid = F.expr(
        f"CAST(CAST(conv(substring(_ok, 1, 8), 16, 10) AS BIGINT) "
        f"* {nbuck} DIV 4294967296 AS INT)"
    )
    base, pos, _ = prefix_sum(
        batches.select(bucket_col, batch_col).distinct()
        .select(okey.alias("_ok"), bucket_col, batch_col),
        order_cols=["_ok", bucket_col, batch_col],
        pid=pid,
    )
    w = F.lit(int(world_size))
    return base.select(
        bucket_col,
        batch_col,
        F.floor(pos / w).cast("long").alias("global_step"),
        (pos % w).cast("long").alias("dp_rank"),
    )


def bucket_targets(
    buckets: Sequence[tuple[int, int]] = DEFAULT_BUCKETS,
    base_area: int = 1024 * 1024,
    multiple: int = 64,
) -> tuple[tuple[int, int], ...]:
    """Per-bucket target (w, h): the SDXL convention — every bucket's
    resolution has ~``base_area`` pixels, dims follow the bucket aspect
    and snap to ``multiple`` (latent/patch alignment). Deterministic pure
    integer math, so trainers and loaders agree without coordination."""
    out = []
    for bw, bh in buckets:
        w = float(base_area * bw / bh) ** 0.5
        out.append((
            max(multiple, int(round(w / multiple)) * multiple),
            max(multiple, int(round((base_area / w) / multiple)) * multiple),
        ))
    return tuple(out)


def bucket_resize(
    imgs: DataFrame,
    buckets: Sequence[tuple[int, int]] = DEFAULT_BUCKETS,
    targets: Sequence[tuple[int, int]] | None = None,
    base_area: int = 64 * 64,
    multiple: int = 8,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Resize every image to ITS bucket's target resolution — the stage
    between admission/packing and the trainer (a packed batch must be
    dimension-uniform to collate): decode, area-resample to
    ``targets[bucket]``, re-encode, in ONE Arrow stage keyed by the
    already-computed ``bucket_col`` (no shuffle — the target table is a
    plain literal dict in the closure). Defaults size targets for the
    test codec scale; pass ``targets=bucket_targets(buckets)`` for the
    SDXL 1024² geometry.

    Output: (id_col, bucket, bytes, w, h, src_w, src_h) with w/h the
    TARGET dims. Pixel semantics are :func:`functions/image.resize_area`
    (exact box mean; constants stay bit-exact) — pinned in pytest, not
    SQL-expressible (like overviews/quality metrics)."""
    tg = tuple(targets) if targets is not None else bucket_targets(
        buckets, base_area=base_area, multiple=multiple
    )
    if len(tg) != len(buckets):
        raise ValueError(f"targets has {len(tg)} entries for {len(buckets)} buckets")
    out_schema = (
        f"{id_col} string, {bucket_col} int, bytes binary, "
        "w int, h int, src_w int, src_h int"
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tilecloud_chain_spark.functions import image as IMG

        for pdf in it:
            rows = []
            for rid, bkt, buf, fmt in zip(
                pdf[id_col], pdf[bucket_col], pdf[bytes_col], pdf[fmt_col]
            ):
                tw, th = tg[int(bkt)]
                img = IMG.decode(bytes(buf), fmt)
                small = IMG.resize_area(img, th, tw)
                rows.append((
                    str(rid), int(bkt), IMG.encode(small, fmt), tw, th,
                    int(img.shape[1]), int(img.shape[0]),
                ))
            yield pd.DataFrame(
                rows,
                columns=[id_col, bucket_col, "bytes", "w", "h",
                         "src_w", "src_h"],
            )

    return imgs.select(id_col, bucket_col, bytes_col, fmt_col).mapInPandas(
        _batches, out_schema
    )


# ---------------------------------------------------------------------------
# Decoded-pixel quality metrics


def image_quality_metrics(
    imgs: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Decoded-pixel quality signals per image — the curation features a
    LAION-style pipeline filters on before any model-based scoring:

    - ``sharpness``: variance of the 3x3 Laplacian of the grayscale plane
      (the standard blur detector — low variance == blurry/flat);
    - ``entropy``: Shannon entropy of the 256-bin grayscale histogram in
      bits (0 for solid color, ~8 for noise) — catches placeholder and
      junk images;
    - ``brightness`` / ``contrast``: grayscale mean / std.

    One Arrow batch stage over the real codec path (``functions/image``),
    decode + all four metrics in a single pass per image — no shuffle, no
    per-row Python. Pixel math is float64 numpy; results are rounded to
    4dp for cross-run determinism."""
    out_schema = (
        f"{id_col} string, sharpness double, entropy double, "
        "brightness double, contrast double"
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tilecloud_chain_spark.functions import image as IMG

        for pdf in it:
            rows = []
            for rid, buf, fmt in zip(pdf[id_col], pdf[bytes_col], pdf[fmt_col]):
                px = IMG.decode(bytes(buf), fmt).astype(np.float64)
                gray = px.mean(axis=2) if px.ndim == 3 else px
                lap = (
                    -4.0 * gray[1:-1, 1:-1]
                    + gray[:-2, 1:-1] + gray[2:, 1:-1]
                    + gray[1:-1, :-2] + gray[1:-1, 2:]
                ) if min(gray.shape) >= 3 else np.zeros((1, 1))
                hist = np.bincount(
                    np.clip(gray, 0, 255).astype(np.int64).ravel(), minlength=256
                )
                p = hist[hist > 0] / gray.size
                rows.append((
                    str(rid),
                    round(float(lap.var()), 4),
                    round(float(-(p * np.log2(p)).sum()), 4),
                    round(float(gray.mean()), 4),
                    round(float(gray.std()), 4),
                ))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "sharpness", "entropy", "brightness", "contrast"],
            )

    return imgs.select(id_col, bytes_col, fmt_col).mapInPandas(_batches, out_schema)


# ---------------------------------------------------------------------------
# Composed admission decision (the image twin of the text clean_corpus)


def image_graph(imgs, eval_df, clip_pairs, *, clip_threshold, dedup_hamming,
                caption_near_threshold, decontam_hamming, batch_size, buckets,
                world_size=8, seed="epoch0", id_col="image_id", w_col="w",
                h_col="h") -> list[Node]:
    """The image capstone's stage graph, declared once for the composed
    operator (:func:`image_admission`, which stops at ``batches``) and the
    staged plan (``plans/curation.py:curate_images``); ``plans/graph.py``
    runs it::

        dedup     image_caption_dedup      (id, dup_group, keep)
        decontam  phash_decontaminate      (id, contaminated)    [eval_df]
        clip      clip_filter              (id, clip_score, keep) [clip_pairs]
        admitted  compose_admission_flags  (id, w, h, bucket, flags, admitted)
        batches   aspect_bucket_pack over the admitted rows
        schedule  epoch_schedule over the batch keys

    dedup, decontam and clip read only the inputs, so they form one
    concurrent wave. The parameters are :func:`image_admission`'s and
    ``curate_images``' (``world_size``, ``seed``), which hold their
    defaults."""
    nodes = [Node("dedup", (), lambda ins: image_caption_dedup(
        imgs, dedup_hamming, id_col=id_col,
        caption_near_threshold=caption_near_threshold,
    ).select(id_col, "dup_group", "keep"))]
    if eval_df is not None:
        nodes.append(Node("decontam", (), lambda ins: phash_decontaminate(
            imgs, eval_df, decontam_hamming, id_col=id_col,
        ).select(id_col, "contaminated")))
    if clip_pairs is not None:
        nodes.append(Node("clip", (), lambda ins: clip_filter(
            clip_pairs, clip_threshold, id_col=id_col,
        ).select(id_col, "clip_score", "keep")))

    def _admitted(ins: dict) -> DataFrame:
        base = imgs.select(
            id_col, w_col, h_col,
            bucket_expr(w_col, h_col, buckets).alias("bucket"),
        )
        ck, ct = ins.get("clip"), ins.get("decontam")
        return compose_admission_flags(
            base,
            ins["dedup"].select(id_col, F.col("keep").alias("dedup_keep")),
            clip_flags=None if ck is None
            else ck.select(id_col, F.col("keep").alias("_ck")),
            contam_flags=None if ct is None
            else ct.select(id_col, F.col("contaminated").alias("_ct")),
            id_col=id_col,
        )

    return nodes + [
        Node("admitted", tuple(n.name for n in nodes), _admitted),
        Node("batches", ("admitted",), lambda ins: aspect_bucket_pack(
            ins["admitted"].filter(F.col("admitted")), batch_size, buckets,
            id_col=id_col, w_col=w_col, h_col=h_col,
        ).select(id_col, "bucket", "batch_index", "slot")),
        Node("schedule", ("batches",), lambda ins: epoch_schedule(
            ins["batches"], world_size, seed=seed)),
    ]


def image_admission(
    imgs: DataFrame,
    eval_df: DataFrame | None = None,
    clip_pairs: DataFrame | None = None,
    *,
    clip_threshold: float = 0.28,
    dedup_hamming: int = 6,
    caption_near_threshold: float | None = None,
    decontam_hamming: int = 2,
    batch_size: int = 64,
    buckets: Sequence[tuple[int, int]] = DEFAULT_BUCKETS,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """The end-to-end admission decision an image training pipeline runs
    over the north-rule table — the image twin of the text
    ``clean_corpus`` composition: one row per image with every stage flag
    and the final training-batch coordinates. :func:`image_graph` run in
    memory up to ``batches``.

    Stages (each the module's scale-path operator, composed as-is):

    - ``clip_keep`` — caption-image alignment (:func:`clip_filter`) when
      ``clip_pairs`` (id, img_vec, txt_vec) is given; an image whose
      embeddings are missing (NULL vectors or no pair row) is NOT
      filtered — the flag defaults TRUE, matching how a corpus is
      admitted while its embedding backfill is still running;
    - ``contaminated`` — eval-set leakage by phash radius
      (:func:`phash_decontaminate`) when ``eval_df`` is given;
    - ``dedup_keep`` — caption-equal OR phash-near pair dedup, min-id
      survivor per connected component
      (``operators/image_dedup.py:image_caption_dedup``);
      ``caption_near_threshold`` additionally connects caption NEAR-dups
      (MinHash-LSH over one representative per distinct caption — the r7
      edge family catching a re-encode whose caption was trivially
      edited);
    - ``admitted`` = clip_keep AND NOT contaminated AND dedup_keep;
    - ``bucket`` for every image (:func:`bucket_expr`), and
      ``batch_index``/``slot`` (:func:`aspect_bucket_pack`) packed over
      the ADMITTED set only (NULL otherwise) — batches are what the
      trainer consumes, so rejected images must not occupy slots.

    Scale shape: every stage output is a narrow (id, flag) table joined
    back on the single id key — with AQE these are co-partitioned
    shuffles of boolean rows, never image payload; the packing prefix-sum
    runs only over the admitted survivors. The flag table is
    localCheckpointed at the branch point (output + packing input) so the
    CC/decontam lineage is not re-executed per branch; on a real cluster
    prefer ``spark.sparkContext.setCheckpointDir`` + the reliable flag on
    ``connected_components`` (see SCALE.md).
    """
    out = run(image_graph(
        imgs, eval_df, clip_pairs,
        clip_threshold=clip_threshold, dedup_hamming=dedup_hamming,
        caption_near_threshold=caption_near_threshold,
        decontam_hamming=decontam_hamming, batch_size=batch_size,
        buckets=buckets, id_col=id_col, w_col=w_col, h_col=h_col,
    ), ("admitted", "batches"))
    return assemble_admission(out["admitted"], out["batches"], id_col=id_col)


def compose_admission_flags(
    base: DataFrame,
    dedup_flags: DataFrame,
    clip_flags: DataFrame | None = None,
    contam_flags: DataFrame | None = None,
    id_col: str = "image_id",
) -> DataFrame:
    """THE admission rule, in one place (used by both the composed
    operator and the staged ``plans/curation.py`` pipeline): join the
    narrow flag tables onto ``base`` (id, w, h, bucket) and compute

        admitted = clip_keep AND NOT contaminated AND dedup_keep

    with the stated defaults — a missing clip row (embedding backfill
    still running) keeps the image (TRUE); a missing contamination row
    means not contaminated (FALSE). ``clip_flags`` carries (id, _ck),
    ``contam_flags`` (id, _ct), ``dedup_flags`` (id, dedup_keep)."""
    if clip_flags is not None:
        base = base.join(clip_flags, id_col, "left")
        clip_keep = F.coalesce(F.col("_ck"), F.lit(True))
    else:
        clip_keep = F.lit(True)
    if contam_flags is not None:
        base = base.join(contam_flags, id_col, "left")
        contaminated = F.coalesce(F.col("_ct"), F.lit(False))
    else:
        contaminated = F.lit(False)
    base = base.join(dedup_flags, id_col)
    admitted = clip_keep & ~contaminated & F.col("dedup_keep")
    keep = [c for c in base.columns if c not in
            (id_col, "_ck", "_ct", "dedup_keep")]
    return base.select(
        F.col(id_col),
        *keep,
        clip_keep.alias("clip_keep"),
        contaminated.alias("contaminated"),
        "dedup_keep",
        admitted.alias("admitted"),
    )


def assemble_admission(
    staged: DataFrame, packed: DataFrame, id_col: str = "image_id"
) -> DataFrame:
    """Final admission-table shape shared by the operator and the staged
    plan: flags left-joined with the (id, batch_index, slot) columns of
    the admitted rows' packing — rejected rows keep their bucket but no
    slot."""
    packed = packed.select(id_col, "batch_index", "slot")
    return staged.join(packed, id_col, "left").select(
        id_col, "clip_keep", "contaminated", "dedup_keep", "admitted",
        "bucket", "batch_index", "slot",
    )

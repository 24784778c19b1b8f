"""Benchmark harness for what ``perfbench/`` does not measure; prints ONE
JSON line and writes BENCH.md.

- The BASELINE.json north rule's two-cluster-size scaling pair: the same
  flagship pipeline at local[N] and local[4N] (N = $SPARK_GRAFT_SCALE_N,
  default 1) on identical input, with its efficiency against the >= 0.8
  target. The pair is refused, its message standing where the measurement
  would be, when 4N is more than the usable cores: there local[4N] only
  time-slices fewer cores and its efficiency measures nothing. Skip it
  with SPARK_GRAFT_SCALING=0.
- Per-query wall seconds at $SPARK_GRAFT_SF_DIR (default sf0.1) on
  local[$SPARK_GRAFT_CPUS] (default: the usable cores), min-of-N, with a
  host-phase factor, for the operators neither perfbench workload runs
  (``WORKLOADS``).
- ``python bench.py --skew``: the dedup family on duplicate-flooded
  fixtures, written to SKEW_BENCH.json and rendered into BENCH.md by the
  next ``python bench.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# One BLAS thread per task — cluster hygiene (executors pin BLAS to the task
# slot) AND measurement correctness: unpinned, numpy's OpenBLAS spawns extra
# threads per python worker, inflating the 1-core baseline and thrashing at
# 4+ workers (measured: the identical ingest kernel scales 0.75 unpinned vs
# 1.02 pinned). Must be set before numpy loads anywhere; local-mode python
# workers inherit it through the JVM's environment.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from tilecloud_chain_spark.config import SWISSGRID_5  # noqa: E402
from tilecloud_chain_spark.operators import spatial as SP  # noqa: E402
from tilecloud_chain_spark.session import get_spark  # noqa: E402
from tilecloud_chain_spark.sources import enumerate as EN  # noqa: E402
from tilecloud_chain_spark.sources.images import position_exprs  # noqa: E402

GRID = SWISSGRID_5
QUERY_REPS = int(os.environ.get("SPARK_GRAFT_QUERY_REPS", "3"))

# Host-phase indicator: this shared VM drifts through multi-minute speed
# phases (observed ±2x). A fixed single-thread CPU kernel (zlib level-1 over
# 24 MB + md5, x4) is timed before and after the per-query block; times are
# published raw AND divided by calib/nominal, so a reader can separate code
# changes from host phase without re-running.
# The nominal is the minimum of 45 samples of ``_host_phase_calib`` on a
# 4-vCPU x86_64 Intel Xeon host with no Spark process running (three
# batches of 15, 0.5 s apart; batch minima 0.380, 0.363 and 0.345 s),
# recorded 2026-10-19. The 32-vCPU host of rounds 1-9 gave 0.33 s
# (2026-08-16).
CALIB_NOMINAL = 0.345  # seconds


def _here(name: str) -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), name)


def _host_phase_calib() -> float:
    import hashlib
    import zlib

    data = bytes(range(256)) * (24 * 1024 * 4)  # 24 MB
    t0 = time.perf_counter()
    for _ in range(4):
        zlib.compress(data, 1)
        hashlib.md5(data).digest()
    return time.perf_counter() - t0


def _read_docs(spark: SparkSession, sf_dir: str):
    """documents table, split to the session's parallelism: the sf parquet
    is ONE scan partition, which would run every Arrow-UDF stage on one
    core, where a real table arrives in thousands of splits."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.repartition(spark.sparkContext.defaultParallelism * 2)


def w_frame_dedup(spark: SparkSession, sf_dir: str) -> int:
    """Multimodal video path: synth 2k videos -> sample frames -> per-frame
    phash (Arrow batches) -> cross-video near-dup block join."""
    from tilecloud_chain_spark.sources import media as M

    media = M.synth_media(spark, 2000, kind="video")
    frames = M.sample_frames(media, every_n=2)
    return M.frame_near_dup_pairs(frames, max_hamming=4).count()


def w_expire(spark: SparkSession, sf_dir: str) -> int:
    """Expire-tiles union over a 100k-tile blob (one edge-parity shuffle)."""
    from tilecloud_chain_spark.operators import expire as EX

    side = 316  # ~100k tiles in one connected blob
    tiles = (
        spark.range(side * side)
        .select(F.lit(14).alias("z"),
                (F.col("id") % side + 5000).alias("x"),
                (F.col("id") / side).cast("long").alias("y"))
        .withColumn("y", F.col("y") + 4000)
    )
    return EX.boundary_edges(tiles).count()


def w_line_dedup(spark: SparkSession, sf_dir: str) -> int:
    """Corpus line dedup (ccnet boilerplate removal) over synthesized
    3-line pages with a shared boilerplate line in every page: posexplode +
    first-occurrence min-struct aggregation + join + reassembly."""
    from tilecloud_chain_spark.operators.dedup import dedup_lines
    from tilecloud_chain_spark.operators.text import tokens

    docs = _read_docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    pages = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat_ws(" ", F.slice(toks, 1, 12)),
            F.lit("subscribe to our newsletter today"),
            F.concat_ws(" ", F.slice(toks, 13, 12)),
        ).alias("text"),
    )
    return dedup_lines(pages).count()


def w_bpe(spark: SparkSession, sf_dir: str) -> int:
    """Merge-table BPE: distributed word count + 60 driver-side merges +
    Arrow-batched greedy encode of every document."""
    from tilecloud_chain_spark.operators import bpe as BP

    docs = _read_docs(spark, sf_dir)
    merges = BP.train_bpe(docs, num_merges=60, max_vocab=20000)
    return BP.bpe_encode(docs, merges).count()


def w_overviews(spark: SparkSession, sf_dir: str) -> int:
    """Pyramid overview building: 1024 synthetic 128px child tiles ->
    256 parents (one parent-key shuffle; decode/compose/resample/encode in
    one Arrow stage)."""
    from tilecloud_chain_spark.functions import image as IMG
    from tilecloud_chain_spark.operators.raster import build_overviews

    ts = 128
    side = 32  # 32x32 children -> 16x16 parents
    base = spark.range(side * side).select(
        F.lit(6).alias("z"),
        (F.col("id") % side).cast("int").alias("x"),
        (F.col("id") / side).cast("int").alias("y"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            datas = [
                IMG.png_encode(IMG.synth_pixels(int(z) * 100000 + int(x) * 317 + int(y), ts, ts))
                for z, x, y in zip(pdf["z"], pdf["x"], pdf["y"])
            ]
            out = pdf.copy()
            out["data"] = datas
            yield out

    tiles = base.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        synth, "z int, x int, y int, data binary"
    )
    return build_overviews(tiles, ts).count()


def w_url_dedup(spark: SparkSession, sf_dir: str) -> int:
    """URL canonicalization + first-wins dedup at sf (gate fixture shape:
    4 messy spellings of one logical URL per group) — pure codegen columns
    + one min-agg shuffle."""
    from tilecloud_chain_spark.operators.urls import url_dedup

    docs = _read_docs(spark, sf_dir).select("doc_id")
    g = F.floor(F.col("doc_id") / F.lit(4)).cast("long").cast("string")
    h = F.pmod(F.floor(F.col("doc_id") / F.lit(4)).cast("long"), F.lit(5)).cast("string")
    v = F.pmod(F.col("doc_id"), F.lit(4))
    url = (
        F.when(v == 0, F.concat(F.lit("HTTP://CDN"), h, F.lit(".Example.COM:80/docs/page"), g, F.lit("?b=2&a=1")))
        .when(v == 1, F.concat(F.lit("http://cdn"), h, F.lit(".example.com/docs//page"), g, F.lit("/?a=1&b=2")))
        .when(v == 2, F.concat(F.lit("http://cdn"), h, F.lit(".example.com/docs/page"), g, F.lit("?utm_source=feed&a=1&b=2#frag")))
        .otherwise(F.concat(F.lit("http://cdn"), h, F.lit(".example.com./docs/page"), g, F.lit("?a=1&utm_campaign=x&b=2")))
    )
    return url_dedup(docs.withColumn("url", url)).filter(F.col("keep")).count()


def w_span_dedup(spark: SparkSession, sf_dir: str) -> int:
    """Substring-span dedup at sf: a 6-token boilerplate span injected into
    every doc (the gate fixture shape) — window hashing + first-occurrence
    agg + island merge + reassembly."""
    from tilecloud_chain_spark.operators.dedup import dedup_spans
    from tilecloud_chain_spark.operators.text import tokens

    docs = _read_docs(spark, sf_dir).select("doc_id", "text")
    toks = tokens(F.col("text"))
    pages = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.concat_ws(" ", F.slice(toks, 1, 8)),
            F.lit("click here to subscribe and win"),
            F.concat_ws(" ", F.slice(toks, 9, 8)),
        ).alias("text"),
    )
    out = dedup_spans(pages, n=5)
    return out.agg(
        F.sum(F.length("clean_text")), F.sum("n_removed")
    ).collect()[0][0]


def w_semantic_dedup(spark: SparkSession, sf_dir: str) -> int:
    """SemDeDup at sf: distributed k-means fit (1 Lloyd round) + cluster
    partition + within-cluster cosine graph + rep-level CC keep flags."""
    from tilecloud_chain_spark.operators.similarity import kmeans_fit, semantic_dedup

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).repartition(spark.sparkContext.defaultParallelism)
    cents = kmeans_fit(embs, k=32, iters=1)
    cent_df = spark.createDataFrame(
        [(j, [float(x) for x in cents[j]]) for j in range(len(cents))],
        "cluster int, cvec array<double>",
    )
    return semantic_dedup(embs, cent_df, threshold=0.97).count()


def w_warc_extract(spark: SparkSession, sf_dir: str) -> int:
    """Bytes-first crawl ingestion at sf: WARC record splitting +
    charset-sniffing decode over the gate fixture's multi-record blobs —
    the front door ahead of html_extract. Full-materialization agg so
    neither framing nor decode prunes from the plan."""
    import __spark_entry__ as E

    out = E.q_warc_extract_docs(spark, sf_dir)
    r = out.agg(
        F.sum(F.length("html")).alias("chars"),
        F.count("*").alias("n"),
    ).collect()[0]
    return int(r["chars"]) + int(r["n"])


WORKLOADS = {
    "frame_dedup": w_frame_dedup,
    "expire": w_expire,
    "line_dedup": w_line_dedup,
    "bpe": w_bpe,
    "overviews": w_overviews,
    "url_dedup": w_url_dedup,
    "span_dedup": w_span_dedup,
    "semantic": w_semantic_dedup,
    "warc_extract": w_warc_extract,
}


def _run_all(spark, sf_dir, reps: int = 1):
    """One warm pass per call; with reps > 1 the whole query BLOCK repeats
    (interleaved across the host's speed phases, like the scaling pairs)
    and the per-query minimum is kept — a single slow-phase pass cannot
    masquerade as a code regression."""
    times: dict[str, float] = {}
    for _ in range(max(1, reps)):
        for name, fn in WORKLOADS.items():
            t0 = time.perf_counter()
            fn(spark, sf_dir)
            dt = round(time.perf_counter() - t0, 3)
            times[name] = min(times.get(name, dt), dt)
    return times


SCALE_N = int(os.environ.get("SPARK_GRAFT_SCALE_N", "1"))
SCALE_4N = SCALE_N * 4
SCALE_DOCS = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "120000"))
SCALE_IMGS = int(os.environ.get("SPARK_GRAFT_SCALE_IMGS", "40000"))
SCALE_PTS = int(os.environ.get("SPARK_GRAFT_SCALE_PTS", "96000000"))
SCALE_REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "5"))
#: the north rule's throughput-scaling efficiency target from N to 4N
SCALE_TARGET = 0.8
_STAGES = ("ingest_phash", "assign_join", "minhash")


def _scaling_run(spark, parts: int, sf_dir: str) -> dict:
    """One timed pass of the flagship pipeline, staged: multimodal ingest
    (synth+encode+phash), tile assign + cell join (sized so the stage is
    work-dominated, not task-launch-dominated), MinHash dedup signatures;
    after a 1/10-size warm-up (JIT, codegen, python-worker spin-up).

    ``parts`` is the partition count — FIXED across the two parallelism
    levels of a scaling pair. On a real cluster the partitioning is a
    property of the data and the job, not of the executor count; letting the
    partition count follow the core count would charge the higher level
    with 4x the per-task overhead and measure the scheduler, not the
    engine's scaling."""
    from pyspark.sql.functions import broadcast

    from tilecloud_chain_spark.functions import gridmath as GMM
    from tilecloud_chain_spark.operators.dedup import minhash_signatures_udf
    from tilecloud_chain_spark.sources.images import synth_images

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    reps = max(1, SCALE_DOCS // docs.count())
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    big_docs = docs.crossJoin(broadcast(rep)).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"), "text"
    ).repartition(parts)

    # each stage runs ``frac`` of its full size
    def ingest_phash(frac):
        df = synth_images(spark, int(SCALE_IMGS * frac), GRID, size=32, partitions=parts)
        return df.select(F.sum(F.length("bytes"))).collect()[0][0]

    def assign_join(frac):
        x, y = position_exprs(F.col("id"), GRID)
        pts = spark.range(0, int(SCALE_PTS * frac), 1, parts).select(
            F.col("id").alias("pid"), x, y
        )
        a = SP.assign_tiles(pts, GRID, [3]).select("pid", "cell")
        tiles = EN.dense_tiles(spark, GRID, [3]).select(
            GMM.cell_key(F.col("z"), F.col("x"), F.col("y"))
        )
        return a.join(broadcast(tiles), "cell").count()

    def minhash(frac):
        d = big_docs if frac == 1 else big_docs.sample(frac, seed=1)
        return minhash_signatures_udf(d, num_hashes=16).count()

    stages = (ingest_phash, assign_join, minhash)
    for fn in stages:
        fn(0.1)
    out = {}
    for fn in stages:
        t0 = time.perf_counter()
        fn(1)
        out[fn.__name__] = round(time.perf_counter() - t0, 2)
    out["total"] = round(sum(out.values()), 2)
    return out


def _measure_pair(lo: int, hi: int, sf_dir: str, reps: int) -> dict:
    """Run the staged pipeline at two parallelism levels on identical input;
    efficiency = (sec_lo / sec_hi) / (hi / lo).

    The levels are INTERLEAVED (lo rep, hi rep, …), each rep in a fresh
    session, and the per-stage minimum kept per level: the host's speed
    drifts in multi-minute phases, and block-ordered reps let one level
    land in a slow phase (observed 0.79-0.92 across block-ordered runs).
    Each rep pair's own efficiency is published too: a host phase landing
    on one rep moves their min, a genuine code regression their max."""
    import statistics

    # fixed across both levels of the pair; >= 8 tasks per core at the high
    # level so a straggler task on a noisy vCPU costs 1/32 of the stage, not
    # 1/4 of it (tail latency only hurts the parallel level)
    parts = max(hi * 8, 32)
    factor = hi / lo
    best: dict[int, dict | None] = {lo: None, hi: None}
    rep_rows: list[dict] = []
    for _ in range(max(1, reps)):
        per_level: dict[int, dict] = {}
        for cores in (lo, hi):
            spark = get_spark(f"bench-{cores}", cores=cores, shuffle_partitions=parts)
            spark.sparkContext.setLogLevel("ERROR")
            run = _scaling_run(spark, parts, sf_dir)
            per_level[cores] = run
            b = best[cores]
            best[cores] = run if b is None else {k: min(b[k], run[k]) for k in run}
            spark.stop()
            time.sleep(1)
        rep_rows.append({
            "sec_n": per_level[lo]["total"],
            "sec_4n": per_level[hi]["total"],
            "efficiency": round(
                (per_level[lo]["total"] / per_level[hi]["total"]) / factor, 3
            ),
        })
    for b in best.values():
        b["total"] = round(sum(b[k] for k in _STAGES), 2)
    n, n4 = best[lo], best[hi]
    rows = SCALE_IMGS + SCALE_PTS * 2 + SCALE_DOCS  # synthesized+assigned+joined+hashed
    effs = [r["efficiency"] for r in rep_rows]
    return {
        "cores_n": lo,
        "cores_4n": hi,
        "stages_n": n,
        "stages_4n": n4,
        "rows_per_sec_n": round(rows / n["total"]),
        "rows_per_sec_4n": round(rows / n4["total"]),
        "efficiency": round((n["total"] / n4["total"]) / factor, 3),
        "target": SCALE_TARGET,
        "stage_efficiency": {
            k: round((n[k] / n4[k]) / factor, 3) for k in _STAGES
        },
        "rep_efficiencies": rep_rows,
        "efficiency_min": min(effs),
        "efficiency_median": round(statistics.median(effs), 3),
        "efficiency_max": max(effs),
    }


def _scaling(sf_dir: str) -> dict:
    """North-rule evidence (N -> 4N executors, sandbox realization = cores),
    or ``{"refused": <message>}`` when local[4N] would need more than the
    usable cores (the affinity set, which a container narrows below
    ``os.cpu_count()``)."""
    usable = len(os.sched_getaffinity(0))
    if SCALE_4N > usable:
        return {"refused": f"local[{SCALE_4N}] needs {SCALE_4N} cores; this host has {usable} usable"}
    return _measure_pair(SCALE_N, SCALE_4N, sf_dir, SCALE_REPS)


# -- adversarial skew bench (``--skew``): measure, not just argue, the dedup
# family's skew-safety claims on duplicate-flooded fixtures.

#: ~560-byte boilerplate line — realistic byte pressure for the hot key
_BOILER_LINE = " ".join(f"boilerplate{i}" for i in range(40))
_BOILER_PAGE = "free prize click here now to win amazing rewards every day friend"


def _skew_line_docs(spark: SparkSession, n: int, all_dup: bool = False):
    """n three-line pages. ``all_dup=False``: the middle line is IDENTICAL
    in every page (corpus-universal boilerplate) -> ONE line hash carries n
    duplicates while the rest are unique. ``all_dup=True``: every line in
    the corpus is one of 3 universal lines (a mirror-heavy crawl) -> the
    whole shuffle collapses onto 3 keys."""
    if all_dup:
        return spark.range(0, n, 1, 32).select(
            F.col("id").alias("doc_id"),
            F.lit(
                "cookie banner accept all\n" + _BOILER_LINE + "\nall rights reserved"
            ).alias("text"),
        )
    return spark.range(0, n, 1, 32).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("unique "), F.col("id"), F.lit(" alpha\n"),
            F.lit(_BOILER_LINE + "\n"),
            F.lit("unique "), F.col("id"), F.lit(" beta"),
        ).alias("text"),
    )


def _dedup_lines_window_form(df):
    """The REJECTED dedup_lines formulation, kept to measure the claim
    against it: first occurrence via row_number() over a window on the
    line hash puts all n copies of a line into ONE task's sort, and AQE
    splits skewed joins, not window sorts."""
    from pyspark.sql.window import Window

    lines = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("line_no", "line"),
    ).withColumn("_h", F.md5("line"))
    w = Window.partitionBy("_h").orderBy("id", "line_no")
    marked = lines.withColumn("_is_first", F.row_number().over(w) == 1)
    kept = F.when(F.col("_is_first"), F.struct(F.col("line_no"), F.col("line")))
    return marked.groupBy("id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("_is_first").cast("int")).alias("n_kept"),
        F.concat_ws(
            "\n", F.transform(F.array_sort(F.collect_list(kept)), lambda s: s["line"])
        ).alias("clean_text"),
    )


def _force(out, counter: str) -> tuple:
    """Full-materialization action over a dedup output (a bare count()
    would let Catalyst prune the clean_text reassembly out of the plan)."""
    return tuple(out.agg(F.sum(F.length("clean_text")), F.sum(counter)).collect()[0])


def _unique_docs(spark: SparkSession, n: int, token: str):
    """n mutually-dissimilar 12-token docs (``token`` formats token j)."""
    return spark.range(0, n, 1, 32).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.concat(F.lit(token.format(j)), F.col("id")) for j in range(12)]
        ).alias("text"),
    )


def _skew_pair_docs(spark: SparkSession, n_unique: int, n_copies: int):
    """n_unique mutually-dissimilar docs + n_copies EXACT copies of one
    boilerplate page — every copy lands in the same LSH bucket in every
    band unless exact-collapse removes them before banding."""
    uniq = _unique_docs(spark, n_unique, "w{}x")
    dups = spark.range(0, n_copies, 1, 32).select(
        (F.col("id") + 10_000_000).alias("doc_id"), F.lit(_BOILER_PAGE).alias("text")
    )
    return uniq.unionAll(dups)


def _skew_img_docs(spark: SparkSession, n_unique: int, n_copies: int):
    """n_unique mutually-distant images (md5-derived phashes: P(hamming
    <= 6) ~ 5e-12 per pair) + n_copies rows sharing ONE caption and ONE
    phash, which the star-edge collapse must keep O(n), not n^2 pairs."""
    uniq = spark.range(0, n_unique, 1, 32).select(
        F.col("id").alias("image_id"),
        F.concat(F.lit("uc"), F.col("id")).alias("caption"),
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
        .cast("long").alias("phash"),
    )
    dups = spark.range(0, n_copies, 1, 32).select(
        (F.col("id") + 10_000_000).alias("image_id"),
        F.lit("hot caption").alias("caption"),
        F.lit(123456789123456789).alias("phash"),
    )
    return uniq.unionAll(dups)


#: 50-token span shared by every duplicated page in the span-skew fixture
_SKEW_SPAN = " ".join(f"sp{i}" for i in range(50))


def _skew_span_docs(spark: SparkSession, n_unique: int, n_copies: int):
    """n_unique mutually-unique docs + n_copies docs each containing the
    SAME 50-token span flanked by per-doc unique tokens: every copy's
    interior windows hash-collide corpus-wide — the hot-key fixture for
    dedup_spans (one shingle hash carries n_copies x ~43 occurrences)."""
    uniq = _unique_docs(spark, n_unique, "u{}w")
    dups = spark.range(0, n_copies, 1, 32).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.lit("pre"), F.col("id"),
            F.lit(" " + _SKEW_SPAN + " post"), F.col("id"),
        ).alias("text"),
    )
    return uniq.unionAll(dups)


def _best(fn, reps: int = 3) -> float:
    """Min-of-``reps`` wall seconds of ``fn()``."""
    times = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        times.append(round(time.time() - t0, 3))
    return min(times)


def run_skew_bench() -> None:
    from tilecloud_chain_spark.operators.dedup import (
        dedup_clusters, dedup_lines, dedup_spans, minhash_dedup_pairs,
    )
    from tilecloud_chain_spark.operators.image_dedup import image_caption_dedup

    spark = get_spark("bench-skew")
    cpus = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up (JIT/codegen) on tiny inputs
    _force(dedup_lines(_skew_line_docs(spark, 1000)), "n_kept")
    _force(_dedup_lines_window_form(_skew_line_docs(spark, 1000)), "n_kept")
    minhash_dedup_pairs(_skew_pair_docs(spark, 200, 50), 0.5,
                        exact_pairs="star").count()
    _force(dedup_spans(_skew_span_docs(spark, 200, 50), n=8), "n_removed")
    image_caption_dedup(_skew_img_docs(spark, 200, 50), 6).count()

    results: dict = {
        "line_dedup": [], "pair_dedup": [], "span_dedup": [], "img_dedup": [],
    }

    for n_copies in (300, 3_000, 100_000):
        df = _skew_span_docs(spark, 2_000, n_copies).localCheckpoint(eager=True)
        results["span_dedup"].append({
            "dup_factor": n_copies,
            "sec": _best(lambda: _force(dedup_spans(df, n=8), "n_removed")),
            "hot_windows": n_copies * (50 - 8 + 1),
        })
        df.unpersist()
    for n, all_dup in ((1_000_000, False), (4_000_000, False), (4_000_000, True)):
        docs = _skew_line_docs(spark, n, all_dup).localCheckpoint(eager=True)
        results["line_dedup"].append({
            "dup_factor": n, "regime": "all-dup" if all_dup else "mixed",
            "agg_join_sec": _best(lambda: _force(dedup_lines(docs), "n_kept")),
            "window_sec": _best(lambda: _force(_dedup_lines_window_form(docs), "n_kept")),
            "hot_partition_mb": round(n * len(_BOILER_LINE) / 1e6),
        })
        docs.unpersist()

    def pairs_count(df, collapse):
        out = minhash_dedup_pairs(
            df, 0.5, collapse_exact=collapse,
            exact_pairs="star" if collapse else "expand",
        )
        return out.count()

    for n_copies in (300, 3_000, 100_000):
        df = _skew_pair_docs(spark, 2_000, n_copies).localCheckpoint(eager=True)
        results["pair_dedup"].append({
            "dup_factor": n_copies,
            "collapse_on_sec": _best(lambda: pairs_count(df, True)),
            # 1e5 copies uncollapsed = 8 bands x 1e10 bucket-join rows and
            # 5e9 output pairs — deliberately not executed; the 300->3000
            # slope shows the quadratic trend this extrapolates
            "collapse_off_sec": (
                _best(lambda: pairs_count(df, False), 2) if n_copies < 100_000 else None
            ),
            # the full clustering DECISION (collapse -> rep-level CC ->
            # member label join): duplicate members never enter the CC
            # loop, so this should stay flat in the copy count too
            "clusters_sec": _best(lambda: dedup_clusters(df, 0.5).count()),
        })
        df.unpersist()

    for n_copies in (300, 3_000, 100_000):
        df = _skew_img_docs(spark, 2_000, n_copies).localCheckpoint(eager=True)
        results["img_dedup"].append({
            "dup_factor": n_copies,
            "sec": _best(lambda: image_caption_dedup(df, 6).filter(F.col("keep")).count()),
            # caption-flood with the NEAR-dup family on: the LSH only sees
            # one representative per DISTINCT caption, so this must stay as
            # flat as the exact-only column. Min-of-5: with min-of-3, host
            # noise once put the 300-copy row above the 100k row
            "near_cap_sec": _best(
                lambda: image_caption_dedup(
                    df, 6, caption_near_threshold=0.5
                ).filter(F.col("keep")).count(),
                5,
            ),
            "uncollapsed_pairs": n_copies * (n_copies - 1) // 2,
        })
        df.unpersist()
    spark.stop()

    with open(_here("SKEW_BENCH.json"), "w") as f:
        json.dump({"cpus": cpus, "results": results}, f, indent=2)
    print(json.dumps(results))


def _table(head: list[str], rows) -> list[str]:
    return ["| " + " | ".join(head) + " |", "|" + "---|" * len(head)] + [
        "| " + " | ".join(str(c) for c in row) + " |" for row in rows
    ]


def _skew_section() -> list[str]:
    """Render SKEW_BENCH.json (if present) for BENCH.md."""
    if not os.path.exists(_here("SKEW_BENCH.json")):
        return []
    with open(_here("SKEW_BENCH.json")) as f:
        data = json.load(f)
    r = data["results"]
    return [
        "",
        f"## Adversarial skew bench (dedup family, local[{data['cpus']}])",
        "",
        "`python bench.py --skew`, min-of-N seconds. Line fixture: n three-line",
        "pages sharing a ~560-byte line ('all-dup': every line is one of 3). The",
        "rejected window form sorts every copy of a hot line in one task.",
        "",
        *_table(
            ["line dup factor", "regime", "hot-key bytes in ONE window task",
             "agg+join (shipped)", "window form (rejected)"],
            [(f"{x['dup_factor']:,}", x["regime"], f"~{x['hot_partition_mb']} MB",
              f"{x['agg_join_sec']} s", f"{x['window_sec']} s") for x in r["line_dedup"]],
        ),
        "",
        "Pair fixture: 2000 dissimilar docs + n exact copies of one page (every",
        "copy shares every LSH band bucket unless collapsed):",
        "",
        *_table(
            ["page copies", "collapse ON + star (shipped)",
             "full dedup_clusters (rep-CC)", "collapse OFF"],
            [(f"{x['dup_factor']:,}", f"{x['collapse_on_sec']} s", f"{x['clusters_sec']} s",
              "not run: 8x10^10 bucket-join rows, 5x10^9 output pairs (quadratic)"
              if x["collapse_off_sec"] is None else f"{x['collapse_off_sec']} s")
             for x in r["pair_dedup"]],
        ),
        "",
        "Span fixture: 2000 unique docs + n pages sharing one 50-token span, so",
        "every copy's ~43 interior 8-token windows collide on one hash family:",
        "",
        *_table(
            ["span copies", "hot window occurrences", "dedup_spans"],
            [(f"{x['dup_factor']:,}", f"{x['hot_windows']:,}", f"{x['sec']} s")
             for x in r["span_dedup"]],
        ),
        "",
        "Image fixture: 2000 distant images + n copies sharing ONE caption and",
        "ONE phash; '+caption LSH' re-runs it with caption_near_threshold=0.5:",
        "",
        *_table(
            ["image copies", "uncollapsed pairs avoided", "image_caption_dedup",
             "+caption LSH"],
            [(f"{x['dup_factor']:,}", f"{x['uncollapsed_pairs']:,}", f"{x['sec']} s",
              f"{x['near_cap_sec']} s") for x in r["img_dedup"]],
        ),
    ]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    cpus = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")
    _run_all(spark, sf_dir)  # warm-up pass (JIT, codegen, file listing)
    calib_before = round(_host_phase_calib(), 3)
    times = _run_all(spark, sf_dir, reps=QUERY_REPS)
    calib_after = round(_host_phase_calib(), 3)
    spark.stop()

    phase_factor = round((calib_before + calib_after) / 2.0 / CALIB_NOMINAL, 3)
    result = {
        "metric": "wall seconds for the per-query rows",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "cpus": cpus,
        "data": os.path.basename(sf_dir.rstrip("/")),
        "reps": QUERY_REPS,
        "queries": times,
        "host_phase": {
            "calib_before_sec": calib_before,
            "calib_after_sec": calib_after,
            "nominal_sec": CALIB_NOMINAL,
            "factor": phase_factor,
        },
        "queries_normalized": {
            k: round(v / max(phase_factor, 1e-9), 3) for k, v in times.items()
        },
    }
    if os.environ.get("SPARK_GRAFT_SCALING", "1") != "0":
        result["scaling"] = _scaling(sf_dir)
    _write_bench_md(result)
    print(_headline_line(result))


def _headline_line(result: dict) -> str:
    """The ONE stdout JSON line, kept under the ~2000 characters a line
    capture keeps."""
    line = json.dumps(result, separators=(",", ":"))
    assert len(line) < 1900, f"headline line {len(line)} chars — must stay <1900"
    return line


def _write_bench_md(result: dict) -> None:
    lines = [
        "# BENCH",
        "",
        "Written by `python bench.py`; perfbench/ times the tile job and both",
        "capstones, this file what it does not.",
        "",
        f"## Scaling pair (north rule, local[{SCALE_N}] -> local[{SCALE_4N}])",
        "",
    ]
    s = result.get("scaling")
    if s is None:
        lines.append("Not run (SPARK_GRAFT_SCALING=0).")
    elif "refused" in s:
        lines.append(f"Not measured: {s['refused']}.")
    else:
        n, n4 = s["stages_n"], s["stages_4n"]
        lines += [
            f"One pipeline (PNG-encode + phash {SCALE_IMGS:,} images; assign + cell-join",
            f"{SCALE_PTS:,} points; MinHash {SCALE_DOCS:,} docs) on identical input;",
            f"{len(s['rep_efficiencies'])} interleaved rep pairs, per-stage minimum per level.",
            "",
            *_table(
                ["stage", f"local[{SCALE_N}] sec", f"local[{SCALE_4N}] sec", "efficiency"],
                [(k, n[k], n4[k], s["stage_efficiency"][k]) for k in _STAGES]
                + [("**total**", n["total"], n4["total"], f"**{s['efficiency']}**")],
            ),
            "",
            f"**Scaling efficiency {s['efficiency']}** against the target >= {s['target']}",
            "(efficiency = (sec_N / sec_4N) / 4). Throughput: "
            f"{s['rows_per_sec_n']:,} -> {s['rows_per_sec_4n']:,} rows/s.",
            "Per-rep-pair efficiencies (each pair adjacent in time): "
            + ", ".join(str(r["efficiency"]) for r in s["rep_efficiencies"])
            + f" (min {s['efficiency_min']} / median {s['efficiency_median']} / max"
            f" {s['efficiency_max']}); a host phase moves the min, a regression the max.",
        ]
    hp = result["host_phase"]
    lines += [
        "",
        f"## Per-query rows (local[{result['cpus']}], {result['data']})",
        "",
        f"Min-of-{result['reps']} seconds after a warm-up pass; normalized = sec / {hp['factor']},",
        f"the host-phase factor (a zlib + md5 kernel: {hp['calib_before_sec']} s before,",
        f"{hp['calib_after_sec']} s after, nominal {hp['nominal_sec']} s).",
        "",
        *_table(["query", "sec", "normalized"],
                [(k, v, result["queries_normalized"][k]) for k, v in result["queries"].items()]),
        *_skew_section(),
        "",
    ]
    with open(_here("BENCH.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    if "--skew" in sys.argv:
        run_skew_bench()
    else:
        main()

"""The benchmark workloads: ``tile_pyramid``, and ``admission``, which runs
the text capstone (``CorpusAdmission``) and the staged image capstone
(``ImageAdmissionStaged``) as its two parts. Each one generates its inputs
from the seed, builds a reference output by an independent path and runs
one full job per ``run()``. ``staged(span)`` runs the job's staged form: layer by
layer, each layer's output pinned at its boundary, each layer's calls inside
``span(name, layer)``. The per-layer run makes it twice, once with
``no_span`` and once with the tracer's spans, so the difference is the cost
of tracing alone.

Layers are the repository's modules; a span wraps the calls into the
layer's public functions plus the pin that executes them."""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import nullcontext

import numpy as np
from pyspark.sql import functions as F

import gen

import __spark_entry__ as E
from tilecloud_chain_spark import geometry as G
from tilecloud_chain_spark.checkpoint import CheckpointStore
from tilecloud_chain_spark.config import SWISSGRID_5 as GRID
from tilecloud_chain_spark.functions import gridmath as GM
from tilecloud_chain_spark.operators import corpus as CP
from tilecloud_chain_spark.operators import dedup as DD
from tilecloud_chain_spark.operators import filters as FL
from tilecloud_chain_spark.operators import image_curation as IC
from tilecloud_chain_spark.operators import raster as RS
from tilecloud_chain_spark.operators import spatial as SP
from tilecloud_chain_spark.operators.image_dedup import image_caption_dedup
from tilecloud_chain_spark.plans import curation as PI
from tilecloud_chain_spark.sources import enumerate as EN

#: every layer any workload times, in report order
LAYERS = (
    "operators.spatial", "sources.enumerate", "operators.filters", "operators.raster",
    "operators.html", "operators.text", "operators.langid", "operators.lm",
    "operators.quality", "operators.dedup", "operators.prefix",
    "operators.image_dedup", "operators.image_curation", "checkpoint.store",
)
#: layers that can waste work, and the name of their yield ratio
RATIOS = {
    "operators.filters": "keep_ratio",
    "operators.raster": "nonempty_ratio",
    "operators.dedup": "lsh_pair_yield",
    "checkpoint.store": "write_amp",
}


def no_span(name, layer=None):
    return nullcontext()


_PINNED = []


def pin(df):
    out = df.localCheckpoint(eager=True)
    _PINNED.append(out)
    return out


def release_pins() -> None:
    """Drop the blocks of every pin made so far, so that one run's pins do
    not crowd the next run's execution memory until a JVM GC frees them."""
    while _PINNED:
        _PINNED.pop()._jdf.queryExecution().logical().rdd().unpersist(True)


def digest(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class TilePyramid:
    """The reference's own job over seeded points: point->tile assignment
    on every zoom of SWISSGRID_5, the cell join against the enumerated
    matrix, the geometry-restricted metatile filter, kNN, and render+split
    of the low-zoom metatiles."""

    name = "tile_pyramid"
    ZOOMS = tuple(range(len(GRID.resolutions)))
    RENDER_MAX_Z = 1
    BUFFER_PX = 128
    KNN_ZOOM, KNN_K, QUERIES, CHECK_QUERIES, KNN_CHECK_M = 3, 5, 64, 8, 2000.0
    # the runs after the cold warm-up keep getting faster for a few runs
    # (4.0-4.9 s, then 3.2-3.5 s on a 4-core host) while the JVM compiles
    # the generated code; three more warm-ups cut the spread of wall_s over
    # seeds from 0.17 to 0.08 (IQR / median)
    extra_warm_ups = 3

    def __init__(self, spark, seed: int, work: str, n_points: int = 4_000_000,
                 hotspot_share: float = 0.3) -> None:
        self.spark, self.work = spark, work
        self.props = {"points": n_points, "zooms": len(self.ZOOMS), "hotspot_share": hotspot_share,
                      "queries": self.QUERIES, "knn_k": self.KNN_K}
        pts = gen.points(seed, n_points, GRID.bbox, hotspot_share)
        qs = gen.points(seed + 7919, self.QUERIES, GRID.bbox, hotspot_share)
        self.props["sha256"] = {
            "points": gen.write_parquet(pts, f"{work}/points", 8),
            "queries": gen.write_parquet(qs, f"{work}/queries", 1),
        }
        self._xy = (pts.column("x").to_numpy(), pts.column("y").to_numpy())
        # a seeded three-vertex line near the hotspot restricts the metatiles
        rng = np.random.default_rng(seed)
        cx, cy = float(np.mean(self._xy[0][:1000])), float(np.mean(self._xy[1][:1000]))
        pts_wkt = ", ".join(f"{cx + dx:.1f} {cy + dy:.1f}" for dx, dy in rng.uniform(-30000, 30000, (3, 2)))
        self.geoms = {z: G.parse_wkt(f"LINESTRING ({pts_wkt})") for z in self.ZOOMS}
        self.rows_per_run = 2 * n_points * len(self.ZOOMS)  # points assigned + rows joined
        self._check_qids = set(range(self.CHECK_QUERIES))

    def _points(self):
        return self.spark.read.parquet(f"{self.work}/points")

    def _queries(self):
        return self.spark.read.parquet(f"{self.work}/queries").select(F.col("pid").alias("qid"), "x", "y")

    # -- the job, one call per layer function --------------------------------

    def _assign(self):
        return SP.assign_tiles(self._points(), GRID, self.ZOOMS).select("cell")

    def _matrix(self):
        tiles = EN.dense_tiles(self.spark, GRID, self.ZOOMS)
        return tiles.select("z", "x", "y", GM.cell_key(F.col("z"), F.col("x"), F.col("y")))

    def _joined_sums(self, assigned, matrix):
        return (assigned.join(matrix, "cell").groupBy("z")
                .agg(F.count("*"), F.sum("x"), F.sum("y")).collect())

    def _metatiles(self):
        return EN.sparse_metatiles(self.spark, GRID, self.geoms, self.ZOOMS, n=8, px_buffer=self.BUFFER_PX)

    def _filter(self, mt):
        return FL.geom_intersect_filter(mt, GRID, self.geoms, buffer_px=self.BUFFER_PX, n="n")

    def _knn(self):
        pts = self._points().withColumnRenamed("pid", "image_id")
        return SP.knn_cells(pts, self._queries(), GRID, self.KNN_ZOOM, k=self.KNN_K, ring=1)

    def _render(self, kept):
        low = kept.filter(F.col("z") <= self.RENDER_MAX_Z)
        return RS.render_split_metatiles(low, GRID, self.geoms, meta_buffer=self.BUFFER_PX,
                                         drop_empty_children=True)

    def run(self):
        sums = self._joined_sums(self._assign(), self._matrix())
        kept = pin(self._filter(self._metatiles()))
        knn = self._knn().select("qid", "image_id", "rank").collect()
        rendered = self._render(kept).agg(F.count("*"), F.sum(F.length("data"))).collect()[0]
        return self._digest(sums, kept.collect(), knn, tuple(rendered))

    def _digest(self, sums, kept, knn, rendered) -> dict:
        return {
            "zoom_sums": sorted(tuple(int(v) for v in r) for r in sums),
            "metatiles": sorted(tuple(int(v) for v in r) for r in kept),
            "knn": digest(r for r in knn if r[0] in self._check_qids),
            "knn_rows": len(knn),
            "rendered": rendered,
        }

    # -- reference, by independent paths -------------------------------------

    def reference(self) -> dict:
        """Per-zoom (count, sum x, sum y) from numpy floor math (one tile per
        point per zoom); the metatile set from the driver-side planner and
        the same intersection predicate; kNN of a query sample by
        ``knn_bruteforce`` over the points near those queries; the rendered
        tiles from the same render with every child encoded."""
        x, y = self._xy
        sums = []
        for z in self.ZOOMS:
            span = GRID.resolutions[z] * GRID.tile_size
            w, h = GRID.matrix_size(z)
            tx = np.clip(np.floor((x - GRID.bbox[0]) / span), 0, w - 1).astype(np.int64)
            ty = np.clip(np.floor((GRID.bbox[3] - y) / span), 0, h - 1).astype(np.int64)
            sums.append((z, len(x), int(tx.sum()), int(ty.sum())))
        plan = list(EN.plan_sparse_metatiles(GRID, self.geoms, self.ZOOMS, n=8, px_buffer=self.BUFFER_PX))
        kept = []
        for z, mx, my, n in plan:
            res = GRID.resolutions[z]
            s, b = res * GRID.tile_size, self.BUFFER_PX * res
            box = np.array([[GRID.bbox[0] + mx * s - b, GRID.bbox[3] - (my + n) * s - b,
                             GRID.bbox[0] + (mx + n) * s + b, GRID.bbox[3] - my * s + b]])
            if self.geoms[z].intersects_boxes(box)[0]:
                kept.append((z, mx, my, n))
        # every point within KNN_CHECK_M of a sampled query: a superset of
        # its k nearest whenever the k-th lies within that radius (checked)
        sample = self._queries().filter(F.col("qid") < self.CHECK_QUERIES)
        r = self.KNN_CHECK_M
        near = F.lit(False)
        for _, qx, qy in sample.collect():
            near = near | ((F.abs(F.col("x") - qx) <= r) & (F.abs(F.col("y") - qy) <= r))
        pts = self._points().filter(near).withColumnRenamed("pid", "image_id")
        found = SP.knn_bruteforce(pts, sample, self.KNN_K).collect()
        if len(found) < self.CHECK_QUERIES * self.KNN_K or max(x["dist"] for x in found) > r:
            raise RuntimeError("kNN check radius holds fewer than k points for a sampled query")
        brute = [(x["qid"], x["image_id"], x["rank"]) for x in found]
        # every child encoded, empty ones dropped after encoding by comparing
        # with the empty tile, where the job drops them before encoding
        mt = self.spark.createDataFrame(kept, "z int, x int, y int, n int")
        children = pin(RS.render_split_metatiles(
            mt.filter(F.col("z") <= self.RENDER_MAX_Z), GRID, self.geoms,
            meta_buffer=self.BUFFER_PX, drop_empty_children=False).select("data"))
        self.children = children.count()  # also the staged form's nonempty_ratio base
        painted = children.filter(F.col("data") != F.lit(RS.empty_tile_bytes(GRID.tile_size)))
        rendered = tuple(painted.agg(F.count("*"), F.sum(F.length("data"))).collect()[0])
        return {"zoom_sums": sorted(sums), "metatiles": sorted(kept), "knn": digest(brute),
                "knn_rows": self.QUERIES * self.KNN_K, "rendered": rendered}

    # -- staged form -------------------------------------------------------------

    def staged(self, span) -> tuple[dict, dict, dict]:
        rows, ratios = {}, {}
        with span("spatial.assign_tiles", "operators.spatial"):
            assigned = pin(self._assign())
        rows["operators.spatial"] = assigned.count()
        with span("enumerate.dense_tiles", "sources.enumerate"):
            matrix = pin(self._matrix())
        with span("enumerate.sparse_metatiles", "sources.enumerate"):
            mt = pin(self._metatiles())
        rows["sources.enumerate"] = matrix.count() + mt.count()
        with span("join.cell", None):
            sums = self._joined_sums(assigned, matrix)
        with span("filters.geom_intersect_filter", "operators.filters"):
            kept = pin(self._filter(mt))
        rows["operators.filters"] = kept.count()
        ratios["keep_ratio"] = rows["operators.filters"] / max(1, mt.count())
        with span("spatial.knn_cells", "operators.spatial"):
            knn = pin(self._knn().select("qid", "image_id", "rank"))
        rows["operators.spatial"] += knn.count()
        with span("raster.render_split_metatiles", "operators.raster"):
            rendered = pin(self._render(kept).select("data"))
        rows["operators.raster"] = rendered.count()
        ratios["nonempty_ratio"] = rows["operators.raster"] / max(1, self.children)
        out = self._digest(sums, kept.collect(), knn.collect(),
                           tuple(rendered.agg(F.count("*"), F.sum(F.length("data"))).collect()[0]))
        return out, rows, ratios

    def probe_ratios(self) -> dict:
        return {}


class CorpusAdmission:
    """The composed text capstone (``operators.corpus.corpus_admission``) over
    the gate fixture ``_corpus_inputs`` fed seeded documents. The reference
    and the staged form are the stage graph of the staged plan
    (``plans.corpus.curate_corpus``) run stage helper by stage helper, each
    output pinned in memory. That graph is not the composed operator's: the
    operator scores langid and LM in one Arrow pass and runs scoring, dedup
    and decontamination on three threads, where the graph runs
    ``lang_stage``, ``lm_stage`` and ``quality_stage`` one after another."""

    name = "corpus_admission"
    KW = {"lang_allow": E._CORPUS_LANG_ALLOW, "lm_threshold_micro": -3_480_000, "chunk_tokens": 512}

    def __init__(self, spark, seed: int, work: str, n_docs: int = 1000) -> None:
        self.spark, self.work = spark, work
        docs = gen.documents(seed, n_docs)
        # the fixture's own clone rules: a page whose doc_id % 23 == 7 copies
        # the previous page's body, else one whose doc_id % 17 == 5 copies it
        # with a word appended
        ids = docs.column("doc_id").to_numpy()
        exact = ids % 23 == 7
        self.props = {"documents": n_docs, "exact_clone_share": float(exact.mean()),
                      "near_clone_share": float((~exact & (ids % 17 == 5)).mean())}
        self.props["sha256"] = {"documents": gen.write_parquet(docs, f"{work}/sf/documents.parquet", 4)}
        self.rows_per_run = n_docs

    def _inputs(self):
        return E._corpus_inputs(self.spark, f"{self.work}/sf")

    def run(self):
        pages, profiles, lm_model, eval_df, ext = self._inputs()
        out = CP.corpus_admission(pages, profiles, lm_model, eval_df, extracted=ext, **self.KW)
        return digest(out.collect())

    def reference(self) -> str:
        return self.staged(no_span)[0]

    def staged(self, span) -> tuple[str, dict, dict]:
        rows = {}
        pages, profiles, lm_model, eval_df, ext = self._inputs()
        with span("corpus.extract_stage", "operators.html"):
            ext = pin(ext)  # the fixture's extract_stage output, executed here
        rows["operators.html"] = ext.count()
        with span("corpus.redact_stage", "operators.text"):
            red = pin(CP.redact_stage(ext))
        rows["operators.text"] = red.count()
        with span("corpus.lang_stage", "operators.langid"):
            lang = pin(CP.lang_stage(ext, profiles))
        rows["operators.langid"] = lang.count()
        with span("lm.train_bigram_lm", "operators.lm"):
            bw, pw = lm_model()
        with span("corpus.lm_stage", "operators.lm"):
            lmf = pin(CP.lm_stage(ext, bw, pw, self.KW["lm_threshold_micro"]))
        rows["operators.lm"] = lmf.count()
        with span("corpus.quality_stage", "operators.quality"):
            qual = pin(CP.quality_stage(ext))
        rows["operators.quality"] = qual.count()
        with span("corpus.dedup_stage", "operators.dedup"):
            dd = pin(CP.dedup_stage(red))
        with span("corpus.decontam_stage", "operators.dedup"):
            ct = pin(CP.decontam_stage(red, eval_df))
        rows["operators.dedup"] = dd.count() + ct.count()
        with span("corpus.compose_corpus_flags", None):
            flags = pin(CP.compose_corpus_flags(ext, red, lang, lmf, qual, dd, ct,
                                                lang_allow=self.KW["lang_allow"]))
        with span("corpus.pack_stage", "operators.prefix"):
            packed = pin(CP.pack_stage(red, flags, self.KW["chunk_tokens"]))
        rows["operators.prefix"] = packed.count()
        self._redacted = red
        return digest(CP.assemble_corpus_admission(flags, packed).collect()), rows, {}

    def probe_ratios(self) -> dict:
        """``lsh_pair_yield`` over the last staged run's redacted text:
        verified near-dup pairs over LSH candidate pairs, among one
        representative per distinct text (the level the dedup layer bands)."""
        reps = self._redacted.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        sig = pin(DD.minhash_signatures_udf(reps))
        candidates = DD.lsh_candidate_pairs(sig).count()
        verified = DD.minhash_dedup_pairs(reps).count()
        return {"lsh_pair_yield": verified / max(1, candidates)}


class ImageAdmissionStaged:
    """The staged image capstone (``plans.curation.curate_images``, every
    stage committed to a ``CheckpointStore``) over the gate fixture
    ``_ic_admission_inputs`` fed seeded documents and embeddings; the
    reference is the composed operator ``image_admission``."""

    name = "image_admission_staged"
    KW = {"clip_threshold": 0.1, "dedup_hamming": 6, "decontam_hamming": 2, "batch_size": 8}

    def __init__(self, spark, seed: int, work: str, n_images: int = 2000,
                 embedded_share: float = 0.8) -> None:
        self.spark, self.work = spark, work
        self.props = {"images": n_images, "embedded_share": embedded_share, "id_gap": 1}
        # the fixture reads only doc_id, and the ids are 0 .. n-1, so the
        # seed varies the embeddings alone
        docs = gen.documents(seed, n_images, max_words=12)
        embs = gen.embeddings(seed, int(n_images * embedded_share))
        self.props["sha256"] = {
            "documents": gen.write_parquet(docs, f"{work}/sf/documents.parquet", 4),
            "embeddings": gen.write_parquet(embs, f"{work}/sf/embeddings.parquet", 4),
        }
        self.input_bytes = _tree_bytes(f"{work}/sf")
        self.rows_per_run = n_images

    def _inputs(self):
        return E._ic_admission_inputs(self.spark, f"{self.work}/sf")

    def _store(self):
        root = f"{self.work}/image_store"
        shutil.rmtree(root, ignore_errors=True)
        return root, CheckpointStore(self.spark, root)

    def run(self):
        imgs, ev, pairs = self._inputs()
        _, store = self._store()
        job = PI.curate_images(self.spark, imgs, store, eval_df=ev, clip_pairs=pairs, **self.KW)
        n_sched = store.output(job, "schedule", 0).count()
        n_batches = store.output(job, "batches", 0).select("bucket", "batch_index").distinct().count()
        return {"admission": digest(PI.admission_table(store, job).collect()),
                "schedule_covers_batches": n_sched == n_batches}

    def reference(self) -> dict:
        imgs, ev, pairs = self._inputs()
        out = IC.image_admission(imgs, eval_df=ev, clip_pairs=pairs, **self.KW)
        return {"admission": digest(out.collect()), "schedule_covers_batches": True}

    def staged(self, span) -> tuple[dict, dict, dict]:
        """The ``curate_images`` stage graph with each operator's output
        pinned first, then committed with ``run_stage`` over the pinned
        build, so the store span holds write, lineage and status merge only."""
        rows, ratios = {}, {}
        imgs, ev, pairs = self._inputs()
        root, store = self._store()
        job = store.create_job("curate_images_staged")
        cell = F.col("image_id").alias("cell")

        def commit(stage, df):
            with span(f"store.run_stage.{stage}", "checkpoint.store"):
                store.run_stage(job, stage, 0, lambda: df)
            rows["checkpoint.store"] = rows.get("checkpoint.store", 0) + df.count()
            return store.output(job, stage, 0).drop("cell")

        with span("image_dedup.image_caption_dedup", "operators.image_dedup"):
            dd = pin(image_caption_dedup(imgs, self.KW["dedup_hamming"]).select(
                "image_id", "dup_group", "keep", cell))
        rows["operators.image_dedup"] = dd.count()
        dd = commit("dedup", dd)
        with span("image_curation.phash_decontaminate", "operators.image_curation"):
            ct = pin(IC.phash_decontaminate(imgs, ev, self.KW["decontam_hamming"]).select(
                "image_id", "contaminated", cell))
        ct = commit("decontam", ct)
        with span("image_curation.clip_filter", "operators.image_curation"):
            cf = pin(IC.clip_filter(pairs, self.KW["clip_threshold"]).select(
                "image_id", "clip_score", "keep", cell))
        cf = commit("clip", cf)
        with span("image_curation.compose_admission_flags", "operators.image_curation"):
            base = imgs.select("image_id", "w", "h", IC.bucket_expr("w", "h", IC.DEFAULT_BUCKETS).alias("bucket"))
            adm = pin(IC.compose_admission_flags(
                base, dd.select("image_id", F.col("keep").alias("dedup_keep")),
                clip_flags=cf.select("image_id", F.col("keep").alias("_ck")),
                contam_flags=ct.select("image_id", F.col("contaminated").alias("_ct")),
            ).withColumn("cell", F.col("image_id")))
        adm = commit("admitted", adm)
        with span("image_curation.aspect_bucket_pack", "operators.image_curation"):
            bk = pin(IC.aspect_bucket_pack(adm.filter(F.col("admitted")), self.KW["batch_size"]).select(
                "image_id", "bucket", "batch_index", "slot", cell))
        bk = commit("batches", bk)
        with span("image_curation.epoch_schedule", "operators.image_curation"):
            sched = pin(IC.epoch_schedule(bk, 8, seed="epoch0").withColumn(
                "cell", F.col("bucket").cast("long") * F.lit(1_000_000_000).cast("long")
                + F.col("batch_index").cast("long")))
        rows["operators.image_curation"] = ct.count() + cf.count() + adm.count() + bk.count() + sched.count()
        commit("schedule", sched)
        ratios["write_amp"] = _tree_bytes(root) / self.input_bytes
        out = {"admission": digest(IC.assemble_admission(adm, bk.select("image_id", "batch_index", "slot")).collect()),
               "schedule_covers_batches": sched.count() == bk.select("bucket", "batch_index").distinct().count()}
        return out, rows, ratios

    def probe_ratios(self) -> dict:
        return {}


class Admission:
    """Both admission capstones as one job: the text capstone in memory
    (``CorpusAdmission``), then the image capstone staged through a
    ``CheckpointStore`` (``ImageAdmissionStaged``), each on its own inputs
    under its own directory. Output, reference and staged form are the two
    parts' in that order; the layers are both parts' layers."""

    name = "admission"

    def __init__(self, spark, seed: int, work: str, n_docs: int = 500, n_images: int = 1000) -> None:
        self.parts = (CorpusAdmission(spark, seed, f"{work}/corpus", n_docs),
                      ImageAdmissionStaged(spark, seed, f"{work}/image", n_images))
        self.props = {p.name: p.props for p in self.parts}
        self.rows_per_run = sum(p.rows_per_run for p in self.parts)  # documents + images

    def run(self):
        outs, self.part_wall_s = [], {}
        for p in self.parts:
            t0 = time.perf_counter()
            outs.append(p.run())
            self.part_wall_s[p.name] = time.perf_counter() - t0
        return tuple(outs)

    def reference(self):
        return tuple(p.reference() for p in self.parts)

    def staged(self, span):
        outs, rows, ratios = [], {}, {}
        for p in self.parts:
            out, r, q = p.staged(span)
            outs.append(out)
            rows.update(r)
            ratios.update(q)
        return tuple(outs), rows, ratios

    def probe_ratios(self) -> dict:
        return {k: v for p in self.parts for k, v in p.probe_ratios().items()}


WORKLOADS = {w.name: w for w in (TilePyramid, Admission)}

"""CLI — the generate-tiles / generate-cost console-script analog
(SURVEY.md §3.1; reference entry points pyproject.toml:118).

Usage (via spark-submit, the production launch path per BASELINE.json):

    spark-submit --py-files pkg.zip -m ... # or:
    python -m tilecloud_chain_spark.cli generate-tiles \
        --config config.yaml --layer line --zooms 0,1 \
        --checkpoint /tmp/ckpt --cache /tmp/tiles [--bbox minx miny maxx maxy]

    python -m tilecloud_chain_spark.cli generate-cost \
        --config config.yaml --layer line --cost-algo count

    python -m tilecloud_chain_spark.cli get-limits --config config.yaml \
        --layer all

Output format mirrors the reference's end-of-run report
(generate.py:410-482: "Nb generated tiles: …", "Time per tile: … ms").
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from pyspark.sql import functions as F


def _spark(args):
    """getOrCreate; remember whether WE created the session so embedded use
    (tests, notebooks) keeps its session alive."""
    from pyspark.sql import SparkSession

    from tilecloud_chain_spark.session import get_spark

    owned = SparkSession.getActiveSession() is None
    return get_spark("tilecloud_chain_spark-cli", cores=args.cores), owned


def _load(args):
    from tilecloud_chain_spark.config_yaml import load_config
    from tilecloud_chain_spark.geoms import resolve_geoms

    cfg = load_config(args.config)
    if cfg.unsupported:
        print(
            "ignored config sections (replaced by this engine): "
            + ", ".join(cfg.unsupported),
            file=sys.stderr,
        )
    layer = cfg.layers[args.layer]
    grid = cfg.grids[layer.grid]
    zooms = [int(z) for z in args.zooms.split(",")] if args.zooms else None
    bbox = tuple(args.bbox) if args.bbox else None
    geoms = resolve_geoms(
        grid, layer, cfg.geom_rows.get(args.layer), cli_bbox=bbox, zooms=zooms
    )
    return cfg, grid, layer, geoms, zooms


def cmd_generate_tiles(args) -> int:
    """Omitting --layer generates EVERY configured layer (the reference's
    generate-tiles default iterates all layers, generate.py main loop) —
    one job per layer, sequentially, sharing the Spark session."""
    if args.layer is None:
        import argparse as _ap

        from tilecloud_chain_spark.config_yaml import load_config

        rc = 0
        for name in sorted(load_config(args.config).layers):
            sub = _ap.Namespace(**{**vars(args), "layer": name, "job_id": None})
            rc = max(rc, _generate_tiles_one(sub))
        return rc
    return _generate_tiles_one(args)


def _generate_tiles_one(args) -> int:
    from tilecloud_chain_spark.checkpoint import CheckpointStore
    from tilecloud_chain_spark.operators.postprocess import duration_format, size_format
    from tilecloud_chain_spark.plans.pipeline import generate_tiles
    from tilecloud_chain_spark.sources.tiles_file import write_cache

    spark, owned = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    _, grid, layer, geoms, zooms = _load(args)
    store = CheckpointStore(spark, args.checkpoint)
    t0 = time.time()
    # with --job-id: exact resume, only the zooms not yet done render
    job_id = generate_tiles(spark, grid, layer, geoms, store, zooms=zooms,
                            meta_buffer=args.meta_buffer, job_id=args.job_id)
    out = store.output(job_id, "tiles")
    n_meta = store.job(job_id)["meta_tiles_total"]
    rep = store.report(job_id)
    if args.cache:
        dims = next(iter(layer.dimensions.values()), ("",))
        tiles = out.select(
            F.lit(layer.name).alias("layer"), F.lit("default").alias("style"),
            F.lit(dims[0]).alias("dims"), "z", "x", "y",
            F.lit("png").alias("ext"), "data",
        )
        write_cache(tiles, args.cache, grid)
    wall = time.time() - t0
    n = rep["rows"]
    print(f"The tile generation of layer '{layer.name}' is finish")
    print(f"Nb generated metatiles: {n_meta}")
    print(f"Nb tiles stored: {n}")
    print(f"Total time: {duration_format(wall * 1000)}")
    print(f"Total size: {size_format(rep['bytes'])}")
    if n:
        print(f"Time per tile: {int(wall * 1000 / n)} ms")
        print(f"Size per tile: {rep['bytes'] // n} o")
    print(f"Job id: {job_id} (resume a killed run: add --job-id {job_id})")
    if owned:
        spark.stop()
    return 0


def cmd_generate_cost(args) -> int:
    from tilecloud_chain_spark.plans.cost import cost_area, cost_count

    spark, owned = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    _, grid, layer, geoms, zooms = _load(args)
    if args.cost_algo == "count":
        rows = sorted(
            (r.z, r.n_metatiles, r.n_tiles)
            for r in cost_count(
                spark, grid, layer, geoms, zooms,
                tilecloud_parity=getattr(args, "tilecloud_parity", False),
            ).collect()
        )
    else:
        rows = [
            (d["z"], d.get("n_metatiles", 0), d["n_tiles"])
            for d in cost_area(grid, layer, geoms, zooms)
        ]
    total = 0
    for z, nm, nt in rows:
        if layer.meta:
            print(f"{nm} meta tiles in zoom {z}.")
        print(f"{nt} tiles in zoom {z}.")
        total += nt
    print(f"Number of tiles: {total}")
    if owned:
        spark.stop()
    return 0


def cmd_get_bbox(args) -> int:
    """--get-bbox parity (reference golden: '4/4/4' ->
    [425120,343600,426400,344880]; tests/test_generate.py:813-839).
    Coordinate syntax z/x/y[:+n/+n] (parse_tilecoord,
    tilecloud_chain/__init__.py:2735-2754)."""
    import re

    from tilecloud_chain_spark.config_yaml import load_config

    cfg = load_config(args.config)
    layer = cfg.layers[args.layer]
    grid = cfg.grids[layer.grid]
    m = re.match(r"^(\d+)/(\d+)/(\d+)(?::\+(\d+)/\+(\d+))?$", args.coord)
    if not m:
        print(f"invalid tile coordinate: {args.coord}", file=sys.stderr)
        return 2
    z, x, y = int(m.group(1)), int(m.group(2)), int(m.group(3))
    n = int(m.group(4)) if m.group(4) else 1
    minx, miny, maxx, maxy = grid.tile_extent(z, x, y, n)
    print(f"Tile bounds: [{minx:.0f},{miny:.0f},{maxx:.0f},{maxy:.0f}]")
    return 0


def cmd_capabilities(args) -> int:
    """generate-controller --capabilities analog: render the WMTS
    GetCapabilities document and write it into the cache layout at
    ``1.0.0/WMTSCapabilities.xml`` (reference controller command +
    server.py:498-562 serving path), or print to stdout."""
    import os

    from tilecloud_chain_spark.config_yaml import load_config
    from tilecloud_chain_spark.plans.wmts import get_capabilities_xml

    cfg = load_config(args.config)
    xml = get_capabilities_xml(cfg.grids, cfg.layers, args.base_url)
    if args.cache:
        path = os.path.join(args.cache, "1.0.0", "WMTSCapabilities.xml")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(xml)
        print(f"Wrote {path}")
    else:
        print(xml)
    return 0


def cmd_copy(args) -> int:
    """Cache-to-cache copy with the copy/process pipeline (reference
    ``copy_.py:20-83``): list source cache -> drop-empty -> optional
    hash-drop (empty_tile_detection) -> optional post-process -> write
    destination cache. Metatiles are disabled in copy mode like the
    reference (:38)."""
    from tilecloud_chain_spark.config_yaml import load_config
    from tilecloud_chain_spark.operators import filters as FL
    from tilecloud_chain_spark.operators.postprocess import post_process
    from tilecloud_chain_spark.sources.tiles_file import list_cache, write_cache

    spark, owned = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = load_config(args.config)
    layer = cfg.layers[args.layer]
    grid = cfg.grids[layer.grid]
    # filter on matrixset too: a cache can hold several grids (multi-grid
    # layers), and another grid's matrix identifiers would map to a NULL or
    # WRONG zoom through this grid's identifier table
    tiles = list_cache(spark, args.source, grid=grid).filter(
        (F.col("layer") == layer.name) & (F.col("matrixset") == grid.name)
    )
    tiles = tiles.filter(F.length("data") > 0)  # DropEmpty
    if layer.empty_tile_hash:
        tiles = FL.hash_drop(tiles, layer.empty_tile_hash, data_col="data")
    if args.process:
        tiles = post_process(tiles, args.process, data_col="data")
    out = tiles.select("layer", "style", "dims", "z", "x", "y", "ext", "data")
    # ONE pass: write_cache counts as it writes — a separate count() action
    # would run the whole decode/process/encode pipeline twice
    n = write_cache(out, args.destination, grid)
    print(f"Nb copied tiles: {n}")
    if owned:
        spark.stop()
    return 0


def cmd_process(args) -> int:
    """``generate-process`` analog (reference ``copy_.py:130-167``): apply an
    allow-listed process to a cache IN PLACE (metatiles disabled like copy
    mode).

    In-place is realized as write-to-temp-then-swap: the Spark job only ever
    writes the temp tree (a task retry or speculative duplicate re-reads the
    UNTOUCHED originals — a literal source==destination copy would re-process
    already-overwritten files on retry), then the driver atomically
    ``os.replace``s each produced file over its original after the job
    succeeds."""
    import shutil

    tmp = args.cache.rstrip("/") + ".__process_tmp__"
    shutil.rmtree(tmp, ignore_errors=True)
    args.source = args.cache
    args.destination = tmp
    rc = cmd_copy(args)
    if rc == 0:
        for r, _, fs in os.walk(tmp):
            for f in fs:
                p = os.path.join(r, f)
                dst = os.path.join(args.cache, os.path.relpath(p, tmp))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(p, dst)
    shutil.rmtree(tmp, ignore_errors=True)
    return rc


def cmd_import_expiretiles(args) -> int:
    """``import-expiretiles`` analog (reference ``expiretiles.py:19-190``):
    read an osm2pgsql expire-tiles file (z/x/y lines on the global
    web-mercator QuadTileGrid), merge the tile union into a MultiPolygon,
    and emit WKT (the reference inserts into PostGIS via ST_GeomFromText /
    ST_Transform; with no database here the WKT goes to --out or stdout —
    srid handling matches: 3857 native, anything else reprojected through
    the numpy CRS kernels). Prints the reference's own messages: 'No coords
    found' on empty input, 'Import successful' otherwise."""
    from tilecloud_chain_spark.operators.expire import expire_tiles_wkt
    from tilecloud_chain_spark.sources.tiles_file import read_tiles_file

    spark, owned = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    tiles = read_tiles_file(spark, args.file).select("z", "x", "y")
    wkt = expire_tiles_wkt(tiles, srid=args.srid)
    if owned:
        spark.stop()
    if not wkt:
        print("No coords found")
        return 0
    if args.out:
        with open(args.out, "w") as f:
            f.write(wkt + "\n")
    else:
        print(wkt)
    print("Import successful")
    return 0


def cmd_curate_images(args) -> int:
    """Run (or resume with --job-id) the staged image-curation plan over a
    north-rule-shaped parquet table (image_id, ..., w, h, caption, phash):
    each stage checkpoints with per-partition lineage, so a killed
    spark-submit resumes exactly. Prints the per-stage report; --out
    writes the composed admission table."""
    from tilecloud_chain_spark.checkpoint import CheckpointStore
    from tilecloud_chain_spark.operators.postprocess import duration_format
    from tilecloud_chain_spark.plans.curation import admission_table, curate_images

    spark, owned = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    imgs = spark.read.parquet(args.images)
    ev = spark.read.parquet(args.eval).select("phash") if args.eval else None
    pairs = spark.read.parquet(args.pairs) if args.pairs else None
    store = CheckpointStore(spark, args.checkpoint)
    t0 = time.time()
    job = curate_images(
        spark, imgs, store, eval_df=ev, clip_pairs=pairs,
        clip_threshold=args.clip_threshold,
        dedup_hamming=args.dedup_hamming,
        caption_near_threshold=args.caption_near_threshold,
        decontam_hamming=args.decontam_hamming,
        batch_size=args.batch_size,
        world_size=args.world_size,
        seed=args.seed,
        job_id=args.job_id,
    )
    from pyspark.sql import functions as F

    adm = admission_table(store, job)
    if args.out:
        adm.write.mode("overwrite").parquet(args.out)
        adm = spark.read.parquet(args.out)  # count the committed output
    counts = adm.agg(
        F.count("*").alias("n"),
        F.sum(F.col("admitted").cast("long")).alias("k"),
    ).collect()[0]
    n_all, n_adm = counts["n"], int(counts["k"] or 0)
    rep = store.report(job)
    print(f"job {job}: {n_adm}/{n_all} admitted "
          f"({rep['partitions']} lineage partitions, "
          f"{duration_format((time.time() - t0) * 1000)})")
    if owned:
        spark.stop()
    return 0


def cmd_curate_corpus(args) -> int:
    """Run (or resume with --job-id) the staged corpus-admission plan over
    a crawl-shaped parquet table (doc_id, html): extract -> rows (PII
    redaction + quality floor) -> {score (langid + LM), dedup,
    decontaminate} -> admitted -> pack, each stage checkpointed with
    per-partition lineage (score, dedup and decontaminate concurrently)
    so a killed spark-submit resumes exactly. The language-ID profiles
    train on the embedded 9-language demo corpus (pass --langid-train for
    your own) and the LM trains on the doc_id%7 slice of the extracted
    text — both deterministic, so a resume retrains identical weights."""
    from pyspark.sql import functions as F

    from tilecloud_chain_spark.checkpoint import CheckpointStore
    from tilecloud_chain_spark.operators import corpus as CP
    from tilecloud_chain_spark.operators import text as TX
    from tilecloud_chain_spark.operators.langid import (
        DEMO_TRAIN, train_ngram_profiles,
    )
    from tilecloud_chain_spark.operators.lm import train_bigram_lm
    from tilecloud_chain_spark.operators.postprocess import duration_format
    from tilecloud_chain_spark.plans.corpus import admission_table, curate_corpus
    from tilecloud_chain_spark.session import local_frame

    spark, owned = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    if args.warc:
        # bytes-first ingestion: WARC blobs -> record split + charset
        # sniff -> decoded html pages keyed by a dense record id
        from tilecloud_chain_spark.operators.warc import warc_extract

        recs = warc_extract(spark.read.parquet(args.warc))
        pages = recs.filter(F.col("warc_type") == "response").select(
            (F.col("warc_id") * F.lit(1_000_000).cast("long")
             + F.col("record_idx")).alias("doc_id"),
            "html",
        )
    else:
        pages = spark.read.parquet(args.pages)
    train = (
        spark.read.parquet(args.langid_train)
        if args.langid_train
        else local_frame(spark, DEMO_TRAIN, "lang string, text string")
    )
    profiles = train_ngram_profiles(train)
    lm_train = CP.extract_stage(pages.filter(F.expr("doc_id % 7 = 0")))
    lm_model = train_bigram_lm(
        lm_train.select(F.col("clean_text").alias("text")))
    eval_df = (
        spark.read.parquet(args.eval).select("doc_id", "text")
        if args.eval else None
    )
    store = CheckpointStore(spark, args.checkpoint)
    t0 = time.time()
    job = curate_corpus(
        spark, pages, store, profiles, lm_model, eval_df,
        lang_allow=tuple(args.lang_allow.split(",")),
        lm_threshold_micro=args.lm_threshold_micro,
        near_threshold=args.near_threshold,
        chunk_tokens=args.chunk_tokens,
        stopwords_lang=args.stopwords,
        job_id=args.job_id,
    )
    adm = admission_table(store, job)
    if args.out:
        adm.write.mode("overwrite").parquet(args.out)
        adm = spark.read.parquet(args.out)
    counts = adm.agg(
        F.count("*").alias("n"),
        F.sum(F.col("admitted").cast("long")).alias("k"),
        F.sum("n_tokens").alias("toks"),
    ).collect()[0]
    rep = store.report(job)
    print(f"job {job}: {int(counts['k'] or 0)}/{counts['n']} admitted, "
          f"{int(counts['toks'] or 0)} tokens packed "
          f"({rep['partitions']} lineage partitions, "
          f"{duration_format((time.time() - t0) * 1000)})")
    if owned:
        spark.stop()
    return 0


def cmd_get_limits(args) -> int:
    from tilecloud_chain_spark.config_yaml import load_config
    from tilecloud_chain_spark.plans.wmts import capabilities_matrices, tile_matrix_limits

    cfg = load_config(args.config)
    layer = cfg.layers[args.layer]
    grid = cfg.grids[layer.grid]
    for m in capabilities_matrices(grid):
        print(
            f"TileMatrix {m['identifier']}: {m['matrix_width']}x{m['matrix_height']}"
            f" scale 1:{m['scale_denominator']:.0f}"
        )
    for lim in tile_matrix_limits(grid, layer):
        print(
            f"limits {lim['tile_matrix']}: col {lim['min_tile_col']}-{lim['max_tile_col']}"
            f" row {lim['min_tile_row']}-{lim['max_tile_row']}"
        )
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="tilecloud_chain_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, layer_required=True):
        sp.add_argument("--config", required=True)
        sp.add_argument("--layer", required=layer_required,
                        default=None)
        sp.add_argument("--zooms", default=None, help="comma-separated")
        sp.add_argument("--bbox", nargs=4, type=float, default=None)
        sp.add_argument("--cores", type=int, default=None)

    g = sub.add_parser("generate-tiles")
    common(g, layer_required=False)
    g.add_argument("--checkpoint", required=True)
    g.add_argument("--cache", default=None)
    g.add_argument("--meta-buffer", type=int, default=None)
    g.add_argument("--job-id", default=None, help="resume an existing job exactly")
    g.set_defaults(fn=cmd_generate_tiles)

    c = sub.add_parser("generate-cost")
    c.add_argument(
        "--tilecloud-parity", action="store_true",
        help="reproduce the reference generate-cost numbers exactly "
             "(px_buffer*resolution**2 effective filter buffer — the "
             "upstream px-units border semantics; see plans/cost.py)",
    )
    common(c)
    c.add_argument("--cost-algo", choices=("count", "area"), default="count")
    c.set_defaults(fn=cmd_generate_cost)

    li = sub.add_parser("get-limits")
    common(li)
    li.set_defaults(fn=cmd_get_limits)

    gb = sub.add_parser("get-bbox")
    common(gb)
    gb.add_argument("--coord", required=True, help="z/x/y[:+n/+n]")
    gb.set_defaults(fn=cmd_get_bbox)

    cp = sub.add_parser("copy")
    cp.add_argument("--config", required=True)
    cp.add_argument("--layer", required=True)
    cp.add_argument("--source", required=True)
    cp.add_argument("--destination", required=True)
    cp.add_argument("--process", default=None, help="allow-listed post-process name")
    cp.add_argument("--cores", type=int, default=None)
    cp.set_defaults(fn=cmd_copy)

    pr = sub.add_parser("process")
    pr.add_argument("--config", required=True)
    pr.add_argument("--layer", required=True)
    pr.add_argument("--cache", required=True, help="cache root processed in place")
    pr.add_argument("--process", required=True, help="allow-listed post-process name")
    pr.add_argument("--cores", type=int, default=None)
    pr.set_defaults(fn=cmd_process)

    ex = sub.add_parser("import-expiretiles")
    ex.add_argument("file", help="osm2pgsql expire-tiles file (z/x/y lines)")
    ex.add_argument("--srid", type=int, default=3857)
    ex.add_argument("--out", default=None, help="write the MULTIPOLYGON WKT here")
    ex.add_argument("--cores", type=int, default=None)
    ex.set_defaults(fn=cmd_import_expiretiles)

    cu = sub.add_parser("curate-images")
    cu.add_argument("--images", required=True,
                    help="parquet of (image_id, w, h, caption, phash, ...)")
    cu.add_argument("--checkpoint", required=True)
    cu.add_argument("--eval", default=None, help="parquet with a phash column")
    cu.add_argument("--pairs", default=None,
                    help="parquet of (image_id, img_vec, txt_vec)")
    cu.add_argument("--out", default=None,
                    help="write the admission table parquet here")
    cu.add_argument("--job-id", default=None, help="resume an existing job")
    cu.add_argument("--clip-threshold", type=float, default=0.28)
    cu.add_argument("--dedup-hamming", type=int, default=6)
    cu.add_argument("--caption-near-threshold", type=float, default=None,
                    help="also connect caption NEAR-dups (MinHash-LSH "
                         "shingle-Jaccard >= this) in the pair dedup")
    cu.add_argument("--decontam-hamming", type=int, default=2)
    cu.add_argument("--batch-size", type=int, default=64)
    cu.add_argument("--world-size", type=int, default=8)
    cu.add_argument("--seed", default="epoch0")
    cu.add_argument("--cores", type=int, default=None)
    cu.set_defaults(fn=cmd_curate_images)

    cc = sub.add_parser("curate-corpus")
    cc.add_argument("--pages", default=None,
                    help="parquet of (doc_id, html)")
    cc.add_argument("--warc", default=None,
                    help="parquet of (warc_id, warc BINARY) raw WARC blobs "
                         "— the bytes-first alternative to --pages")
    cc.add_argument("--checkpoint", required=True)
    cc.add_argument("--eval", default=None,
                    help="parquet of (doc_id, text) benchmark excerpts "
                         "for decontamination")
    cc.add_argument("--out", default=None,
                    help="write the admission table parquet here")
    cc.add_argument("--job-id", default=None, help="resume an existing job")
    cc.add_argument("--langid-train", default=None,
                    help="parquet of (lang, text) to train language-ID "
                         "profiles (default: embedded demo corpus)")
    cc.add_argument("--lang-allow", default="en",
                    help="comma-separated language codes to admit")
    cc.add_argument("--lm-threshold-micro", type=int, default=-9_000_000)
    cc.add_argument("--near-threshold", type=float, default=0.5)
    cc.add_argument("--chunk-tokens", type=int, default=2048)
    cc.add_argument("--stopwords", default=None,
                    help="language code enabling the jusText stopword-"
                         "density keep rule (e.g. en)")
    cc.add_argument("--cores", type=int, default=None)
    cc.set_defaults(fn=cmd_curate_corpus)

    cap = sub.add_parser("capabilities")
    cap.add_argument("--config", required=True)
    cap.add_argument("--base-url", default="http://localhost/tiles/")
    cap.add_argument("--cache", default=None, help="write into this cache root")
    cap.set_defaults(fn=cmd_capabilities)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

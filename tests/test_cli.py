"""CLI + YAML-config loader tests — reference UX parity (generate-tiles /
generate-cost / get-limits console scripts)."""

import os

import pytest

from tilecloud_chain_spark.config_yaml import parse_config

REF_STYLE_YAML = {
    "grids": {
        "swissgrid_5": {
            "resolutions": [100, 50, 20, 10, 5],
            "bbox": [420000, 30000, 900000, 350000],
            "tile_size": 256,
            "srs": "EPSG:21781",
        }
    },
    "caches": {"local": {"type": "filesystem", "folder": "/tmp/tiles"}},
    "layers": {
        "line": {
            "grids": ["swissgrid_5"],
            "meta": True,
            "meta_size": 8,
            "meta_buffer": 128,
            "dimensions": [
                {"name": "DATE", "default": "2012", "generate": ["2012"],
                 "values": ["2005", "2010", "2012"]}
            ],
            "geom_wkt": "LINESTRING (600000 200000, 530000 150000)",
            "url": "http://mapserver:8080/",  # backend key -> ignored
        },
        "all": {"grids": ["swissgrid_5"], "meta": False,
                "bbox": [550000, 170000, 560000, 180000]},
        "pg": {"grids": ["swissgrid_5"],
               "geoms": [{"sql": "the_geom FROM tests.point", "connection": "x"}]},
    },
}


def test_parse_reference_style_config():
    cfg = parse_config(REF_STYLE_YAML)
    g = cfg.grids["swissgrid_5"]
    assert g.resolutions == (100, 50, 20, 10, 5) and g.tile_size == 256
    line = cfg.layers["line"]
    assert line.meta and line.meta_size == 8 and line.meta_buffer == 128
    assert line.dimensions == {"DATE": ("2012",)}
    assert cfg.layers["all"].bbox == (550000, 170000, 560000, 180000)
    # backend keys surfaced, sql geoms flagged
    assert any("layers.line.url" in u for u in cfg.unsupported)
    assert any("caches" == u for u in cfg.unsupported)
    assert any("sql entry" in u for u in cfg.unsupported)


def test_cli_end_to_end_golden_paths(spark, tmp_path):
    """generate-tiles via the CLI writes EXACTLY the reference's golden
    tile paths (tests/test_generate.py:935-977 asserts these same files)."""
    import yaml

    from tilecloud_chain_spark import cli

    cfg_path = tmp_path / "test.yaml"
    cfg_path.write_text(yaml.safe_dump(REF_STYLE_YAML))
    cache = str(tmp_path / "cache")
    rc = cli.main([
        "generate-tiles", "--config", str(cfg_path), "--layer", "line",
        "--zooms", "0", "--checkpoint", str(tmp_path / "ckpt"),
        "--cache", cache, "--meta-buffer", "32",
        "--cores", os.environ.get("TEST_SPARK_CPUS", "8"),
    ])
    assert rc == 0
    found = set()
    for root, _, files in os.walk(cache):
        for f in files:
            found.add(os.path.relpath(os.path.join(root, f), cache))
    assert found == {
        f"1.0.0/line/default/2012/swissgrid_5/0/{y}/{x}.png"
        for y, x in [(5, 6), (5, 7), (6, 5), (6, 6), (7, 4), (7, 5)]
    }


def test_cli_generate_tiles_resume_checks_parameters(spark, tmp_path, capsys):
    """generate-tiles --job-id resumes through the job's recorded
    parameters: the same meta buffer skips every committed zoom, a
    different one is refused instead of rendering the remaining zooms with
    it onto the old queue."""
    import yaml
    from pyspark.sql import functions as F

    from tilecloud_chain_spark import cli
    from tilecloud_chain_spark.checkpoint import CheckpointStore

    cfg_path = tmp_path / "test.yaml"
    cfg_path.write_text(yaml.safe_dump(REF_STYLE_YAML))
    ckpt = str(tmp_path / "ckpt")
    argv = [
        "generate-tiles", "--config", str(cfg_path), "--layer", "line",
        "--zooms", "0", "--checkpoint", ckpt, "--meta-buffer", "32",
        "--cores", os.environ.get("TEST_SPARK_CPUS", "8"),
    ]
    assert cli.main(argv) == 0
    job = capsys.readouterr().out.split("Job id: ")[1].split()[0]
    store = CheckpointStore(spark, ckpt)

    def tiles_wall():
        return store.lineage(job, "tiles").agg(F.sum("wall_ms")).collect()[0][0]

    wall = tiles_wall()
    assert cli.main(argv + ["--job-id", job]) == 0
    assert tiles_wall() == wall  # nothing re-rendered
    other = list(argv)
    other[other.index("--meta-buffer") + 1] = "64"
    with pytest.raises(ValueError, match="different parameters"):
        cli.main(other + ["--job-id", job])


def test_cli_get_limits(tmp_path, capsys):
    import yaml

    from tilecloud_chain_spark import cli

    cfg_path = tmp_path / "test.yaml"
    cfg_path.write_text(yaml.safe_dump(REF_STYLE_YAML))
    rc = cli.main(["get-limits", "--config", str(cfg_path), "--layer", "all"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "TileMatrix 0: 19x13" in out
    assert "limits 0: col 5-5 row 6-7" in out  # reference golden range


def test_cli_capabilities(tmp_path, capsys):
    import yaml

    from tilecloud_chain_spark import cli

    cfg_path = tmp_path / "test.yaml"
    cfg_path.write_text(yaml.safe_dump(REF_STYLE_YAML))
    cache = str(tmp_path / "cache")
    rc = cli.main(["capabilities", "--config", str(cfg_path),
                   "--base-url", "http://wmts1/tiles/", "--cache", cache])
    assert rc == 0
    path = os.path.join(cache, "1.0.0", "WMTSCapabilities.xml")
    assert os.path.exists(path)
    xml = open(path).read()
    assert "<ows:Identifier>swissgrid_5</ows:Identifier>" in xml
    assert "<MatrixWidth>19</MatrixWidth>" in xml
    assert 'xlink:href="http://wmts1/tiles/1.0.0/WMTSCapabilities.xml"' in xml


def test_cli_generate_all_layers(spark, tmp_path):
    """--layer omitted generates every configured layer (reference default)."""
    import yaml

    from tilecloud_chain_spark import cli

    cfg_path = tmp_path / "test.yaml"
    cfg_path.write_text(yaml.safe_dump(REF_STYLE_YAML))
    cache = str(tmp_path / "cache")
    rc = cli.main([
        "generate-tiles", "--config", str(cfg_path),
        "--zooms", "0", "--checkpoint", str(tmp_path / "ckpt"),
        "--cache", cache, "--meta-buffer", "32",
        "--cores", os.environ.get("TEST_SPARK_CPUS", "8"),
    ])
    assert rc == 0
    layers_seen = set()
    for root, _, files in os.walk(cache):
        for f in files:
            rel = os.path.relpath(os.path.join(root, f), cache)
            layers_seen.add(rel.split("/")[1])
    import yaml as _y

    cfg_layers = set(_y.safe_load(open(cfg_path))["layers"].keys())
    assert layers_seen == cfg_layers


def test_cli_copy_cache_to_cache(spark, tmp_path):
    """copy command (reference copy_.py): list source cache -> drop-empty ->
    write destination; tile bytes and layout survive verbatim."""
    import yaml

    from tilecloud_chain_spark import cli

    cfg_path = tmp_path / "test.yaml"
    cfg_path.write_text(yaml.safe_dump(REF_STYLE_YAML))
    src = str(tmp_path / "src")
    # build a small real cache first
    rc = cli.main([
        "generate-tiles", "--config", str(cfg_path), "--layer", "line",
        "--zooms", "0", "--checkpoint", str(tmp_path / "ckpt"),
        "--cache", src, "--meta-buffer", "32",
        "--cores", os.environ.get("TEST_SPARK_CPUS", "8"),
    ])
    assert rc == 0
    dst = str(tmp_path / "dst")
    rc = cli.main(["copy", "--config", str(cfg_path), "--layer", "line",
                   "--source", src, "--destination", dst,
                   "--cores", os.environ.get("TEST_SPARK_CPUS", "8")])
    assert rc == 0

    def walk(root):
        out = {}
        for r, _, fs in os.walk(root):
            for f in fs:
                p = os.path.join(r, f)
                out[os.path.relpath(p, root)] = open(p, "rb").read()
        return out

    a, b = walk(src), walk(dst)
    assert set(a) == set(b) and len(a) == 6
    assert all(a[k] == b[k] for k in a)  # byte-identical payloads


def test_cli_import_expiretiles(spark, tmp_path, capsys):
    """import-expiretiles analog: z/x/y file -> merged MULTIPOLYGON WKT with
    the reference's own messages; empty file -> 'No coords found'."""
    from tilecloud_chain_spark import cli

    f = tmp_path / "expire.txt"
    # 2x2 block at z14 -> one square ring (8 lattice vertices incl. midpoints)
    f.write_text("14/5000/4000\n14/5001/4000\n14/5000/4001\n14/5001/4001\n")
    out = tmp_path / "geom.wkt"
    rc = cli.main(["import-expiretiles", str(f), "--out", str(out),
                   "--cores", os.environ.get("TEST_SPARK_CPUS", "8")])
    assert rc == 0
    assert "Import successful" in capsys.readouterr().out
    wkt = out.read_text().strip()
    assert wkt.startswith("MULTIPOLYGON(") and wkt.count("(") == 3

    empty = tmp_path / "empty.txt"
    empty.write_text("\n")
    rc = cli.main(["import-expiretiles", str(empty),
                   "--cores", os.environ.get("TEST_SPARK_CPUS", "8")])
    assert rc == 0
    assert "No coords found" in capsys.readouterr().out


def test_cli_process_in_place(spark, tmp_path):
    """process command (reference copy_.py:130-167): apply an allow-listed
    process to a cache in place — same file set, transformed payloads."""
    import yaml

    from tilecloud_chain_spark import cli

    cfg_path = tmp_path / "test.yaml"
    cfg_path.write_text(yaml.safe_dump(REF_STYLE_YAML))
    cache = str(tmp_path / "cache")
    rc = cli.main([
        "generate-tiles", "--config", str(cfg_path), "--layer", "line",
        "--zooms", "0", "--checkpoint", str(tmp_path / "ckpt"),
        "--cache", cache, "--meta-buffer", "32",
        "--cores", os.environ.get("TEST_SPARK_CPUS", "8"),
    ])
    assert rc == 0

    def walk(root):
        out = {}
        for r, _, fs in os.walk(root):
            for f in fs:
                p = os.path.join(r, f)
                out[os.path.relpath(p, root)] = open(p, "rb").read()
        return out

    before = walk(cache)
    rc = cli.main(["process", "--config", str(cfg_path), "--layer", "line",
                   "--cache", cache, "--process", "png_quantize",
                   "--cores", os.environ.get("TEST_SPARK_CPUS", "8")])
    assert rc == 0
    after = walk(cache)
    assert set(before) == set(after) and len(after) == 6
    assert any(before[k] != after[k] for k in after)  # payloads transformed


def test_cli_generate_cost_parity_prints_reference_numbers(spark, tmp_path, capsys):
    """generate-cost --cost-algo count --tilecloud-parity prints the
    reference's exact golden counts for the point layer
    (reference tests/test_cost.py:80-112)."""
    import yaml

    from tilecloud_chain_spark import cli

    cfg = {
        "grids": REF_STYLE_YAML["grids"],
        "layers": {
            "point": {
                "grids": ["swissgrid_5"], "meta": True, "meta_size": 8,
                "meta_buffer": 128, "min_resolution_seed": 10,
                "geom_wkt": "MULTIPOINT ((600000 200000), (530000 150000))",
            }
        },
    }
    cfg_path = tmp_path / "cost.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    rc = cli.main([
        "generate-cost", "--config", str(cfg_path), "--layer", "point",
        "--cost-algo", "count", "--tilecloud-parity",
        "--cores", os.environ.get("TEST_SPARK_CPUS", "8"),
    ])
    assert rc == 0
    out = capsys.readouterr().out
    for line in ("1 meta tiles in zoom 0.", "1 meta tiles in zoom 1.",
                 "6 meta tiles in zoom 2.", "2 meta tiles in zoom 3.",
                 "64 tiles in zoom 0.", "64 tiles in zoom 1.",
                 "339 tiles in zoom 2.", "112 tiles in zoom 3."):
        assert line in out, (line, out)


def test_cli_curate_images_runs_and_resumes(spark, tmp_path, capsys):
    """curate-images over a north-rule-shaped parquet: runs the staged
    plan, writes the admission table, and a --job-id rerun skips every
    committed stage (same lineage) while reproducing the same output."""
    from pyspark.sql import functions as F

    from tilecloud_chain_spark import cli
    from tilecloud_chain_spark.checkpoint import CheckpointStore

    rows = []
    for i in range(24):
        g, v = divmod(i, 3)
        cap = f"cap {g}" if v < 2 else f"cap {g} alt"
        ph = g * 1000003 if v == 0 else (
            (g * 1000003) ^ (1 << (g % 20)) if v == 1 else (g * 1000003) ^ 0xFFFFF
        )
        rows.append((i, 640, 480, cap, ph))
    imgs_path = str(tmp_path / "imgs")
    spark.createDataFrame(
        rows, "image_id long, w int, h int, caption string, phash long"
    ).write.parquet(imgs_path)
    ev_path = str(tmp_path / "eval")
    spark.createDataFrame([(rows[0][4],)], "phash long").write.parquet(ev_path)
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")
    rc = cli.main([
        "curate-images", "--images", imgs_path, "--eval", ev_path,
        "--checkpoint", ckpt, "--out", out, "--batch-size", "4",
        "--cores", os.environ.get("TEST_SPARK_CPUS", "8"),
    ])
    assert rc == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert "admitted" in line and line.startswith("job ")
    job = line.split()[1].rstrip(":")
    adm = spark.read.parquet(out)
    got = sorted((r.image_id, r.admitted, r.batch_index, r.slot)
                 for r in adm.collect())
    assert len(got) == 24
    assert 0 < adm.filter("admitted").count() < 24
    store = CheckpointStore(spark, ckpt)
    wall_before = store.lineage(job, "dedup").agg(
        F.sum("wall_ms")).collect()[0][0]
    # resume path: every stage already done -> identical output, no rerun
    rc = cli.main([
        "curate-images", "--images", imgs_path, "--eval", ev_path,
        "--checkpoint", ckpt, "--out", out, "--batch-size", "4",
        "--job-id", job,
        "--cores", os.environ.get("TEST_SPARK_CPUS", "8"),
    ])
    assert rc == 0
    assert sorted((r.image_id, r.admitted, r.batch_index, r.slot)
                  for r in spark.read.parquet(out).collect()) == got
    assert store.lineage(job, "dedup").agg(
        F.sum("wall_ms")).collect()[0][0] == wall_before


def test_cli_curate_corpus_runs_and_resumes(spark, tmp_path, capsys):
    """curate-corpus over a crawl-shaped (doc_id, html) parquet: runs the
    staged text-admission plan, writes the admission table, and a
    --job-id rerun skips every committed stage (same lineage) while
    reproducing the same output."""
    from pyspark.sql import functions as F

    from tilecloud_chain_spark import cli
    from tilecloud_chain_spark.checkpoint import CheckpointStore

    adj = "quick lazy sleepy hungry clever brave timid shiny".split()
    rows = []
    for i in range(24):
        body = (f"the {adj[i % 8]} fox number {i} jumps over a "
                f"{adj[(i * 3) % 8]} dog near gate {(i * 5) % 19} and "
                f"rests beside stone {(i * 7) % 23} until dusk falls")
        if i % 9 == 4:
            body = rows[i - 1][1]
        rows.append((i, body))
    pages_path = str(tmp_path / "pages")
    spark.createDataFrame(rows, "doc_id long, body string").select(
        "doc_id",
        F.concat(F.lit("<html><body><p>"), F.col("body"),
                 F.lit("</p></body></html>")).alias("html"),
    ).write.parquet(pages_path)
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")
    argv = [
        "curate-corpus", "--pages", pages_path, "--checkpoint", ckpt,
        "--out", out, "--lm-threshold-micro", "-6000000",
        "--chunk-tokens", "32",
        "--cores", os.environ.get("TEST_SPARK_CPUS", "8"),
    ]
    rc = cli.main(argv)
    assert rc == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert "admitted" in line and "tokens packed" in line
    job = line.split()[1].rstrip(":")
    adm = spark.read.parquet(out)
    got = sorted((r.doc_id, r.admitted, r.exact_keep, r.n_tokens,
                  r.chunk_first) for r in adm.collect())
    assert len(got) == 24
    assert 0 < adm.filter("admitted").count() < 24
    assert adm.filter("NOT exact_keep").count() > 0
    store = CheckpointStore(spark, ckpt)
    wall_before = store.lineage(job, "extract").agg(
        F.sum("wall_ms")).collect()[0][0]
    rc = cli.main(argv + ["--job-id", job])
    assert rc == 0
    assert sorted((r.doc_id, r.admitted, r.exact_keep, r.n_tokens,
                   r.chunk_first)
                  for r in spark.read.parquet(out).collect()) == got
    assert store.lineage(job, "extract").agg(
        F.sum("wall_ms")).collect()[0][0] == wall_before


def test_cli_curate_corpus_warc_input_and_stopwords(spark, tmp_path, capsys):
    """--warc feeds raw WARC blobs through the bytes-first front door
    (record split + charset sniff) before the staged plan; --stopwords
    enables the jusText density rule (recorded in the job marker, so a
    resume with a different value is refused)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    adj = "quick lazy sleepy hungry clever brave timid shiny".split()

    def record(payload: bytes, uri: str) -> bytes:
        block = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
                 b"charset=utf-8\r\n\r\n" + payload)
        return (b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "
                + uri.encode() + b"\r\nContent-Length: "
                + str(len(block)).encode() + b"\r\n\r\n" + block + b"\r\n\r\n")

    recs = []
    for i in range(16):
        body = (f"this is the {adj[i % 8]} fox number {i} and it jumps "
                f"over a {adj[(i * 3) % 8]} dog near gate {(i * 5) % 19} "
                f"while the sun sets beyond stone {(i * 7) % 23}")
        page = f"<html><body><p>{body}</p></body></html>"
        recs.append(record(page.encode(), f"https://e/{i}"))
    warc_path = str(tmp_path / "warc")
    spark.createDataFrame(
        [(0, bytearray(b"".join(recs[:8]))), (1, bytearray(b"".join(recs[8:])))],
        "warc_id long, warc binary",
    ).write.parquet(warc_path)
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")
    from tilecloud_chain_spark import cli

    argv = [
        "curate-corpus", "--warc", warc_path, "--checkpoint", ckpt,
        "--out", out, "--lm-threshold-micro", "-6000000",
        "--chunk-tokens", "32", "--stopwords", "en",
        "--cores", os.environ.get("TEST_SPARK_CPUS", "8"),
    ]
    assert cli.main(argv) == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    job = line.split()[1].rstrip(":")
    adm = spark.read.parquet(out)
    assert adm.count() == 16
    # stopword rule keeps the prose ('this is the ... and ... over a ...')
    assert adm.filter("admitted").count() > 0
    # marker records the stopword language: resuming with a different
    # value is refused
    from tilecloud_chain_spark.checkpoint import CheckpointStore
    from tilecloud_chain_spark.operators import corpus as CP
    from tilecloud_chain_spark.operators.langid import (
        DEMO_TRAIN, train_ngram_profiles,
    )
    from tilecloud_chain_spark.operators.lm import train_bigram_lm
    from tilecloud_chain_spark.plans.corpus import curate_corpus

    store = CheckpointStore(spark, ckpt)
    assert '"stopwords_lang": "en"' in store.job(job)["command"]
    from tilecloud_chain_spark.operators.warc import warc_extract

    pages = warc_extract(spark.read.parquet(warc_path)).select(
        (F.col("warc_id") * F.lit(1_000_000).cast("long")
         + F.col("record_idx")).alias("doc_id"), "html")
    profiles = train_ngram_profiles(
        spark.createDataFrame(DEMO_TRAIN, "lang string, text string"))
    lm_model = train_bigram_lm(CP.extract_stage(
        pages.filter("doc_id % 7 = 0"), stopwords="en"
    ).select(F.col("clean_text").alias("text")))
    with _pytest.raises(ValueError, match="different parameters"):
        curate_corpus(spark, pages, store, profiles, lm_model,
                      lm_threshold_micro=-6_000_000, chunk_tokens=32,
                      stopwords_lang=None, job_id=job)

"""Spatial join / kNN / cell index tests."""

import math

from pyspark.sql import functions as F

from tilecloud_chain_spark.config import SWISSGRID_5
from tilecloud_chain_spark.functions import gridmath as GM
from tilecloud_chain_spark.operators import spatial as SP
from tilecloud_chain_spark.sources.images import synth_images


def test_assign_tiles_matches_driver_math(spark):
    df = synth_images(spark, 200, SWISSGRID_5, size=8)
    assigned = SP.assign_tiles(df, SWISSGRID_5, [0, 2])
    rows = assigned.select("image_id", "x", "y", "z", "tx", "ty").collect()
    assert len(rows) == 400
    for r in rows:
        ex, ey = SWISSGRID_5.tile_at(r.z, r.x, r.y)
        w, h = SWISSGRID_5.matrix_size(r.z)
        assert r.tx == min(max(ex, 0), w - 1)
        assert r.ty == min(max(ey, 0), h - 1)


def test_cell_key_roundtrip(spark):
    df = synth_images(spark, 50, SWISSGRID_5, size=8)
    a = SP.assign_tiles(df, SWISSGRID_5, [3])
    z, x, y = GM.cell_unpack(F.col("cell"))
    back = a.select("tx", "ty", z, x, y).collect()
    for r in back:
        assert (r.z, r.x, r.y) == (3, r.tx, r.ty)


def test_knn_bruteforce_exact(spark):
    pts = synth_images(spark, 300, SWISSGRID_5, size=8).select("image_id", "x", "y").cache()
    queries = spark.createDataFrame(
        [("q0", 600000.0, 200000.0), ("q1", 450000.0, 100000.0)], "qid string, x double, y double"
    )
    got = SP.knn_bruteforce(pts, queries, k=5).collect()
    rows = pts.collect()
    for qid, qx, qy in (("q0", 600000.0, 200000.0), ("q1", 450000.0, 100000.0)):
        dists = sorted(
            (math.hypot(r.x - qx, r.y - qy), r.image_id) for r in rows
        )[:5]
        expect = [i for _, i in dists]
        mine = [r.image_id for r in sorted(got, key=lambda r: r.rank) if r.qid == qid]
        assert mine == expect, qid
    pts.unpersist()


def test_knn_cells_matches_bruteforce(spark):
    pts = synth_images(spark, 400, SWISSGRID_5, size=8).select("image_id", "x", "y").cache()
    queries = spark.createDataFrame(
        [("q0", 600000.0, 200000.0), ("q1", 500000.0, 250000.0)],
        "qid string, x double, y double",
    )
    bf = {(r.qid, r.rank): r.image_id for r in SP.knn_bruteforce(pts, queries, k=3).collect()}
    # z0 span=25600m; 400 points over the bbox -> k=3 well within ring 2
    cl = {(r.qid, r.rank): r.image_id for r in SP.knn_cells(pts, queries, SWISSGRID_5, 0, 3, ring=2).collect()}
    assert cl == bf
    pts.unpersist()


def test_salted_repartition_spreads_hot_key(spark):
    df = spark.range(0, 10000).select(F.lit(42).alias("cell"), F.col("id"))
    out = SP.salted_repartition(df, 8, 8, ["cell"], salt_from=["id"])
    sizes = out.groupBy(F.spark_partition_id().alias("p")).count().collect()
    nonempty = [r for r in sizes if r["count"] > 0]
    assert len(nonempty) >= 4  # one hot key spread over multiple partitions
    assert out.count() == 10000


def test_salting_balances_hot_cell_partitions(spark):
    """Skew evidence: a hot cell (90% of rows on one key) concentrates on a
    single partition under plain hash partitioning; salted repartition
    spreads it, cutting the max-partition share by >2x."""
    hot = spark.range(0, 90000).select(F.lit(42).alias("cell"), F.col("id"))
    cold = spark.range(0, 10000).select((F.col("id") % 500).alias("cell"), F.col("id"))
    df = hot.unionAll(cold)

    plain = df.repartition(8, F.col("cell"))
    plain_sizes = [r["count"] for r in plain.groupBy(F.spark_partition_id()).count().collect()]
    salted = SP.salted_repartition(df, 8, 8, ["cell"], salt_from=["id"])
    salted_sizes = [r["count"] for r in salted.groupBy(F.spark_partition_id()).count().collect()]

    assert max(plain_sizes) >= 90000  # the hot key owns one partition
    assert max(salted_sizes) < max(plain_sizes) / 2
    assert sum(salted_sizes) == 100000


def test_knn_adaptive_matches_bruteforce_on_sparse_clusters(spark):
    """Adversarial sparsity: points clustered in one corner, queries far
    away — a fixed ring=1 returns <k rows there; the adaptive escalation
    must converge to exactly the brute-force answer."""
    from tilecloud_chain_spark.config import SWISSGRID_5 as G

    minx, miny, maxx, maxy = G.bbox
    pts = spark.range(0, 400).select(
        F.col("id").alias("image_id"),
        (F.lit(minx) + (F.col("id") % 20) * 50.0).alias("x"),
        (F.lit(miny) + (F.col("id") / 20).cast("int") * 50.0).alias("y"),
    )
    queries = spark.createDataFrame(
        [("far", maxx - 1000.0, maxy - 1000.0),
         ("mid", (minx + maxx) / 2, (miny + maxy) / 2),
         ("near", minx + 400.0, miny + 400.0)],
        "qid string, x double, y double",
    )
    got = {
        (r.qid, r.image_id, r.rank)
        for r in SP.knn_adaptive(pts, queries, G, zoom=4, k=5, ring=1).collect()
    }
    want = {
        (r.qid, r.image_id, r.rank)
        for r in SP.knn_bruteforce(pts, queries, k=5).collect()
    }
    assert got == want
    assert len({q for q, _, _ in got}) == 3  # every query answered


def test_knn_adaptive_no_driver_materialization(spark):
    """Scale property: the escalation loop must never collect query ids to
    the driver (the round-1/2 implementation built a giant ``isin`` literal
    — at millions of queries the IN-list alone blows up the plan). With 10^5
    queries the old code path would materialize 10^5 ids driver-side; the
    left-anti form stays distributed. Asserts (a) no ``isin``/``collect`` in
    the operator source, (b) the plan carries no IN-list, (c) the run
    completes with every query answered."""
    import inspect

    from tilecloud_chain_spark.config import SWISSGRID_5 as G

    src = inspect.getsource(SP.knn_adaptive)
    assert ".isin(" not in src and ".collect()" not in src

    minx, miny, maxx, maxy = G.bbox
    n_q = 100_000
    pts = spark.range(0, 20_000).select(
        F.col("id").alias("image_id"),
        (F.lit(minx) + (F.col("id") % 200) * 190.0).alias("x"),
        (F.lit(miny) + (F.col("id") / 200).cast("int") * 190.0).alias("y"),
    )
    queries = spark.range(0, n_q).select(
        F.col("id").cast("string").alias("qid"),
        (F.lit(minx) + (F.col("id") % 400) * 95.0).alias("x"),
        (F.lit(miny) + (F.col("id") / 400).cast("int") * 95.0).alias("y"),
    )
    out = SP.knn_adaptive(pts, queries, G, zoom=4, k=1, ring=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert " IN (" not in plan
    per_q = out.groupBy("qid").count()
    assert per_q.count() == n_q
    assert per_q.agg(F.max("count")).collect()[0][0] == 1


def test_knn_adaptive_equals_fixed_ring_when_dense(spark):
    from tilecloud_chain_spark.config import SWISSGRID_5 as G
    from tilecloud_chain_spark.sources.images import synth_images

    pts = synth_images(spark, 2000, G, size=8).select("image_id", "x", "y")
    queries = synth_images(spark, 8, G, size=8).select(
        F.concat(F.lit("q"), F.col("image_id")).alias("qid"), "x", "y"
    )
    got = {
        (r.qid, r.image_id, r.rank)
        for r in SP.knn_adaptive(pts, queries, G, zoom=4, k=3, ring=1).collect()
    }
    want = {
        (r.qid, r.image_id, r.rank)
        for r in SP.knn_bruteforce(pts, queries, k=3).collect()
    }
    assert got == want

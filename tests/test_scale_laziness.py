"""10^12-design-point sanity: enumeration and assignment stay lazy and
plan-time-bounded — nothing trillion-sized ever touches the driver."""

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from tilecloud_chain_spark.config import Grid
from tilecloud_chain_spark.operators import spatial as SP
from tilecloud_chain_spark.sources import enumerate as EN

# a deep pyramid down to sub-mm resolutions: z16 matrix is
# ~1.2M x 0.8M tiles (~1e12) and z17 ~4e12 — the design point.
DEEP = Grid(
    name="deep",
    resolutions=tuple(100.0 / (2**z) for z in range(18)),
    bbox=(420000.0, 30000.0, 900000.0, 350000.0),
    tile_size=256,
)


def test_trillion_tile_enumeration_is_lazy(spark):
    z = 16  # matrix ~1.2M x ~0.8M tiles ~ 1e12
    w, h = DEEP.matrix_size(z)
    assert w * h > 10**12  # the design point
    t0 = time.time()
    df = EN.dense_tiles(spark, DEEP, [z])
    head = df.limit(5).collect()
    assert len(head) == 5
    assert time.time() - t0 < 30  # plan + first partition only
    # the range rectangle was computed at plan time; no driver-side loop
    rng = EN.dense_range(DEEP, z, DEEP.bbox)
    assert rng == (0, w - 1, 0, h - 1)


def test_trillion_tile_bbox_pruning_counts_exactly(spark):
    """A small bbox inside the trillion-tile matrix enumerates ONLY its
    rectangle — plan-time pruning, exact count."""
    z = 11
    span = DEEP.span(z)
    bbox = (500000.0, 150000.0, 500000.0 + 100 * span, 150000.0 + 80 * span)
    df = EN.dense_tiles(spark, DEEP, [z], bounds=bbox)
    n = df.count()
    assert 100 * 80 <= n <= 101 * 81  # corner-floor inclusivity
    cells = SP.assign_tiles(
        spark.createDataFrame([(500000.0 + span, 150000.0 + span)], "x double, y double"),
        DEEP,
        [z],
    ).collect()
    assert len(cells) == 1
    # the assigned tile is inside the enumerated window
    assert bbox[0] <= 500000.0 + span <= bbox[2]


def test_deep_sparse_planning_is_distributed(spark):
    """Sparse enumeration at a deep zoom plans row-bands on executors: a
    geometry covering ~4000 metatile rows yields its intervals without any
    driver-side per-row loop (wall-clock bounded)."""
    from tilecloud_chain_spark import geometry as G

    z = 8  # res 0.39 m/px, metatile span 800m; geometry 100km tall
    geom = G.box_geom(500000, 150000, 501000, 250000)  # 1km x 100km sliver
    t0 = time.time()
    df = EN.sparse_metatiles(spark, DEEP, {z: geom}, [z], n=8)
    n = df.count()
    wall = time.time() - t0
    span = DEEP.span(z, 8)
    rows_expected = int(100000 / span) + 1
    cols_expected = int(1000 / span) + 2
    assert rows_expected <= n <= rows_expected * cols_expected
    assert wall < 60, wall


def test_ensure_parallelism_gate(spark):
    """The narrow-input guard repartitions only when the input has fewer
    partitions than default parallelism — a well-partitioned (scale) input
    must pass through untouched (no shuffle added to 100 TB plans)."""
    from tilecloud_chain_spark.session import ensure_parallelism

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000, 1, 1).selectExpr("id")
    widened = ensure_parallelism(narrow)
    assert widened.rdd.getNumPartitions() == par

    wide = spark.range(0, 1000, 1, par * 2).selectExpr("id")
    passed = ensure_parallelism(wide)
    assert passed is wide  # identity: not even a new plan node


def test_ensure_parallelism_never_executes_join_stages(spark, count_jobs):
    """Probing partition counts on a join-fed plan under AQE finalizes the
    adaptive plan and EXECUTES the join's stages (measured 2 jobs / 2.1 s)
    — the guard must back off from exchange-bearing plans without
    launching a single job."""
    from pyspark.sql import functions as F

    from tilecloud_chain_spark.session import ensure_parallelism

    docs = spark.range(0, 5000, 1, 2).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    ids = docs.select((F.col("doc_id") % 97).alias("doc_id")).distinct()
    joined = docs.join(ids, "doc_id", "left_semi")

    out, jobs = count_jobs(ensure_parallelism, joined)
    assert out is joined  # backed off untouched
    assert jobs == 0, "probe launched Spark jobs on a join-fed plan"


_LOCAL_ROWS = [(1 << 40, 7, "a", 0.5, True),
               (None, None, None, None, None),
               (-3, -(1 << 31), "\u00e9\u3000", -1e300, False)]


@pytest.mark.parametrize("schema,rows", [
    ("l long, i int, s string, d double, b boolean", _LOCAL_ROWS),
    ("l long, i int, s string, d double, b boolean", []),
    # the prefix-sum offsets shape: a nullable key, a non-null long
    (StructType([StructField("k", StringType()), StructField("o", LongType(), False)]),
     [(None, 0), ("x", 1 << 50)]),
], ids=["types_and_nulls", "empty", "non_null_column"])
def test_local_frame_runs_no_job(spark, count_jobs, schema, rows):
    """Driver-held rows become a LocalTableScan: building and collecting
    the frame runs no Spark job, so no Python worker task (a list-fed
    ``createDataFrame`` ran 1 job of Python tasks on every read), for
    every column type the engine's call sites hand it, with nulls, and
    empty."""
    from tilecloud_chain_spark.session import local_frame

    df, n_build = count_jobs(local_frame, spark, rows, schema)
    got, n_collect = count_jobs(df.collect)
    assert (n_build, n_collect) == (0, 0)
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert [tuple(r) for r in got] == rows
    want = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    assert df.schema == want


def test_local_frame_refuses_rows_of_another_width(spark):
    from tilecloud_chain_spark.session import local_frame

    for rows in ([(1, 2), (3,)], [(1, 2, 3)]):
        with pytest.raises(ValueError):
            local_frame(spark, rows, "a long, b long")

"""One way to pin: operators that read a frame more than once pin it with
``localCheckpoint``, never ``.cache()``. A cache registers a CacheManager
entry that nothing unpersists, so it outlives the call for the rest of the
session; a checkpoint's blocks go with the frame."""

import pytest


def _cost_count(spark):
    from tilecloud_chain_spark import geometry as G
    from tilecloud_chain_spark.config import SWISSGRID_5, WKT_LINE, Layer
    from tilecloud_chain_spark.plans import cost as C

    lay = Layer(name="line", grid="swissgrid_5", geom_wkt=WKT_LINE)
    g = G.parse_wkt(WKT_LINE)
    rows = {r.z: (r.n_metatiles, r.n_tiles)
            for r in C.cost_count(spark, SWISSGRID_5, lay, {0: g}).collect()}
    assert rows == {0: (1, 11)}


def _jaccard_pairs(spark):
    from tilecloud_chain_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g x"), (3, "q w e r t y u i")],
        "doc_id long, text string",
    )
    pairs = DD.jaccard_pairs(df, threshold=0.3, k=3).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


@pytest.mark.parametrize("call", [_cost_count, _jaccard_pairs],
                         ids=["cost_count", "jaccard_pairs"])
def test_no_cache_entry_outlives_the_call(spark, call):
    spark.catalog.clearCache()
    call(spark)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

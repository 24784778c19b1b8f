"""Physical-plan audits: the plans we ship must be the plans we'd want at
100 TB — filters pushed to the parquet scan, column pruning, broadcast
joins for small sides, map-side partial aggregation, codegen in the grid
math (SURVEY.md §4; task brief 'explain(formatted) and iterate')."""

from pyspark.sql import functions as F

from tilecloud_chain_spark.config import SWISSGRID_5
from tilecloud_chain_spark.operators import spatial as SP
from tilecloud_chain_spark.sources import enumerate as EN
from tilecloud_chain_spark.sources.images import synth_images


def _executed(df):
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_parquet_filter_pushdown_and_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = _formatted(q)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity" in plan  # predicate reached the scan
    # column pruning: the scan reads only the two projected columns
    readschema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in readschema and "l_quantity" in readschema
    assert "l_comment" not in readschema


def test_knn_cells_uses_broadcast_no_points_shuffle(spark):
    pts = synth_images(spark, 2000, SWISSGRID_5, size=8).select("image_id", "x", "y")
    queries = spark.createDataFrame(
        [("q0", 600000.0, 200000.0)], "qid string, x double, y double"
    )
    out = SP.knn_cells(pts, queries, SWISSGRID_5, 0, k=3, ring=2)
    plan = _executed(out)
    assert "BroadcastHashJoin" in plan
    # the big points side must not be exchanged for the join itself: the only
    # shuffle allowed is the window's partitioning of the (tiny) candidates
    join_part = plan.split("BroadcastHashJoin")[1]
    assert "BroadcastExchange" in plan


def test_assign_agg_has_partial_aggregation(spark):
    pts = synth_images(spark, 2000, SWISSGRID_5, size=8).select("image_id", "x", "y")
    agg = SP.assign_tiles(pts, SWISSGRID_5, [2]).groupBy("cell").count()
    plan = _executed(agg)
    # map-side combine before the exchange (partial_count)
    assert "partial_count" in plan or "HashAggregate(keys=[cell" in plan
    assert plan.count("Exchange") >= 1


def test_dense_tiles_is_pure_codegen(spark):
    df = EN.dense_tiles(spark, SWISSGRID_5, [0, 1])
    plan = _executed(df)
    # enumeration = Range + Project inside WholeStageCodegen; no Exchange,
    # no Python evaluation
    assert "Range" in plan
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_geom_filter_single_arrow_stage(spark):
    from tilecloud_chain_spark import geometry as G
    from tilecloud_chain_spark.config import WKT_POLYGON
    from tilecloud_chain_spark.operators import filters as FL

    geom = G.parse_wkt(WKT_POLYGON)
    df = FL.geom_intersect_filter(
        EN.dense_tiles(spark, SWISSGRID_5, [0, 1]), SWISSGRID_5, {0: geom, 1: geom}
    )
    plan = _executed(df)
    # one Arrow-batched python stage per union branch (2 zooms enumerated
    # separately), never more — extents are computed JVM-side so there are
    # no chained python round-trips; and never row-at-a-time python
    assert 1 <= plan.count("ArrowEvalPython") <= 2
    assert "BatchEvalPython" not in plan


def test_cell_join_broadcasts_tile_side(spark):
    from pyspark.sql.functions import broadcast

    from tilecloud_chain_spark.functions import gridmath as GM

    pts = synth_images(spark, 2000, SWISSGRID_5, size=8).select("image_id", "x", "y")
    a = SP.assign_tiles(pts, SWISSGRID_5, [3]).select("image_id", "cell")
    tiles = EN.dense_tiles(spark, SWISSGRID_5, [3]).select(
        GM.cell_key(F.col("z"), F.col("x"), F.col("y"))
    )
    j = a.join(broadcast(tiles), "cell")
    plan = _executed(j)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_expire_boundary_single_shuffle(spark):
    """Boundary extraction must be ONE groupBy shuffle (edge-parity), not
    four anti-joins over the full cell set."""
    from tilecloud_chain_spark.operators.expire import boundary_edges

    tiles = spark.createDataFrame(
        [(4, x, y) for x in range(3) for y in range(3)], "z int, x long, y long"
    )
    plan = boundary_edges(tiles)._jdf.queryExecution().executedPlan().toString()
    # one exchange for the distinct cells + one for the edge-parity groupBy
    assert plan.count("Exchange") <= 2
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def _final_plan(plan: str) -> str:
    """AQE's executed-plan string prints the final plan AND the initial
    plan; count operators only in the final section."""
    return plan.split("== Initial Plan ==")[0]


def test_build_overviews_single_shuffle(spark):
    """Overview building = exactly one Exchange (the parent-key groupBy);
    decode/compose/resample/encode all live in one Arrow stage after it."""
    import numpy as np

    from tilecloud_chain_spark.functions import image as IMG
    from tilecloud_chain_spark.operators.raster import build_overviews

    ts = 8
    img = np.zeros((ts, ts, 4), np.uint8)
    rows = [(3, x, y, bytearray(IMG.png_encode(img))) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "z int, x int, y int, data binary")
    plan = _final_plan(_executed(build_overviews(df, ts)))
    assert plan.count("Exchange") == 1, plan


def test_langid_scale_path_no_shuffle(spark):
    """The Arrow classification path is shuffle-free: one mapInPandas over
    the documents, profiles broadcast in the closure."""
    from tilecloud_chain_spark.operators import langid as LI

    train = spark.createDataFrame(
        [("en", "the quick brown fox jumps over the lazy dog")],
        "lang string, text string",
    )
    profiles = LI.train_ngram_profiles(train, top_k=50)
    docs = spark.createDataFrame([(1, "hello world three grams")],
                                 "doc_id long, text string")
    plan = _executed(LI.langid_ngram_udf(docs, profiles))
    assert "Exchange" not in plan, plan


def test_dedup_lines_no_window_sort(spark):
    """Line dedup must contain NO window operator: a row_number window
    partitioned by the line hash would funnel every copy of a
    corpus-universal boilerplate line into one task's sort (AQE splits
    skewed joins, not window partitions). The plan is a map-side-combinable
    min aggregation + a one-row-per-hash join + the reassembly groupBy."""
    from tilecloud_chain_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], "doc_id long, text string"
    )
    plan = _final_plan(_executed(dedup_lines(df)))
    assert "Window" not in plan, plan
    assert "partial_min" in plan or "partial_first" in plan, plan  # map-side combine
    assert plan.count("Exchange") <= 4, plan


def test_shingle_pipeline_tokenizes_once(spark):
    """Regression guard for the InferFiltersFromGenerate trap: exploding an
    ALIASED shingle-array attribute lets Catalyst add a size()>0 filter
    whose pushdown re-inlines the whole tokenize+transform at the scan —
    the tokenizer then runs twice per row (measured 0.8s -> 10s at sf0.1).
    The optimized shingle-table plan (the one ``jaccard_pairs`` and
    ``decontaminate`` consume) must contain the regex split exactly once."""
    from tilecloud_chain_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string"
    )
    sh = DD.shingles(df, 3)
    plan = sh._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan


def _plan_ops(plan: str) -> list[str]:
    """Operator names of an executed plan's tree (the final plan only, for
    an adaptive one) — one per line, codegen stage markers stripped."""
    import re

    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    ops = []
    for line in tree.splitlines():
        m = re.match(r"^[\s:|+\-]*(?:\*\(\d+\) |\* )?(\w+)", line)
        if m:
            ops.append(m.group(1))
    return ops


def test_dedup_keep_flags_plan_shape(spark):
    """Pins the shipping admission dedup plan (``dedup_keep_flags``, the
    ``corpus_admission`` dedup stage) on a fixed corpus. The returned
    frame's executed plan joins the pinned (id, md5) table to the group
    table and to the component table as two broadcast-hash joins (AQE
    turns the planned sort-merge joins into broadcast joins over the two
    probe-side shuffles). Every SQL execution the call runs (the md5
    group pin, the Arrow signature pin, banding, verification, the CC
    edge count) is counted as well.

    A broadcast join's build side counts once whether AQE builds it
    (``BroadcastExchange``) or reuses an identical one built earlier in
    the same query (``ReusedExchange`` under a ``BroadcastQueryStage``):
    in ``jaccard_pairs``' verify join, which side gets broadcast, and so
    whether the second join can reuse the first one's broadcast, depends
    on which shuffle stage finishes first."""
    import random

    from tilecloud_chain_spark.operators import dedup as DD

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(14))) for i in range(60)]
    rows += [(900000 + i, t) for i, t in rows[:5]]           # exact clones
    rows += [(9000000 + i, t + " zz") for i, t in rows[:6]]  # near clones
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc.listenerBus().waitUntilEmpty()
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    def counts(ops):
        out = {k: ops.count(k) for k in ("Exchange", "SortMergeJoin", "BroadcastHashJoin")}
        out["broadcast_builds"] = ops.count("BroadcastExchange") + sum(
            (parent, op) == ("BroadcastQueryStage", "ReusedExchange")
            for parent, op in zip(ops, ops[1:]))
        return out

    before = {e.executionId() for e in executions()}
    out = DD.dedup_keep_flags(df)
    flags = out.collect()
    assert sum(not r.exact_keep for r in flags) == 5
    assert sum(not r.neardup_keep for r in flags) >= 11

    final = counts(_plan_ops(out._jdf.queryExecution().executedPlan().toString()))
    assert final == {"Exchange": 2, "broadcast_builds": 2,
                     "SortMergeJoin": 0, "BroadcastHashJoin": 2}, final
    run = [e for e in executions() if e.executionId() not in before]
    total = counts([op for e in run for op in _plan_ops(e.physicalPlanDescription())])
    assert len(run) == 10, len(run)
    assert total == {"Exchange": 13, "broadcast_builds": 8,
                     "SortMergeJoin": 0, "BroadcastHashJoin": 8}, total


def test_dedup_spans_no_window_over_hash(spark):
    """Substring-span dedup: first-occurrence selection must be the
    map-side-combinable min-struct aggregation, NEVER a window partitioned
    by the window hash (a corpus-universal boilerplate span would funnel
    every occurrence into one task's window sort). The only Window
    operators allowed are the per-DOCUMENT island-merge windows (bounded by
    document length)."""
    from tilecloud_chain_spark.operators.dedup import dedup_spans

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "z a b c d e f y")],
        "doc_id long, text string",
    )
    plan = _executed(dedup_spans(df, n=5))
    # every window spec partitions by the doc id, never the span hash
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "_h" not in line, line
    assert "partial_min" in plan, plan  # map-side combine on the hash agg


def test_semantic_assignment_broadcasts_centroids(spark):
    """semantic_dedup's centroid assignment must broadcast the (tiny)
    centroid table — a shuffled cartesian against 10^12 vectors would be a
    scale-killer. The executed plan shows a broadcast join, no shuffle of
    the vector side before assignment."""
    from tilecloud_chain_spark.operators.similarity import assign_centroids

    embs = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cluster int, cvec array<double>",
    )
    # assert on the assignment stage itself: semantic_dedup localCheckpoints
    # it, which truncates lineage and hides the stage from the final plan
    out = assign_centroids(embs, cents)
    plan = _executed(out)
    assert "Broadcast" in plan, plan
    # assignment is a map-side-combinable max-struct agg, never a
    # row_number window (which would shuffle+sort k copies of every vector)
    assert "Window" not in plan, plan
    assert "partial_max" in plan, plan


def test_topk_windows_get_partial_window_group_limit(spark):
    """The rank<=k windows in the top-k operators (cosine_topk, knn) are
    scale-safe BECAUSE of Catalyst's rank-limit pushdown (SPARK-37099,
    WindowGroupLimit): a `Partial` WindowGroupLimit runs BEFORE the
    exchange, so each map task forwards at most k rows per query key
    instead of its whole candidate set. This only fires while the filter
    on the row_number column sits directly over the window with a literal
    limit <= spark.sql.window.group.limit.threshold (default 1000) — a
    refactor that interposes a projection the optimizer can't see through,
    or a non-literal k, silently reverts to full window sorts. Pin it."""
    from tilecloud_chain_spark.operators.similarity import cosine_topk

    docs = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 2.0]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(str(900 + i), [1.0, float(i % 3), 0.5]) for i in range(3)],
        "qid string, embedding array<double>",
    )
    plan = _executed(cosine_topk(docs, q, k=3))
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan  # the map-side (pre-exchange) instance

    pts = synth_images(spark, 500, SWISSGRID_5, size=8).select("image_id", "x", "y")
    queries = spark.createDataFrame(
        [("q0", 600000.0, 200000.0)], "qid string, x double, y double"
    )
    knn = SP.knn_cells(pts, queries, SWISSGRID_5, 3, k=4, ring=1)
    kplan = _executed(knn)
    assert "WindowGroupLimit" in kplan, kplan
    assert "Partial" in kplan, kplan

    # streaming first-wins dedup: a flood of identical content collapses to
    # <=1 row per hash per map task before the exchange (same pushdown)
    from tilecloud_chain_spark.streaming.corpus_stream import admit_batch

    batch = spark.createDataFrame(
        [(i, "a perfectly reasonable document body " * 3) for i in range(50)],
        "doc_id long, text string",
    )
    aplan = _executed(admit_batch(batch, None))
    assert "WindowGroupLimit" in aplan, aplan
    assert "Partial" in aplan, aplan

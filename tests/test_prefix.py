"""The distributed prefix-sum core (operators/prefix.py): the rank and
weighted forms, their callers' plans and job counts, and attach_offsets,
its offsets-attachment step.

The literal create_map offsets table must never grow past
LITERAL_OFFSETS_MAX entries (at 10^4-10^5 cluster partitions it becomes a
multi-megabyte codegen'd expression); above the threshold, and for any
non-integral key, a broadcast-joined offsets DataFrame is used instead.
"""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tilecloud_chain_spark.operators.prefix import (
    LITERAL_OFFSETS_MAX,
    attach_offsets,
    prefix_sum,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _offsets_of(base, key_cols, rows, **kw):
    frame, off = attach_offsets(base, key_cols, rows, **kw)
    sel = frame.select(*key_cols, off.alias("off"))
    return sel, {tuple(r[k] for k in key_cols): r["off"] for r in sel.collect()}


def test_literal_path_small_int_keys(spark):
    base = spark.createDataFrame([(0, 10), (1, 20), (2, 30)], "p int, v int")
    rows = [(0, 100), (1, 200), (2, 300)]
    sel, got = _offsets_of(base, ["p"], rows)
    assert got == {(0,): 100, (1,): 200, (2,): 300}
    plan = _plan(sel)
    assert "Join" not in plan  # literal map stays inside codegen, no join node


def test_join_path_above_threshold(spark):
    base = spark.createDataFrame([(i, i * 10) for i in range(8)], "p int, v int")
    rows = [(i, i * 7) for i in range(8)]
    sel, got = _offsets_of(base, ["p"], rows, literal_max=4)
    assert got == {(i,): i * 7 for i in range(8)}
    plan = _plan(sel)
    assert "BroadcastHashJoin" in plan
    assert "map(" not in plan  # no literal offsets map anywhere in the plan


def test_default_threshold_is_enforced(spark):
    """> LITERAL_OFFSETS_MAX entries with the DEFAULT threshold: the plan
    must carry a broadcast join, never a create_map literal of that size —
    this is the scale guard itself (a 10^5-partition cluster job lands
    here)."""
    n = LITERAL_OFFSETS_MAX + 10
    base = spark.range(n).select(F.col("id").cast("int").alias("p"))
    rows = [(i, i) for i in range(n)]
    sel, got = _offsets_of(base, ["p"], rows)
    assert got == {(i,): i for i in range(n)}
    plan = _plan(sel)
    assert "BroadcastHashJoin" in plan
    assert "map(" not in plan


def test_string_keys_always_join_and_do_not_collide(spark):
    """Non-int keys must take the join path regardless of size: the literal
    path's concat lookup would collide ('a|b', 'c') with ('a', 'b|c'). The
    join on real columns keeps them distinct."""
    base = spark.createDataFrame(
        [("a|b", "c"), ("a", "b|c")], "k1 string, k2 string"
    )
    rows = [("a|b", "c", 111), ("a", "b|c", 222)]
    sel, got = _offsets_of(base, ["k1", "k2"], rows)
    assert got == {("a|b", "c"): 111, ("a", "b|c"): 222}
    assert "BroadcastHashJoin" in _plan(sel)


def test_empty_rows_returns_typed_zero(spark):
    base = spark.createDataFrame([], "p int, v int")
    frame, off = attach_offsets(base, ["p"], [])
    assert frame.select(off.alias("off")).count() == 0


def test_consumers_never_emit_oversized_literal_map(spark):
    """The prefix-sum core on an 8-core session stays on the literal path
    (8 partitions x 3 groups << 256) — its plan therefore carries no join
    introduced by offsets attachment. Counting map literal entries guards
    the threshold contract."""
    import re

    df = spark.createDataFrame(
        [(i % 3, i) for i in range(50)], "g int, v long"
    )
    base, rank, _ = prefix_sum(df, order_cols=["v"], group_cols=["g"])
    plan = _plan(base.select("g", "v", rank.alias("r")))
    for m in re.finditer(r"map\(((?:[^()]|\([^()]*\))*)\)", plan):
        entries = m.group(1).count(",") // 2 + 1
        assert entries <= LITERAL_OFFSETS_MAX, plan


def test_rank_core_refuses_a_run_split_across_partitions(spark, monkeypatch):
    """The rank form reads positions off ``monotonically_increasing_id``,
    consecutive only inside one physical partition: a ``_pid`` run split
    across partitions breaks its contract and must raise, not misrank.
    The split is forced by a partition id that reads 0 everywhere."""
    df = spark.range(0, 10, numPartitions=2)
    with monkeypatch.context() as m:
        m.setattr(F, "spark_partition_id", lambda: F.lit(0))
        with pytest.raises(RuntimeError, match="not consecutive"):
            prefix_sum(df, order_cols=["id"])
    # the same rows under the real partition ids satisfy it
    base, pos, totals = prefix_sum(df, order_cols=["id"])
    assert sorted(r.p for r in base.select(pos.alias("p")).collect()) == list(range(10))
    assert totals == {(): 10}


@settings(max_examples=10, deadline=None)
@given(rows=st.lists(
    st.tuples(st.integers(0, 3), st.integers(-50, 50),
              st.one_of(st.none(), st.integers(0, 1000))),
    min_size=0, max_size=60, unique_by=lambda r: (r[0], r[1]),
))
def test_weighted_sum_matches_python_reference(spark, rows):
    """Grouped exclusive running sum == a sequential Python scan (null
    weights count as 0), and the totals are each group's weight sum."""
    df = spark.createDataFrame(rows, "g int, v long, w long")
    base, run, totals = prefix_sum(df, order_cols=["v"], group_cols=["g"],
                                   weight="w")
    got = {(r.g, r.v): r.run
           for r in base.select("g", "v", run.alias("run")).collect()}
    want, acc = {}, {}
    for g, v, w in sorted(rows):
        want[(g, v)] = acc.get(g, 0)
        acc[g] = acc.get(g, 0) + (w or 0)
    assert got == want
    assert totals == {(g,): t for g, t in acc.items()}


# Spark jobs per call (the call plus a collect of its output) before the
# prefix sum had one core, when text.py and sampling.py each carried a
# copy and the rank core lived in image_curation.py; the same on 4 and 8
# cores
_JOBS_BEFORE_CORE = {
    "token_stream_chunks": 6,
    "shard_assignments": 7,
    "aspect_bucket_pack": 5,
    "epoch_schedule": 5,
    "lm_perplexity_buckets": 12,
}


def _caller(spark, name):
    from tilecloud_chain_spark.operators import image_curation as IC
    from tilecloud_chain_spark.operators import lm as LM
    from tilecloud_chain_spark.operators import sampling as SA
    from tilecloud_chain_spark.operators import text as TX

    words = ["the", "cat", "sat", "on", "mat", "dog", "ran", "park"]
    docs = spark.createDataFrame(
        [(i, " ".join(words[(i * k) % 8] for k in range(i % 9)))
         for i in range(200)], "doc_id long, text string")
    if name == "token_stream_chunks":
        return lambda: TX.token_stream_chunks(docs, 16)
    if name == "shard_assignments":
        return lambda: SA.shard_assignments(docs, 64, size_expr=F.length("text"))
    if name == "aspect_bucket_pack":
        imgs = spark.createDataFrame(
            [(f"i{i:03d}", 64 + (i * 37) % 200, 64 + (i * 53) % 200)
             for i in range(200)], "image_id string, w int, h int")
        return lambda: IC.aspect_bucket_pack(imgs, 8)
    if name == "epoch_schedule":
        batches = spark.createDataFrame(
            [(i % 7, i // 7) for i in range(200)],
            "bucket int, batch_index long")
        return lambda: IC.epoch_schedule(batches, 4)
    ref = spark.createDataFrame(
        [("the cat sat on the mat",), ("the dog ran in the park",)],
        "text string")
    bw, pw = (t.localCheckpoint() for t in LM.train_bigram_lm(ref))
    return lambda: LM.lm_perplexity_buckets(docs, bw, pw)


@pytest.mark.parametrize("name", sorted(_JOBS_BEFORE_CORE))
def test_callers_read_no_exchange_after_the_pin(spark, count_jobs, name):
    """Each caller's output reads the core's pinned frame with no
    Exchange above it: the partition-local value was computed before the
    pin, whose LogicalRDD erases the partitioning a window after it would
    need. Jobs per call stay at or below the pre-core count."""
    out, n_call = count_jobs(_caller(spark, name))
    rows, n_collect = count_jobs(out.collect)
    assert len(rows) == 200
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert n_call + n_collect <= _JOBS_BEFORE_CORE[name], (n_call, n_collect)

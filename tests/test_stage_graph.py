"""The stage-graph runner (plans/graph.py): the declared capstone graphs'
waves and memory-mode pins, computed without a Spark session, and the
store-mode failure semantics of one concurrent wave."""

import inspect

import pytest

from tilecloud_chain_spark.operators.corpus import corpus_graph
from tilecloud_chain_spark.operators.image_curation import image_graph
from tilecloud_chain_spark.plans.graph import pins, waves

_INPUT = object()  # a declaration never touches its inputs


def _names(ws):
    return [[n.name for n in w] for w in ws]


def _declare(graph, *inputs):
    """``graph`` declared with every required parameter unset."""
    unset = [p.name for p in inspect.signature(graph).parameters.values()
             if p.kind is p.KEYWORD_ONLY and p.default is p.empty]
    return graph(*inputs, **dict.fromkeys(unset))


@pytest.mark.parametrize("eval_df, want", [
    (_INPUT, [["extract"], ["rows"], ["score", "dedup", "decontam"],
              ["admitted"], ["pack"]]),
    (None, [["extract"], ["rows"], ["score", "dedup"], ["admitted"],
            ["pack"]]),
])
def test_corpus_graph_waves(eval_df, want):
    nodes = _declare(corpus_graph, _INPUT, _INPUT, _INPUT, eval_df)
    assert _names(waves(nodes)) == want


@pytest.mark.parametrize("eval_df, clip_pairs, first", [
    (_INPUT, _INPUT, ["dedup", "decontam", "clip"]),
    (_INPUT, None, ["dedup", "decontam"]),
    (None, _INPUT, ["dedup", "clip"]),
    (None, None, ["dedup"]),
])
def test_image_graph_waves(eval_df, clip_pairs, first):
    ws = waves(_declare(image_graph, _INPUT, eval_df, clip_pairs))
    assert _names(ws) == [first, ["admitted"], ["batches"], ["schedule"]]


def test_image_admission_stops_at_batches():
    nodes = _declare(image_graph, _INPUT, _INPUT, _INPUT)
    ws = waves(nodes, ("admitted", "batches"))
    assert _names(ws) == [["dedup", "decontam", "clip"], ["admitted"],
                          ["batches"]]


def test_nodes_are_keyed_by_name_and_zoom():
    """One stage name at several zooms is several nodes, and an input
    names the node of its reader's own zoom."""
    from tilecloud_chain_spark.plans.graph import Node

    tiles = [Node("tiles", (), _INPUT, z) for z in (0, 3, 7)]
    assert [[n.zoom for n in w] for w in waves(tiles, ("tiles",))] == [[0, 3, 7]]
    nodes = [Node("a", (), _INPUT, 0), Node("a", (), _INPUT, 1),
             Node("b", ("a",), _INPUT, 1)]
    assert [[(n.name, n.zoom) for n in w] for w in waves(nodes, ("b",))] == [
        [("a", 1)], [("b", 1)]]


def test_corpus_memory_pins():
    nodes = _declare(corpus_graph, _INPUT, _INPUT, _INPUT, _INPUT)
    targets = ("admitted", "pack")
    assert pins(waves(nodes, targets), targets) == {
        "extract": "lazy", "rows": "eager", "score": "eager",
        "dedup": "eager", "decontam": "eager", "admitted": "lazy",
        "pack": None,
    }
    # a caller-supplied extraction is neither built nor pinned
    ws = waves(nodes, targets, given={"extract"})
    assert _names(ws)[0] == ["rows"]
    assert "extract" not in pins(ws, targets)


def test_image_memory_pins():
    targets = ("admitted", "batches")
    ws = waves(_declare(image_graph, _INPUT, _INPUT, _INPUT), targets)
    assert pins(ws, targets) == {
        "dedup": "eager", "decontam": "eager", "clip": "eager",
        "admitted": "lazy", "batches": None,
    }
    ws = waves(_declare(image_graph, _INPUT, None, None), targets)
    assert pins(ws, targets) == {
        "dedup": None, "admitted": "lazy", "batches": None,
    }


def test_store_wave_commits_siblings_of_a_failed_node(spark, tmp_path):
    """Eight concurrent stages on one store (more threads than cores),
    one failing: every other stage commits ``done`` with its complete
    lineage, the failing one is marked ``error``, no later wave starts,
    and the failure is re-raised. A lost status merge would leave a
    sibling short of ``done``."""
    import sys

    from pyspark.sql import functions as F

    from tilecloud_chain_spark.checkpoint import CheckpointStore
    from tilecloud_chain_spark.plans.graph import Node, run

    def build(i):
        def b(ins):
            if i == 5:
                raise ValueError("stage 5 fails")
            return spark.range(0, 10 * (i + 1), numPartitions=2)
        return b

    nodes = [Node(f"s{i}", (), build(i)) for i in range(8)]
    nodes.append(Node("after", tuple(n.name for n in nodes),
                      lambda ins: spark.range(1)))
    store = CheckpointStore(spark, str(tmp_path))
    job = store.open_job("wave", {})
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with pytest.raises(ValueError, match="stage 5 fails"):
            run(nodes, ("after",), store=store, job_id=job,
                cell=lambda df: F.col("id"))
    finally:
        sys.setswitchinterval(interval)
    for i in range(8):
        if i == 5:
            assert store.stage_status(job, "s5", 0) == "error"
            continue
        assert store.stage_status(job, f"s{i}", 0) == "done", i
        rows = store.lineage(job, f"s{i}").agg(F.sum("row_count")).first()[0]
        assert rows == 10 * (i + 1), i
    assert store.stage_status(job, "after", 0) == "created"

"""One runner for every staged job's stage graph.

A job is declared once, as a list of :class:`Node` s, and run either in
memory (a capstone's composed operator) or through a
:class:`CheckpointStore` (the resumable staged plan: both capstones, and
the tile job's per-zoom ``tiles`` stages). Both modes group the nodes
into waves — a node joins the first wave after all of its inputs — and
run the nodes of one wave concurrently on a thread pool that carries the
caller's Spark local properties (job group, description, pool), so
independent stages overlap in both modes.

- **memory**: node outputs are pinned with ``localCheckpoint`` by a rule
  computed from the graph (:func:`pins`), never placed by hand.
- **store**: each node is one ``run_stage(job_id, name, zoom, build)``
  call (skipped when already ``done``), and later nodes read its
  committed output back with ``store.output``.

When a node fails, the other nodes of its wave still finish (in store
mode each commits ``done`` or marks ``error``); then no further wave
starts and the first failure, in declaration order, is re-raised."""

from __future__ import annotations

from collections.abc import Callable, Collection, Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession

from tilecloud_chain_spark.checkpoint import CheckpointStore


class Node(NamedTuple):
    """One stage: ``build`` maps ``{input name: DataFrame}`` to the
    node's output. A node is keyed by its name and zoom, so one stage can
    be declared at several zooms; its inputs name nodes of its own zoom.
    Capstone stages are not zoom-structured and keep zoom 0."""

    name: str
    inputs: tuple[str, ...]
    build: Callable[[dict[str, DataFrame]], DataFrame]
    zoom: int = 0


def waves(
    nodes: Sequence[Node],
    targets: Collection[str] | None = None,
    given: Collection[str] = (),
) -> list[list[Node]]:
    """The nodes ``targets`` name (at every zoom; all nodes when None) and
    the nodes they need, in waves: a node joins the first wave after all
    of its inputs. ``given`` names outputs supplied by the caller; they
    are neither built nor waved."""
    by = {(n.name, n.zoom): n for n in nodes}
    level: dict[tuple[str, int], int] = {}

    def lv(key: tuple[str, int]) -> int:
        if key not in level:
            level[key] = 1 + max((lv((i, key[1])) for i in by[key].inputs
                                  if i not in given), default=-1)
        return level[key]

    for key in by:
        if targets is None or key[0] in targets:
            lv(key)
    out: list[list[Node]] = [[] for _ in range(1 + max(level.values(), default=-1))]
    for n in nodes:
        if (n.name, n.zoom) in level:
            out[level[n.name, n.zoom]].append(n)
    return out


def pins(ws: list[list[Node]], targets: Collection[str]) -> dict[str, str | None]:
    """Memory-mode pin per node: ``"eager"`` (materialized inside the
    node's own thread) when the node shares its wave with another node —
    otherwise its work would run later, serially, inside whichever node
    reads it first — or when two nodes of one later wave read it, which
    would race to compute it; ``"lazy"`` when it has two or more readers
    otherwise; None with one reader. The caller reading a target counts
    as one reader."""
    out: dict[str, str | None] = {}
    for w in ws:
        for n in w:
            # the wave of each reader; the caller reads after the last wave
            r = [k for k, v in enumerate(ws) for m in v if n.name in m.inputs]
            r += [len(ws)] * (n.name in targets)
            out[n.name] = ("eager" if len(w) > 1 or len(set(r)) < len(r)
                           else "lazy" if len(r) > 1 else None)
    return out


def run(
    nodes: Sequence[Node],
    targets: Sequence[str],
    *,
    given: Mapping[str, DataFrame] | None = None,
    store: CheckpointStore | None = None,
    job_id: str | None = None,
    cell: Callable[[DataFrame], Column] | None = None,
    bytes_col: str | None = None,
) -> dict[str, DataFrame]:
    """Run the nodes ``targets`` need.

    Memory mode (``store`` None), for graphs of one zoom: returns the
    targets' outputs by name; ``given`` supplies already materialized
    outputs by node name. Store mode: every node is a stage of ``job_id``
    at the node's zoom, ``cell(df)`` is the lineage cell column appended
    to each stage output, ``bytes_col`` the column whose bytes the lineage
    sums, and nothing is returned — read the committed outputs with
    ``store.output`` (a later node's inputs are read back once, after
    their wave)."""
    given = dict(given or {})
    ws = waves(nodes, targets, given)
    if store is None:
        pin = pins(ws, targets)

        def execute(n: Node, ins: dict[str, DataFrame]) -> DataFrame:
            df = n.build(ins)
            return df if pin[n.name] is None else df.localCheckpoint(
                eager=pin[n.name] == "eager")
    else:
        read = {(i, n.zoom) for w in ws for n in w for i in n.inputs}

        def execute(n: Node, ins: dict[str, DataFrame]) -> DataFrame | None:
            def build() -> DataFrame:
                df = n.build(ins)
                return df.withColumn("cell", cell(df))

            store.run_stage(job_id, n.name, n.zoom, build, bytes_col=bytes_col)
            return (store.output(job_id, n.name, n.zoom).drop("cell")
                    if (n.name, n.zoom) in read else None)

    spark = SparkSession.active()
    outs: dict[tuple[str, int], DataFrame | None] = {}
    for w in ws:
        with ThreadPoolExecutor(max_workers=len(w)) as pool:
            # one wrapper per node: each thread gets its own copy of the
            # caller's local properties, which Spark sets per query
            futs = [
                pool.submit(inheritable_thread_target(spark)(execute), n,
                            {i: given[i] if i in given else outs[i, n.zoom]
                             for i in n.inputs})
                for n in w
            ]
        errors = [f.exception() for f in futs if f.exception() is not None]
        if errors:
            raise errors[0]
        outs.update(((n.name, n.zoom), f.result()) for n, f in zip(w, futs))
    return {} if store is not None else {
        name: df for (name, _), df in outs.items() if name in targets}

"""The distributed prefix sum: the exclusive running sum of a weight
column per group, in order-key order, without a single-partition (or
group-partitioned) window. A weight of 1 gives the dense 0-based rank.

Callers: ``text.token_stream_chunks`` (token offsets),
``sampling.shard_assignments`` (byte offsets), and the ranks of
``image_curation.aspect_bucket_pack``, ``image_curation.epoch_schedule``
and ``lm.lm_perplexity_buckets``.

:func:`prefix_sum` lays the rows out so that every (``_pid``, group) pair
is one contiguous run of the (group, order) total order inside one
physical partition, with runs ascending in ``_pid`` per group — by a
range repartition on the keys (``_pid`` = physical partition id), or by
hashing a ``_pid`` the caller derives from the order key and knows to be
monotone in it (``epoch_schedule``: no range-boundary sampling pass).
It then computes the partition-LOCAL running value, pins the frame
ONCE, lazily, collects one O(partitions x groups) aggregate to the
driver, turns run totals into base offsets, and attaches them with
:func:`attach_offsets`. The partition-local value is computed before
the pin because the checkpoint's LogicalRDD erases the partitioning: a
window read after it re-shuffles rows that are already clustered. The
plan read after the pin is exchange-free.

Two partition-local forms:

- **rank** (no weight): ``monotonically_increasing_id`` over the sorted
  run. Within a partition it counts by exactly 1 per row, so a run's ids
  are consecutive and ``rank = _run + (group_offset - run_min)``; the
  collect fetches each run's min and max id and a RuntimeError reports a
  run whose ids are not consecutive (split across partitions, or a Spark
  whose id stops counting by 1). Cheaper than a ``row_number`` window:
  no sort by (_pid, group) beyond the layout's own.
- **weighted**: a ``rowsBetween(unboundedPreceding, currentRow)`` sum
  partitioned by (``_pid``, group), less the row's own weight, plus the
  group offset. A null weight counts as 0.

Offsets travel in one of two ways, chosen by table size and key types:

- **literal ``create_map``** for tiny integer-keyed tables
  (<= ``LITERAL_OFFSETS_MAX`` entries): zero extra plan nodes, the
  lookup stays inside whole-stage codegen.
- **broadcast-joined offsets DataFrame** otherwise: on a real cluster at
  10^4-10^5 partitions a literal map is a multi-megabyte codegen'd
  expression (or a codegen fallback) rebuilt on every executor. A ~100 KB
  broadcast join is the scale-safe form. It also joins on the REAL key
  columns (null-safe), which sidesteps the string-concat map-key
  collisions the literal path would have for non-integral group values
  ('|' inside a string group, Python ``str()`` vs Spark ``cast`` drift
  for float/bool/decimal) — so non-int keys ALWAYS take the join path.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window

from tilecloud_chain_spark.session import local_frame

LITERAL_OFFSETS_MAX = 256

_OFFSET_COL = "_prefix_offset"


def prefix_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    group_cols: Sequence[str] = (),
    weight: str | None = None,
    pid: Column | None = None,
) -> tuple[DataFrame, Column, dict[tuple, int]]:
    """Exclusive running sum of ``weight`` per ``group_cols`` (globally
    when empty) in ``order_cols`` order — the sum of the weights of the
    rows before this one, nulls counting as 0; ``weight=None`` counts
    rows, so the sum is the dense 0-based rank. The keys must order the
    rows totally within a group.

    ``pid``: a partition-run id the caller derives from the order key,
    monotone in (group, order) order; None range-partitions by the keys.

    Returns ``(frame, running_sum, totals)``: the pinned frame (select
    from it), the exclusive running sum as a long Column over it, and
    each group's total weight keyed by its group-value tuple (``()``
    when ungrouped; absent for a group with no rows).
    """
    keys = [*group_cols, *order_cols]
    parts = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    if pid is None:
        base = df.repartitionByRange(parts, *keys).withColumn(
            "_pid", F.spark_partition_id()
        )
    else:
        base = df.withColumn("_pid", pid).repartition(parts, "_pid")
    if weight is None:
        base = base.sortWithinPartitions(*keys).withColumn(
            "_run", F.monotonically_increasing_id()
        )
        stats = [F.count("*").alias("_n"), F.min("_run").alias("_mn"),
                 F.max("_run").alias("_mx")]
    else:
        w = F.coalesce(F.col(weight), F.lit(0))
        win = (
            Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        base = base.withColumn("_run", F.sum(w).over(win) - w)
        stats = [F.sum(w).alias("_n")]
    # LAZY: the collect right below materializes it (and freezes _run
    # for every later reader); eager would pay one more job per call
    base = base.localCheckpoint(eager=False)
    agg = base.groupBy("_pid", *group_cols).agg(*stats).collect()
    if weight is None:
        broken = [r for r in agg if r["_mx"] - r["_mn"] + 1 != r["_n"]]
        if broken:
            raise RuntimeError(
                "prefix-sum core contract broken: a (_pid, group) run's "
                "monotonically_increasing_id values are not consecutive "
                f"(first run: {broken[0].asDict()})"
            )
    totals: dict[tuple, int] = {}
    rows: list[tuple] = []
    for r in sorted(
        agg, key=lambda r: (tuple(r[g] for g in group_cols), r["_pid"])
    ):
        gkey = tuple(r[g] for g in group_cols)
        off = totals.get(gkey, 0)
        # one attached value per run: the rank folds in the run's first id
        rows.append((int(r["_pid"]), *gkey,
                     off - int(r["_mn"]) if weight is None else off))
        totals[gkey] = off + int(r["_n"])
    base, adj = attach_offsets(base, ["_pid", *group_cols], rows)
    return base, F.col("_run") + adj, totals


def attach_offsets(
    base: DataFrame,
    key_cols: Sequence[str],
    rows: list[tuple],
    literal_max: int = LITERAL_OFFSETS_MAX,
) -> tuple[DataFrame, Column]:
    """Attach a driver-computed offsets table to ``base``.

    ``rows``: one ``(*key_values, offset)`` tuple per distinct key
    combination actually present in ``base`` (so the broadcast join is a
    lossless inner join). Returns ``(frame, offset_column)`` — the frame
    is ``base`` itself on the literal path, or ``base`` joined with the
    broadcast offsets table otherwise; select from THAT frame.
    """
    if not rows:
        # empty input: an argless create_map() is a VOID map that fails
        # analysis; any typed literal works for 0 rows
        return base, F.lit(0).cast("long")
    all_int_keys = all(
        type(v) is int for row in rows for v in row[:-1]
    )
    if all_int_keys and len(rows) <= literal_max:
        # int keys only: str(int) is exactly Spark's string cast and can
        # never contain the '|' separator, so the concat key is collision-
        # free (non-int keys never reach this branch)
        off_map = F.create_map(*[
            x
            for row in sorted(rows)
            for x in (F.lit("|".join(str(v) for v in row[:-1])),
                      F.lit(int(row[-1])).cast("long"))
        ])
        lookup = F.concat_ws("|", *[F.col(k) for k in key_cols])
        return base, off_map[lookup].cast("long")
    key_fields = {f.name: f for f in base.schema.fields}
    schema = StructType(
        [StructField(f"_off_{k}", key_fields[k].dataType, True)
         for k in key_cols]
        + [StructField(_OFFSET_COL, LongType(), False)]
    )
    off_df = local_frame(
        base.sparkSession, [(*row[:-1], int(row[-1])) for row in rows], schema
    )
    cond = None
    for k in key_cols:
        c = F.col(k).eqNullSafe(F.col(f"_off_{k}"))
        cond = c if cond is None else (cond & c)
    joined = base.join(F.broadcast(off_df), cond, "inner").drop(
        *[f"_off_{k}" for k in key_cols]
    )
    return joined, F.col(_OFFSET_COL)

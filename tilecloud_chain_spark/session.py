"""SparkSession factory with the engine's default tuning.

Local-mode knobs mirror what we'd set on a real cluster: AQE (runtime
re-planning + skew-join splitting), Arrow for pandas UDF transfer, parquet
filter pushdown. ``cores`` parameterizes the two-cluster-size scaling bench
(N vs 4N realization, BASELINE.md); without it, ``$SPARK_GRAFT_CPUS`` or
else the usable cores set the local thread count.

Spark keeps the classes it generates for whole-stage codegen in one
JVM-wide cache, keyed by class loader and generated source; a miss costs
a Janino compile plus the JIT's work on the new class. The default cache
holds 100 classes, but one capstone call needs 120-200 distinct ones and
an admission process about 400, so with the default every call evicted
what the call before it compiled and compiled it again (a repeat
``corpus_admission`` call compiled 168 classes with the default).
``CODEGEN_CACHE_MAX_ENTRIES`` sizes the cache to the engine's
whole query set; its census is next to it. It is a static SQL conf: it
takes effect only when ``get_spark`` creates the session (and with it
the JVM's cache), never on a session that already exists.

Rows the driver already holds become a DataFrame through ``local_frame``
only: built from an Arrow table, the frame is a ``LocalTableScan``, so
reading it runs no job and no Python worker. A list handed to
``createDataFrame`` instead is parallelized as pickled rows, and every
read of it runs Python worker tasks to unpickle them.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: ``spark.sql.codegen.cache.maxEntries``: at least twice the most distinct
#: generated classes one process of the engine compiles. Census: Janino
#: compiles per process with a cache that never evicts, i.e. the distinct
#: (class loader, class) pairs, at seed 1 on local[4]; in brackets, the
#: compiles with Spark's default of 100:
#:   perfbench ``admission``               404  (892)
#:   perfbench ``tile_pyramid``              79   (79)
#:   cli ``curate-corpus``                  182  (182, one call per process)
#:   cli ``curate-images``                  126  (126)
#:   cli ``generate-tiles``, line, z0-3      42   (42)
CODEGEN_CACHE_MAX_ENTRIES = 1024


def get_spark(
    app_name: str = "tilecloud_chain_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # the affinity set, not os.cpu_count(): a container or taskset narrows it
    cores = cores or int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: Sequence[tuple],
                schema: StructType | str) -> DataFrame:
    """The DataFrame of driver-held ``rows`` (tuples in ``schema``'s field
    order; ``schema`` a StructType or a DDL string), built from a
    ``pyarrow.Table``. PySpark plans it as a ``LocalTableScan`` whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says, and has no
    fallback to the pickled-row path: a row of another width or a value
    the schema cannot hold raises here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow, strict=True)], schema=arrow
    ) if cols else arrow.empty_table()
    return spark.createDataFrame(table, schema)


def ensure_parallelism(df, probe=None):
    """Repartition a NARROW DataFrame (fewer partitions than the cluster's
    default parallelism — e.g. one small parquet file, or the output of a
    broadcast join over one) up to default parallelism, so a compute-bound
    Arrow/UDF stage downstream doesn't run on one core. The gate only ever
    fires on tiny inputs: at 100 TB the scan already yields orders of
    magnitude more partitions than cores and this is a no-op. Shared by
    the MinHash/langid/BPE/line-stats scale paths.

    Probing cost: under AQE, ``Dataset.rdd`` on a plan containing an
    Exchange finalizes the adaptive plan — which EXECUTES the exchange's
    upstream stages just to answer ``getNumPartitions`` (measured: 2 jobs
    / 2.1 s for a semi-join probe whose stages then re-run in the real
    action). AQE wraps a plan in ``AdaptiveSparkPlan`` exactly when it
    holds an exchange or subquery, so the guard probes ONLY unwrapped
    plans (scans, checkpoints — there the RDD conversion is lazy
    metadata, zero jobs; detection must use the EXECUTED plan string: the
    pre-``EnsureRequirements`` ``sparkPlan()`` shows joins without their
    exchanges). A caller whose ``df`` is join-fed passes ``probe`` = the
    scan-sourced input whose partitioning the join's streamed side
    inherits (broadcast joins preserve it); with no probe and a wrapped
    plan the guard backs off untouched — post-shuffle parallelism is
    config-driven, not file-driven."""
    target = probe if probe is not None else df
    qe = target._jdf.queryExecution()
    if "AdaptiveSparkPlan" in qe.executedPlan().toString():
        return df
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if target.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df

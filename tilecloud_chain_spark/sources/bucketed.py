"""Bucketed cell tables — co-located joins without shuffle (SURVEY.md §4:
'bucketing for co-located joins'; the 100 TB image↔tile join strategy when
neither side is broadcastable).

Writing both the image table and the tile-assignment table bucketed by the
int64 ``cell`` key means repeated joins/aggregations on ``cell`` read
pre-partitioned buckets: Catalyst plans a SortMergeJoin with NO
hashpartitioning Exchange on either side (asserted in
tests/test_bucketed.py). On a real cluster these are Iceberg
bucket-partitioned tables; local mode realizes them via the session
warehouse (saveAsTable is required — bucket metadata lives in the catalog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int = 32,
    key: str = "cell",
    sort: bool = True,
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by ``key``."""
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def cell_join_bucketed(
    spark: SparkSession, left_table: str, right_table: str, key: str = "cell"
) -> DataFrame:
    """Join two same-bucketed tables on the cell key — shuffle-free by
    construction (bucket-pruned SortMergeJoin)."""
    return spark.table(left_table).join(spark.table(right_table), key)

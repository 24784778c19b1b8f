"""Deterministic corpus sampling / splitting (training-data pipeline
extensions; graded first-class alongside SURVEY.md §2).

Everything here is hash-gated, not RNG-gated: a row's fate is a pure
function of its key, so (a) re-runs and task retries agree, (b) incremental
runs over a growing corpus keep earlier decisions stable, and (c) the exact
semantics are reproducible in ANSI SQL for the DuckDB oracle. The gate is
``md5(salt || key) < threshold`` where ``threshold`` is the 32-hex-digit
string of ``fraction * 16^32`` — md5 hex is fixed-width, so lexicographic
comparison IS numeric comparison, portable across engines without any
hex-to-int conversion (DuckDB has no ``conv``).

Scale shape: pure Column expressions — no UDF, no shuffle; sampling is a
filter pushed against the scan, splitting is a projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from tilecloud_chain_spark.operators.prefix import prefix_sum


def hex_threshold(fraction: float) -> str:
    """32-hex-char lexicographic threshold equivalent to ``md5_u128/16^32 <
    fraction``. fraction >= 1 returns 'g' (greater than any hex digest)."""
    f = float(fraction)
    if f <= 0.0:
        return "0" * 32
    if f >= 1.0:
        return "g"
    return format(int(f * 16**32), "032x")


def _gate(key: Column, salt: str) -> Column:
    return F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")))


def deterministic_sample(
    df: DataFrame, fraction: float, key_col: str, salt: str = "sample"
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided per-key by hash — stable across
    runs, retries and corpus growth (unlike ``df.sample``, which depends on
    partitioning)."""
    return df.filter(_gate(F.col(key_col), salt) < F.lit(hex_threshold(fraction)))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    salt: str = "sample",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum quota sampling (corpus balancing: cap the over-represented
    domains, keep all of the rare ones). Strata absent from ``fractions``
    get ``default_fraction``."""
    thr = F.lit(hex_threshold(default_fraction))
    for stratum, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col).cast("string") == str(stratum),
            F.lit(hex_threshold(frac)),
        ).otherwise(thr)
    return df.filter(_gate(F.col(key_col), salt) < thr)


def leakage_safe_split(
    df: DataFrame,
    cluster_col: str,
    test_fraction: float,
    salt: str = "split",
) -> DataFrame:
    """Train/test split that hashes the near-dup CLUSTER id, not the row:
    every member of a duplicate cluster lands on the same side, so the test
    set cannot leak near-copies of training documents (the classic
    contamination bug a row-level split has). Adds ``split``
    ('train'|'test')."""
    is_test = _gate(F.col(cluster_col), salt) < F.lit(hex_threshold(test_fraction))
    return df.withColumn("split", F.when(is_test, "test").otherwise("train"))


def shard_assignments(
    df: DataFrame,
    shard_bytes: int,
    id_col: str = "doc_id",
    size_col: str | None = None,
    size_expr: Column | None = None,
) -> DataFrame:
    """WebDataset-style export sharding: assign every sample to a
    size-bounded shard, deterministically, in ``id_col`` order (the order a
    sequential writer would consume). ``shard = floor(bytes_before /
    shard_bytes)`` — the standard cumulative-size chunking: whole samples
    never split across shards, each shard's payload stays within
    ``shard_bytes`` plus at most one sample's overshoot (the greedy
    sequential packer's behavior without requiring a sequential pass).

    Output: (id, n_bytes, shard, offset_in_shard) — enough to drive a
    downstream per-shard writer (``repartitionByRange("shard")`` + tar).

    Scale shape: the distributed prefix sum of ``operators/prefix.py``;
    never a single-partition global window. Exactly reproducible in SQL
    (``SUM(n_bytes) OVER (ORDER BY id) - n_bytes``) — pytest-oracled in
    tests/test_sampling.py."""
    if size_expr is None:
        if size_col is None:
            raise ValueError("pass size_col or size_expr")
        size_expr = F.col(size_col)
    base, run, _ = prefix_sum(
        df.select(F.col(id_col).alias("id"),
                  size_expr.cast("long").alias("n_bytes")),
        order_cols=["id"], weight="n_bytes",
    )
    # a sample of unknown size gets no shard
    before = F.when(F.col("n_bytes").isNotNull(), run)
    sb = F.lit(float(shard_bytes))  # double division: exact below 2^53 bytes
    shard = F.floor(before / sb).cast("long")
    return base.select(
        "id", "n_bytes",
        shard.alias("shard"),
        (before - shard * F.lit(int(shard_bytes))).cast("long").alias("offset_in_shard"),
    )

"""Driver-contract harness: every queries() entry vs its oracle_sql() via
DuckDB — mimics the per-round CORRECTNESS gate (row count + schema + sorted
value comparison) so mismatches surface before the driver runs."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as ENTRY  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "hex") and not isinstance(v, (str, bytes)):  # Decimal
        return round(float(v), 6)
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


ORACLED = sorted(ENTRY.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ddb, sf_dir, name):
    q = ENTRY.queries()[name]
    sdf = q(spark, sf_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(ENTRY.oracle_sql()[name])
    d_cols = [c[0].lower() for c in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), f"{name}: row counts {len(s_rows)} vs {len(d_rows)}"
    sset = _rowset(s_cols, s_rows)
    dset = _rowset(d_cols, d_rows)
    if sset != dset:
        diffs = [(a, b) for a, b in zip(sset, dset) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_entry_smoke(spark):
    df = ENTRY.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"z", "x", "y", "cell", "n_rows"}


@pytest.mark.parametrize("name", sorted(set(ENTRY.queries()) - set(ORACLED)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = ENTRY.queries()[name](spark, sf_dir)
    assert df.count() >= 0  # executes without error


def test_image_pipeline_stored_golden(spark, sf_dir):
    rows = ENTRY.queries()["image_pipeline_stored"](spark, sf_dir).collect()
    assert {(r.x, r.y) for r in rows} == {(6, 5), (7, 5), (5, 6), (6, 6), (4, 7), (5, 7)}


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_lsh_prs_sql_matches_collapsed_pipeline_randomized(spark, seed):
    """Randomized cross-engine equivalence of the round-5 oracle claim: the
    Spark COLLAPSED MinHash-LSH pipeline (exact-dup collapse + expand) must
    produce exactly the pair set of the UNCOLLAPSED SQL formulation
    (_lsh_prs_sql) that the dedup_clusters/clean_corpus oracles splice in —
    on corpora with injected exact duplicates and near mutants."""
    import random

    import duckdb as _ddb
    import pandas as _pd

    from tilecloud_chain_spark.operators import dedup as DD

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(60):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(12))))
    base = dict(rows)
    for j, i in enumerate(rng.sample(range(60), 10)):
        rows.append((1000 + j, base[i]))  # exact duplicates
    for j, i in enumerate(rng.sample(range(60), 10)):
        rows.append((2000 + j, base[i] + " zz zz"))  # near mutants
    pdf = _pd.DataFrame(rows, columns=["doc_id", "text"])

    con = _ddb.connect()
    con.register("docs", pdf)
    sql = ("WITH " + ENTRY._lsh_prs_sql("docs", threshold=0.5, num_hashes=4,
                                        bands=2)
           + " SELECT id_a, id_b FROM prs")
    want = set(map(tuple, con.execute(sql).fetchall()))

    df = spark.createDataFrame(pdf)
    got = {
        (r.id_a, r.id_b)
        for r in DD.minhash_dedup_pairs(
            df, threshold=0.5, num_hashes=4, bands=2, rows_per_band=2,
            exact_pairs="expand",
        ).collect()
    }
    assert got == want, (seed, got ^ want)
    assert want, "fixture produced no pairs — proves nothing"

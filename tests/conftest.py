import os
import sys

import pytest

# make repo root importable when pytest is run from elsewhere
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from tilecloud_chain_spark.session import get_spark

    s = get_spark("tests", cores=int(os.environ.get("TEST_SPARK_CPUS", "8")),
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def duck_rows():
    """``run(rows, sql, view)``: execute a DuckDB oracle query over in-memory
    (doc_id, text) rows registered as ``view`` — the cross-engine check for
    an operator on the exact rows the Spark side scored."""
    import duckdb
    import pandas as pd

    def run(rows, sql, view="docs"):
        con = duckdb.connect()
        pdf = pd.DataFrame(list(rows), columns=["doc_id", "text"])
        con.register(view, pdf.astype({"doc_id": "int64", "text": "object"}))
        return con.execute(sql).fetchall()

    return run

import contextlib
import itertools
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


# job groups stay in the status store for the whole session, so every
# counted call gets a name no earlier call used
_JOB_GROUPS = itertools.count()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn, *args, **kw) -> (result, n_jobs)``: call ``fn`` under
    a job group of its own and count the Spark jobs that group launched.
    Selecting by group (not by a before/after job-id window) leaves out
    jobs other threads run meanwhile. Jobs a callable starts from threads
    it spawns itself are counted only when those threads carry the
    caller's local properties, as ``plans/graph.py:run``'s wave threads
    do; a plain thread's jobs carry no group. The listener bus is drained
    before reading, since the status store is fed asynchronously."""
    sc = spark.sparkContext

    def run(fn, *args, **kw):
        group = f"count_jobs-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            result = fn(*args, **kw)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def check_store_reads(spark, count_jobs):
    """``check_store_reads(store, job_id) -> stages``: for every committed
    stage and zoom of the job, building its ``output`` read (per zoom and
    across zooms) and its ``lineage`` read runs no Spark job, and the
    ``output`` schema equals the one parquet inference finds in the
    stage's files, minus ``_lineage``. Returns the stage names seen."""

    def run(store, job_id):
        base = os.path.join(store.root, "stages", f"job={job_id}")
        stages = sorted(d[len("stage="):] for d in os.listdir(base))
        for stage in stages:
            zooms = sorted(int(d[len("z="):])
                           for d in os.listdir(os.path.join(base, f"stage={stage}")))
            for zoom in [*zooms, None]:
                df, n = count_jobs(store.output, job_id, stage, zoom)
                assert n == 0, (stage, zoom)
                path = os.path.join(base, f"stage={stage}",
                                    "" if zoom is None else f"z={zoom}")
                inferred = spark.read.option("recursiveFileLookup", "true").parquet(path)
                assert df.schema == inferred.drop("_lineage").schema, (stage, zoom)
            lin, n = count_jobs(store.lineage, job_id, stage)
            assert n == 0, stage
            assert lin.schema == inferred.select("_lineage.*").schema, stage
        assert count_jobs(store.lineage, job_id)[1] == 0
        return stages

    return run


@pytest.fixture
def count_compiles(spark):
    """``count_compiles(fn, *args, **kw) -> (result, n)``: call ``fn`` and
    count the classes Janino compiled meanwhile, i.e. the misses of Spark's
    JVM-wide generated-code cache (one entry per compile in the
    ``CodegenMetrics`` compilation-time histogram). ``fn`` must run its
    actions itself: a lazy DataFrame compiles nothing. Compiles other
    threads cause in the window are counted too."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(fn, *args, **kw):
        n0 = compiles.getCount()
        result = fn(*args, **kw)
        return result, compiles.getCount() - n0

    return run


@pytest.fixture(scope="session")
def fixed_join_plans(spark):
    """``with fixed_join_plans(): ...`` runs the block without adaptive
    execution's runtime broadcast conversion. With it, a sort-merge join
    becomes a broadcast join on the side whose shuffle stage finished
    first, so identical calls can generate different classes; a test that
    counts compiles needs one plan per query. The rest of adaptive
    execution stays on."""
    key = "spark.sql.adaptive.autoBroadcastJoinThreshold"

    @contextlib.contextmanager
    def off():
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    return off

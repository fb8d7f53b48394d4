import uuid
from contextlib import contextmanager

import pytest

from parj_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="parj_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_corpus(spark):
    from parj_spark.fixtures import gen_corpus

    docs, gold = gen_corpus(spark, n_depts=8, seed=42)
    return docs.cache(), gold.cache()


@pytest.fixture(scope="session")
def tiny_graph(spark, tiny_corpus, tmp_path_factory):
    from parj_spark.construct.pipeline import run_pipeline

    docs, _ = tiny_corpus
    out = str(tmp_path_factory.mktemp("graph"))
    return run_pipeline(spark, docs, out, resume=True)


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as ids:`` — ``ids()`` lists the Spark jobs this
    thread submitted inside the block (tracked through a job group)."""
    sc = spark.sparkContext

    @contextmanager
    def track():
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            yield lambda: list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc._jsc.clearJobGroup()

    return track

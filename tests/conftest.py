from __future__ import annotations

import shutil
import tempfile

import pytest

from information_extraction_spark.fixtures import (
    build_world,
    compute_golden,
    generate_transcripts,
)
from information_extraction_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ie-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def world():
    return build_world()


@pytest.fixture(scope="session")
def transcripts_pdf(world):
    return generate_transcripts(world, n_convs=40)


@pytest.fixture(scope="session")
def golden_pdf(world, transcripts_pdf):
    return compute_golden(world, transcripts_pdf)


@pytest.fixture(scope="session")
def tmp_dir():
    d = tempfile.mkdtemp(prefix="ie_spark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def persisted_ids(spark):
    """Ids of the RDDs persisted in the shared session. Compare them as
    sets, not counts: Spark's ContextCleaner may release an earlier
    test's RDD during a call."""
    return lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture(scope="session")
def plan_rdd_ids():
    """Ids of the persisted RDDs behind the ``LogicalRDD`` leaves of a
    DataFrame's analyzed plan, subqueries included: the checkpoints the
    DataFrame reads. (A DataFrame made from a row list is a
    ``LogicalRDD`` over an RDD that is not persisted.)"""

    def ids(df):
        plan = df._jdf.queryExecution().analyzed()
        plans = [plan]
        sub = plan.subqueriesAll().iterator()
        while sub.hasNext():
            plans.append(sub.next())
        out = set()
        for p in plans:
            leaves = p.collectLeaves().iterator()
            while leaves.hasNext():
                leaf = leaves.next()
                if (
                    leaf.getClass().getSimpleName() == "LogicalRDD"
                    and leaf.rdd().getStorageLevel().isValid()
                ):
                    out.add(leaf.rdd().id())
        return out

    return ids

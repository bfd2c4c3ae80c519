from __future__ import annotations

import contextlib

import pytest

from data_text_search_spark.fixtures.corpus import corpus_pandas
from data_text_search_spark.session import get_spark

N_DOCS = 300  # fixture corpus size for unit/golden tests
SPARK_ARGS = {"app_name": "tests", "cores": 8, "driver_memory": "8g"}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(**SPARK_ARGS)
    yield s


@pytest.fixture
def spark_jobs(spark):
    """`with spark_jobs() as jobs: ...` fills `jobs` with the ids of the
    Spark jobs started inside the block: the status tracker's job ids
    after the block minus those before it, each read once the listener
    bus has drained (the tracker is fed asynchronously)."""
    sc = spark.sparkContext

    def job_ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup())

    @contextlib.contextmanager
    def count():
        before = job_ids()
        started: list[int] = []
        yield started
        started.extend(sorted(job_ids() - before))

    return count


@pytest.fixture(scope="session")
def corpus_pdf():
    return corpus_pandas(N_DOCS)


@pytest.fixture(scope="session")
def corpus(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf.reset_index().rename(columns={"index": "doc_id"}))
    return df.cache()

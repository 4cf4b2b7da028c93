import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    import docling_rag_spark
    from docling_rag_spark.session import get_spark

    s = get_spark(app_name="tests", cores=4, shuffle_partitions=4)
    docling_rag_spark.ship(s)
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` in a fresh job group and returns
    its result and the description of each Spark job it launched, None
    for an untagged job (the group's own description is left empty)."""
    import uuid

    def run(fn):
        sc = spark.sparkContext
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        store = sc._jsc.sc().statusStore()
        descs = [store.job(j).description().getOrElse(None)
                 for j in sc.statusTracker().getJobIdsForGroup(group)]
        return out, [d or None for d in descs]

    return run

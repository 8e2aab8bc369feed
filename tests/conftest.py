import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from ddaugner_spark.session import get_spark

    s = get_spark(app_name="ddaugner_spark_tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture
def jobs_started(spark):
    """``run(fn)`` → (fn's result, number of Spark jobs started while it
    ran)."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs_started_{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count the jobs of one call")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run

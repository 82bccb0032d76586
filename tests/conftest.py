import pytest

from wrangler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(parallelism=4, app_name="wrangler-tests", shuffle_partitions=4)
    yield s


@pytest.fixture()
def count_jobs(spark):
    """count_jobs(fn) → (fn(), number of Spark jobs fn ran), counted
    through a job group and the status tracker."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        gid = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(gid, "counted")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(gid))

    return run


@pytest.fixture()
def one_col(spark):
    """Single 'body' string column — the reference's canonical test shape
    (TestingRig pattern, TestingRig.java:79-95)."""

    def make(*values: str):
        return spark.createDataFrame([(v,) for v in values], "body string")

    return make

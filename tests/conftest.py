import os

import pytest

from calculate_file_content_size_for_vector_db_spark.session import get_spark


def pytest_collection_modifyitems(config, items):
    """Apply the ``slow`` marker from tests/slow_tests.txt (node ids
    measured >=5s in the r16 full-suite duration capture) so the
    default `-m "not slow"` tier stays inside the driver's verify
    window. A renamed/removed test simply drops off the list (it runs
    in the default tier until re-measured); new tests default to fast."""
    path = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    with open(path) as f:
        slow = {line.strip() for line in f if line.strip()}
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def spark_jobs(spark):
    """count(fn) -> the number of Spark jobs ``fn()`` runs, read through
    a job group and the status tracker."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the JVM's persistent RDDs: persist() and localCheckpoint()
    both register here."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def cached_plan_count(spark) -> int:
    """Entries in the session's CacheManager (one per cached plan)."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.01"

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


def _job_ids(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` runs, read through a job group and
    the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def spark_jobs(spark):
    """count(fn) -> the number of Spark jobs ``fn()`` runs."""
    return lambda fn: len(_job_ids(spark, fn))


@pytest.fixture
def spark_stages(spark):
    """work(fn) -> (jobs, stages, tasks) that ``fn()`` runs. Stages are
    every stage of those jobs, skipped ones included, read through the
    status tracker; tasks are the tasks those stages completed."""
    tracker = spark.sparkContext.statusTracker()

    def work(fn) -> tuple[int, int, int]:
        jobs = _job_ids(spark, fn)
        stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
        tasks = sum(tracker.getStageInfo(s).numCompletedTasks for s in stages)
        return len(jobs), len(stages), tasks

    return work


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the JVM's persistent RDDs: persist() and localCheckpoint()
    both register here."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def cached_plan_count(spark) -> int:
    """Entries in the session's CacheManager (one per cached plan)."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.01"

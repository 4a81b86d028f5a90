import pytest

from calculate_file_content_size_for_vector_db_spark.session import get_spark


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
    status tracker; tasks are the tasks those stages completed. Once a
    session has run more stages than the UI retains, the tracker drops
    skipped stages' info first; they completed no tasks."""
    tracker = spark.sparkContext.statusTracker()

    def work(fn) -> tuple[int, int, int]:
        jobs = _job_ids(spark, fn)
        stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
        infos = [tracker.getStageInfo(s) for s in stages]
        tasks = sum(i.numCompletedTasks for i in infos if i is not None)
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

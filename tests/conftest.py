import itertools
import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from chaos_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "chaos-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.sql.warehouse.dir": "/tmp/chaos-test-warehouse",
        },
    )
    yield s
    s.stop()


_JOB_GROUPS = itertools.count()


@pytest.fixture
def count_jobs(spark):
    """``with count_jobs() as jobs: ...`` runs the block under its own job
    group; on exit ``jobs`` holds the ids of the Spark jobs it ran, read
    from the status tracker once the listener bus has drained."""
    sc = spark.sparkContext

    @contextmanager
    def run():
        group = f"count_jobs_{next(_JOB_GROUPS)}"
        jobs: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sorted(sc.statusTracker().getJobIdsForGroup(group)))

    return run

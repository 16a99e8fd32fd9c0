from __future__ import annotations

from contextlib import contextmanager

import pytest


@pytest.fixture(scope="session")
def spark():
    from localitysensitivesketch_spark.session import get_spark

    s = get_spark(app_name="lss-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def job_ids(spark):
    """``with job_ids(group) as ids:`` collects into ``ids`` the ids of the
    Spark jobs started inside the block, read from the application status
    store (no job runs)."""

    @contextmanager
    def collect(group: str):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        ids: list[int] = []
        try:
            yield ids
        finally:
            sc._jsc.clearJobGroup()
            sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return collect

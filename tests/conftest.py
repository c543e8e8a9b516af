from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="session")
def spark():
    from vt_grid_spark.session import get_spark

    s = get_spark("vt-grid-spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(fn)``: the number of Spark jobs with no job group
    that ``fn()`` starts.  The status tracker is fed asynchronously, so a
    fenced job (its own group) runs afterwards and the count is read once
    the fence is visible: the tracker sees job starts in order."""
    import time

    sc = spark.sparkContext

    def count(fn):
        before = set(sc.statusTracker().getJobIdsForGroup(None))
        fn()
        sc.setJobGroup("job-audit-fence", "job-audit-fence")
        try:
            spark.range(1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        for _ in range(200):
            if sc.statusTracker().getJobIdsForGroup("job-audit-fence"):
                break
            time.sleep(0.05)
        return len(set(sc.statusTracker().getJobIdsForGroup(None)) - before)

    return count

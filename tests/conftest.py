from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logistics_data_pipeline_project_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ldp-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def jobs_in_group(spark):
    """``run(action)`` calls ``action()`` under a fresh Spark job group and
    returns (ids of the jobs started in that group, ids of the jobs with no
    group started meanwhile)."""
    import time
    import uuid

    sc = spark.sparkContext
    st = sc.statusTracker()

    def marker_job(group: str) -> int:
        # the status listener sees jobs in start order, so once this job is
        # visible every job started before it is visible too
        sc.setJobGroup(group, "marker")
        spark.range(1).count()
        deadline = time.time() + 60
        while not st.getJobIdsForGroup(group):
            assert time.time() < deadline, "job listener stalled"
            time.sleep(0.02)
        return min(st.getJobIdsForGroup(group))

    def run(action):
        group = f"g-{uuid.uuid4().hex[:8]}"
        try:
            lo = marker_job(group + "-before")
            sc.setJobGroup(group, "under test")
            action()
            hi = marker_job(group + "-after")
        finally:
            for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(k, None)
        ungrouped = {j for j in st.getJobIdsForGroup(None) if lo < j < hi}
        return set(st.getJobIdsForGroup(group)), ungrouped

    return run

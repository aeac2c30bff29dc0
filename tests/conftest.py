from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulfa_sausage_factory_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pulfa-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` → ``(fn(), job ids, printable job list)`` for
    the Spark jobs ``fn`` submits from this thread, counted through a
    StatusTracker job group — the job-count pins print the list when
    they fail."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"job-pin-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        st = sc.statusTracker()
        ids = sorted(st.getJobIdsForGroup(group))
        lines = []
        for j in ids:
            info = st.getJobInfo(j)
            stages = [st.getStageInfo(s)
                      for s in (info.stageIds if info else [])]
            lines.append(f"job {j}: " + "; ".join(
                s.name for s in stages if s is not None
            ))
        return out, ids, "\n".join(lines)

    return count

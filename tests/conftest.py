import os
import sys
import time
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_cdc_component_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Four cores: more local slots than a 4-core host has only adds
    # per-task overhead to the suite's many small jobs. The codegen
    # cache default (100 entries) is far below the number of plan
    # shapes the suite runs, so each micro-batch of a streaming test
    # recompiled the same generated classes (667 Janino compiles in
    # one r9 collapse test, 289 with the larger cache).
    s = get_spark("tests", cpus="4",
                  extra_conf={"spark.sql.codegen.cache.maxEntries": "4096"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def jobs_run_by(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` starts, in start order, counted in
    a job group of its own. Job events reach the status tracker
    asynchronously, so the ids are read once every job of the group has
    ended and two reads agree."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    last, deadline = None, time.time() + 30
    while time.time() < deadline:
        ids = sorted(tracker.getJobIdsForGroup(group))
        infos = [tracker.getJobInfo(i) for i in ids]
        if ids == last and all(
                i is not None and i.status in ("SUCCEEDED", "FAILED")
                for i in infos):
            break
        last = ids
        time.sleep(0.2)
    return last

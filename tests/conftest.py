"""Shared pytest fixtures: one local SparkSession for the whole run."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from spark_ml_showcase_spark.session import session_builder

    spark = (
        session_builder("tests", master="local[4]", shuffle_partitions=4)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture
def stages_run_by(spark):
    """``stages_run_by(fn)`` calls ``fn()`` under a fresh job group and
    returns ``(result, names)``: the names of the stages of every job
    Spark ran for it (a parquet schema inference shows as
    ``parquet at …``)."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"stages-run-by-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the tracker is filled by the listener bus, which runs behind
        # the job: drain it so a job that ran is not missed
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        names = []
        for job in tracker.getJobIdsForGroup(group):
            for stage in tracker.getJobInfo(job).stageIds:
                info = tracker.getStageInfo(stage)
                names.append(info.name if info is not None else "")
        return out, names

    return run

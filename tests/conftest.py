from __future__ import annotations

import contextlib
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from light_etl_windows_container_poc_spark.session import get_spark  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SMOKE_SF_DIR


@pytest.fixture
def job_group(spark):
    """``job_group(name)`` runs its body under the job group ``name``,
    yields the SparkContext, and leaves the shared session's local
    properties as they were."""
    @contextlib.contextmanager
    def run(group):
        sc = spark.sparkContext
        keys = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")
        prev = {k: sc.getLocalProperty(k) for k in keys}
        sc.setJobGroup(group, f"test {group}")
        try:
            yield sc
        finally:
            for k, v in prev.items():
                sc.setLocalProperty(k, v)
    return run

"""The shared lineage cut (``operators.rounds``): one job per cut, and a
release that frees exactly the checkpoint behind a frame."""

from __future__ import annotations

from pyspark.sql import functions as F

from light_etl_windows_container_poc_spark.operators.rounds import (cut,
                                                                    release)


def _persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _grouped(spark):
    return spark.range(50).groupBy((F.col("id") % 7).alias("k")).count()


def test_cut_counts_the_frame(spark):
    df = _grouped(spark)
    out, n = cut(df)
    assert n == df.count() == 7
    assert sorted(r.k for r in out.collect()) == list(range(7))
    release(out)


def _jobs(job_group, name, action) -> int:
    with job_group(name) as sc:
        action()
        return len(sc.statusTracker().getJobIdsForGroup(name))


def test_cut_runs_one_job(spark, job_group):
    """One job on a shuffle-free frame; on a shuffled one, the jobs of
    an eager checkpoint (adaptive execution runs each shuffle stage as a
    job of its own) and no count job on top."""
    narrow = spark.range(50).withColumn("k", F.col("id") % 7)
    assert _jobs(job_group, "rounds_cut", lambda: release(cut(narrow)[0])) == 1
    # a fresh frame each time: a second action on one frame reuses its
    # shuffle output and skips that job
    eager = _jobs(job_group, "rounds_eager",
                  lambda: release(_grouped(spark).localCheckpoint(eager=True)))
    assert _jobs(job_group, "rounds_cut_grouped",
                 lambda: release(cut(_grouped(spark))[0])) == eager


def test_release_frees_a_local_checkpoint(spark):
    """Pins the internal API ``release`` relies on: a local checkpoint's
    analyzed plan is a ``LogicalRDD`` whose RDD is the persisted one."""
    before = _persistent(spark)
    out, _ = cut(_grouped(spark))
    assert _persistent(spark) == before + 1
    release(out)
    assert _persistent(spark) == before


def test_release_ignores_other_frames(spark):
    plain = _grouped(spark)
    cached = spark.range(10).persist()
    try:
        assert cached.count() == 10
        before = _persistent(spark)
        release(plain, cached, plain.filter(F.col("k") > 2))
        assert _persistent(spark) == before
        assert cached.is_cached and plain.count() == 7
    finally:
        cached.unpersist()

"""Job-count tripwires for the connected-components round, the round
loops' shared lineage cut and the routed-ingest core.

At a fixed input and session the number of Spark jobs is deterministic,
so a ceiling on it catches a job-diet regression that wall clock would
hide in noise. Each ceiling sits about 10% above the measured count. The
connected-components ceilings sit far below the count of the earlier
round (a left join onto the old labels plus an old-vs-new join to test
convergence). The round-loop ceilings sit 2 jobs above the most measured
in 3 runs, below the count when every round paid a separate count job
after its checkpoint.
"""

from __future__ import annotations

from light_etl_windows_container_poc_spark.operators.dedup import \
    connected_components_stats
from light_etl_windows_container_poc_spark.operators.graph import \
    connected_components_star
from light_etl_windows_container_poc_spark.queries import QUERIES
from light_etl_windows_container_poc_spark.streaming.excel_pipeline import \
    excel_etl_batch_handler


def test_cc_path_graph_job_ceiling(spark, job_group):
    """A 5-node path takes 5 rounds (4 hops + the fixpoint round):
    17 jobs with the collect, 49 with the earlier round."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a_id long, b_id long")
    with job_group("cc_path_ceiling") as sc:
        labels, rounds = connected_components_stats(pairs)
        assert {r.component for r in labels.collect()} == {1}
        jobs = sc.statusTracker().getJobIdsForGroup("cc_path_ceiling")
    assert rounds == 5
    assert len(jobs) <= 19


def test_entity_resolution_job_ceiling(spark, sf_dir, job_group):
    """18 jobs at the test SF, 36 with the earlier round and the
    window-based survivorship."""
    with job_group("er_ceiling") as sc:
        QUERIES["entity_resolution"](spark, sf_dir).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("er_ceiling")
    assert len(jobs) <= 20


def test_graph_kcore_job_ceiling(spark, sf_dir, job_group):
    """43-45 jobs at the test SF, 57-59 with a count job per round."""
    with job_group("kcore_ceiling") as sc:
        QUERIES["graph_kcore"](spark, sf_dir).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("kcore_ceiling")
    assert len(jobs) <= 47


def test_star_cc_path_graph_job_ceiling(spark, job_group):
    """A 12-node path converges in 5 phases: 57 jobs with the collect,
    63 with a count job per phase."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "a_id long, b_id long")
    with job_group("star_path_ceiling") as sc:
        comp, phases = connected_components_star(pairs)
        assert {r.component for r in comp.collect()} == {1}
        jobs = sc.statusTracker().getJobIdsForGroup("star_path_ceiling")
    assert phases == 5
    assert len(jobs) <= 59


def test_stream_micro_batch_job_ceiling(spark, tmp_path, job_group):
    """One Excel-stream micro-batch over two tables, fed as a static
    frame: 6 jobs (three under the one (file, table) count collect, one
    append per table and one processing-log append). The batch side's
    ceiling is `test_pipeline.test_two_table_ingest_job_ceiling`."""
    batch = spark.createDataFrame(
        [("ana", "/drive/customer_data/c.xlsx"),
         ("widget", "/drive/sales_data/s.xlsx")],
        "v string, source_path string")
    wh = str(tmp_path / "warehouse")
    with job_group("stream_ceiling") as sc:
        excel_etl_batch_handler(wh, batch_ts="2024-06-01 00:00:00")(batch, 0)
        jobs = sc.statusTracker().getJobIdsForGroup("stream_ceiling")
    assert spark.read.parquet(f"{wh}/etl_processing_log").count() == 2
    assert len(jobs) <= 7

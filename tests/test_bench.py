"""bench.py's full-suite loop reports failing queries instead of timing
them as fast successes."""

from __future__ import annotations


def test_suite_loop_reports_failures(spark, sf_dir):
    import bench

    def boom(spark, sf_dir):
        raise RuntimeError("broken query")

    registry = {"spark_range": lambda spark, sf_dir: spark.range(3),
                "broken": boom}
    times, failed = bench.run_suite(spark, registry, sf_dir)
    assert failed == ["broken"]
    assert set(times) == {"spark_range", "broken"}
    assert all(t >= 0 for t in times.values())


"""RuntimeStatistics parity (reference stats.go): row observers and
stage/task progress."""

from __future__ import annotations

from pyspark.sql import functions as F

from sif_spark.stats import RuntimeStats, observe_rows
from sif_spark.sources.memory import from_rows


def test_observe_rows(spark):
    frame = from_rows(spark, [(i,) for i in range(50)], "v int", num_partitions=4)
    observed, obs = observe_rows(
        frame.filter(F.col("v") % 2 == 0).df, "after_filter",
        F.sum("v").alias("v_sum"),
    )
    n = observed.count()
    assert n == 25
    assert obs.get["rows"] == 25
    assert obs.get["v_sum"] == sum(v for v in range(50) if v % 2 == 0)


def test_runtime_stats_progress(spark):
    # job-group scoped: other tests in this session run jobs (some
    # with intentional task failures) that must not pollute the stats
    stats = RuntimeStats(spark, job_group="stats-test")
    from_rows(spark, [(i,) for i in range(100)], "v int", num_partitions=5).df.groupBy(
        (F.col("v") % 3).alias("k")
    ).count().collect()
    assert stats.runtime_seconds > 0
    assert len(stats.job_ids()) >= 1
    progress = stats.stage_progress()
    assert len(progress) >= 1
    assert stats.partitions_processed() >= 1
    assert all(s.failed_tasks == 0 for s in progress)


def test_runtime_stats_sees_every_job_of_a_parallel_wave(spark):
    """Keyed mutations launch their overlapped jobs from a thread pool;
    each thread inherits the caller's job group, so a group-scoped
    RuntimeStats counts them instead of losing them to the null group."""
    import shutil

    from sif_spark.table import SifTable

    path = "/tmp/sif_stats_upsert_table"
    shutil.rmtree(path, ignore_errors=True)
    t = SifTable.create(
        spark, path, spark.range(0, 100).withColumnRenamed("id", "k"),
        key_col="k", key_bloom=True,
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    stats = RuntimeStats(spark, job_group="stats-upsert")
    try:
        t.upsert(spark.range(50, 150).withColumnRenamed("id", "k"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    leaked = set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert not leaked, f"jobs outside the caller's group: {sorted(leaked)}"
    # bounds ∥ bloom probes, then survivor ∥ update writes (+ their
    # bloom read-backs): at least four jobs, all in the group
    assert len(stats.job_ids()) >= 4
    shutil.rmtree(path, ignore_errors=True)

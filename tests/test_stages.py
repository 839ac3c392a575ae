"""Contract of ``ooh_etl_spark.stages``, the stage-materialisation
module: concurrent materialisation keeps the caller's job group, and
``full_lineage`` turns both calls into the identity."""

from __future__ import annotations

from ooh_etl_spark.plans.audit import physical_plan
from ooh_etl_spark.stages import full_lineage, materialize, materialize_all


def _frames(spark):
    a = spark.range(200).selectExpr("id % 7 AS k").groupBy("k").count()
    b = spark.range(50).selectExpr("id * 2 AS v")
    return a, b


def test_materialize_all_jobs_inherit_the_callers_job_group(spark):
    # perfbench's per-layer `queries.construct_jobs` counts a query's
    # jobs by its job group, and a caller cancels a query through
    # cancelJobGroup: both need the pool threads' jobs in the group.
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    a, b = _frames(spark)
    group = "stages-materialize-all"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "materialize_all job-group inheritance")
    try:
        ra, rb = materialize_all(a, b)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) >= 2, jobs
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped, (
        "materialize_all launched jobs outside the caller's job group"
    )
    # results come back in argument order, checkpointed
    assert ra.columns == a.columns and rb.columns == b.columns
    assert sorted(ra.collect()) == sorted(a.collect())
    assert sorted(rb.collect()) == sorted(b.collect())
    for r in (ra, rb):
        assert "Scan ExistingRDD" in physical_plan(r)


def test_full_lineage_returns_inputs_unchanged(spark):
    a, b = _frames(spark)
    with full_lineage():
        assert materialize(a) is a
        got = materialize_all(a, b)
        assert len(got) == 2 and got[0] is a and got[1] is b
    # and the switch is scoped to the block
    assert materialize(b) is not b

"""Spark job budgets of the post-night pass's driver-side steps.

A night pass is bound by per-job overhead, so a step that quietly gains a
job (a probe, a guard, a dimension re-derived on every action) costs as
much as a plan that gains a shuffle. Each test runs its step under a fresh
job group and counts the jobs Spark launched there, the same count the
benchmark's traced run reports as ``<step>.jobs``.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_mixture_sample_actions_launch_no_rates_job(spark):
    """The rates are read once, when mixture_sample is called (one job
    there): two later actions over its output launch exactly the jobs the
    same actions over the bare corpus do."""
    from fink_filters_spark.operators.sample import mixture_sample

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    rates = spark.createDataFrame(
        [("s0", 1000), ("s1", 500)], "source string, rate_permille int"
    )
    built = []
    assert _jobs(spark, lambda: built.append(mixture_sample(
        docs, rates, key="doc_id", source_col="source", default_permille=800
    ))) == 1
    bare = _jobs(spark, lambda: (docs.count(), docs.collect()))
    assert _jobs(spark, lambda: (built[0].count(), built[0].collect())) == bare


def test_mixture_sample_mapping_rates_launch_no_job(spark):
    """A ``{source: rate}`` mapping needs no read: building the sample runs
    no job, and actions over it launch the bare corpus's jobs."""
    from fink_filters_spark.operators.sample import mixture_sample

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    built = []
    assert _jobs(spark, lambda: built.append(mixture_sample(
        docs, {"s0": 1000, "s1": 500}, key="doc_id", source_col="source",
        default_permille=800,
    ))) == 0
    bare = _jobs(spark, lambda: (docs.count(), docs.collect()))
    assert _jobs(spark, lambda: (built[0].count(), built[0].collect())) == bare


def test_crossmatch_side_choice_runs_no_job(spark):
    """The broadcast regime picks the side to explode from Catalyst's size
    estimates; building the join must not run a job to find out."""
    from fink_filters_spark.operators.crossmatch import crossmatch

    stream = spark.range(50).select(
        F.col("id").alias("aid"), (F.col("id") * 7.0).alias("ra"), F.lit(10.0).alias("dec")
    )
    cat = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, 200.0, -5.0)], "cid long, cat_ra double, cat_dec double"
    )
    assert _jobs(spark, lambda: crossmatch(stream, cat, "aid", 1.0)) == 0


def test_anomaly_notification_job_budget(spark):
    """Median guard, top-k and collect in at most 4 jobs; the empty-input
    guard rides on the quantile job instead of an isEmpty job of its own."""
    from fink_filters_spark.programs.anomaly import anomaly_notification

    df = spark.createDataFrame(
        [(i, f"o{i % 7}", float((i * 37) % 11)) for i in range(60)],
        "candid long, objectId string, anomaly_score double",
    )
    rows = []
    assert _jobs(spark, lambda: rows.extend(
        anomaly_notification(df, threshold=3).collect()
    )) <= 4
    assert len(rows) == 3
    # no score at all (NULL-only after custom filters): an empty selection
    nulls = df.withColumn("anomaly_score", F.lit(None).cast("double"))
    assert anomaly_notification(nulls, filters=["candid >= 0"]).collect() == []


def test_nightly_report_job_budget(spark, ztf_df):
    """All topics' counts come from one aggregation: its shuffle stage and
    its result, 2 jobs over a cached night."""
    from fink_filters_spark.programs.nightly import nightly_report

    topics = ["ztf.sn_candidates", "ztf.example", "ztf.sso_ztf_candidates", "ztf.rrlyr"]
    ztf_df.count()  # the cache fill is not the report's
    assert _jobs(spark, lambda: nightly_report(ztf_df, topics)) <= 2


def test_read_state_job_budget(spark, ztf_df, tmp_path):
    """Merging every increment into the per-object totals the night pass
    reads back: at most 4 jobs."""
    from fink_filters_spark.programs.nightly import nightly_state_update
    from fink_filters_spark.streaming import read_state

    state = str(tmp_path / "state")
    for night in ("n0", "n1"):
        nightly_state_update(
            ztf_df, night, state, ["objectId"],
            lambda: {"mag_mmag": (F.col("magpsf") * 1000).cast("long")},
        )
    rows = []
    assert _jobs(spark, lambda: rows.append(
        read_state(spark, state, ["objectId"]).agg(
            F.count(F.lit(1)).alias("objects"), F.sum("mag_mmag_count").alias("rows")
        ).first()
    )) <= 4
    assert tuple(rows[0]) == (ztf_df.select("objectId").distinct().count(), 2 * ztf_df.count())


def test_write_partitioned_job_budget(spark, ztf_df, tmp_path):
    """The archive write is one repartitioned write: its shuffle stage and
    the write job."""
    from fink_filters_spark.sinks.storage import write_partitioned

    assert _jobs(spark, lambda: write_partitioned(
        ztf_df, str(tmp_path / "archive"), ["roid"], files_per_partition=4
    )) <= 2

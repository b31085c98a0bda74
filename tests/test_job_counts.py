"""Spark job budgets of the post-night pass's driver-side steps.

A night pass is bound by per-job overhead, so a step that quietly gains a
job (a probe, a guard, a dimension re-derived on every action) costs as
much as a plan that gains a shuffle. Each test runs its step under a fresh
job group and counts the jobs Spark launched there, the same count the
benchmark's traced run reports as ``<step>.jobs``.
"""

from __future__ import annotations

import uuid

import pytest
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


_TEXTS = (
    ["the quick brown fox jumps over the lazy dog tonight"] * 4
    + [f"the quick brown fox jumps over the lazy dog variant {i}" for i in range(6)]
    + [f"unique document {i} with words {i * 7} and {i * 13} only here" for i in range(20)]
)


def _dedup_ops(spark):
    """Each touched dedup operator, built over one small corpus with an
    exact-duplicate group (so the collapse probe collapses it)."""
    from fink_filters_spark.operators import dedup as d

    docs = spark.createDataFrame(list(enumerate(_TEXTS)), "doc_id long, text string")
    new, old = docs.filter("doc_id % 5 = 0"), docs.filter("doc_id % 5 != 0")
    ev = docs.filter("doc_id in (0, 12)")
    args = (docs, "doc_id", "text")
    return {
        "jaccard_pairs": lambda: d.jaccard_pairs(*args, 3, 0.5),
        "containment_pairs": lambda: d.containment_pairs(*args, 3, 0.8),
        "minhash_lsh_pairs": lambda: d.minhash_lsh_pairs(*args, 3, 0.5),
        "simhash_pairs": lambda: d.simhash_pairs(*args),
        "minhash_lookup": lambda: d.minhash_lookup(new, old, "doc_id", "text"),
        "winnowing_overlap_spans": lambda: d.winnowing_overlap_spans(*args),
        "decontaminate": lambda: d.decontaminate(docs, ev, "doc_id", "text"),
        "contamination_fraction": lambda: d.contamination_fraction(docs, ev, "doc_id", "text"),
        "duplicated_spans": lambda: d.duplicated_spans(*args),
        "trim_duplicated_spans": lambda: d.trim_duplicated_spans(*args),
    }


# jobs to build each operator and collect its rows: (parallelism above 1,
# parallelism 1, where ``grams._spread`` does not repartition the input and
# the plans differ)
DEDUP_JOB_BUDGETS = {
    "jaccard_pairs": (20, 19),
    "containment_pairs": (20, 19),
    "minhash_lsh_pairs": (18, 17),
    "simhash_pairs": (11, 10),
    "minhash_lookup": (10, 9),
    "winnowing_overlap_spans": (10, 9),
    "decontaminate": (8, 6),
    "contamination_fraction": (6, 4),
    "duplicated_spans": (9, 10),
    "trim_duplicated_spans": (9, 11),
}


@pytest.mark.parametrize("op", sorted(DEDUP_JOB_BUDGETS))
def test_dedup_operator_job_budget(spark, op):
    """Building a pair-join, span or decontamination operator (its
    collapse, purge and id-range probes included) and collecting its rows
    stays within its job budget, so no driver-side probe creeps in.

    Adaptive re-planning on a loaded host now and then adds one job to a
    run; a probe adds one to every run, so the smaller of two runs is
    compared."""
    build = _dedup_ops(spark)[op]
    runs = []
    try:
        for _ in range(2):
            spark.catalog.clearCache()  # a warm cache would hide the kernel jobs
            runs.append(_jobs(spark, lambda: build().collect()))
    finally:
        spark.catalog.clearCache()
    single = spark.sparkContext.defaultParallelism <= 1
    assert min(runs) <= DEDUP_JOB_BUDGETS[op][single], runs

"""SparkSession construction with scale-oriented defaults.

The configs here are the ones that matter at 100 TB on a real cluster:
AQE (runtime re-planning, skew-join splitting, partition coalescing),
Arrow for the few pandas-UDF kernels, and sane shuffle-partition counts.
On local[N] test runs the same settings keep plans identical to what a
1000-executor cluster would produce (modulo parallelism).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

# Confs fixed when the SparkContext starts, applied by ``get_session`` and
# by the test fixture; an externally provided session keeps its own.
BUILDER_CONF = {
    "spark.ui.enabled": "false",
    # Python workers keep their pyspark.zip directory index across tasks
    # (worker_daemon.py). The daemon imports this package, as the pickled
    # kernels already require; CPython 3.13+ needs no patch.
    "spark.python.daemon.module": (
        "fink_filters_spark.worker_daemon" if sys.version_info < (3, 13) else "pyspark.daemon"
    ),
    # One night pass uses ~100 distinct generated classes; Spark's default
    # LRU of 100 evicted each before the next pass, which recompiled it.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Driver JIT: C2 promotion thresholds 4x HotSpot's, so C1 still compiles
    # everything early but C2 only compiles code that stays hot (the
    # per-batch planning and scheduling path, generated row loops), not
    # planner code that runs a few times per pass. defaultJavaOptions, not
    # extraJavaOptions: the launcher prepends it to a caller's
    # extraJavaOptions instead of being replaced by it.
    "spark.driver.defaultJavaOptions": (
        "-XX:Tier4InvocationThreshold=20000 -XX:Tier4MinInvocationThreshold=2400"
        " -XX:Tier4CompileThreshold=60000 -XX:Tier4BackEdgeThreshold=160000"
    ),
}

# Dynamic (session-settable) confs applied even when we are handed an
# existing SparkSession (e.g. by the verification driver).
DYNAMIC_CONF = {
    # events.ts has shipped as TIMESTAMP(NANOS) in some testdata builds and
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) in others. nanosAsLong covers
    # the NANOS build (read as long); tables.load_events adapts by dtype.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive (NTZ) timestamps must mean UTC so Spark's epoch extraction agrees
    # with DuckDB's epoch_us(ts) regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones, convert to broadcast joins when runtime stats allow.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the pandas-UDF kernels (science fits, image stats).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Shuffled hash join instead of always sorting both sides, where every
    # post-shuffle partition is under 64 MB (which bounds the hash build;
    # larger partitions keep the spill-safe sort-merge). Measurements in
    # OPTIMIZATION_r10.md.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "67108864",
    # AQE advisory partition size (post-shuffle target and skew-split
    # granularity) tracks per-core data volume, so it is env-parameterised:
    # 64 MB (Spark's default) locally, 64-256 MB on a cluster
    # (measurements in OPTIMIZATION_r11.md).
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
        "SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "67108864"
    ),
    # Catalyst's getAllValidConstraints re-canonicalizes a filter condition
    # once per project alias; a wide alert-quality mask (18 OR terms) under
    # a ~70-alias flatten projection makes streaming micro-batch
    # re-optimization quadratic-and-allocating until the driver OOMs
    # (measured on a 27-row Rubin fixture; jstack pins the loop in
    # UnaryNode.getAllValidConstraints -> Expression.semanticEquals).
    # Constraint propagation buys nothing for this engine's gated plans
    # (tests/test_plans.py budgets unchanged with it off) and is a planner
    # hazard at 100 TB predicate widths, so it is off engine-wide.
    "spark.sql.constraintPropagation.enabled": "false",
}


def apply_dynamic_conf(spark: SparkSession) -> SparkSession:
    """Apply session-settable confs to an externally provided session."""
    for k, v in DYNAMIC_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Immutable in this deployment; builder-time config must cover it.
            pass
    return spark


def get_session(app_name: str = "fink_filters_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or all cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(max(2 * (cpus or 16), 32)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in {**BUILDER_CONF, **DYNAMIC_CONF}.items():
        builder = builder.config(k, v)
    return apply_dynamic_conf(builder.getOrCreate())

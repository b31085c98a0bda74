"""Post-night offline program (SURVEY §2's "offline filter" family +
README Taxonomy: post-night filters run after the observing night).

The reference runs each offline topic as its own pass over the night's
parquet. This program does the night in TWO jobs regardless of topic count:

1. ``nightly_report`` — ONE scan evaluating every requested topic as a
   boolean flag column and summing flags (per-topic selection counts, the
   broker's nightly report). Native Column predicates keep all topics in a
   single WholeStageCodegen pass; at 100 TB this is the difference between
   1 scan and |topics| scans.
2. ``nightly_state_update`` — append the night's mergeable partial-agg
   state increment (operators/incremental.py) keyed by night, so per-object
   running statistics (the Rubin ``diaObject``-style upstream state,
   ``rubin/utils.py:49-86``) refresh in O(night), not O(history); the read
   view is merge-on-read over increments.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

from ..filters.registry import PerJvm, builds_once, get_filter
from ..operators.incremental import partial_state

_REPORT_AGGS = PerJvm()  # topic tuple -> the report's aggregate Columns


def nightly_report(df: DataFrame, topics: list[str]) -> dict[str, int]:
    """Per-topic selection counts for the night in ONE aggregation pass.

    When every topic is registered, the aggregate list is built once per
    JVM for that topic tuple (a 24-topic list costs ~700 Py4J round trips).
    """

    def build():
        return [F.sum(get_filter(t).builder(df).cast("long")).alias(t) for t in topics]

    key = tuple(topics)
    flags = _REPORT_AGGS.get(key, build) if all(map(builds_once, key)) else build()
    row = df.agg(*flags).first()
    return {t: int(row[t] or 0) for t in topics}


def nightly_state_update(
    df: DataFrame,
    night: str,
    state_path: str,
    keys: list[str],
    measures_fn: Callable[[], dict],
) -> None:
    """Write the night's partial-agg increment to
    ``{state_path}/night={night}`` (overwrite = safe re-run of a night).
    Read the current totals with ``streaming.read_state`` — the same
    log-structured state the streaming sink maintains, so batch nights and
    streamed micro-batches share one state layout."""
    part = partial_state(df, keys, measures_fn())
    part.write.mode("overwrite").parquet(f"{state_path}/night={night}")

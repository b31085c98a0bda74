"""Interval (range) join — points joined to the intervals containing them,
without a nested-loop plan.

Same design as the spatial crossmatch (``operators/crossmatch.py``, SURVEY
§2.D): discretize the join dimension into fixed-width cells, explode each
interval to every cell it overlaps, equi-join points to cells, then apply
the exact BETWEEN residual. Catalyst plans a shuffled (or AQE-broadcast)
hash join on the (key, cell) pair instead of a BroadcastNestedLoopJoin on
the range predicate.

Scale: with cell width ~ the typical interval length, each interval lands
in O(1) cells, so the exploded side stays linear in |intervals| and the
join shuffles on a high-cardinality composite key — the plan that survives
100 TB. A range predicate alone would force an NLJ: every (point, interval)
pair of the same key would be compared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    point_time: str,
    start: str,
    end: str,
    cell_width: int,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to interval rows of the same ``on`` key with
    ``start <= point_time <= end`` (inclusive both ends).

    ``cell_width`` is in the units of the time columns (e.g. microseconds);
    choose it near the typical interval length.

    Only ``how="inner"`` is supported: the exact BETWEEN residual runs as
    a post-join FILTER, which silently degenerates any outer how to inner
    (an unmatched left row's NULL start/end fails the residual and the
    row vanishes). Compose a left variant as
    inner UNION left_anti(points, inner-keys) at the call site, where a
    row identity exists.
    """
    if how != "inner":
        raise ValueError(
            f"interval_join: how={how!r} unsupported — the BETWEEN residual "
            "is a post-join filter, so outer joins would silently drop "
            "null-extended rows; compose outer semantics at the call site"
        )
    cells = F.sequence(
        (F.col(start) / cell_width).cast("long"),
        (F.col(end) / cell_width).cast("long"),
    )
    rhs = intervals.withColumn("__cell", F.explode(cells))
    lhs = points.withColumn("__cell", (F.col(point_time) / cell_width).cast("long"))
    joined = lhs.join(
        rhs,
        [on, "__cell"],
        how,
    ).filter(
        (F.col(point_time) >= F.col(start)) & (F.col(point_time) <= F.col(end))
    )
    return joined.drop("__cell")

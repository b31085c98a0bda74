"""Multi-way classification as a native CASE chain.

Reference: ``fink_filters/ztf/classification.py:47-211``
(``extract_fink_classification_``) — start 'Unknown', compute per-class
boolean flags, count overlapping non-override flags -> 'Ambiguous' if >1,
let a catalog (SIMBAD) match override with its own type string, otherwise
apply flags in precedence order. There it is a pandas UDF; here it is a pure
``F.when`` chain + integer flag sum, fully JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def classify(
    df: DataFrame,
    flags: dict[str, Column],
    override: Column | None = None,
    out_col: str = "class",
    ambiguous_label: str = "Ambiguous",
    unknown_label: str = "Unknown",
    ambiguity_flags: list[str] | None = None,
) -> DataFrame:
    """Append ``out_col``, the ``classify_expr`` label, to ``df``."""
    return df.withColumn(
        out_col,
        classify_expr(flags, override, ambiguous_label, unknown_label, ambiguity_flags),
    )


def classify_expr(
    flags: dict[str, Column],
    override: Column | None = None,
    ambiguous_label: str = "Ambiguous",
    unknown_label: str = "Unknown",
    ambiguity_flags: list[str] | None = None,
) -> Column:
    """The precedence-ordered label as one string Column.

    ``flags`` is an ordered {label: boolean Column}; ``override`` is a string
    Column that, when non-null, wins over everything (the SIMBAD-type
    override at ``classification.py:209``). >1 true AMBIGUITY flag ->
    ambiguous (``classification.py:202-207``); ``ambiguity_flags`` names
    the subset of flag labels counted (the reference counts only
    mulens/sn/roid_2/roid_3, NOT early-SN/KN/tracklet — counting all
    seven would mislabel every Early-SN-that-also-passes-SN, the normal
    case, as Ambiguous). None = count every flag (the generic contract
    k1_classification pins).
    """
    # F.lit(0) seed: an empty flags dict (override-or-Unknown use) left
    # nflags as Python None and `nflags > 1` raised TypeError (round-7
    # review); the literal seed also removes the need for a dead
    # WHEN FALSE placeholder branch in no-override plans
    counted = flags if ambiguity_flags is None else {
        k: flags[k] for k in ambiguity_flags
    }
    nflags = F.lit(0)
    for c in counted.values():
        # NULL-safe: a single NULL flag (e.g. a NULL feature column) must
        # count as False, not NULL out the whole sum and silently disable
        # the Ambiguous branch (pandas reference: NaN comparisons are False)
        nflags = nflags + F.coalesce(c.cast("int"), F.lit(0))
    branches: list[tuple] = []
    if override is not None:
        branches.append((override.isNotNull(), override))
    branches.append((nflags > 1, ambiguous_label))
    branches.extend((c, label) for label, c in flags.items())
    cond, val = branches[0]
    expr = F.when(cond, val)
    for cond, val in branches[1:]:
        expr = expr.when(cond, val)
    return expr.otherwise(unknown_label)


def classify_events(ev: DataFrame) -> DataFrame:
    """The synthetic-table instantiation used by the correctness harness:
    same flag/override/ambiguity semantics over ``events``."""
    flags = {
        "HighValue": F.col("value") > 300.0,
        "RoundUser": F.col("user_id") % 10 == 0,
        "HighK": F.col("k") >= 80,
    }
    override = F.when(F.col("event_type").isin("signup", "purchase"), F.col("event_type"))
    return classify(ev, flags, override=override)

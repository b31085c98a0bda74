"""Named topic-filter registry — parity with the reference's
``apply_user_defined_filter`` surface (SURVEY §2.A A1/A2).

The reference resolves a dotted string to a pandas-UDF predicate and applies
``df.filter(udf(*cols))``; Catalyst cannot see inside the UDF, so nothing
pushes down. Here every topic is a **named Column expression**: the registry
maps ``"ztf.sn_candidates"`` to a function building a boolean Column from a
DataFrame, and ``apply_named_filter`` is plain ``df.filter(expr)`` — fully
visible to the optimizer (pushdown, reordering, pruning), and valid in both
batch and Structured Streaming plans.

A registered builder must be a deterministic expression over column names
that does not read its ``df`` argument: the registry builds it once per JVM
and returns that same Column on every later call (``registry.once_per_jvm``).
"""

from .registry import (  # noqa: F401
    FilterInfo,
    apply_named_filter,
    filter_catalog,
    get_filter,
    register,
)
from . import classification, rubin, ztf  # noqa: F401  (populate the registry)

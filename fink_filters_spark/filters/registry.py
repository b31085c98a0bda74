"""Filter registry: named boolean Column expressions over alert DataFrames.

Parity surface (reference behaviors being replaced):
- ``apply_user_defined_filter(df, "pkg.mod.fn")`` — fink-utils, used across
  ~30 doctests (e.g. ``ztf/filter_example/filter.py:87-92``): resolve dotted
  name, bind UDF arg names to (nested) columns, filter.
- ``FinkUDF``/``apply_block`` (``rubin/utils.py:115-134``): wrap a plain
  function, infer columns from its signature.
- per-filter ``DESCRIPTION`` / ``HBASE_SUPPORT`` module constants
  (``rubin/livestream/filter_in_tns/filter.py:19-20``).

Builder contract: a registered builder is a deterministic expression over
column names (``F.col``, literals, native functions) that never reads its
``df`` argument. The registry builds it once per JVM gateway and hands back
that same Column on every later ``builder(df)`` call; a builder that needs
the frame belongs outside the registry (a dotted user builder, below, is
called afresh each time).
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame


@dataclass(frozen=True)
class FilterInfo:
    name: str
    builder: Callable[[DataFrame], Column]
    description: str = ""
    survey: str = ""
    reference: str = ""  # file:line in the reference repo
    hbase_support: bool = False
    requires: tuple[str, ...] = field(default_factory=tuple)  # column names


_REGISTRY: dict[str, FilterInfo] = {}


def once_per_jvm(fn: Callable[..., Column]) -> Callable[..., Column]:
    """Build ``fn``'s Column on the first call and return that same Column
    until the JVM gateway changes; later arguments are ignored, so ``fn``
    must not read them. Under PySpark 4's call-site capture every Column
    call is several Py4J round trips, so rebuilding a topic per use costs
    about 150 of them; a built Column is an unresolved expression, valid
    on any frame and in any session of its JVM."""
    memo: list = []  # [(gateway, column)]
    lock = threading.Lock()  # foreachBatch sinks build on Py4J callback threads

    @functools.wraps(fn)
    def built(*args) -> Column:
        gw = SparkContext._gateway
        with lock:
            if not memo or memo[0][0] is not gw:
                memo[:] = [(gw, fn(*args))]
            return memo[0][1]

    return built


def register(
    name: str,
    description: str = "",
    reference: str = "",
    hbase_support: bool = False,
    requires: tuple[str, ...] = (),
):
    """Decorator: register ``fn(df) -> Column`` as topic ``name``.

    ``fn`` must follow the builder contract (module docstring): the
    registry keeps ``once_per_jvm(fn)``; the decorated name stays ``fn``.
    """

    def deco(fn: Callable[[DataFrame], Column]):
        desc = description
        if not desc and fn.__doc__:
            desc = fn.__doc__.strip().splitlines()[0]
        _REGISTRY[name] = FilterInfo(
            name=name,
            builder=once_per_jvm(fn),
            description=desc,
            survey=name.split(".", 1)[0],
            reference=reference,
            hbase_support=hbase_support,
            requires=requires,
        )
        return fn

    return deco


def get_filter(name: str) -> FilterInfo:
    if name not in _REGISTRY:
        info = _resolve_reference_path(name) or _resolve_dotted(name)
        if info is not None:
            return info
        raise KeyError(
            f"unknown filter {name!r}; known: {sorted(_REGISTRY)}"
        )
    return _REGISTRY[name]


# Reference-path compatibility: the reference invokes every topic as
# ``apply_user_defined_filter(df, "fink_filters.<survey>[.livestream]
# .filter_<module>.filter.<fn>")`` — the fink-utils convention the broker's
# topic configuration is written in. Those dotted strings resolve HERE to
# the corresponding registry topic, so a reference deployment's config
# keeps working verbatim after switching engines. Function names that
# differ from this registry's topic names are bridged below (the reference
# fn name on the left, cited module in the topic's own register() call).
_REFERENCE_ALIASES = {
    "ztf": {
        "example_filter": "example",
        "ztf_quality_cuts": "quality_cuts",
        "crossmatch_dwarf_agn": "dwarf_agn",
        "crossmatch_symbiotic": "symbiotic_stars",
        "slsn_filter": "superluminous",
        "transient_complete_filter": "transient_complete",
        # the mm module's Spark-facing UDFs carry an f_ prefix
        # (filter_mm_module/filter.py:96-264); accept both spellings
        "grb_bronze_events": "mm_grb_bronze",
        "f_grb_bronze_events": "mm_grb_bronze",
        "grb_silver_events": "mm_grb_silver",
        "f_grb_silver_events": "mm_grb_silver",
        "grb_gold_events": "mm_grb_gold",
        "f_grb_gold_events": "mm_grb_gold",
        "gw_bronze_events": "mm_gw_bronze",
        "f_gw_bronze_events": "mm_gw_bronze",
    },
    "rubin": {
        "extragalactic_lt20mag_candidate": "extragalactic_lt20mag",
        "extragalactic_new_candidate": "extragalactic_new",
    },
}


def _resolve_reference_path(name: str) -> FilterInfo | None:
    """Map a reference dotted filter path onto this registry's topic.

    ``fink_filters.ztf.livestream.filter_sn_candidates.filter.
    sn_candidates`` -> topic ``ztf.sn_candidates``; unknown reference
    paths fall through (None) to the generic dotted resolution, which
    reports the full known-topic list on failure.
    """
    parts = name.split(".")
    if len(parts) < 3 or parts[0] != "fink_filters":
        return None
    survey, fn = parts[1], parts[-1]
    aliases = _REFERENCE_ALIASES.get(survey)
    if aliases is None:
        return None
    if fn == "early_tde_candidates":
        raise KeyError(
            "the reference's early-TDE filter is a DataFrame pipeline "
            "(prefilter -> rates -> model score), not a boolean topic; "
            "call fink_filters_spark.programs.tde.early_tde_candidates(df)"
        )
    topic = f"{survey}.{aliases.get(fn, fn)}"
    info = _REGISTRY.get(topic)
    if info is None:
        return None
    return FilterInfo(
        name=name,
        builder=info.builder,
        description=f"reference-path alias -> {topic}: {info.description}",
        survey=survey,
        reference=info.reference,
        hbase_support=info.hbase_support,
        requires=info.requires,
    )


def _resolve_dotted(name: str) -> FilterInfo | None:
    """A1/A2 dynamic parity: resolve 'pkg.mod.fn' to a user-supplied builder
    (a plain ``df -> Column`` function), exactly the reference's
    ``apply_user_defined_filter(df, "fink_filters....filter.foo")`` contract
    for filters not shipped in this registry. Not cached: a user builder
    may read ``df``."""
    import importlib

    if "." not in name:
        return None
    mod_path, _, fn_name = name.rpartition(".")
    try:
        mod = importlib.import_module(mod_path)
    except ImportError:
        return None
    fn = getattr(mod, fn_name, None)
    if fn is None:
        return None
    return FilterInfo(name=name, builder=fn, description=f"dynamic: {name}")


def apply_named_filter(df: DataFrame, name: str) -> DataFrame:
    """A1 parity: ``apply_named_filter(df, 'ztf.sn_candidates')``."""
    return df.filter(get_filter(name).builder(df))


def filter_catalog() -> list[FilterInfo]:
    """Operator-catalog metadata (A8 parity)."""
    return sorted(_REGISTRY.values(), key=lambda i: i.name)

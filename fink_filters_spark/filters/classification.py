"""Fink multi-way classification (SURVEY §2.K) as a native CASE chain.

Reference: ``ztf/classification.py:47-211`` (``extract_fink_classification_``,
a pandas UDF): start 'Unknown'; compute per-class flags (tracklet, SIMBAD,
early SN Ia, SN, microlensing, kilonova, SSO ZTF, SSO Fink); mask labels in
order mulens -> sn -> sn_early -> kn -> roid_2 -> tracklet -> roid_3 (the
LAST mask wins); 'Ambiguous' when >1 of the FOUR counted flags
(mulens/sn/roid_2/roid_3 — ``:202-205``) fire; finally a SIMBAD match
(excluding Unknown/Transient/Fail*/Galaxy*) overrides everything with its
own otype string (``:209``).

Here: the shared generic operator (operators/classify.classify_expr)
instantiated with the reference's exact flags/precedence — pure Column
expressions, which also makes the ``ztf.unknowns`` topic (C8) a trivial
equality filter. The label Column is built once per JVM, like a registered
topic (filters/registry.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..operators.classify import classify_expr
from .registry import once_per_jvm
from .ztf import EG_HOST_CLASSES


def extract_fink_classification(df: DataFrame, out_col: str = "fink_class") -> DataFrame:
    """Append the Fink classification label column."""
    return df.withColumn(out_col, _fink_label())


@once_per_jvm
def _fink_label() -> Column:
    """The Fink classification label.

    Flag definitions mirror ``ztf/classification.py:139-191``; mask
    precedence mirrors ``:193-199`` (later entries win in the reference's
    sequential masking, so the when-chain lists them in reverse reference
    order); 'Ambiguous' when >1 flag (``:202-207``); SIMBAD override
    (``:209``).
    """
    early_sn = (
        ((F.col("snn_snia_vs_nonia") > 0.5) | (F.col("snn_sn_vs_all") > 0.5))
        & (F.col("rf_snia_vs_nonia") > 0.5)
        & F.col("cdsxmatch").isin(EG_HOST_CLASSES)
        & (F.col("drb") > 0.5)
        & (F.col("classtar") > 0.4)
        & (F.col("ndethist") <= 20)
        & (F.col("roid") != 3)
    )
    sn = (
        ((F.col("snn_snia_vs_nonia") > 0.5) | (F.col("snn_sn_vs_all") > 0.5))
        & F.col("cdsxmatch").isin(EG_HOST_CLASSES)
        & ((F.col("jd") - F.col("jdstarthist")) <= 90)
        & (F.col("drb") > 0.5)
        & (F.col("classtar") > 0.4)
        & (F.col("ndethist") > 1)
        & (F.col("roid") != 3)
    )
    kn = (
        (F.col("rf_kn_vs_nonkn") > 0.5)
        & (F.col("drb") > 0.5)
        & (F.col("classtar") > 0.4)
        & ((F.col("jd") - F.col("jdstarthist")) < 5)
        & (F.col("ndethist") < 20)
        & (F.col("roid") != 3)
        # the reference's kn flag ALSO requires an EG host
        # (filter_kn_candidates/filter.py:94-97 cdsxmatch.isin(keep_cds));
        # the classification copy had dropped it (round-7 review)
        & F.col("cdsxmatch").isin(EG_HOST_CLASSES)
    )
    flags = {
        # precedence order of the final label: the reference masks
        # sequentially in the order mulens, sn, sn_early, kn, roid_2,
        # tracklet, roid_3 (classification.py:193-199 — the LAST mask
        # wins), so this FIRST-match-wins chain lists them reversed:
        # MPC > Tracklet > SSO candidate > KN > Early SN > SN > Mulens
        "Solar System MPC": F.col("roid") == 3,
        "Tracklet": F.col("tracklet").startswith("TRCK_"),
        "Solar System candidate": F.col("roid") == 2,
        "Kilonova candidate": kn,
        "Early SN Ia candidate": early_sn,
        "SN candidate": sn,
        "Microlensing candidate": F.col("mulens") > 0,
    }
    simbad_override = F.when(
        ~F.col("cdsxmatch").isin("Unknown", "Transient", "Fail")
        & ~F.col("cdsxmatch").startswith("Fail")
        # 'Remove static objects' (filter_simbad_candidates/filter.py:59-61):
        # a Galaxy-prefixed SIMBAD type must NOT override the transient
        # classification (Galaxy is an EG host — every SN on a catalogued
        # galaxy would otherwise be labeled 'Galaxy')
        & ~F.col("cdsxmatch").startswith("Galaxy"),
        F.col("cdsxmatch"),
    )
    return classify_expr(
        flags,
        override=simbad_override,
        # the reference counts ONLY these four flags toward Ambiguous
        # (classification.py:202-205)
        ambiguity_flags=[
            "Microlensing candidate",
            "SN candidate",
            "Solar System candidate",
            "Solar System MPC",
        ],
    )

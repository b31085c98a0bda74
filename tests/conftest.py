"""Shared fixtures: a local SparkSession and synthetic ZTF/Rubin-shaped
alert frames (the reference tests against packaged ``datatest/`` alerts —
SURVEY §5; we synthesize deterministic equivalents, seed=7)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

_REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, _REPO)
# Python workers import the package when their daemon starts
# (session.BUILDER_CONF), whatever directory pytest runs from.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_REPO, os.environ.get("PYTHONPATH", "")) if p
)

N_ALERTS = 200
RNG_SEED = 7

SIMBAD_CHOICES = [
    "Unknown", "Transient", "Fail 1", "Galaxy", "AGN", "QSO", "Seyfert_1",
    "RRLyr", "Blazar", "BLLac", "YSO", "GravLens", "BlackHole", "EmG", "Star",
]


@pytest.fixture(scope="session")
def spark():
    from fink_filters_spark.session import BUILDER_CONF, DYNAMIC_CONF
    from pyspark.sql import SparkSession

    # the tier-1 command sets SPARK_GRAFT_CPUS to the host's core count
    cores = os.environ.get("SPARK_GRAFT_CPUS") or "4"
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("fink_filters_spark-tests")
        .config("spark.driver.memory", "3g")
        .config("spark.sql.shuffle.partitions", "8")
    )
    # the same builder confs as session.get_session, so Python tasks run
    # through the production worker daemon
    for k, v in {**BUILDER_CONF, **DYNAMIC_CONF}.items():
        builder = builder.config(k, v)
    s = builder.getOrCreate()
    yield s
    s.stop()


def make_ztf_pdf(n: int = N_ALERTS, seed: int = RNG_SEED) -> pd.DataFrame:
    r = np.random.default_rng(seed)
    jd0 = 2460000.0
    nhist = r.integers(1, 8, n)
    hist = [np.sort(jd0 - r.uniform(0, 30, k)).tolist() for k in nhist]
    mags = [r.uniform(15, 21, k).tolist() for k in nhist]
    fids = [r.integers(1, 3, k).tolist() for k in nhist]
    pdf = pd.DataFrame(
        {
            "candid": np.arange(n, dtype=np.int64),
            "objectId": [f"ZTF{i:06d}" for i in range(n)],
            "cdsxmatch": r.choice(SIMBAD_CHOICES, n),
            "magpsf": r.uniform(15.0, 22.0, n),
            "drb": r.uniform(0, 1, n),
            "classtar": r.uniform(0, 1, n),
            "jd": np.full(n, jd0),
            "jdstarthist": jd0 - r.uniform(0, 200, n),
            "ndethist": r.integers(1, 40, n),
            "roid": r.choice([0, 1, 2, 3], n),
            "snn_snia_vs_nonia": r.uniform(0, 1, n),
            "snn_sn_vs_all": r.uniform(0, 1, n),
            "rf_snia_vs_nonia": r.uniform(0, 1, n),
            "rf_kn_vs_nonkn": r.uniform(0, 1, n),
            "mulens": r.uniform(-0.5, 1, n),
            "DR3Name": r.choice(["nan", "Gaia DR3 123"], n),
            "tns": r.choice(["", "SN 2024abc", "Unknown"], n),
            "tracklet": r.choice(["", "TRCK_20240101"], n),
            "isdiffpos": r.choice(["t", "f", "1", "0"], n),
            "ssdistnr": r.uniform(-1, 30, n),
            "distnr": r.uniform(0, 5, n),
            "neargaia": r.uniform(-1, 20, n),
            "distpsnr1": r.uniform(-1, 20, n),
            "rb": r.uniform(0, 1, n),
            "nbad": r.choice([0, 0, 0, 1, 2], n),
            "ra": r.uniform(0, 360, n),
            "dec": r.uniform(-90, 90, n),
            "gal_b": r.uniform(-90, 90, n),
            "ecl_lat": r.uniform(-90, 90, n),
            "mag_rate": r.uniform(-1, 1, n),
            "slsn_score": r.uniform(0, 1, n),
            "slsn_threshold": np.full(n, 0.5),
            "spicy_class": r.choice(["Unknown", "ClassI", "ClassII"], n),
            "linear_fit_slope": r.uniform(-0.1, 0.1, n),
            "linear_fit_r2": r.uniform(0, 1, n),
            "kstest_science": r.uniform(0, 1, n),
            "kstest_template": r.uniform(0, 1, n),
            "ssnamenr": r.choice(["null", "12345"], n),
            "observatory": r.choice(["Fermi", "SWIFT", "INTEGRAL", "LVK", "other"], n),
            "grb_proba": r.uniform(0, 1, n),
            "grb_loc_error": r.uniform(0, 60, n),
            "rate": r.uniform(-1, 1, n),
            "faint": r.choice([True, False], n),
            "positivesubtraction": r.choice([True, False], n),
            "real": r.choice([True, False], n),
            "pointunderneath": r.choice([True, False], n),
            "brightstar": r.choice([True, False], n),
            "variablesource": r.choice([True, False], n),
            "stationary": r.choice([True, False], n),
            "tde_name": r.choice(["Unknown", "AT2019qiz"], n),
            "dwarf_agn_name": r.choice(["Unknown", "J1234"], n),
            "symbiotic_name": r.choice(["Unknown", "SySt-1"], n),
            "mcv_name": r.choice(["Unknown", "MCV-1"], n),
        }
    )
    pdf["cjd"] = hist
    pdf["cmagpsf"] = mags
    pdf["cfid"] = fids
    # per-epoch SSO names aligned with the history (orphan_grb's reference
    # vetoes on the ARRAY, filter.py:148-152); derived deterministically
    # from existing draws so the rng sequence (and every pinned count
    # derived from it) is unchanged
    pdf["cssnamenr"] = [
        ["12345" if (int(f) == 2 and (i + k) % 5 == 0) else "null"
         for k, f in enumerate(fs)]
        for i, fs in enumerate(fids)
    ]
    pdf["mangrove"] = [
        {"lum_dist": str(r.uniform(10, 400)), "name": "g"} for _ in range(n)
    ]
    pdf["blazar_stats"] = [
        {"m0": float(r.uniform(0, 2)), "m1": float(r.uniform(0, 2))} for _ in range(n)
    ]
    return pdf


# the reference b_good_quality mask (rubin/blocks.py:372-418) + isNegative
RUBIN_FLAGS = [
    "isDipole", "pixelFlags", "pixelFlags_bad", "pixelFlags_saturated",
    "pixelFlags_streakCenter", "pixelFlags_interpolated", "pixelFlags_cr",
    "pixelFlags_nodata", "pixelFlags_streak", "pixelFlags_edge",
    "psfFlux_flag", "apFlux_flag", "forced_PsfFlux_flag",
    "forced_PsfFlux_flag_edge", "shape_flag", "centroid_flag", "isNegative",
]


def make_rubin_pdf(n: int = N_ALERTS, seed: int = RNG_SEED + 1) -> pd.DataFrame:
    """Synthetic flattened-Rubin frame with the REAL packet's column names
    (datatest/rubin_test_data_10_0.parquet layout after flatten_rubin),
    including None/NaN holes so the pandas-NaN->False block semantics are
    exercised, not just the happy path."""
    r = np.random.default_rng(seed)
    mjd0 = 60500.0

    def holes(values, frac=0.3):
        """Replace ~frac of entries with NaN."""
        mask = r.uniform(0, 1, n) < frac
        return np.where(mask, np.nan, values)

    pdf = pd.DataFrame(
        {
            "diaSourceId": np.arange(n, dtype=np.int64) * 7 + 1,
            "psfFlux": r.uniform(-100, 50000, n),
            "psfFluxErr": r.uniform(1, 100, n),
            "snr": r.uniform(0, 30, n),
            "band": r.choice(["u", "g", "r", "i", "z", "y"], n),
            "midpointMjdTai": np.full(n, mjd0),
            "firstDiaSourceMjdTaiFink": mjd0 - r.uniform(0, 30, n),
            "ra": r.uniform(0, 360, n),
            "dec": r.uniform(-90, 30, n),
            "nDiaSources": r.integers(1, 20, n),
            "is_sso": r.choice([True, False], n, p=[0.1, 0.9]),
            "xm_simbad_otype": r.choice(
                ["Galaxy", "AGN", "Unknown", None, "Star"], n
            ),
            "xm_mangrove_lum_dist": holes(r.uniform(0.1, 300, n), 0.6),
            "xm_gaiadr3_DR3Name": r.choice([None, "Gaia DR3 123"], n),
            "xm_gaiadr3_Plx": holes(r.uniform(0, 20, n)),
            "xm_gaiadr3_e_Plx": holes(r.uniform(0.5, 5, n)),
            # None (no match) / RR (stellar: vetoes extragalactic) /
            # AGN (nonstellar: catalogued but must NOT veto)
            "xm_vsx_Type": r.choice([None, "RR", "AGN"], n),
            "xm_legacydr8_zphot": holes(r.uniform(0.01, 1.8, n), 0.5),
            "tns_fullname": r.choice([None, "SN 2025xyz"], n),
            "clf_snnSnVsOthers_score": r.uniform(0, 1, n),
            "clf_cats_class": r.choice([3, 11, 12], n),
            "clf_cats_score": r.uniform(0, 1, n),
            "clf_earlySNIa_score": r.uniform(0, 1, n),
            "clf_elephant_kstest_template": r.choice(
                [-99.0, 0.3, 0.6, 0.97], n
            ),
            "mag_rate": r.uniform(-1, 1, n),
        }
    )
    for flag in RUBIN_FLAGS:
        pdf[flag] = r.choice([True, False], n, p=[0.05, 0.95])
    for b in ["u", "g", "r", "i", "z", "y"]:
        pdf[f"{b}_psfFluxMean"] = holes(r.uniform(100, 10000, n), 0.15)
        pdf[f"{b}_psfFluxMeanErr"] = r.uniform(1, 200, n)
        pdf[f"{b}_psfFluxMax"] = r.uniform(10000, 50000, n)
        pdf[f"{b}_psfFluxMin"] = r.uniform(1, 100, n)
        pdf[f"{b}_psfFluxNdata"] = r.integers(0, 6, n).astype(float)
    return pdf


@pytest.fixture(scope="session")
def ztf_pdf():
    return make_ztf_pdf()


@pytest.fixture(scope="session")
def ztf_df(spark, ztf_pdf):
    return spark.createDataFrame(ztf_pdf).cache()


@pytest.fixture(scope="session")
def rubin_pdf():
    return make_rubin_pdf()


@pytest.fixture(scope="session")
def rubin_df(spark, rubin_pdf):
    return spark.createDataFrame(rubin_pdf).cache()
